"""Heterogeneous multi-table replication over ONE event stream — the real
binlog shape (SURVEY.md §3.1: one MySQLExtractor feeds every mapped table;
hard-parts note on multi-table ordering). Row images travel as JSON and are
parsed per table from each mapping's declared source schema inside the
kernel; per-table apply parallelizes safely because keys never cross tables,
and the checkpoint advances only after every table in the batch committed."""

from __future__ import annotations

import json
import os

from mysql_hbase_replicator_spark.catalog.meta import HbaseCollInfo, HbaseTableInfo
from mysql_hbase_replicator_spark.operators.merge import ParquetKeyedStore
from mysql_hbase_replicator_spark.streaming.pipeline import CdcStreamPipeline
from tests.test_dedup_similarity import plant_orphan_version


def score_log_mapping() -> HbaseTableInfo:
    """A second mapped table with a different shape: single bigint PK +
    double payload (types exercise the long/double rows of the MySQL map)."""
    return HbaseTableInfo(
        dbName="mixfs",
        dbTableName="score_log",
        hbaseTableName="mixfs:score_log",
        hbaseNameSpace="mixfs",
        sparkTableName="score_log",
        bytesUtils="Binary",
        cols=[
            HbaseCollInfo("entry_id", "bigint", "entryid", "LongType", True),
            HbaseCollInfo("points", "double", "points", "DoubleType", False),
        ],
    )


def write_events(events_dir: str, name: str, events: list[dict]) -> None:
    os.makedirs(events_dir, exist_ok=True)
    tmp = os.path.join(events_dir, f".{name}.tmp")
    with open(tmp, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    os.replace(tmp, os.path.join(events_dir, f"{name}.json"))


def test_two_tables_one_stream(spark, tmp_path, student_mapping):
    events = [
        {"position": 1, "op": "insert", "db": "mixfs", "table": "student",
         "after": {"sn": 1, "id": 1, "score": 10, "name": "ann", "rem": "a"}},
        {"position": 2, "op": "insert", "db": "mixfs", "table": "score_log",
         "after": {"entry_id": 100, "points": 1.5}},
        {"position": 3, "op": "insert", "db": "mixfs", "table": "unmapped_t",
         "after": {"x": 1}},
        {"position": 4, "op": "update", "db": "mixfs", "table": "score_log",
         "before": {"entry_id": 100, "points": 1.5},
         "after": {"entry_id": 100, "points": 7.25}},
        {"position": 5, "op": "delete", "db": "mixfs", "table": "student",
         "before": {"sn": 1, "id": 1}},
        {"position": 6, "op": "insert", "db": "mixfs", "table": "student",
         "after": {"sn": 2, "id": 2, "score": 55, "name": "bob", "rem": None}},
    ]
    write_events(str(tmp_path / "events"), "b1", events)

    store = ParquetKeyedStore(str(tmp_path / "store"), n_buckets=4)
    pipe = CdcStreamPipeline(
        spark=spark,
        events_path=str(tmp_path / "events"),
        row_struct=None,  # generic multi-table stream
        store=store,
        mappings={
            "mixfs.student": student_mapping,
            "mixfs.score_log": score_log_mapping(),
        },
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q = pipe.start(available_now=True)
    q.awaitTermination(120)

    students = sorted(
        tuple(r)
        for r in store.read(spark, "mixfs:student2")
        .select("sn", "id", "score", "name", "rem")
        .collect()
    )
    assert students == [(2, 2, 55, "bob", None)]

    scores = [
        tuple(r)
        for r in store.read(spark, "mixfs:score_log")
        .select("entryid", "points")
        .collect()
    ]
    assert scores == [(100, 7.25)]

    counts = pipe.total_counts()
    assert counts == {
        "mixfs.student.insert": 2,
        "mixfs.student.delete": 1,
        "mixfs.score_log.insert": 1,
        "mixfs.score_log.update": 1,
    }
    # the unmapped table advanced the checkpoint but wrote nothing
    assert pipe.results[-1].skipped_unmapped == 1
    assert pipe.results[-1].checkpoint_position == 6


# --- soak: every resilience path composed into ONE long multi-table run -----
def audit_mapping(pk_col: str) -> HbaseTableInfo:
    """Third mapped table whose PK declaration is the scenario's injected
    operator error: ``pk_col='legacy_id'`` (always NULL in the events) sends
    every audit event to the dead-letter queue; ``pk_col='audit_id'`` is the
    corrected mapping the replay drains under."""
    return HbaseTableInfo(
        dbName="mixfs",
        dbTableName="audit",
        hbaseTableName="mixfs:audit",
        hbaseNameSpace="mixfs",
        sparkTableName="audit",
        bytesUtils="Binary",
        cols=[
            HbaseCollInfo("legacy_id", "bigint", "legacyid", "LongType", pk_col == "legacy_id"),
            HbaseCollInfo("audit_id", "bigint", "auditid", "LongType", pk_col == "audit_id"),
            HbaseCollInfo("msg", "varchar(64)", "msg", "StringType", False),
        ],
    )


def docs_mapping() -> HbaseTableInfo:
    return HbaseTableInfo(
        dbName="mixfs",
        dbTableName="docs",
        hbaseTableName="mixfs:docs",
        hbaseNameSpace="mixfs",
        sparkTableName="docs",
        bytesUtils="Binary",
        cols=[
            HbaseCollInfo("doc_id", "bigint", "docid", "LongType", True),
            HbaseCollInfo("text", "varchar(255)", "text", "StringType", False),
        ],
    )


def test_soak_rotates_deadletter_compaction_restart(spark, tmp_path, student_mapping):
    """r3 verdict #7: one scenario composing (a) a mid-batch binlog rotate
    with per-file position reset, (b) dead-letter capture + post-fix replay,
    (c) streaming-dedup band-index compaction WITH an injected mid-compaction
    crash, and (d) >=2 injected transient failures recovered by the
    supervisor. Final state of every table must equal a sequential
    per-event oracle apply, and the deduper's admissions must equal a
    crash-free sequential deduper's."""
    from mysql_hbase_replicator_spark.operators.cdc_apply import (
        read_checkpoint_state,
        replay_dead_letters,
    )
    from mysql_hbase_replicator_spark.operators.dedup_stream import IncrementalDeduper
    from mysql_hbase_replicator_spark.streaming.supervisor import RestartPolicy

    events_dir = str(tmp_path / "events")
    mappings = {
        "mixfs.student": student_mapping,
        "mixfs.score_log": score_log_mapping(),
        "mixfs.audit": audit_mapping("legacy_id"),  # broken: PK always NULL
        "mixfs.docs": docs_mapping(),
    }

    # --- streaming deduper (live) + crash-free sequential oracle deduper ----
    deduper = IncrementalDeduper(
        spark, str(tmp_path / "lsh_index"), max_files=1, n_compact_partitions=2
    )
    oracle_deduper = IncrementalDeduper(
        spark, str(tmp_path / "lsh_oracle"), max_files=10_000
    )
    compactions = {"n": 0}
    real_write = deduper._append_or_rewrite

    def counting_write(*args, **kwargs):
        # the fused append+rewrite (r17) IS the compaction path now:
        # _append_or_rewrite returns True when the union rewrite ran
        fused = real_write(*args, **kwargs)
        compactions["n"] += int(bool(fused))
        return fused

    deduper._append_or_rewrite = counting_write

    base = (
        "the quick brown fox jumps over the lazy dog again and again today",
        "pack my box with five dozen liquor jugs before the long winter came",
        "sphinx of black quartz judge my vow while the river runs cold tonight",
    )
    doc_batches = [
        # batch 1: three distinct docs + one near-dup of doc 1
        [(1, base[0]), (2, base[1]), (3, base[2]), (4, base[0] + " extra")],
        # batch 2: a dup of an ADMITTED doc, a dup of batch-1's near-dup,
        # and one genuinely new doc
        [(5, base[1]), (6, base[0] + " extra"),
         (7, "jaded zombies acted quaintly but kept driving their oxen forward")],
    ]

    def screen(deduper_, batch):
        df = spark.createDataFrame(batch, "doc_id long, text string")
        return sorted(r.doc_id for r in deduper_.process_batch(df).collect())

    def doc_insert_events(admitted_ids, batch, seq0, pos0, filename=None):
        txt = dict(batch)
        out = []
        for i, d in enumerate(admitted_ids):
            out.append({
                "position": pos0 + i, "op": "insert", "db": "mixfs",
                "table": "docs", "after": {"doc_id": d, "text": txt[d]},
                "seq": seq0 + i,
                **({"filename": filename} if i == 0 and filename else {}),
            })
        return out

    # --- phase 1: rotate mid-file + dead letters + doc admissions -----------
    admitted1 = screen(deduper, doc_batches[0])
    assert admitted1 == screen(oracle_deduper, doc_batches[0])
    assert {1, 2, 3} <= set(admitted1)  # distinct docs always admitted

    phase1 = [
        {"position": 500, "op": "insert", "db": "mixfs", "table": "student",
         "after": {"sn": 1, "id": 1, "score": 90, "name": "ann", "rem": "a"},
         "filename": "binlog.000001", "seq": 1},
        {"position": 510, "op": "insert", "db": "mixfs", "table": "score_log",
         "after": {"entry_id": 100, "points": 1.5}, "seq": 2},
        # audit events: legacy_id (declared PK) absent -> dead letter
        {"position": 520, "op": "insert", "db": "mixfs", "table": "audit",
         "after": {"audit_id": 9001, "msg": "login"}, "seq": 3},
        {"position": 530, "op": "rotate", "db": "mixfs", "table": "",
         "filename": "binlog.000002", "seq": 4},
        # post-rotate: positions RESET; stream order (seq) must win the
        # collapse AND the checkpoint pair
        {"position": 8, "op": "update", "db": "mixfs", "table": "student",
         "before": {"sn": 1, "id": 1, "score": 90, "name": "ann", "rem": "a"},
         "after": {"sn": 1, "id": 1, "score": 95, "name": "ann2", "rem": "z"},
         "seq": 5},
        {"position": 12, "op": "insert", "db": "mixfs", "table": "audit",
         "after": {"audit_id": 9002, "msg": "logout"}, "seq": 6},
        *doc_insert_events(admitted1, doc_batches[0], seq0=7, pos0=20),
    ]
    write_events(events_dir, "f1", phase1)

    class FlakyMulti(CdcStreamPipeline):
        fail_times = 2  # >=2 injected transient failures

        def _apply_batch(self, batch_df, batch_id):
            if FlakyMulti.fail_times > 0:
                FlakyMulti.fail_times -= 1
                raise IOError("simulated binlog connection drop")
            super()._apply_batch(batch_df, batch_id)

    def make_pipe():
        return FlakyMulti(
            spark=spark,
            events_path=events_dir,
            row_struct=None,
            store=ParquetKeyedStore(str(tmp_path / "store"), n_buckets=4),
            mappings=mappings,
            checkpoint_dir=str(tmp_path / "ckpt"),
            stream_with_seq=True,
        )

    pipe1 = make_pipe()
    sleeps: list[float] = []
    report = pipe1.run_supervised(
        RestartPolicy(max_restarts=4, backoff_initial_s=0.01), sleep=sleeps.append
    )
    assert report.outcome == "clean" and report.restarts == 2 and len(sleeps) == 2

    # checkpoint took the post-rotate pair by seq, not max(position)
    ckpt = read_checkpoint_state(pipe1.store)
    assert ckpt["filename"] == "binlog.000002"
    assert ckpt["position"] == 20 + len(admitted1) - 1
    assert sum(
        r.dead_letter_count for r in pipe1.results
    ) == 2  # both audit events queued

    # --- injected crash #3: a rewrite died before its pointer flip ----------
    orphan = plant_orphan_version(deduper, deduper.index_dir)
    admitted2 = screen(deduper, doc_batches[1])  # screens the live version
    assert admitted2 == screen(oracle_deduper, doc_batches[1])
    assert 7 in admitted2  # genuinely new doc admitted
    assert 5 not in admitted2  # exact dup of an admitted doc rejected
    # the batch's rewrite (max_files=1) overwrote the orphan and flipped to it
    assert deduper._live_dir(deduper.index_dir) == orphan
    assert not os.path.exists(os.path.join(orphan, "junk.parquet"))
    assert compactions["n"] >= 1  # max_files=1 forced at least one compaction

    # --- phase 2: continue the SAME stream from checkpoint ------------------
    phase2 = [
        {"position": 40, "op": "update", "db": "mixfs", "table": "score_log",
         "before": {"entry_id": 100, "points": 1.5},
         "after": {"entry_id": 100, "points": 7.25}, "seq": 100},
        {"position": 41, "op": "delete", "db": "mixfs", "table": "student",
         "before": {"sn": 1, "id": 1}, "seq": 101},
        {"position": 42, "op": "insert", "db": "mixfs", "table": "student",
         "after": {"sn": 2, "id": 2, "score": 55, "name": "bob", "rem": None},
         "seq": 102},
        *doc_insert_events(admitted2, doc_batches[1], seq0=103, pos0=50),
    ]
    write_events(events_dir, "f2", phase2)
    pipe2 = make_pipe()  # fresh instance, same checkpointLocation -> resume
    q = pipe2.start(available_now=True)
    q.awaitTermination(120)
    # resume processed ONLY phase 2 (f1 rows would double-count student)
    assert pipe2.total_counts().get("mixfs.student.insert", 0) == 1

    # --- operator fixes the audit mapping; drain the dead-letter queue ------
    fixed = dict(mappings)
    fixed["mixfs.audit"] = audit_mapping("audit_id")
    replay = replay_dead_letters(spark, pipe2.store, fixed)
    assert replay is not None and replay.dead_letter_count == 0
    # drain must not advance the live checkpoint
    assert read_checkpoint_state(pipe2.store)["position"] == 50 + len(admitted2) - 1

    # --- final-state equivalence vs sequential oracle apply -----------------
    store = pipe2.store
    students = sorted(
        tuple(r) for r in store.read(spark, "mixfs:student2")
        .select("sn", "id", "score", "name", "rem").collect()
    )
    assert students == [(2, 2, 55, "bob", None)]
    scores = [tuple(r) for r in store.read(spark, "mixfs:score_log")
              .select("entryid", "points").collect()]
    assert scores == [(100, 7.25)]
    audits = sorted(
        tuple(r) for r in store.read(spark, "mixfs:audit")
        .select("auditid", "msg").collect()
    )
    assert audits == [(9001, "login"), (9002, "logout")]
    docs = sorted(
        tuple(r) for r in store.read(spark, "mixfs:docs")
        .select("docid", "text").collect()
    )
    expected_docs = sorted(
        (d, dict(doc_batches[0] + doc_batches[1])[d]) for d in admitted1 + admitted2
    )
    assert docs == expected_docs


def test_soak_debezium_envelope_source(spark, tmp_path, student_mapping):
    """r4 verdict #7: the same composed soak scenario (rotate with per-file
    position reset, kernel dead letters + post-fix replay, ingest-corrupt
    envelope dead-lettered, streaming-dedup screening, >=2 transient
    failures under the supervisor, restart-from-checkpoint) driven through
    the Kafka-shaped Debezium envelope path (source_format="debezium")
    instead of the engine-native event log. Final state must equal the
    sequential oracle apply, and the corrupt envelope must survive a
    dead-letter drain (re-queued, never dropped)."""
    from mysql_hbase_replicator_spark.operators.cdc_apply import (
        DEAD_LETTER_TABLE,
        read_checkpoint_state,
        replay_dead_letters,
    )
    from mysql_hbase_replicator_spark.operators.dedup_stream import IncrementalDeduper
    from mysql_hbase_replicator_spark.streaming.supervisor import RestartPolicy

    events_dir = str(tmp_path / "envelopes")
    mappings = {
        "mixfs.student": student_mapping,
        "mixfs.score_log": score_log_mapping(),
        "mixfs.audit": audit_mapping("legacy_id"),  # broken: PK always NULL
        "mixfs.docs": docs_mapping(),
    }

    TS0 = 1_700_000_000_000

    def env(op, table, before=None, after=None, file="binlog.000001", pos=0, dt=0):
        return json.dumps({
            "op": op, "before": before, "after": after,
            "source": {"db": "mixfs", "table": table, "file": file, "pos": pos,
                       "ts_ms": TS0 + dt, "server_id": 1},
        })

    def write_lines(name, lines):
        os.makedirs(events_dir, exist_ok=True)
        tmp = os.path.join(events_dir, f".{name}.tmp")
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.replace(tmp, os.path.join(events_dir, f"{name}.json"))

    deduper = IncrementalDeduper(spark, str(tmp_path / "lsh_index"), max_files=1,
                                 n_compact_partitions=2)
    oracle_deduper = IncrementalDeduper(spark, str(tmp_path / "lsh_oracle"),
                                        max_files=10_000)

    base = (
        "the quick brown fox jumps over the lazy dog again and again today",
        "pack my box with five dozen liquor jugs before the long winter came",
        "sphinx of black quartz judge my vow while the river runs cold tonight",
    )
    doc_batches = [
        [(1, base[0]), (2, base[1]), (3, base[2]), (4, base[0] + " extra")],
        [(5, base[1]), (6, base[0] + " extra"),
         (7, "jaded zombies acted quaintly but kept driving their oxen forward")],
    ]

    def screen(deduper_, batch):
        df = spark.createDataFrame(batch, "doc_id long, text string")
        return sorted(r.doc_id for r in deduper_.process_batch(df).collect())

    def doc_envs(admitted_ids, batch, dt0, pos0, file):
        txt = dict(batch)
        # two same-ms doc inserts whose positions straddle a multiple of
        # 1000 — the rank-based seq must keep them ordered and collision-free
        out = []
        for i, d in enumerate(admitted_ids):
            dt = dt0 if i < 2 else dt0 + i  # first two share one millisecond
            pos = (998 + 4 * i) if i < 2 else pos0 + i
            out.append(env("c", "docs", after={"doc_id": d, "text": txt[d]},
                           file=file, pos=pos, dt=dt))
        return out

    admitted1 = screen(deduper, doc_batches[0])
    assert admitted1 == screen(oracle_deduper, doc_batches[0])
    assert {1, 2, 3} <= set(admitted1)

    corrupt = '{"op": "c", "before": null, "source": {'  # truncated mid-object
    phase1 = [
        env("c", "student", after={"sn": 1, "id": 1, "score": 90, "name": "ann",
                                   "rem": "a"}, pos=500, dt=0),
        env("c", "score_log", after={"entry_id": 100, "points": 1.5}, pos=510, dt=1),
        env("c", "audit", after={"audit_id": 9001, "msg": "login"}, pos=520, dt=2),
        corrupt,
        # rotation = source.file changes; positions RESET (8 < 520) but the
        # later ts_ms must win both the collapse and the checkpoint pair
        env("u", "student",
            before={"sn": 1, "id": 1, "score": 90, "name": "ann", "rem": "a"},
            after={"sn": 1, "id": 1, "score": 95, "name": "ann2", "rem": "z"},
            file="binlog.000002", pos=8, dt=4),
        env("c", "audit", after={"audit_id": 9002, "msg": "logout"},
            file="binlog.000002", pos=12, dt=5),
        *doc_envs(admitted1, doc_batches[0], dt0=6, pos0=20, file="binlog.000002"),
    ]
    write_lines("f1", phase1)

    class FlakyDbz(CdcStreamPipeline):
        fail_times = 2

        def _apply_batch(self, batch_df, batch_id):
            if FlakyDbz.fail_times > 0:
                FlakyDbz.fail_times -= 1
                raise IOError("simulated broker connection drop")
            super()._apply_batch(batch_df, batch_id)

    def make_pipe():
        return FlakyDbz(
            spark=spark,
            events_path=events_dir,
            row_struct=None,
            store=ParquetKeyedStore(str(tmp_path / "store"), n_buckets=4),
            mappings=mappings,
            checkpoint_dir=str(tmp_path / "ckpt"),
            source_format="debezium",
        )

    pipe1 = make_pipe()
    sleeps: list[float] = []
    report = pipe1.run_supervised(
        RestartPolicy(max_restarts=4, backoff_initial_s=0.01), sleep=sleeps.append
    )
    assert report.outcome == "clean" and report.restarts == 2

    # checkpoint = post-rotate (file, position) of the LAST event by seq
    ckpt = read_checkpoint_state(pipe1.store)
    assert ckpt["filename"] == "binlog.000002"
    # 2 kernel (audit) + 1 ingest (corrupt envelope) dead letters
    assert sum(r.dead_letter_count for r in pipe1.results) == 3
    dl = spark.read.parquet(os.path.join(pipe1.store.base_dir, DEAD_LETTER_TABLE))
    assert dl.filter(dl.reason == "unparseable debezium envelope").count() == 1

    # injected crash: a rewrite died before its pointer flip
    orphan = plant_orphan_version(deduper, deduper.index_dir)
    admitted2 = screen(deduper, doc_batches[1])
    assert admitted2 == screen(oracle_deduper, doc_batches[1])
    assert 7 in admitted2 and 5 not in admitted2
    assert deduper._live_dir(deduper.index_dir) == orphan
    assert not os.path.exists(os.path.join(orphan, "junk.parquet"))

    phase2 = [
        env("u", "score_log", before={"entry_id": 100, "points": 1.5},
            after={"entry_id": 100, "points": 7.25},
            file="binlog.000002", pos=40, dt=100),
        env("d", "student", before={"sn": 1, "id": 1},
            file="binlog.000002", pos=41, dt=101),
        env("c", "student", after={"sn": 2, "id": 2, "score": 55, "name": "bob",
                                   "rem": None},
            file="binlog.000002", pos=42, dt=102),
        *doc_envs(admitted2, doc_batches[1], dt0=103, pos0=50, file="binlog.000002"),
    ]
    write_lines("f2", phase2)
    pipe2 = make_pipe()  # same checkpointLocation -> resume, only f2 processed
    q = pipe2.start(available_now=True)
    q.awaitTermination(120)
    assert pipe2.total_counts().get("mixfs.student.insert", 0) == 1

    # operator fixes the audit mapping; drain — audits apply, the corrupt
    # envelope is RE-QUEUED (uninterpretable), not dropped
    fixed = dict(mappings)
    fixed["mixfs.audit"] = audit_mapping("audit_id")
    replay = replay_dead_letters(spark, pipe2.store, fixed)
    assert replay is not None and replay.dead_letter_count == 1
    dl2 = spark.read.parquet(os.path.join(pipe2.store.base_dir, DEAD_LETTER_TABLE))
    assert dl2.count() == 1 and dl2.first().payload == corrupt

    # final-state equivalence vs sequential oracle apply
    store = pipe2.store
    students = sorted(tuple(r) for r in store.read(spark, "mixfs:student2")
                      .select("sn", "id", "score", "name", "rem").collect())
    assert students == [(2, 2, 55, "bob", None)]
    scores = [tuple(r) for r in store.read(spark, "mixfs:score_log")
              .select("entryid", "points").collect()]
    assert scores == [(100, 7.25)]
    audits = sorted(tuple(r) for r in store.read(spark, "mixfs:audit")
                    .select("auditid", "msg").collect())
    assert audits == [(9001, "login"), (9002, "logout")]
    docs = sorted(tuple(r) for r in store.read(spark, "mixfs:docs")
                  .select("docid", "text").collect())
    expected_docs = sorted(
        (d, dict(doc_batches[0] + doc_batches[1])[d]) for d in admitted1 + admitted2
    )
    assert docs == expected_docs


# --- fixed cost per trigger --------------------------------------------------
def test_small_trigger_job_count(spark, tmp_path, student_mapping):
    """A small generic trigger over three mapped tables, each with one dead
    letter, runs at most 6 Spark jobs: the events cache (AQE materializes
    it as its own stage), the stats pass, ONE dead-letter write for all
    tables and one delta append per table. Small batches plan as one
    partition, so no kernel action shuffles; with a shuffle per action and
    a dead-letter write per table the same trigger ran 12."""
    from mysql_hbase_replicator_spark.operators.merge import LogStructuredKeyedStore

    events = []
    for i in range(1, 31):
        events += [
            {"position": 4 * i, "op": "insert", "db": "mixfs", "table": "student",
             "after": {"sn": i, "id": i % 3, "score": i, "name": f"n{i}", "rem": "r"}},
            {"position": 4 * i + 1, "op": "insert", "db": "mixfs", "table": "score_log",
             "after": {"entry_id": i, "points": i / 2}},
            {"position": 4 * i + 2, "op": "insert", "db": "mixfs", "table": "docs",
             "after": {"doc_id": i, "text": f"t{i}"}},
        ]
    events += [  # one missing-PK event per mapped table
        {"position": 200, "op": "insert", "db": "mixfs", "table": "student",
         "after": {"sn": 99, "score": 1}},
        {"position": 201, "op": "insert", "db": "mixfs", "table": "score_log",
         "after": {"points": 1.0}},
        {"position": 202, "op": "insert", "db": "mixfs", "table": "docs",
         "after": {"text": "orphan"}},
    ]
    write_events(str(tmp_path / "events"), "b1", events)
    store = LogStructuredKeyedStore(str(tmp_path / "store"))
    pipe = CdcStreamPipeline(
        spark=spark,
        events_path=str(tmp_path / "events"),
        row_struct=None,
        store=store,
        mappings={
            "mixfs.student": student_mapping,
            "mixfs.score_log": score_log_mapping(),
            "mixfs.docs": docs_mapping(),
        },
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    tracker = spark.sparkContext.statusTracker()
    q = pipe.start(available_now=True)
    q.awaitTermination(120)
    jobs = tracker.getJobIdsForGroup(str(q.runId))
    assert len(pipe.results) == 1
    assert pipe.results[0].dead_letter_count == 3
    assert spark.read.parquet(str(tmp_path / "store" / "_dead_letter")).count() == 3
    assert len(jobs) <= 6, f"{len(jobs)} jobs for one small trigger"
