"""LogStructuredKeyedStore (merge-on-read) semantics.

The LSM store must be OBSERVATIONALLY IDENTICAL to the rewrite store: every
batch sequence applied through the CDC kernel must reconstruct the same
final state from base+deltas as the rewrite store materializes eagerly, and
compaction must be a pure representation change. This mirrors the
reference's sink reality — an HBase Put/Delete is an LSM append
(HbaseApplier.scala:226-275), state is only ever the fold of the log.
"""

from __future__ import annotations

import os

import pytest

from mysql_hbase_replicator_spark.operators.cdc_apply import apply_cdc_batch
from mysql_hbase_replicator_spark.operators.merge import (
    LogStructuredKeyedStore,
    ParquetKeyedStore,
)
from mysql_hbase_replicator_spark.sources.cdc_events import events_from_rows

COLS = ("sn", "id", "score", "name", "rem")
TABLE = "mixfs:student2"


def row(sn, id_, score=None, name=None, rem=None):
    return {"sn": sn, "id": id_, "score": score, "name": name, "rem": rem}


def ev(pos, op, before=None, after=None):
    return {
        "position": pos,
        "op": op,
        "db": "mixfs",
        "table": "student",
        "before": before,
        "after": after,
    }


BATCH_1 = [
    ev(1, "insert", after=row(1, 1, 90, "ann", "a")),
    ev(2, "insert", after=row(1, 2, 80, "bob", "b")),
    ev(3, "insert", after=row(2, 1, 70, "cat", "c")),
]
BATCH_2 = [
    ev(4, "update", before=row(1, 1, 90, "ann", "a"), after=row(1, 1, 95, "ann", "a")),
    ev(5, "delete", before=row(1, 2, 80, "bob", "b")),
    # PK-changing update: old key (2,1) must disappear, (2,9) appear
    ev(6, "update", before=row(2, 1, 70, "cat", "c"), after=row(2, 9, 70, "cat", "c")),
    ev(7, "insert", after=row(3, 3, 60, "dan", "d")),
]
BATCH_3 = [
    ev(8, "delete", before=row(3, 3, 60, "dan", "d")),
    ev(9, "insert", after=row(4, 4, 50, "eve", "e")),
    ev(10, "update", before=row(1, 1, 95, "ann", "a"), after=row(1, 1, 99, "ann", "z")),
]


def state(spark, store):
    df = store.read(spark, TABLE)
    if df is None:
        return []
    return sorted(tuple(r) for r in df.select(*COLS).collect())


def apply_batches(spark, store, student_struct, student_mapping, batches):
    for b in batches:
        apply_cdc_batch(
            spark,
            events_from_rows(spark, b, student_struct),
            store,
            {"mixfs.student": student_mapping},
        )


@pytest.fixture()
def stores(tmp_path):
    return (
        ParquetKeyedStore(str(tmp_path / "rw"), n_buckets=4),
        LogStructuredKeyedStore(str(tmp_path / "lsm"), n_buckets=4),
    )


def test_lsm_equals_rewrite_store(spark, stores, student_struct, student_mapping):
    rw, lsm = stores
    for batches in ([BATCH_1], [BATCH_2], [BATCH_3]):
        apply_batches(spark, rw, student_struct, student_mapping, batches)
        apply_batches(spark, lsm, student_struct, student_mapping, batches)
        assert state(spark, lsm) == state(spark, rw)
    # deltas actually accumulated (merge-on-read path, not silent rewrites)
    assert lsm._delta_seqs(TABLE) != []


def test_lsm_replay_idempotent(spark, stores, student_struct, student_mapping):
    rw, lsm = stores
    apply_batches(spark, rw, student_struct, student_mapping, [BATCH_1, BATCH_2])
    apply_batches(
        spark, lsm, student_struct, student_mapping, [BATCH_1, BATCH_2, BATCH_2]
    )  # BATCH_2 replayed (at-least-once delivery)
    assert state(spark, lsm) == state(spark, rw)


def test_lsm_compaction_preserves_state(
    spark, stores, student_struct, student_mapping
):
    rw, lsm = stores
    apply_batches(spark, rw, student_struct, student_mapping, [BATCH_1, BATCH_2, BATCH_3])
    apply_batches(spark, lsm, student_struct, student_mapping, [BATCH_1, BATCH_2, BATCH_3])
    before = state(spark, lsm)
    assert lsm.compact(spark, TABLE) is True
    assert lsm._delta_seqs(TABLE) == []
    assert state(spark, lsm) == before == state(spark, rw)
    # appends keep working after compaction
    apply_batches(
        spark, lsm, student_struct, student_mapping,
        [[ev(11, "insert", after=row(9, 9, 1, "zed", "z"))]],
    )
    apply_batches(
        spark, rw, student_struct, student_mapping,
        [[ev(11, "insert", after=row(9, 9, 1, "zed", "z"))]],
    )
    assert state(spark, lsm) == state(spark, rw)
    # second compact on a no-delta table is a no-op
    lsm.compact(spark, TABLE)
    assert lsm.compact(spark, TABLE) is False


def test_lsm_compact_empty_state_round_trip(
    spark, tmp_path, student_struct, student_mapping
):
    """Regression (r11 verdict): compacting a table whose reconstructed
    state is EMPTY (every row deleted) crashed with UNABLE_TO_INFER_SCHEMA
    — the staged overwrite of an empty frame writes no parquet data files,
    and compact() re-read the staging dir for its registry schema. Because
    merge_actions auto-compacts every compact_every deltas, a delete-all
    table at a compaction boundary was a stuck, forever-retrying
    micro-batch. The schema now comes from the staged frame itself
    (merge.py compact()); the full append/compact lifecycle must keep
    working against the emptied base afterwards."""
    lsm = LogStructuredKeyedStore(str(tmp_path / "lsm"), n_buckets=4)
    ins = [
        ev(1, "insert", after=row(1, 1, 90, "ann", "a")),
        ev(2, "insert", after=row(1, 2, 80, "bob", "b")),
    ]
    dels = [
        ev(3, "delete", before=row(1, 1, 90, "ann", "a")),
        ev(4, "delete", before=row(1, 2, 80, "bob", "b")),
    ]
    apply_batches(spark, lsm, student_struct, student_mapping, [ins, dels])
    assert lsm.compact(spark, TABLE) is True  # crashed here pre-fix
    assert state(spark, lsm) == []
    assert lsm._delta_seqs(TABLE) == []
    # merges keep working against the emptied base ...
    apply_batches(
        spark, lsm, student_struct, student_mapping,
        [[ev(5, "insert", after=row(4, 4, 50, "eve", "e"))]],
    )
    assert state(spark, lsm) == [(4, 4, 50, "eve", "e")]
    # ... and so does a second compact folding onto it
    assert lsm.compact(spark, TABLE) is True
    assert state(spark, lsm) == [(4, 4, 50, "eve", "e")]


def test_lsm_auto_compaction_trigger(spark, tmp_path, student_struct, student_mapping):
    lsm = LogStructuredKeyedStore(str(tmp_path / "lsm"), n_buckets=4, compact_every=2)
    apply_batches(spark, lsm, student_struct, student_mapping, [BATCH_1])
    assert lsm._delta_seqs(TABLE) == [0]
    apply_batches(spark, lsm, student_struct, student_mapping, [BATCH_2])
    # second append hit compact_every=2 → folded into the base
    assert lsm._delta_seqs(TABLE) == []
    rw = ParquetKeyedStore(str(tmp_path / "rw"), n_buckets=4)
    apply_batches(spark, rw, student_struct, student_mapping, [BATCH_1, BATCH_2])
    assert state(spark, lsm) == state(spark, rw)


def test_lsm_split_api_upsert_beats_delete(spark, tmp_path):
    """merge() parity: a key in BOTH upserts and deletes ends up upserted
    (the rewrite store's MERGE resolves the same way)."""
    lsm = LogStructuredKeyedStore(str(tmp_path / "lsm"), n_buckets=4)
    rw = ParquetKeyedStore(str(tmp_path / "rw"), n_buckets=4)
    base = spark.createDataFrame([(1, "old"), (2, "bye")], "k int, v string")
    ups = spark.createDataFrame([(1, "new")], "k int, v string")
    dels = spark.createDataFrame([(1,), (2,)], "k int")
    for s in (lsm, rw):
        s.overwrite(spark, "t", base, ["k"])
        s.merge(spark, "t", ups, dels, ["k"])
    expect = sorted(tuple(r) for r in rw.read(spark, "t").collect())
    assert sorted(tuple(r) for r in lsm.read(spark, "t").collect()) == expect
    assert expect == [(1, "new")]


def test_lsm_crashed_compaction_never_flips_pointer(
    spark, tmp_path, student_struct, student_mapping
):
    """A compaction that crashed AFTER writing the new base version but
    BEFORE the registry flip leaves the pointer on the old consistent
    (base, delta) pair: reads serve the pre-compaction state, multiple
    concurrent readers agree, and the retried compact() overwrites the
    orphan version dir and completes. (Replaces the old rename-protocol
    recovery tests: under the pointer protocol there is nothing to
    'recover' — a never-flipped dir is simply not referenced.)"""
    import threading

    from mysql_hbase_replicator_spark.operators.merge import BUCKET_COL

    lsm = LogStructuredKeyedStore(str(tmp_path / "lsm"), n_buckets=4)
    apply_batches(spark, lsm, student_struct, student_mapping, [BATCH_1, BATCH_2])
    want = state(spark, lsm)
    # simulate the crash: new base version fully written, pointer untouched
    orphan = lsm._ver_path(TABLE, "base", 0)
    (
        lsm.read(spark, TABLE)
        .withColumn(BUCKET_COL, lsm._bucket(["sn", "id"]))
        .repartition(BUCKET_COL)
        .write.partitionBy(BUCKET_COL)
        .mode("overwrite")
        .parquet(orphan)
    )
    assert lsm._doc(TABLE).get("base_version") is None  # pointer unmoved
    results: dict[int, list | BaseException] = {}

    def reader(i: int) -> None:
        try:
            results[i] = state(spark, lsm)
        except BaseException as e:  # surface failures to the main thread
            results[i] = e

    threads = [threading.Thread(target=reader, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert results[0] == want and results[1] == want, results
    # the retry recomputes the SAME version number and overwrites the orphan
    assert lsm.compact(spark, TABLE) is True
    assert lsm._doc(TABLE).get("base_version") == 0
    assert state(spark, lsm) == want


def test_lsm_sweeps_orphan_versions(spark, tmp_path, student_struct, student_mapping):
    """Never-referenced junk version dirs (crash leftovers) are swept by the
    next compaction without touching the live or retirement-window
    versions."""
    lsm = LogStructuredKeyedStore(str(tmp_path / "lsm"), n_buckets=4)
    apply_batches(spark, lsm, student_struct, student_mapping, [BATCH_1])
    want = state(spark, lsm)
    orphan = lsm._ver_path(TABLE, "base", 99)
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-junk.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    assert state(spark, lsm) == want  # junk is invisible to the pointer
    apply_batches(spark, lsm, student_struct, student_mapping, [BATCH_2])
    assert lsm.compact(spark, TABLE) is True
    assert not os.path.isdir(orphan)


def test_lsm_additive_schema_evolution(spark, tmp_path):
    """A column arriving mid-stream backfills null for earlier rows — the
    rewrite store's allowMissingColumns semantics, reconstructed on read."""
    lsm = LogStructuredKeyedStore(str(tmp_path / "lsm"), n_buckets=4)
    lsm.overwrite(
        spark, "t", spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), ["k"]
    )
    ups = spark.createDataFrame([(2, "b2", 7.5), (3, "c", 1.0)], "k int, v string, w double")
    dels = spark.createDataFrame([], "k int")
    lsm.merge(spark, "t", ups, dels, ["k"])
    got = {r["k"]: (r["v"], r["w"]) for r in lsm.read(spark, "t").collect()}
    assert got == {1: ("a", None), 2: ("b2", 7.5), 3: ("c", 1.0)}
    # and compaction bakes the widened schema into the base
    lsm.compact(spark, "t")
    got = {r["k"]: (r["v"], r["w"]) for r in lsm.read(spark, "t").collect()}
    assert got == {1: ("a", None), 2: ("b2", 7.5), 3: ("c", 1.0)}


def test_lsm_streaming_pipeline_end_to_end(
    spark, tmp_path, student_struct, student_mapping
):
    """CdcStreamPipeline with the LSM store: the full readStream →
    foreachBatch → delta-append path reaches the same state as the batch
    kernel over the rewrite store, across a restart."""
    import json

    from mysql_hbase_replicator_spark.streaming.pipeline import CdcStreamPipeline

    events_dir = str(tmp_path / "events")
    os.makedirs(events_dir)

    def write_file(name, events):
        with open(os.path.join(events_dir, name), "w") as f:
            for e in events:
                f.write(json.dumps(e) + "\n")

    write_file("b1.json", BATCH_1)
    write_file("b2.json", BATCH_2)
    lsm = LogStructuredKeyedStore(str(tmp_path / "lsm"), n_buckets=4)
    pipe = CdcStreamPipeline(
        spark=spark,
        events_path=events_dir,
        row_struct=student_struct,
        store=lsm,
        mappings={"mixfs.student": student_mapping},
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q = pipe.start(available_now=True)
    q.awaitTermination(120)
    rw = ParquetKeyedStore(str(tmp_path / "rw"), n_buckets=4)
    apply_batches(spark, rw, student_struct, student_mapping, [BATCH_1, BATCH_2])
    assert state(spark, lsm) == state(spark, rw)
    # restart with a third file: checkpoint resume + another delta append
    write_file("b3.json", BATCH_3)
    pipe2 = CdcStreamPipeline(
        spark=spark,
        events_path=events_dir,
        row_struct=student_struct,
        store=lsm,
        mappings={"mixfs.student": student_mapping},
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q2 = pipe2.start(available_now=True)
    q2.awaitTermination(120)
    apply_batches(spark, rw, student_struct, student_mapping, [BATCH_3])
    assert state(spark, lsm) == state(spark, rw)
    assert pipe2.total_counts() == {
        "mixfs.student.delete": 1,
        "mixfs.student.insert": 1,
        "mixfs.student.update": 1,
    }


def test_lsm_concurrent_compaction_serializes(
    spark, tmp_path, student_struct, student_mapping
):
    """Two simultaneous compact() calls (each with its own lock fd, as two
    processes would hold) must serialize on the flock: one folds the
    deltas, the other sees none left and no-ops — state intact either way."""
    import threading

    lsm = LogStructuredKeyedStore(str(tmp_path / "lsm"), n_buckets=4)
    apply_batches(spark, lsm, student_struct, student_mapping, [BATCH_1, BATCH_2])
    want = state(spark, lsm)
    results, errors = [], []

    def run():
        try:
            results.append(lsm.compact(spark, TABLE))
        except Exception as e:  # pragma: no cover - failure surface
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert not errors
    assert sorted(results) == [False, True]  # exactly one did the work
    assert lsm._delta_seqs(TABLE) == []
    assert state(spark, lsm) == want


def test_lsm_concurrent_appends_get_distinct_seqs(spark, tmp_path):
    """Concurrent merge() calls (each thread's flock fd conflicts exactly
    as two processes' would) must serialize on the per-table lock: every
    append lands in its OWN delta seq dir and the merged state contains
    all of them. Without the lock, two appends can list the same max seq
    and one delta overwrites the other (lost update)."""
    import threading

    lsm = LogStructuredKeyedStore(str(tmp_path / "lsm"), n_buckets=4, compact_every=10_000)
    base = spark.createDataFrame([(0, "base")], "k int, v string")
    lsm.overwrite(spark, "t", base, ["k"])
    empty_dels = spark.createDataFrame([], "k int")
    errors = []

    def run(i: int):
        try:
            ups = spark.createDataFrame([(i, f"v{i}")], "k int, v string")
            lsm.merge(spark, "t", ups, empty_dels, ["k"])
        except Exception as e:  # pragma: no cover - failure surface
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(1, 7)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(180)
    assert not errors
    assert lsm._delta_seqs("t") == list(range(6))  # one dir per append
    got = sorted(tuple(r) for r in lsm.read(spark, "t").collect())
    assert got == [(0, "base")] + [(i, f"v{i}") for i in range(1, 7)]


def test_lsm_kernel_schema_evolution(spark, tmp_path, student_struct, student_mapping):
    """Additive schema evolution THROUGH the CDC kernel on the LSM store: a
    mapping that grows a column mid-stream backfills null for rows written
    before it existed — the rewrite store's test_cdc_apply contract,
    reconstructed on read here."""
    from mysql_hbase_replicator_spark.catalog.meta import HbaseCollInfo, HbaseTableInfo
    from pyspark.sql import types as T

    lsm = LogStructuredKeyedStore(str(tmp_path / "lsm"), n_buckets=4)
    apply_batches(spark, lsm, student_struct, student_mapping, [BATCH_1])

    wide_mapping = HbaseTableInfo(
        dbName="mixfs", dbTableName="student", hbaseTableName="mixfs:student2",
        hbaseNameSpace="mixfs", sparkTableName="student2", bytesUtils="Binary",
        cols=[*student_mapping.cols,
              HbaseCollInfo("extra", "int(11)", "extra", "IntegerType", False)],
    )
    wide_struct = T.StructType(
        [*student_struct.fields, T.StructField("extra", T.IntegerType())]
    )
    ev = {**row(7, 7, 50, "new", "n"), "extra": 42}
    apply_cdc_batch(
        spark,
        events_from_rows(
            spark,
            [{"position": 99, "op": "insert", "db": "mixfs", "table": "student",
              "before": None, "after": ev}],
            wide_struct,
        ),
        lsm,
        {"mixfs.student": wide_mapping},
    )
    got = {
        (r["sn"], r["id"]): r["extra"]
        for r in lsm.read(spark, TABLE).collect()
    }
    assert got[(7, 7)] == 42
    assert got[(1, 1)] is None  # pre-evolution rows backfill null
    # compaction bakes the widened schema in without losing the value
    lsm.compact(spark, TABLE)
    got2 = {
        (r["sn"], r["id"]): r["extra"] for r in lsm.read(spark, TABLE).collect()
    }
    assert got2 == got


def test_lsm_registry_preserves_dropped_columns(spark, tmp_path):
    """ADVICE r7 (merge.py): when a later batch's sink schema is NARROWER
    (a source stopped sending a column), the schema registry must keep the
    union — otherwise base reads silently null the dropped column and the
    next compact() deletes it permanently. Mirrors the rewrite store's
    allowMissingColumns additive-evolution semantics."""
    lsm = LogStructuredKeyedStore(str(tmp_path / "lsm"), n_buckets=4)
    lsm.overwrite(
        spark,
        "t",
        spark.createDataFrame([(1, "a", 10.0), (2, "b", 20.0)], "k int, v string, w double"),
        ["k"],
    )
    # narrower batch: w absent from the mapping now
    ups = spark.createDataFrame([(2, "b2"), (3, "c")], "k int, v string")
    lsm.merge(spark, "t", ups, spark.createDataFrame([], "k int"), ["k"])
    got = {r["k"]: (r["v"], r["w"]) for r in lsm.read(spark, "t").collect()}
    # kept row keeps its w VALUE; rows from the narrow batch backfill null
    assert got == {1: ("a", 10.0), 2: ("b2", None), 3: ("c", None)}
    # and compaction does not drop the column
    assert lsm.compact(spark, "t") is True
    got2 = {r["k"]: (r["v"], r["w"]) for r in lsm.read(spark, "t").collect()}
    assert got2 == got


def test_lsm_read_is_lock_free(spark, tmp_path, student_struct, student_mapping):
    """Readers never take the writer flock under the pointer protocol (the
    old recovery probe BLOCKED reads behind a live compaction — ADVICE r8's
    trade, retired with the rename dance): a read completes, with the
    correct state, while another process holds the per-table lock."""
    import fcntl
    import threading

    lsm = LogStructuredKeyedStore(str(tmp_path / "lsm"), n_buckets=4)
    apply_batches(spark, lsm, student_struct, student_mapping, [BATCH_1, BATCH_2])
    want = state(spark, lsm)
    results: dict[str, list | BaseException] = {}

    def reader() -> None:
        try:
            results["got"] = state(spark, lsm)
        except BaseException as e:  # surface failures to the main thread
            results["got"] = e

    # an independent fd, exactly what a second process would hold
    fd = os.open(lsm._versions(TABLE).lock_path, os.O_CREAT | os.O_RDWR)
    t = threading.Thread(target=reader, daemon=True)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        t.start()
        t.join(timeout=120)  # must finish WHILE the lock is held
        assert not t.is_alive(), "read blocked behind the writer flock"
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)
    assert results["got"] == want


# --- BucketedLogStructuredKeyedStore (r11) ----------------------------------


def test_bucketed_lsm_equals_lsm_store(spark, tmp_path, student_struct, student_mapping):
    """The bucketed-catalog variant is observationally identical to the
    directory-layout LSM store batch for batch, through replay and
    compaction — bucketing changes the PLAN, never the state."""
    from mysql_hbase_replicator_spark.operators.merge import (
        BucketedLogStructuredKeyedStore,
    )

    lsm = LogStructuredKeyedStore(str(tmp_path / "lsm"), n_buckets=4)
    bkt = BucketedLogStructuredKeyedStore(str(tmp_path / "bkt"), n_buckets=4)
    for batches in ([BATCH_1], [BATCH_2], [BATCH_2], [BATCH_3]):  # BATCH_2 replayed
        apply_batches(spark, lsm, student_struct, student_mapping, batches)
        apply_batches(spark, bkt, student_struct, student_mapping, batches)
        assert state(spark, bkt) == state(spark, lsm)
    before = state(spark, bkt)
    assert bkt.compact(spark, TABLE) is True
    assert state(spark, bkt) == before
    assert bkt.compact(spark, TABLE) is False  # no deltas: no-op
    # appends keep working after compaction (new delta version)
    extra = [[ev(11, "insert", after=row(9, 9, 1, "zed", "z"))]]
    apply_batches(spark, bkt, student_struct, student_mapping, extra)
    apply_batches(spark, lsm, student_struct, student_mapping, extra)
    assert state(spark, bkt) == state(spark, lsm)


def test_bucketed_lsm_merge_on_read_is_exchange_free(
    spark, tmp_path, student_struct, student_mapping
):
    """THE plan property the layout buys (r10 verdict #4): with broadcast
    disabled — the backfill regime where the changed-key set outgrows any
    broadcast — the full merge-on-read reconstruction (delta last-action
    window + base anti-join) runs with ZERO exchanges: the window sorts
    within bucketed partitions and the anti-join is a co-partitioned
    SortMergeJoin straight off the two bucketed scans."""
    from mysql_hbase_replicator_spark.operators.merge import (
        BucketedLogStructuredKeyedStore,
    )

    bkt = BucketedLogStructuredKeyedStore(str(tmp_path / "bkt"), n_buckets=4)
    apply_batches(spark, bkt, student_struct, student_mapping, [BATCH_1])
    bkt.compact(spark, TABLE)  # materialize a bucketed BASE
    apply_batches(spark, bkt, student_struct, student_mapping, [BATCH_2])
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = bkt.read(spark, TABLE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "LeftAnti" in plan and "SortMergeJoin" in plan, plan
        # base scan + the delta's two consumers (changed keys, live rows)
        assert plan.count("Bucketed: true") >= 2, plan
        # and the plan still computes the right answer
        lsm = LogStructuredKeyedStore(str(tmp_path / "lsm"), n_buckets=4)
        apply_batches(spark, lsm, student_struct, student_mapping, [BATCH_1, BATCH_2])
        assert state(spark, bkt) == state(spark, lsm)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_lsm_schema_widening_rotates_delta(spark, tmp_path):
    """A widened action frame (CDC ADD COLUMN) can't append to the live
    bucketed delta table: the store folds the old-schema deltas into the
    base first, starts a fresh delta version with the new schema, and
    reads union allowMissingColumns — old rows surface NULL for the new
    column."""
    from pyspark.sql import functions as F

    from mysql_hbase_replicator_spark.operators.merge import (
        BucketedLogStructuredKeyedStore,
    )

    bkt = BucketedLogStructuredKeyedStore(str(tmp_path / "bkt"), n_buckets=4)
    up1 = spark.createDataFrame([(1, 10), (2, 20)], "k int, v int")
    bkt.merge(spark, "t", up1, up1.limit(0).select("k"), ["k"])
    doc_before = bkt._doc("t")
    up2 = spark.createDataFrame([(2, 21, "x"), (3, 30, "y")], "k int, v int, w string")
    bkt.merge(spark, "t", up2, up2.limit(0).select("k"), ["k"])
    doc_after = bkt._doc("t")
    assert doc_after["delta_version"] > doc_before["delta_version"]
    assert doc_after["base_version"] is not None  # widen forced the fold
    rows = {
        r.k: (r.v, r.w)
        for r in bkt.read(spark, "t").select("k", "v", F.col("w")).collect()
    }
    assert rows == {1: (10, None), 2: (21, "x"), 3: (30, "y")}


def test_bucketed_lsm_fresh_session_reregisters(
    spark, tmp_path, student_struct, student_mapping
):
    """Catalog loss (a new Spark session over an existing store) must be
    transparent: reads re-register the current base/delta versions over
    the files with CREATE TABLE … CLUSTERED BY … LOCATION, and the
    bucketing contract survives (bucket ids live in the file names)."""
    from mysql_hbase_replicator_spark.operators.merge import (
        BucketedLogStructuredKeyedStore,
    )

    bkt = BucketedLogStructuredKeyedStore(str(tmp_path / "bkt"), n_buckets=4)
    apply_batches(spark, bkt, student_struct, student_mapping, [BATCH_1])
    bkt.compact(spark, TABLE)
    apply_batches(spark, bkt, student_struct, student_mapping, [BATCH_2])
    before = state(spark, bkt)
    # simulate the fresh session: drop every catalog entry this store made
    for row_ in spark.sql("SHOW TABLES").collect():
        if row_.tableName.startswith(f"lsm_{bkt._digest}_"):
            spark.sql(f"DROP TABLE {row_.tableName}")
    fresh = BucketedLogStructuredKeyedStore(str(tmp_path / "bkt"), n_buckets=4)
    assert state(spark, fresh) == before
    # the re-registered scans are still bucketed (exchange-free contract)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = fresh.read(spark, TABLE)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # and appends keep working through the re-registered table
    apply_batches(
        spark, fresh, student_struct, student_mapping,
        [[ev(11, "insert", after=row(9, 9, 1, "zed", "z"))]],
    )
    assert len(state(spark, fresh)) == len(before) + 1


def test_bucketed_lsm_sweeps_orphan_versions(
    spark, tmp_path, student_struct, student_mapping
):
    """A crash between the pointer flip and the cleanup leaves orphan
    version dirs; the next compaction sweeps them without touching the
    live versions."""
    from mysql_hbase_replicator_spark.operators.merge import (
        BucketedLogStructuredKeyedStore,
    )

    bkt = BucketedLogStructuredKeyedStore(str(tmp_path / "bkt"), n_buckets=4)
    apply_batches(spark, bkt, student_struct, student_mapping, [BATCH_1])
    orphan = os.path.join(bkt.table_path(TABLE), "base_v99")
    os.makedirs(orphan)
    apply_batches(spark, bkt, student_struct, student_mapping, [BATCH_2])
    before = state(spark, bkt)
    assert bkt.compact(spark, TABLE) is True
    assert not os.path.isdir(orphan)
    assert state(spark, bkt) == before


def test_bucketed_overwrite_retires_pre_snapshot_deltas(spark, tmp_path):
    """A full (re)load REPLACES state: deltas accumulated before the
    snapshot must not replay over the fresh base (r11 review — the parent
    stores wipe the whole table dir on overwrite; the bucketed store must
    rotate the delta version in the same pointer flip)."""
    from mysql_hbase_replicator_spark.operators.merge import (
        BucketedLogStructuredKeyedStore,
    )

    bkt = BucketedLogStructuredKeyedStore(str(tmp_path / "bkt"), n_buckets=4)
    base = spark.createDataFrame([(1, "old"), (2, "bye")], "k int, v string")
    bkt.overwrite(spark, "t", base, ["k"])
    # pre-snapshot CDC: delete k=1, upsert k=2 -> stale
    ups = spark.createDataFrame([(2, "stale")], "k int, v string")
    dels = spark.createDataFrame([(1,)], "k int")
    bkt.merge(spark, "t", ups, dels, ["k"])
    # full reload with a fresh snapshot: k=1 present, k=2 new value
    snap = spark.createDataFrame([(1, "snap1"), (2, "snap2")], "k int, v string")
    bkt.overwrite(spark, "t", snap, ["k"])
    got = sorted(tuple(r) for r in bkt.read(spark, "t").select("k", "v").collect())
    assert got == [(1, "snap1"), (2, "snap2")], got


def test_bucketed_overwrite_on_delta_only_store(spark, tmp_path):
    """A store that started life via CDC merges (no base: base_version is
    None in the registry) must accept a later full snapshot load instead
    of crashing on int(None) (r11 review — compact() already guarded this
    case, overwrite did not)."""
    from mysql_hbase_replicator_spark.operators.merge import (
        BucketedLogStructuredKeyedStore,
    )

    bkt = BucketedLogStructuredKeyedStore(str(tmp_path / "bkt"), n_buckets=4)
    ups = spark.createDataFrame([(1, "cdc")], "k int, v string")
    dels = spark.createDataFrame([], "k int")
    bkt.merge(spark, "t", ups, dels, ["k"])  # delta-only: no base yet
    snap = spark.createDataFrame([(7, "snap")], "k int, v string")
    bkt.overwrite(spark, "t", snap, ["k"])  # must not raise
    got = sorted(tuple(r) for r in bkt.read(spark, "t").select("k", "v").collect())
    assert got == [(7, "snap")], got


def test_bucketed_n_buckets_persisted_across_reopen(spark, tmp_path):
    """The bucket count the files were laid out with is persisted in the
    registry and wins over a drifted constructor value on reopen (r11
    review — re-declaring 4-bucket files as INTO 8 BUCKETS would make
    Spark skip the exchange and match rows across wrong buckets)."""
    from mysql_hbase_replicator_spark.operators.merge import (
        BucketedLogStructuredKeyedStore,
    )

    path = str(tmp_path / "bkt")
    bkt = BucketedLogStructuredKeyedStore(path, n_buckets=4)
    base = spark.createDataFrame([(i, f"v{i}") for i in range(20)], "k int, v string")
    bkt.overwrite(spark, "t", base, ["k"])
    assert bkt._doc("t").get("n_buckets") == 4
    # reopen with a DIFFERENT constructor count; drop catalog entries to
    # force the fresh-session re-registration path
    for row_ in spark.sql("SHOW TABLES").collect():
        if row_.tableName.startswith(f"lsm_{bkt._digest}_"):
            spark.sql(f"DROP TABLE {row_.tableName}")
    drifted = BucketedLogStructuredKeyedStore(path, n_buckets=8)
    assert drifted._bucket_count("t", drifted._doc("t")) == 4
    ups = spark.createDataFrame([(1, "new")], "k int, v string")
    dels = spark.createDataFrame([(2,)], "k int")
    drifted.merge(spark, "t", ups, dels, ["k"])  # append at the file count
    got = dict(
        (r.k, r.v) for r in drifted.read(spark, "t").select("k", "v").collect()
    )
    assert got[1] == "new" and 2 not in got and len(got) == 19
    # the registry still records the layout's true count
    assert drifted._doc("t").get("n_buckets") == 4


def test_bucketed_sweep_keeps_one_previous_version(
    spark, tmp_path, student_struct, student_mapping
):
    """The sweep retains version N-1 of base and delta as the
    concurrent-reader retirement window and drops N-2 on the next
    compaction (r11 review — immediate deletion broke readers that had
    resolved the previous pointer)."""
    from mysql_hbase_replicator_spark.operators.merge import (
        BucketedLogStructuredKeyedStore,
    )

    bkt = BucketedLogStructuredKeyedStore(str(tmp_path / "bkt"), n_buckets=4)
    apply_batches(spark, bkt, student_struct, student_mapping, [BATCH_1])
    assert bkt.compact(spark, TABLE) is True  # -> base_v0, delta_v1
    base_v0 = os.path.join(bkt.table_path(TABLE), "base_v0")
    # a reader holding the pre-compact pointer can still scan its delta:
    # delta_v0 must survive this flip
    delta_v0 = os.path.join(bkt.table_path(TABLE), "delta_v0")
    assert os.path.isdir(delta_v0)
    apply_batches(spark, bkt, student_struct, student_mapping, [BATCH_2])
    before = state(spark, bkt)
    assert bkt.compact(spark, TABLE) is True  # -> base_v1, delta_v2
    # retirement window: base_v0 (N-1) kept, and state is intact
    assert os.path.isdir(base_v0)
    assert state(spark, bkt) == before
    apply_batches(spark, bkt, student_struct, student_mapping, [BATCH_3])
    before3 = state(spark, bkt)
    assert bkt.compact(spark, TABLE) is True  # -> base_v2: v0 is now N-2
    assert not os.path.isdir(base_v0)
    assert os.path.isdir(os.path.join(bkt.table_path(TABLE), "base_v1"))
    assert state(spark, bkt) == before3


def test_lsm_reader_survives_concurrent_compaction(
    spark, tmp_path, student_struct, student_mapping
):
    """THE r12 verdict item: read() returns a LAZY DataFrame whose file scan
    may execute after a concurrent compact() (another process, or simply a
    held DataFrame). The old rename protocol (live -> .pre-compact ->
    rmtree) invalidated the reader's resolved file paths the moment the
    swap ran — FileNotFoundException mid-scan. The pointer protocol keeps
    version dirs immutable and retires them one compaction LATE (the
    bucketed sibling's N-1 reader-retirement window), so a reader that
    resolved the previous pointer still finds every file it listed.
    Reference semantics anchor: HBase readers are never failed by a
    flush/compaction (HbaseApplier.scala:94's buffered writer never blocks
    scans)."""
    lsm = LogStructuredKeyedStore(str(tmp_path / "lsm"), n_buckets=4)
    apply_batches(spark, lsm, student_struct, student_mapping, [BATCH_1, BATCH_2])
    lsm.compact(spark, TABLE)  # materialize a real base
    apply_batches(spark, lsm, student_struct, student_mapping, [BATCH_3])
    want = state(spark, lsm)
    # reader resolves base+delta file paths NOW (lazy scan, not executed)
    held = lsm.read(spark, TABLE)
    assert lsm.compact(spark, TABLE) is True  # swaps the base under the reader
    # the held reader's scan must still run green against the retired version
    got = sorted(tuple(r) for r in held.select(*COLS).collect())
    assert got == want
    # and a fresh read sees the same state through the new pointer
    assert state(spark, lsm) == want


def test_lsm_read_base_uses_doc_snapshot_schema(spark, tmp_path):
    """r13 review: _read_base must take the schema from the SAME doc
    snapshot as the version it reads — re-reading the registry could pair
    a concurrently-flipped NEWER schema with the OLD version's files,
    nulling/dropping columns during the retirement window."""
    from pyspark.sql import types as T

    lsm = LogStructuredKeyedStore(str(tmp_path / "lsm"), n_buckets=4)
    lsm.overwrite(
        spark, "t", spark.createDataFrame([(1, "a")], "k int, v string"), ["k"]
    )
    stale_doc = lsm._doc("t")
    # simulate a concurrent full reload that flipped the pointer to a new
    # version with a RENAMED column set
    new_schema = T.StructType(
        [T.StructField("k", T.IntegerType()), T.StructField("w", T.StringType())]
    )
    lsm._versions("t").update(
        stale_doc,
        schema=new_schema.jsonValue(),
        base_version=int(stale_doc["base_version"]) + 1,
    )
    # the stale pointer must still read ITS version's files with ITS schema
    got = lsm._read_base(spark, "t", stale_doc)
    assert set(got.columns) == {"k", "v"}
    assert [tuple(r) for r in got.select("k", "v").collect()] == [(1, "a")]


def test_lsm_refuses_rewrite_store_table(spark, tmp_path):
    """A table the rewrite store wrote keeps its bucket dirs outside any
    version dir and a registry with no version pointer. Opened as an LSM
    store it is refused by name, never read as empty or appended to. Store
    entries that are not tables still read as an empty doc: the benchmark's
    byte count calls ``_doc`` on every entry of the store directory."""
    import json as _json

    from mysql_hbase_replicator_spark.operators.merge import KIND_COL

    path = str(tmp_path / "store")
    rw = ParquetKeyedStore(path, n_buckets=4)
    rw.overwrite(
        spark, "t", spark.createDataFrame([(1, "a")], "k int, v string"), ["k"]
    )
    lsm = LogStructuredKeyedStore(path, n_buckets=4)
    with pytest.raises(ValueError, match="'t'"):
        lsm.exists("t")
    with pytest.raises(ValueError, match="'t'"):
        lsm.read(spark, "t")
    actions = spark.createDataFrame(
        [(2, "b", "upsert")], f"k int, v string, {KIND_COL} string"
    )
    with pytest.raises(ValueError, match="'t'"):
        lsm.merge_actions(spark, "t", actions, ["k", "v"], ["k"])
    assert not os.path.isdir(lsm._ver_path("t", "delta", 0))
    assert [tuple(r) for r in rw.read(spark, "t").select("k", "v").collect()] == [
        (1, "a")
    ]

    os.makedirs(os.path.join(path, "_dead_letter", "batch=b0.0000"))
    with open(os.path.join(path, "_checkpoint.json"), "w") as f:
        _json.dump({"position": 1, "filename": None}, f)
    assert os.path.exists(lsm._versions("t").lock_path)  # left by the refused append
    for entry in os.listdir(path):
        if entry != "t":
            assert lsm._doc(entry) == {}, entry
