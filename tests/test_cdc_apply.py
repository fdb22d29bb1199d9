"""CDC kernel semantics (SURVEY.md §2.3, FIXTURES.md B3 scenarios 1-8).

Oracle: DuckDB applying the same change events sequentially as SQL
INSERT/UPDATE/DELETE (the reference's strict single-thread order,
Rep.scala:56-65), then diffing final table states against the Spark kernel's
batch-collapsed apply.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from mysql_hbase_replicator_spark.operators.cdc_apply import (
    DeadLetterOverflowError,
    apply_cdc_batch,
    read_checkpoint,
)
from mysql_hbase_replicator_spark.operators.merge import ParquetKeyedStore
from mysql_hbase_replicator_spark.sources.cdc_events import (
    cdc_json_event_schema,
    events_from_rows,
)

COLS = ("sn", "id", "score", "name", "rem")
PKS = ("sn", "id")


def _effective(image: dict | None, included: list | None) -> dict | None:
    """Included-columns gate as the oracle sees it (absent → NULL)."""
    if image is None:
        return None
    return {c: (image.get(c) if included is None or c in included else None) for c in COLS}


def duckdb_final_state(events: list[dict]) -> list[tuple]:
    """Sequential per-event apply in DuckDB — the semantics the reference
    implements one HBase mutation at a time."""
    con = duckdb.connect()
    con.execute("CREATE TABLE s(sn INT, id INT, score INT, name VARCHAR, rem VARCHAR)")

    def delete_key(img):
        con.execute("DELETE FROM s WHERE sn = ? AND id = ?", [img["sn"], img["id"]])

    def insert_row(img):
        con.execute("INSERT INTO s VALUES (?,?,?,?,?)", [img[c] for c in COLS])

    for e in sorted(events, key=lambda e: e["position"]):
        if e["op"] == "insert":
            img = _effective(e["after"], e.get("included_after"))
            delete_key(img)  # HBase Put is natively upsert
            insert_row(img)
        elif e["op"] == "update":
            before = _effective(e["before"], e.get("included_before"))
            after = _effective(e["after"], e.get("included_after"))
            delete_key(before)  # intended K3: old key removed
            delete_key(after)
            insert_row(after)
        elif e["op"] == "delete":
            before = _effective(e["before"], e.get("included_before"))
            delete_key(before)
    rows = con.execute("SELECT * FROM s ORDER BY sn, id").fetchall()
    con.close()
    return rows


def spark_final_state(spark, store) -> list[tuple]:
    df = store.read(spark, "mixfs:student2")
    if df is None:
        return []
    return sorted(tuple(r) for r in df.select(*COLS).collect())


def json_events_from_rows(spark, rows: list[dict]):
    """Generic-mode twin of ``events_from_rows``: the same events with their
    images as JSON strings, parsed per table by the kernel."""
    import json

    with_seq = any("seq" in r for r in rows)
    image = lambda d: None if d is None else json.dumps(d)  # noqa: E731
    data = [
        (
            r["position"], r["op"], r.get("db", "db"), r.get("table", "t"),
            image(r.get("before")), image(r.get("after")),
            r.get("included_before"), r.get("included_after"), r.get("filename"),
        )
        + ((r.get("seq"),) if with_seq else ())
        for r in rows
    ]
    return spark.createDataFrame(data, cdc_json_event_schema(with_seq))


def run_batch(spark, tmp_path, student_struct, student_mapping, events, generic=False, **kw):
    store = ParquetKeyedStore(str(tmp_path / "store"), n_buckets=4)
    ev_df = (
        json_events_from_rows(spark, events)
        if generic
        else events_from_rows(spark, events, student_struct)
    )
    result = apply_cdc_batch(
        spark, ev_df, store, {"mixfs.student": student_mapping}, **kw
    )
    return store, result


def row(sn, id_, score=None, name=None, rem=None):
    return {"sn": sn, "id": id_, "score": score, "name": name, "rem": rem}


def ev(pos, op, before=None, after=None, db="mixfs", table="student", **kw):
    return {"position": pos, "op": op, "db": db, "table": table,
            "before": before, "after": after, **kw}


# --- B3.1: inserts then read-back (K2) -------------------------------------
def test_insert_readback(spark, tmp_path, student_struct, student_mapping):
    events = [
        ev(1, "insert", after=row(1, 1, 90, "ann", "a")),
        ev(2, "insert", after=row(1, 2, 80, "bob", "b")),
        ev(3, "insert", after=row(2, 1, 70, "cat", "c")),
    ]
    store, result = run_batch(spark, tmp_path, student_struct, student_mapping, events)
    assert spark_final_state(spark, store) == duckdb_final_state(events)
    assert result.applied_counts == {"mixfs.student.insert": 3}
    assert result.checkpoint_position == 3


# --- B3.2: same-PK update is a full-row replacement incl. clearing (K3) ----
def test_update_same_pk_clears_missing_columns(spark, tmp_path, student_struct, student_mapping):
    events = [
        ev(1, "insert", after=row(1, 1, 90, "ann", "xx")),
        # update carries only (sn,id,score): name/rem must be CLEARED —
        # the reference deletes the old row before the Put (HbaseApplier.scala:252-257)
        ev(2, "update", before=row(1, 1, 90, "ann", "xx"), after=row(1, 1, 95),
           included_after=["sn", "id", "score"]),
    ]
    store, _ = run_batch(spark, tmp_path, student_struct, student_mapping, events)
    state = spark_final_state(spark, store)
    assert state == duckdb_final_state(events)
    assert state == [(1, 1, 95, None, None)]


# --- B3.3: PK-changing update (intended vs faithful K3) --------------------
def test_update_pk_change_intended(spark, tmp_path, student_struct, student_mapping):
    events = [
        ev(1, "insert", after=row(1, 1, 90, "ann", "a")),
        ev(2, "update", before=row(1, 1, 90, "ann", "a"), after=row(9, 9, 90, "ann", "a")),
    ]
    store, _ = run_batch(spark, tmp_path, student_struct, student_mapping, events)
    state = spark_final_state(spark, store)
    assert state == duckdb_final_state(events)
    assert state == [(9, 9, 90, "ann", "a")]  # old key gone, new key present


def test_update_pk_change_faithful_orphans_old_row(spark, tmp_path, student_struct, student_mapping):
    """The reference's actual (inverted) K3: delete fires only when the
    rowkeys are EQUAL (HbaseApplier.scala:252), so a PK-changing update
    leaves the old row behind. Typed and generic (JSON) images alike."""
    events = [
        ev(1, "insert", after=row(1, 1, 90, "ann", "a")),
        ev(2, "update", before=row(1, 1, 90, "ann", "a"), after=row(9, 9, 90, "ann", "a")),
    ]
    for generic in (False, True):
        store, _ = run_batch(
            spark, tmp_path / f"generic{generic}", student_struct, student_mapping,
            events, generic=generic, k3_mode="faithful",
        )
        assert spark_final_state(spark, store) == [
            (1, 1, 90, "ann", "a"),  # orphan, faithfully reproduced
            (9, 9, 90, "ann", "a"),
        ], f"generic={generic}"


# --- B3.4: delete of never-inserted key is a no-op (K4) --------------------
def test_delete_nonexistent_noop(spark, tmp_path, student_struct, student_mapping):
    events = [
        ev(1, "insert", after=row(1, 1, 90, "ann", "a")),
        ev(2, "delete", before=row(7, 7)),
        ev(3, "delete", before=row(1, 1)),
    ]
    store, _ = run_batch(spark, tmp_path, student_struct, student_mapping, events)
    assert spark_final_state(spark, store) == duckdb_final_state(events) == []


# --- B3.5: replay of an already-applied prefix (at-least-once) -------------
def test_replay_idempotence(spark, tmp_path, student_struct, student_mapping):
    batch1 = [
        ev(1, "insert", after=row(1, 1, 90, "ann", "a")),
        ev(2, "insert", after=row(2, 2, 80, "bob", "b")),
        ev(3, "update", before=row(2, 2, 80, "bob", "b"), after=row(2, 2, 85, "bob", "b")),
    ]
    store = ParquetKeyedStore(str(tmp_path / "store"), n_buckets=4)
    mappings = {"mixfs.student": student_mapping}
    apply_cdc_batch(spark, events_from_rows(spark, batch1, student_struct), store, mappings)
    first = spark_final_state(spark, store)
    # crash-replay: the same events arrive again (checkpoint written after data,
    # HbaseApplier.scala:239) — state must not change
    apply_cdc_batch(spark, events_from_rows(spark, batch1, student_struct), store, mappings)
    assert spark_final_state(spark, store) == first == duckdb_final_state(batch1)
    assert read_checkpoint(store) == 3


# --- B3.6: unmapped table events → state unchanged, checkpoint advanced ----
def test_unmapped_table_skipped_checkpoint_advances(spark, tmp_path, student_struct, student_mapping):
    events = [
        ev(1, "insert", after=row(1, 1, 90, "ann", "a")),
        ev(2, "insert", after=row(5, 5, 50, "eve", "e"), table="other_table"),
        ev(3, "next_position"),
    ]
    store, result = run_batch(spark, tmp_path, student_struct, student_mapping, events)
    assert spark_final_state(spark, store) == [(1, 1, 90, "ann", "a")]
    assert result.skipped_unmapped == 1
    assert result.checkpoint_position == 3  # advanced past the skip (P1)
    assert read_checkpoint(store) == 3


# --- B3.7: multiple changes to one PK in a batch → last image wins (K5) ----
def test_last_image_wins_within_batch(spark, tmp_path, student_struct, student_mapping):
    events = [
        ev(1, "insert", after=row(1, 1, 10, "v1", "a")),
        ev(2, "update", before=row(1, 1, 10, "v1", "a"), after=row(1, 1, 20, "v2", "a")),
        ev(3, "update", before=row(1, 1, 20, "v2", "a"), after=row(1, 1, 30, "v3", "a")),
        ev(4, "delete", before=row(1, 1)),
        ev(5, "insert", after=row(1, 1, 99, "v4", "z")),
    ]
    store, _ = run_batch(spark, tmp_path, student_struct, student_mapping, events)
    state = spark_final_state(spark, store)
    assert state == duckdb_final_state(events) == [(1, 1, 99, "v4", "z")]


# --- dead letter (K1 validation + K6 overflow) -----------------------------
def test_missing_pk_dead_letters(spark, tmp_path, student_struct, student_mapping):
    events = [
        ev(1, "insert", after=row(1, 1, 90, "ann", "a")),
        # insert whose included columns omit a PK component → invalid
        ev(2, "insert", after=row(2, None, 50, "eve", "e")),
    ]
    store, result = run_batch(spark, tmp_path, student_struct, student_mapping, events)
    assert result.dead_letter_count == 1
    assert spark_final_state(spark, store) == [(1, 1, 90, "ann", "a")]
    dead = spark.read.parquet(str(tmp_path / "store" / "_dead_letter"))
    got = dead.collect()
    assert len(got) == 1 and got[0].position == 2
    assert "primary keys" in got[0].reason


def test_dead_letter_overflow_raises(spark, tmp_path, student_struct, student_mapping):
    events = [ev(i, "insert", after=row(i, None)) for i in range(1, 5)]
    with pytest.raises(DeadLetterOverflowError):
        run_batch(
            spark, tmp_path, student_struct, student_mapping, events, max_dead_letter=2
        )


def test_dead_letter_replay_overwrites_with_batch_token(
    spark, tmp_path, student_struct, student_mapping
):
    """ADVICE r8 (K6): with a stable ``batch_token`` an at-least-once replay
    of the same micro-batch must OVERWRITE its own dead letters — the store
    merge was already replay-idempotent, an appending dead-letter table was
    not. EXACT counts asserted (a >=1 assert masked the duplication)."""
    store = ParquetKeyedStore(str(tmp_path / "store"), n_buckets=4)
    events = [
        ev(1, "insert", after=row(1, 1, 90, "ann", "a")),
        ev(2, "insert", after=row(2, None, 50, "eve", "e")),  # missing PK
    ]
    ev_df = events_from_rows(spark, events, student_struct)
    for _replay in range(2):  # same batch delivered twice
        res = apply_cdc_batch(
            spark, ev_df, store, {"mixfs.student": student_mapping}, batch_token="b7"
        )
        assert res.dead_letter_count == 1
    dead = spark.read.parquet(str(tmp_path / "store" / "_dead_letter"))
    assert dead.count() == 1  # exactly once, not once per delivery
    assert spark_final_state(spark, store) == [(1, 1, 90, "ann", "a")]
    # without a token each apply is its own write (append semantics)
    apply_cdc_batch(spark, ev_df, store, {"mixfs.student": student_mapping})
    assert spark.read.parquet(str(tmp_path / "store" / "_dead_letter")).count() == 2


# --- multi-batch incremental merge -----------------------------------------
def test_two_batches_incremental(spark, tmp_path, student_struct, student_mapping):
    store = ParquetKeyedStore(str(tmp_path / "store"), n_buckets=4)
    mappings = {"mixfs.student": student_mapping}
    b1 = [ev(i, "insert", after=row(i, i, i * 10, f"u{i}", "x")) for i in range(1, 6)]
    b2 = [
        ev(6, "delete", before=row(2, 2)),
        ev(7, "update", before=row(3, 3, 30, "u3", "x"), after=row(3, 3, 33, "u3b", "x")),
        ev(8, "insert", after=row(9, 9, 99, "u9", "z")),
    ]
    apply_cdc_batch(spark, events_from_rows(spark, b1, student_struct), store, mappings)
    apply_cdc_batch(spark, events_from_rows(spark, b2, student_struct), store, mappings)
    assert spark_final_state(spark, store) == duckdb_final_state(b1 + b2)
    assert read_checkpoint(store) == 8


# --- S5 rotate/filename checkpoint (RepEvent.scala:9-10,
# --- HbaseApplier.scala:155-165) --------------------------------------------
def test_rotate_mid_batch_checkpoints_filename_and_resumes(
    spark, tmp_path, student_struct, student_mapping
):
    from mysql_hbase_replicator_spark.operators.cdc_apply import read_checkpoint_state

    store = ParquetKeyedStore(str(tmp_path / "store"), n_buckets=4)
    mappings = {"mixfs.student": student_mapping}
    # batch 1: events in binlog.000001, then a mid-stream rotation to
    # binlog.000002 followed by more row events
    b1 = [
        ev(101, "insert", after=row(1, 1, 90, "ann", "a"), filename="binlog.000001"),
        ev(102, "insert", after=row(2, 2, 80, "bob", "b")),
        ev(103, "rotate", filename="binlog.000002"),
        ev(104, "insert", after=row(3, 3, 70, "cat", "c")),
    ]
    r1 = apply_cdc_batch(spark, events_from_rows(spark, b1, student_struct), store, mappings)
    # checkpoint is the (filename, position) PAIR: position past the rotate,
    # filename from the rotate (not the earlier stamped event)
    assert r1.checkpoint_position == 104
    assert r1.checkpoint_filename == "binlog.000002"
    assert read_checkpoint_state(store) == {"position": 104, "filename": "binlog.000002"}
    assert spark_final_state(spark, store) == duckdb_final_state(
        [e for e in b1 if e["op"] in ("insert", "update", "delete")]
    )

    # batch 2 carries no filename → the current file is unchanged since the
    # last checkpoint; position advances within it
    b2 = [ev(207, "insert", after=row(4, 4, 60, "dan", "d"))]
    r2 = apply_cdc_batch(spark, events_from_rows(spark, b2, student_struct), store, mappings)
    assert r2.checkpoint_position == 207
    assert r2.checkpoint_filename == "binlog.000002"
    assert read_checkpoint_state(store) == {"position": 207, "filename": "binlog.000002"}

    # batch 3: another rotation; resume point moves to the new file
    b3 = [
        ev(301, "rotate", filename="binlog.000003"),
        ev(302, "delete", before=row(1, 1)),
    ]
    r3 = apply_cdc_batch(spark, events_from_rows(spark, b3, student_struct), store, mappings)
    assert read_checkpoint_state(store) == {"position": 302, "filename": "binlog.000003"}
    assert r3.checkpoint_filename == "binlog.000003"


def test_rotate_with_per_file_position_reset_uses_seq_order(
    spark, tmp_path, student_struct, student_mapping
):
    """Real MySQL positions reset per binlog file: after a mid-batch rotate,
    max(position) pairs the NEW filename with the OLD file's larger position
    — an invalid resume point. With a globally monotonic ``seq`` stamped by
    the source, both the checkpoint pair AND the K5 last-image collapse
    follow true stream order."""
    from mysql_hbase_replicator_spark.operators.cdc_apply import read_checkpoint_state

    store = ParquetKeyedStore(str(tmp_path / "store"), n_buckets=4)
    mappings = {"mixfs.student": student_mapping}
    b = [
        ev(500, "insert", after=row(1, 1, 90, "ann", "a"),
           filename="binlog.000001", seq=1),
        ev(510, "insert", after=row(2, 2, 80, "bob", "b"), seq=2),
        ev(4, "rotate", filename="binlog.000002", seq=3),
        # same-PK update AFTER the rotate at a SMALLER position: stream order
        # must beat position order in the collapse too
        ev(8, "update", before=row(1, 1, 90, "ann", "a"),
           after=row(1, 1, 99, "ann2", "z"), seq=4),
    ]
    r = apply_cdc_batch(spark, events_from_rows(spark, b, student_struct), store, mappings)
    # resume point = (new file, position WITHIN it) — not the old file's 510
    assert r.checkpoint_position == 8
    assert r.checkpoint_filename == "binlog.000002"
    assert read_checkpoint_state(store) == {"position": 8, "filename": "binlog.000002"}
    # the post-rotate update won despite its smaller position
    assert spark_final_state(spark, store) == [(1, 1, 99, "ann2", "z"), (2, 2, 80, "bob", "b")]


def test_legacy_events_without_filename_checkpoint_none(
    spark, tmp_path, student_struct, student_mapping
):
    """Pre-rotate fixtures (no filename column at all) still work; the
    checkpoint records filename=None."""
    from mysql_hbase_replicator_spark.operators.cdc_apply import read_checkpoint_state

    store = ParquetKeyedStore(str(tmp_path / "store"), n_buckets=4)
    ev_df = events_from_rows(
        spark, [ev(1, "insert", after=row(1, 1, 90, "ann", "a"))], student_struct
    ).drop("filename")
    apply_cdc_batch(spark, ev_df, store, {"mixfs.student": student_mapping})
    assert read_checkpoint_state(store) == {"position": 1, "filename": None}


def test_dead_letter_replay_after_mapping_fix(spark, tmp_path, student_struct, student_mapping):
    """K6 drain (Rep.scala:67-97): an event dead-lettered under a bad PK
    declaration applies cleanly after the mapping is corrected; the queue is
    drained; still-bad events would re-queue."""
    from mysql_hbase_replicator_spark.catalog.meta import HbaseCollInfo, HbaseTableInfo
    from mysql_hbase_replicator_spark.operators.cdc_apply import (
        DEAD_LETTER_TABLE,
        replay_dead_letters,
    )

    # event lacks sn → fails (sn,id) PK validation → dead letter
    events = [
        {"position": 1, "op": "insert", "db": "mixfs", "table": "student",
         "after": {"sn": None, "id": 7, "score": 50, "name": "eve", "rem": None}},
        {"position": 2, "op": "insert", "db": "mixfs", "table": "student",
         "after": {"sn": 1, "id": 1, "score": 10, "name": "ann", "rem": "a"}},
    ]
    store, result = run_batch(spark, tmp_path, student_struct, student_mapping, events)
    assert result.dead_letter_count == 1

    # corrected mapping: PK is (id) alone
    fixed = HbaseTableInfo(
        dbName="mixfs", dbTableName="student", hbaseTableName="mixfs:student2",
        hbaseNameSpace="mixfs", sparkTableName="student2", bytesUtils="Binary",
        cols=[
            HbaseCollInfo("sn", "int(11)", "sn", "IntegerType", False),
            HbaseCollInfo("id", "int(11)", "id", "IntegerType", True),
            HbaseCollInfo("score", "int(11)", "score", "IntegerType", False),
            HbaseCollInfo("name", "varchar(10)", "name", "StringType", False),
            HbaseCollInfo("rem", "varchar(2)", "rem", "StringType", False),
        ],
    )
    res2 = replay_dead_letters(spark, store, {"mixfs.student": fixed})
    assert res2 is not None and res2.dead_letter_count == 0
    assert res2.applied_counts == {"mixfs.student.insert": 1}

    rows = sorted(
        (r.id, r.score, r.name) for r in store.read(spark, "mixfs:student2")
        .select("id", "score", "name").collect()
    )
    assert (7, 50, "eve") in rows
    # drained: nothing left to replay
    assert replay_dead_letters(spark, store, {"mixfs.student": fixed}) is None


def _pk_id_only_mapping():
    """student mapping with the PK corrected to (id) alone."""
    from mysql_hbase_replicator_spark.catalog.meta import HbaseCollInfo, HbaseTableInfo

    return HbaseTableInfo(
        dbName="mixfs", dbTableName="student", hbaseTableName="mixfs:student2",
        hbaseNameSpace="mixfs", sparkTableName="student2", bytesUtils="Binary",
        cols=[
            HbaseCollInfo("sn", "int(11)", "sn", "IntegerType", False),
            HbaseCollInfo("id", "int(11)", "id", "IntegerType", True),
            HbaseCollInfo("score", "int(11)", "score", "IntegerType", False),
            HbaseCollInfo("name", "varchar(10)", "name", "StringType", False),
            HbaseCollInfo("rem", "varchar(2)", "rem", "StringType", False),
        ],
    )


def test_replay_preserves_included_columns_gate(spark, tmp_path, student_struct, student_mapping):
    """A dead-lettered event whose included_after masked a non-key column must
    replay with that column still masked (NULL), not resurrected from the raw
    payload image."""
    from mysql_hbase_replicator_spark.operators.cdc_apply import replay_dead_letters

    events = [
        # raw image carries name='eve', but the included gate masks it; sn is
        # not included either → fails the original (sn,id) PK → dead letter
        ev(1, "insert", after=row(2, 7, 50, "eve", "e"),
           included_after=["id", "score"]),
    ]
    store, result = run_batch(spark, tmp_path, student_struct, student_mapping, events)
    assert result.dead_letter_count == 1

    res2 = replay_dead_letters(spark, store, {"mixfs.student": _pk_id_only_mapping()})
    assert res2 is not None and res2.dead_letter_count == 0
    got = store.read(spark, "mixfs:student2").select("id", "score", "name", "rem").collect()
    assert len(got) == 1
    r = got[0]
    assert (r.id, r.score) == (7, 50)
    assert r.name is None and r.rem is None  # gate preserved through the queue


def test_replay_large_queue_is_distributed(spark, tmp_path, student_struct, student_mapping):
    """100k-event drain: built, dead-lettered, and replayed as DataFrames
    end-to-end — nothing driver-side. Also: a drain must not move the live
    checkpoint."""
    from pyspark.sql import functions as F

    from mysql_hbase_replicator_spark.operators.cdc_apply import (
        read_checkpoint_state,
        replay_dead_letters,
    )

    store = ParquetKeyedStore(str(tmp_path / "store"), n_buckets=4)
    mappings = {"mixfs.student": student_mapping}
    n = 100_000
    after = F.struct(
        F.lit(None).cast("integer").alias("sn"),  # missing PK component
        F.col("id").cast("integer").alias("id"),
        (F.col("id") % 100).cast("integer").alias("score"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("name"),
        F.lit(None).cast("string").alias("rem"),
    )
    ev_df = spark.range(1, n + 1).select(
        F.col("id").alias("position"),
        F.lit("insert").alias("op"),
        F.lit("mixfs").alias("db"),
        F.lit("student").alias("table"),
        F.when(F.lit(False), after).alias("before"),
        after.alias("after"),
        F.lit(None).cast("array<string>").alias("included_before"),
        F.lit(None).cast("array<string>").alias("included_after"),
        F.lit(None).cast("string").alias("filename"),
    )
    r1 = apply_cdc_batch(spark, ev_df, store, mappings)
    assert r1.dead_letter_count == n
    assert read_checkpoint_state(store)["position"] == n

    res = replay_dead_letters(spark, store, {"mixfs.student": _pk_id_only_mapping()})
    assert res is not None and res.dead_letter_count == 0
    assert res.applied_counts == {"mixfs.student.insert": n}
    assert store.read(spark, "mixfs:student2").count() == n
    # drain does not advance (or regress) the live watermark
    assert read_checkpoint_state(store)["position"] == n
    assert replay_dead_letters(spark, store, {"mixfs.student": _pk_id_only_mapping()}) is None


def test_store_additive_column_evolution(spark, tmp_path):
    """A new column arriving in upserts (MySQL ADD COLUMN) widens the store:
    kept/old rows read null for it, buckets not rewritten reconcile via
    mergeSchema, and a later merge WITHOUT the column keeps it. Only PK
    changes kill the stream; additive evolution flows through."""
    from mysql_hbase_replicator_spark.operators.merge import ParquetKeyedStore

    store = ParquetKeyedStore(str(tmp_path / "store"), n_buckets=4)
    base = spark.createDataFrame(
        [(i, f"name{i}") for i in range(8)], "id int, name string"
    )
    store.overwrite(spark, "t", base, ["id"])

    widened = spark.createDataFrame(
        [(3, "name3b", 30), (100, "new", 99)], "id int, name string, score int"
    )
    empty_keys = spark.createDataFrame([], "id int")
    store.merge(spark, "t", widened, empty_keys, ["id"])

    state = store.read(spark, "t")
    assert set(state.columns) == {"id", "name", "score"}
    rows = {r.id: (r.name, r.score) for r in state.collect()}
    assert rows[3] == ("name3b", 30)
    assert rows[100] == ("new", 99)
    assert rows[0] == ("name0", None)  # untouched bucket, column backfills null
    assert len(rows) == 9

    # a narrower late batch (source restarted pre-ALTER) must not drop the column
    narrow = spark.createDataFrame([(0, "name0b")], "id int, name string")
    store.merge(spark, "t", narrow, empty_keys, ["id"])
    state2 = store.read(spark, "t")
    assert set(state2.columns) == {"id", "name", "score"}
    rows2 = {r.id: (r.name, r.score) for r in state2.collect()}
    assert rows2[0] == ("name0b", None)
    assert rows2[3] == ("name3b", 30)


def test_snapshot_diff_roundtrip(spark):
    """cdc_snapshot_diff semantics: applying the emitted diff to the T1
    snapshot (delete deleted keys, upsert insert/update after-images) must
    reproduce the T2 snapshot exactly — the invariant that makes periodic
    snapshot diffing a valid CDC source."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from mysql_hbase_replicator_spark.plans.queries_cdc import (
        SNAP_T1,
        SNAP_T2,
        cdc_snapshot_diff,
    )
    from mysql_hbase_replicator_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    e = load_table(spark, sf, "events")

    def snap(cut):
        w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        return (
            e.filter(F.col("ts") < F.lit(cut).cast("timestamp"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_type", "value")
        )

    diff = cdc_snapshot_diff(spark, sf)
    deletes = diff.filter(F.col("op") == "delete").select("user_id")
    upserts = diff.filter(F.col("op") != "delete").select(
        "user_id",
        F.col("after_type").alias("event_type"),
        F.col("after_value").alias("value"),
    )
    applied = (
        snap(SNAP_T1)
        .join(deletes, "user_id", "left_anti")
        .join(upserts.select("user_id"), "user_id", "left_anti")
        .unionByName(upserts)
    )
    got = {tuple(r) for r in applied.collect()}
    want = {tuple(r) for r in snap(SNAP_T2).collect()}
    assert got == want


def test_small_batch_conf_not_pinned(spark, tmp_path, student_struct, student_mapping):
    """ADVICE r7 (cdc_apply): the small-batch conf scope must restore
    UNSET confs to unset — snapshotting the effective value (which includes
    Spark's own default) would pin e.g. spark.sql.adaptive.enabled as an
    explicit session conf after the first small batch, masking later
    spark-defaults changes."""
    from mysql_hbase_replicator_spark.operators.merge import ParquetKeyedStore
    from mysql_hbase_replicator_spark.sources.cdc_events import events_from_rows

    key = "spark.sql.adaptive.enabled"
    jconf = spark._jsparkSession.sessionState().conf()
    was_set = jconf.contains(key)
    if was_set:  # make the assertion meaningful on any session
        spark.conf.unset(key)
    try:
        store = ParquetKeyedStore(str(tmp_path / "store"), n_buckets=2)
        events = [{
            "position": 1, "op": "insert", "db": "mixfs", "table": "student",
            "before": None,
            "after": {"sn": 1, "id": 1, "score": 5, "name": "a", "rem": "r"},
        }]
        apply_cdc_batch(
            spark,
            events_from_rows(spark, events, student_struct),
            store,
            {"mixfs.student": student_mapping},
        )
        assert not jconf.contains(key), (
            "small-batch conf scope pinned a Spark default as an explicit "
            "session conf"
        )
    finally:
        if was_set:
            spark.conf.set(key, "true")


# --- dead-letter layout robustness (r10 review findings) --------------------
def test_dead_letter_path_distinct_for_sanitize_colliding_tokens(tmp_path):
    """Two RAW tokens that sanitize to the same string must get disjoint
    batch= dirs: under mode=overwrite a shared dir would DELETE the other
    writer's queue (append only co-mingled). Same raw token → same path,
    so replay idempotence is unaffected."""
    from mysql_hbase_replicator_spark.operators.cdc_apply import (
        dead_letter_batch_path,
    )

    store = ParquetKeyedStore(str(tmp_path / "store"), n_buckets=4)
    a = dead_letter_batch_path(store, "b0-mixfs:student")
    b = dead_letter_batch_path(store, "b0-mixfs_student")
    assert a != b
    assert a == dead_letter_batch_path(store, "b0-mixfs:student")
    # a kernel call's token names every mapped table: the directory name
    # stays under the filesystem's 255-byte limit, and tokens that share a
    # long prefix still get disjoint directories
    tables = ",".join(f"mixfs.table_{i:03d}" for i in range(40))
    long_a = dead_letter_batch_path(store, f"b0-{tables},mixfs.a")
    long_b = dead_letter_batch_path(store, f"b0-{tables},mixfs.b")
    assert long_a != long_b
    assert max(len(os.path.basename(p)) for p in (long_a, long_b)) < 255


def test_pipeline_lineage_token_scopes_dead_letter_batches(tmp_path):
    """Batch ids restart at 0 for a fresh checkpoint, so kernel batch
    tokens must carry a checkpoint-lineage component: same checkpoint →
    same token (replay overwrites itself), different checkpoint (operator
    wiped it / second pipeline on the store) → disjoint tokens, so batch 0
    of the new lineage cannot delete the old lineage's undrained queue."""
    import json as _json

    from mysql_hbase_replicator_spark.streaming.pipeline import CdcStreamPipeline

    def mk(cp_dir):
        return CdcStreamPipeline(
            spark=None, events_path="", row_struct=None, store=None,
            mappings={}, checkpoint_dir=str(cp_dir),
        )

    cp1, cp2 = tmp_path / "cp1", tmp_path / "cp2"
    cp1.mkdir(), cp2.mkdir()
    # metadata file present (normal case): token is the persisted query id
    (cp1 / "metadata").write_text(_json.dumps({"id": "11111111-aaaa-bbbb-cccc-0123"}))
    (cp2 / "metadata").write_text(_json.dumps({"id": "22222222-aaaa-bbbb-cccc-0123"}))
    p1, p1b, p2 = mk(cp1), mk(cp1), mk(cp2)
    assert p1._lineage_token() == p1b._lineage_token() == "11111111"
    assert p2._lineage_token() == "22222222"
    # pre-metadata fallback: minted once, persisted, stable across
    # restarts (a new pipeline object on the same checkpoint reads it
    # back), disjoint across checkpoints
    cp3, cp4 = tmp_path / "cp3", tmp_path / "cp4"
    cp3.mkdir(), cp4.mkdir()
    p3, p4 = mk(cp3), mk(cp4)
    t3 = p3._lineage_token()
    assert t3 == mk(cp3)._lineage_token() != p4._lineage_token()
    # mint-once (ADVICE r10): the token never flips mid-lineage — metadata
    # appearing later does NOT override the already-persisted mint, so a
    # pre-metadata dead-letter subdir stays overwritable by its replay
    (cp3 / "metadata").write_text(_json.dumps({"id": "33333333-aaaa"}))
    assert mk(cp3)._lineage_token() == t3
    # wiped-and-recreated checkpoint dir = NEW lineage: the random mint
    # makes the new token disjoint even though the path is identical
    import shutil as _sh

    _sh.rmtree(cp3)
    cp3.mkdir()
    assert mk(cp3)._lineage_token() != t3
    # malformed metadata (non-dict JSON / non-string id) must not crash —
    # it falls through to the persisted mint (ADVICE r10)
    cp5 = tmp_path / "cp5"
    cp5.mkdir()
    (cp5 / "metadata").write_text('["not", "a", "dict"]')
    t5 = mk(cp5)._lineage_token()
    assert t5 and mk(cp5)._lineage_token() == t5


def test_drain_collapses_cross_token_replay_duplicates(
    spark, tmp_path, student_struct, student_mapping
):
    """Upgrade-boundary replay: the same micro-batch delivered once under
    the old bare token scheme and once under the new lineage-scoped one
    lands in TWO batch= subdirs, so overwrite can't collapse them. The
    drain must treat byte-identical queue rows as one failure — exactly
    one replay apply, exactly one re-queue row for a still-invalid event."""
    from mysql_hbase_replicator_spark.operators.cdc_apply import (
        replay_dead_letters,
    )

    store = ParquetKeyedStore(str(tmp_path / "store"), n_buckets=4)
    mappings = {"mixfs.student": student_mapping}
    bad = [ev(2, "insert", after=row(2, None, 50, "eve", "e"))]  # missing PK
    ev_df = events_from_rows(spark, bad, student_struct)
    # same batch, two token schemes (pre- and post-upgrade identities)
    apply_cdc_batch(spark, ev_df, store, mappings, batch_token="b7")
    apply_cdc_batch(spark, ev_df, store, mappings, batch_token="1111aaaa-b7")
    dl_dir = tmp_path / "store" / "_dead_letter"
    assert spark.read.parquet(str(dl_dir)).count() == 2  # two dirs pre-drain
    res = replay_dead_letters(spark, store, mappings)
    assert res is not None and res.dead_letter_count == 1  # one failure
    assert spark.read.parquet(str(dl_dir)).count() == 1  # re-queued ONCE


def test_dead_letters_of_two_tables_share_one_write(spark, tmp_path, student_mapping):
    """One kernel call queues every mapped table's dead letters in ONE
    write: a generic batch with a missing-PK row in each of two tables
    leaves a single ``batch=`` directory (a replay of the call overwrites
    it), and the drain replays both tables' events from it."""
    from mysql_hbase_replicator_spark.catalog.meta import HbaseCollInfo, HbaseTableInfo
    from mysql_hbase_replicator_spark.operators.cdc_apply import replay_dead_letters

    def codes_mapping(pk):
        return HbaseTableInfo(
            dbName="mixfs", dbTableName="codes", hbaseTableName="mixfs:codes",
            hbaseNameSpace="mixfs", sparkTableName="codes", bytesUtils="Binary",
            cols=[
                HbaseCollInfo("id", "int(11)", "id", "IntegerType", pk == "id"),
                HbaseCollInfo("label", "varchar(10)", "label", "StringType", pk == "label"),
            ],
        )

    ev_df = spark.createDataFrame(
        [
            (1, "insert", "mixfs", "student", None,
             '{"id": 2, "score": 50, "name": "eve", "rem": "e"}', None, None, None),
            (2, "insert", "mixfs", "codes", None, '{"label": "y"}', None, None, None),
        ],
        "position long, op string, db string, table string, before string, "
        "after string, included_before array<string>, "
        "included_after array<string>, filename string",
    )
    store = ParquetKeyedStore(str(tmp_path / "store"), n_buckets=4)
    mappings = {"mixfs.student": student_mapping, "mixfs.codes": codes_mapping("id")}
    dl_dir = tmp_path / "store" / "_dead_letter"
    for _delivery in range(2):
        res = apply_cdc_batch(spark, ev_df, store, mappings, batch_token="b3")
        assert res.dead_letter_count == 2
        assert [p.name.startswith("batch=") for p in dl_dir.iterdir()] == [True]
    queued = spark.read.parquet(str(dl_dir)).collect()
    assert sorted((r.table_name, r.position) for r in queued) == [
        ("mixfs.codes", 2), ("mixfs.student", 1),
    ]

    fixed = {"mixfs.student": _pk_id_only_mapping(), "mixfs.codes": codes_mapping("label")}
    res = replay_dead_letters(spark, store, fixed)
    assert res is not None and res.dead_letter_count == 0
    assert sorted(res.applied_counts) == ["mixfs.codes.insert", "mixfs.student.insert"]
    assert spark_final_state(spark, store) == [(None, 2, 50, "eve", "e")]
    codes = store.read(spark, "mixfs:codes").select("id", "label").collect()
    assert [(r.id, r.label) for r in codes] == [(None, "y")]
    assert replay_dead_letters(spark, store, fixed) is None


# --- r13 review regressions: dead-letter fidelity, ordering, counters ------
def test_applied_counts_exclude_dead_lettered_events(
    spark, tmp_path, student_struct, student_mapping
):
    """The JMX-analog counter reports events APPLIED: a dead-lettered row
    was diverted, never merged — counting it made applied+dead sum past the
    batch size (r13 review)."""
    events = [
        ev(1, "insert", after=row(1, 1, 90, "ann", "a")),
        ev(2, "insert", after=row(2, None, 50, "eve", "e")),  # missing PK
    ]
    _store, result = run_batch(spark, tmp_path, student_struct, student_mapping, events)
    assert result.dead_letter_count == 1
    assert result.applied_counts == {"mixfs.student.insert": 1}


def test_checkpoint_stats_survive_mixed_null_ord(
    spark, tmp_path, student_struct, student_mapping
):
    """A batch mixing seq-stamped and seq-less events (a legacy file sharing
    a trigger with stamped ones) must not crash the driver-side checkpoint
    max — Python tuple comparison raises TypeError on None<int (r13 review:
    the crash wedged the stream in a replay loop)."""
    events = [
        {**ev(900, "insert", after=row(1, 1, 10, "a", None)), "seq": None},
        {**ev(50, "update", before=row(1, 1, 10, "a", None),
              after=row(1, 1, 20, "b", None)), "seq": 5},
    ]
    store = ParquetKeyedStore(str(tmp_path / "store"), n_buckets=4)
    result = apply_cdc_batch(
        spark,
        events_from_rows(spark, events, student_struct),
        store,
        {"mixfs.student": student_mapping},
    )
    # the stamped event is the latest by ord; its position is the checkpoint
    assert result.checkpoint_position == 50


def test_dead_letter_preserves_raw_payload_for_replay(spark, tmp_path):
    """Generic-mode dead letters must queue the DELIVERY verbatim, not the
    post-parse images: a PK mistyped by the current mapping parses to NULL,
    and queueing the parsed struct destroys the original value — the replay
    after the operator fixes the type would then re-queue forever (r13
    review)."""
    from mysql_hbase_replicator_spark.catalog.meta import HbaseCollInfo, HbaseTableInfo
    from mysql_hbase_replicator_spark.operators.cdc_apply import replay_dead_letters
    from pyspark.sql import functions as F

    def mapping(id_type_db, id_type_spark):
        return HbaseTableInfo(
            dbName="mixfs", dbTableName="codes", hbaseTableName="mixfs:codes",
            hbaseNameSpace="mixfs", sparkTableName="codes", bytesUtils="Binary",
            cols=[
                HbaseCollInfo("id", id_type_db, "id", id_type_spark, True),
                HbaseCollInfo("label", "varchar(10)", "label", "StringType", False),
            ],
        )

    bad = mapping("int(11)", "IntegerType")     # source actually sends strings
    # generic stream shape: images are raw JSON strings
    ev_df = spark.createDataFrame(
        [(1, "insert", "mixfs", "codes", None, '{"id": "A7", "label": "x"}',
          None, None, None)],
        "position long, op string, db string, table string, before string, "
        "after string, included_before array<string>, "
        "included_after array<string>, filename string",
    )
    store = ParquetKeyedStore(str(tmp_path / "store"), n_buckets=4)
    r1 = apply_cdc_batch(spark, ev_df, store, {"mixfs.codes": bad})
    assert r1.dead_letter_count == 1  # "A7" parsed to NULL under int

    # the queue holds the ORIGINAL string, not the nulled parse
    dl = spark.read.parquet(str(tmp_path / "store" / "_dead_letter"))
    payload = dl.select("payload").first()["payload"]
    assert '"A7"' in payload

    fixed = mapping("varchar(10)", "StringType")
    res = replay_dead_letters(spark, store, {"mixfs.codes": fixed})
    assert res is not None and res.dead_letter_count == 0
    got = store.read(spark, "mixfs:codes").select("id", "label").collect()
    assert [(r.id, r.label) for r in got] == [("A7", "x")]


def test_dead_letter_replay_keeps_seq_order(
    spark, tmp_path, student_struct, student_mapping
):
    """Stream order must survive the queue round trip: binlog positions
    reset per file, so a replay collapsing by position would let the OLDER
    image win (r13 review: the queue dropped seq)."""
    from mysql_hbase_replicator_spark.operators.cdc_apply import replay_dead_letters

    events = [
        # both lack sn → dead-lettered under the (sn,id) PK; position order
        # (900 > 50) is the WRONG order, seq order (100 < 200) is right
        {**ev(900, "insert", after=row(None, 7, 10, "old", None)), "seq": 100,
         "filename": "binlog.000001"},
        {**ev(50, "update", before=row(None, 7, 10, "old", None),
              after=row(None, 7, 20, "new", None)), "seq": 200,
         "filename": "binlog.000002"},
    ]
    store = ParquetKeyedStore(str(tmp_path / "store"), n_buckets=4)
    r1 = apply_cdc_batch(
        spark,
        events_from_rows(spark, events, student_struct),
        store,
        {"mixfs.student": student_mapping},
    )
    assert r1.dead_letter_count == 2

    res = replay_dead_letters(spark, store, {"mixfs.student": _pk_id_only_mapping()})
    assert res is not None and res.dead_letter_count == 0
    got = store.read(spark, "mixfs:student2").select("id", "score", "name").collect()
    assert [(r.id, r.score, r.name) for r in got] == [(7, 20, "new")]


def test_replay_requeues_unmapped_table_dead_letters(
    spark, tmp_path, student_struct, student_mapping
):
    """K6: a drain must never destroy dead letters for tables absent from
    the CURRENT mappings (r13 review: apply counted them skipped_unmapped
    while the drain deleted their queue dirs). They re-queue and apply on a
    later drain that maps the table."""
    from mysql_hbase_replicator_spark.operators.cdc_apply import replay_dead_letters

    events = [
        ev(1, "insert", after=row(None, 7, 50, "eve", None)),  # missing sn
    ]
    store, r1 = run_batch(spark, tmp_path, student_struct, student_mapping, events)
    assert r1.dead_letter_count == 1

    # drain with a DIFFERENT table mapped: student's letter must survive
    other = _pk_id_only_mapping()
    other.dbTableName = "other"
    other.dbName = "mixfs"
    res = replay_dead_letters(spark, store, {"mixfs.other": other})
    assert res is not None and res.dead_letter_count == 1  # requeued, not lost

    # a later drain with student mapped applies it
    res2 = replay_dead_letters(spark, store, {"mixfs.student": _pk_id_only_mapping()})
    assert res2 is not None and res2.dead_letter_count == 0
    got = store.read(spark, "mixfs:student2").select("id", "name").collect()
    assert [(r.id, r.name) for r in got] == [(7, "eve")]


def test_typed_readers_scan_seq_when_asked(spark, tmp_path, student_struct):
    """Typed-mode sources whose rotates land mid-batch MUST stamp seq; the
    typed readers silently dropped a stamped seq column before the with_seq
    knob existed (r13 review), reverting the kernel to position order."""
    import json as _json
    import os

    from mysql_hbase_replicator_spark.sources.cdc_events import read_event_log

    path = str(tmp_path / "events")
    os.makedirs(path)
    with open(os.path.join(path, "b1.json"), "w") as f:
        f.write(_json.dumps({
            "position": 900, "op": "insert", "db": "mixfs", "table": "student",
            "after": {"sn": 1, "id": 1, "score": 10, "name": "a", "rem": None},
            "seq": 7, "filename": "binlog.000001",
        }) + "\n")
    without = read_event_log(spark, path, student_struct)
    assert "seq" not in without.columns  # opt-in stays opt-in
    with_seq = read_event_log(spark, path, student_struct, with_seq=True)
    assert [r.seq for r in with_seq.collect()] == [7]


# --- the kernel's plan and its expression memo -------------------------------
def test_generic_batch_expands_actions_in_one_scan(spark, tmp_path, student_mapping):
    """One table's append reads the cached events ONCE: every event expands
    into its keyed actions in one Generate, where four filtered branches of
    a Union each scanned the cache before."""
    from mysql_hbase_replicator_spark.operators.merge import LogStructuredKeyedStore

    plans = []

    class CapturingStore(LogStructuredKeyedStore):
        def merge_actions(self, spark, name, final, sink_cols, pk_cols):
            plans.append(final._jdf.queryExecution().optimizedPlan().toString())
            super().merge_actions(spark, name, final, sink_cols, pk_cols)

    events = [
        ev(1, "insert", after=row(1, 1, 90, "ann", "a")),
        ev(2, "update", before=row(1, 1, 90, "ann", "a"), after=row(9, 9, 91, "ann", "a")),
        ev(3, "insert", after=row(2, 2, 80, "bob", "b")),
        ev(4, "delete", before=row(2, 2)),
        ev(5, "insert", after=row(None, 3)),  # K1: dead-lettered
    ]
    store = CapturingStore(str(tmp_path / "store"))
    result = apply_cdc_batch(
        spark, json_events_from_rows(spark, events), store, {"mixfs.student": student_mapping}
    )
    assert result.dead_letter_count == 1
    assert spark_final_state(spark, store) == duckdb_final_state(events[:4])
    [plan] = plans
    nodes = [line.lstrip(" :+-").split(" ")[0] for line in plan.splitlines()]
    assert nodes.count("InMemoryRelation") == 1, plan
    assert "Union" not in nodes, plan


def test_equal_mappings_share_one_memo_entry(spark, tmp_path, student_struct, student_mapping):
    """The kernel's expressions are memoized on the mapping's content: a
    second batch with an equal but distinct mapping object builds nothing."""
    import copy

    from mysql_hbase_replicator_spark.operators import cdc_apply

    store = ParquetKeyedStore(str(tmp_path / "store"), n_buckets=4)
    batches = [
        [ev(1, "insert", after=row(1, 1, 90, "ann", "a"))],
        [ev(2, "update", before=row(1, 1, 90, "ann", "a"), after=row(1, 1, 95, "ann", "a"))],
    ]
    keys = []
    for batch in batches:
        mappings = {"mixfs.student": copy.deepcopy(student_mapping)}
        apply_cdc_batch(spark, events_from_rows(spark, batch, student_struct), store, mappings)
        keys.append(set(cdc_apply._EXPRS[spark.sparkContext]))
    assert keys[0] == keys[1]
    a, b = copy.deepcopy(student_mapping), copy.deepcopy(student_mapping)
    assert cdc_apply._table_exprs(spark, a, "intended", False, "position") is (
        cdc_apply._table_exprs(spark, b, "intended", False, "position")
    )
    assert spark_final_state(spark, store) == [(1, 1, 95, "ann", "a")]


def test_mapping_edited_in_place_takes_effect_next_batch(spark, tmp_path, student_struct, student_mapping):
    """A mapping object edited between two batches is applied as edited:
    the second batch's delta carries the new sink type."""
    import copy

    from pyspark.sql import types as T

    from mysql_hbase_replicator_spark.operators.merge import LogStructuredKeyedStore

    mapping = copy.deepcopy(student_mapping)
    mappings = {"mixfs.student": mapping}
    store = LogStructuredKeyedStore(str(tmp_path / "store"))

    def delta_type(seq):
        path = os.path.join(store._delta_path("mixfs:student2"), f"{store.SEQ_COL}={seq}")
        return spark.read.parquet(path).schema["score"].dataType

    batch = [ev(1, "insert", after=row(1, 1, 90, "ann", "a"))]
    apply_cdc_batch(spark, events_from_rows(spark, batch, student_struct), store, mappings)
    assert delta_type(0) == T.IntegerType()
    next(c for c in mapping.cols if c.hbaseColumnName == "score").hbaseColumnType = "LongType"
    batch = [ev(2, "insert", after=row(2, 2, 80, "bob", "b"))]
    apply_cdc_batch(spark, events_from_rows(spark, batch, student_struct), store, mappings)
    assert delta_type(1) == T.LongType()
