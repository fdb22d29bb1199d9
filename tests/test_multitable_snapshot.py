"""Multi-table snapshot-diff pipelines (r13 verdict #2) + the r13 ADVICE
hardening of the snapshot transport and apply kernel.

The reference replicates EVERY mapped table from one binlog stream
(MySQLExtractor.scala:225-236). The polling transport reaches parity with
``CdcStreamPipeline(source_format="snapshot_diff", row_structs={...})``:
one streaming query over a landing root with one ``<db.table>/`` subdir per
mapped table; each table diffs/applies through its own PrevSnapshotStore;
the store-level high-watermark is the MIN applied snapshot version across
all configured tables (SURVEY §7's multi-table ordering rule).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mysql_hbase_replicator_spark.catalog.meta import HbaseCollInfo, HbaseTableInfo
from mysql_hbase_replicator_spark.operators.cdc_apply import (
    apply_cdc_batch,
    read_checkpoint_state,
)
from mysql_hbase_replicator_spark.operators.merge import ParquetKeyedStore
from mysql_hbase_replicator_spark.sources.cdc_events import events_from_rows
from mysql_hbase_replicator_spark.sources.snapshot_diff import (
    PrevSnapshotStore,
    SnapshotRetentionError,
)
from mysql_hbase_replicator_spark.streaming.pipeline import CdcStreamPipeline

S_COLS = ("sn", "id", "score", "name", "rem")
T_COLS = ("tid", "subject", "salary")


@pytest.fixture()
def teacher_struct():
    return T.StructType(
        [
            T.StructField("tid", T.IntegerType()),
            T.StructField("subject", T.StringType()),
            T.StructField("salary", T.IntegerType()),
        ]
    )


@pytest.fixture()
def teacher_mapping():
    return HbaseTableInfo(
        dbName="mixfs",
        dbTableName="teacher",
        hbaseTableName="mixfs:teacher2",
        hbaseNameSpace="mixfs",
        sparkTableName="teacher2",
        bytesUtils="Binary",
        cols=[
            HbaseCollInfo("tid", "int(11)", "tid", "IntegerType", True),
            HbaseCollInfo("subject", "varchar(10)", "subject", "StringType", False),
            HbaseCollInfo("salary", "int(11)", "salary", "IntegerType", False),
        ],
    )


def srow(sn, id_, score=None, name=None, rem=None):
    return {"sn": sn, "id": id_, "score": score, "name": name, "rem": rem}


def trow(tid, subject, salary):
    return {"tid": tid, "subject": subject, "salary": salary}


# two polls of full state per table, plus the equivalent binlog traces the
# convergence is judged against (the same two-transports-one-semantics
# contract as tests/test_snapshot_diff.py, now for two tables at once)
S_SNAPSHOTS = [
    [srow(1, 1, 90, "ann", "a"), srow(1, 2, 80, "bob", "b")],
    [srow(1, 1, 95, "ann", "a"), srow(3, 3, 60, "dan", "d")],
]
S_TRACE = [
    [
        {"position": 1, "op": "insert", "db": "mixfs", "table": "student",
         "before": None, "after": srow(1, 1, 90, "ann", "a")},
        {"position": 2, "op": "insert", "db": "mixfs", "table": "student",
         "before": None, "after": srow(1, 2, 80, "bob", "b")},
    ],
    [
        {"position": 3, "op": "update", "db": "mixfs", "table": "student",
         "before": srow(1, 1, 90, "ann", "a"), "after": srow(1, 1, 95, "ann", "a")},
        {"position": 4, "op": "delete", "db": "mixfs", "table": "student",
         "before": srow(1, 2, 80, "bob", "b"), "after": None},
        {"position": 5, "op": "insert", "db": "mixfs", "table": "student",
         "before": None, "after": srow(3, 3, 60, "dan", "d")},
    ],
]
T_SNAPSHOTS = [
    [trow(1, "math", 100), trow(2, "art", 90)],
    [trow(1, "math", 120), trow(3, "bio", 80)],
]
T_TRACE = [
    [
        {"position": 1, "op": "insert", "db": "mixfs", "table": "teacher",
         "before": None, "after": trow(1, "math", 100)},
        {"position": 2, "op": "insert", "db": "mixfs", "table": "teacher",
         "before": None, "after": trow(2, "art", 90)},
    ],
    [
        {"position": 3, "op": "update", "db": "mixfs", "table": "teacher",
         "before": trow(1, "math", 100), "after": trow(1, "math", 120)},
        {"position": 4, "op": "delete", "db": "mixfs", "table": "teacher",
         "before": trow(2, "art", 90), "after": None},
        {"position": 5, "op": "insert", "db": "mixfs", "table": "teacher",
         "before": None, "after": trow(3, "bio", 80)},
    ],
]


def write_snapshot(landing: str, name: str, rows: list[dict], ver: int) -> None:
    os.makedirs(landing, exist_ok=True)
    with open(os.path.join(landing, name), "w") as f:
        for r in rows:
            f.write(json.dumps({**r, "_snap_ver": ver}) + "\n")


def state(spark, store, hbase_name, cols):
    df = store.read(spark, hbase_name)
    if df is None:
        return []
    return sorted(tuple(r) for r in df.select(*cols).collect())


def make_multi_pipe(
    spark, tmp_path, root, student_struct, student_mapping, teacher_struct,
    teacher_mapping,
):
    return CdcStreamPipeline(
        spark=spark,
        events_path=root,
        row_struct=None,
        row_structs={
            "mixfs.student": student_struct,
            "mixfs.teacher": teacher_struct,
        },
        store=ParquetKeyedStore(str(tmp_path / "mstore"), n_buckets=4),
        mappings={
            "mixfs.student": student_mapping,
            "mixfs.teacher": teacher_mapping,
        },
        checkpoint_dir=str(tmp_path / "mckpt"),
        source_format="snapshot_diff",
        max_files_per_trigger=1,
    )


def test_multitable_snapshot_polling_converges_to_event_replay(
    spark, tmp_path, student_struct, student_mapping, teacher_struct,
    teacher_mapping,
):
    """THE multi-table 'done' bar (r13 verdict #2): ONE snapshot-polling
    pipeline over a two-table landing root converges BOTH tables to the
    same store state as event-replay of the equivalent binlog traces,
    poll after poll, resuming from the checkpoint between polls."""
    root = str(tmp_path / "landing")
    s_landing = os.path.join(root, "mixfs.student")
    t_landing = os.path.join(root, "mixfs.teacher")
    replay = ParquetKeyedStore(str(tmp_path / "replay"), n_buckets=4)
    pipe = None
    for poll in (1, 2):
        write_snapshot(s_landing, f"s{poll}.json", S_SNAPSHOTS[poll - 1], ver=poll)
        write_snapshot(t_landing, f"t{poll}.json", T_SNAPSHOTS[poll - 1], ver=poll)
        pipe = make_multi_pipe(
            spark, tmp_path, root, student_struct, student_mapping,
            teacher_struct, teacher_mapping,
        )
        q = pipe.start(available_now=True)
        q.awaitTermination(120)
        apply_cdc_batch(
            spark,
            events_from_rows(spark, S_TRACE[poll - 1], student_struct),
            replay,
            {"mixfs.student": student_mapping},
        )
        apply_cdc_batch(
            spark,
            events_from_rows(spark, T_TRACE[poll - 1], teacher_struct),
            replay,
            {"mixfs.teacher": teacher_mapping},
        )
        assert state(spark, pipe.store, "mixfs:student2", S_COLS) == state(
            spark, replay, "mixfs:student2", S_COLS
        ), f"student poll {poll}"
        assert state(spark, pipe.store, "mixfs:teacher2", T_COLS) == state(
            spark, replay, "mixfs:teacher2", T_COLS
        ), f"teacher poll {poll}"
        # store-level high-watermark = min applied version across tables
        assert read_checkpoint_state(pipe.store)["position"] == poll
    assert state(spark, pipe.store, "mixfs:student2", S_COLS) == [
        (1, 1, 95, "ann", "a"),
        (3, 3, 60, "dan", "d"),
    ]
    assert state(spark, pipe.store, "mixfs:teacher2", T_COLS) == [
        (1, "math", 120),
        (3, "bio", 80),
    ]
    # the per-op counters of the second poll reflect both tables' true diffs
    assert pipe.total_counts() == {
        "mixfs.student.update": 1,
        "mixfs.student.delete": 1,
        "mixfs.student.insert": 1,
        "mixfs.teacher.update": 1,
        "mixfs.teacher.delete": 1,
        "mixfs.teacher.insert": 1,
    }


def test_multitable_watermark_is_min_across_tables(
    spark, tmp_path, student_struct, student_mapping, teacher_struct,
    teacher_mapping,
):
    """A table lagging behind pins the global high-watermark (SURVEY §7):
    teacher reaches v2 while student sits at v1 → watermark stays 1; an
    un-seeded table (no snapshot yet) keeps the watermark unwritten."""
    root = str(tmp_path / "landing")
    write_snapshot(os.path.join(root, "mixfs.student"), "s1.json",
                   S_SNAPSHOTS[0], ver=1)
    pipe = make_multi_pipe(
        spark, tmp_path, root, student_struct, student_mapping,
        teacher_struct, teacher_mapping,
    )
    q = pipe.start(available_now=True)
    q.awaitTermination(120)
    # teacher never polled: no global watermark yet
    assert read_checkpoint_state(pipe.store) is None
    write_snapshot(os.path.join(root, "mixfs.teacher"), "t1.json",
                   T_SNAPSHOTS[0], ver=1)
    write_snapshot(os.path.join(root, "mixfs.teacher"), "t2.json",
                   T_SNAPSHOTS[1], ver=2)
    pipe2 = make_multi_pipe(
        spark, tmp_path, root, student_struct, student_mapping,
        teacher_struct, teacher_mapping,
    )
    q2 = pipe2.start(available_now=True)
    q2.awaitTermination(120)
    # teacher at 2, student at 1 → min = 1
    assert read_checkpoint_state(pipe2.store)["position"] == 1


def test_multitable_parquet_landing_heterogeneous_schemas(
    spark, tmp_path, student_struct, student_mapping, teacher_struct,
    teacher_mapping,
):
    """The production landing shape under multi-table: parquet files with
    DIFFERENT per-table schemas behind ONE trigger stream — the stream
    projects only the shared _snap_ver column, so heterogeneous files
    coexist in one source; each table's re-read applies its own schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "landing")

    def write_pq(full: str, name: str, table: pa.Table) -> None:
        sub = os.path.join(root, full)
        os.makedirs(sub, exist_ok=True)
        pq.write_table(table, os.path.join(sub, name))

    s_rows = S_SNAPSHOTS[0]
    write_pq(
        "mixfs.student",
        "s1.parquet",
        pa.table(
            {
                "sn": pa.array([r["sn"] for r in s_rows], pa.int32()),
                "id": pa.array([r["id"] for r in s_rows], pa.int32()),
                "score": pa.array([r["score"] for r in s_rows], pa.int32()),
                "name": pa.array([r["name"] for r in s_rows], pa.string()),
                "rem": pa.array([r["rem"] for r in s_rows], pa.string()),
                "_snap_ver": pa.array([1] * len(s_rows), pa.int64()),
            }
        ),
    )
    t_rows = T_SNAPSHOTS[0]
    write_pq(
        "mixfs.teacher",
        "t1.parquet",
        pa.table(
            {
                "tid": pa.array([r["tid"] for r in t_rows], pa.int32()),
                "subject": pa.array([r["subject"] for r in t_rows], pa.string()),
                "salary": pa.array([r["salary"] for r in t_rows], pa.int32()),
                "_snap_ver": pa.array([1] * len(t_rows), pa.int64()),
            }
        ),
    )
    pipe = make_multi_pipe(
        spark, tmp_path, root, student_struct, student_mapping,
        teacher_struct, teacher_mapping,
    )
    pipe.snapshot_format = "parquet"
    q = pipe.start(available_now=True)
    q.awaitTermination(120)
    assert state(spark, pipe.store, "mixfs:student2", S_COLS) == [
        (1, 1, 90, "ann", "a"),
        (1, 2, 80, "bob", "b"),
    ]
    assert state(spark, pipe.store, "mixfs:teacher2", T_COLS) == [
        (1, "math", 100),
        (2, "art", 90),
    ]
    assert read_checkpoint_state(pipe.store)["position"] == 1


def test_unknown_landing_subdir_fails_loudly(
    spark, tmp_path, student_struct, student_mapping, teacher_struct,
    teacher_mapping,
):
    root = str(tmp_path / "landing")
    write_snapshot(os.path.join(root, "mixfs.ghost"), "g1.json",
                   [{"x": 1}], ver=1)
    pipe = make_multi_pipe(
        spark, tmp_path, root, student_struct, student_mapping,
        teacher_struct, teacher_mapping,
    )
    q = pipe.start(available_now=True)
    with pytest.raises(Exception, match="mixfs.ghost"):
        q.awaitTermination(120)
        q.processAllAvailable()


def test_multitable_parallel_applies_converge(
    spark, tmp_path, student_struct, student_mapping, teacher_struct,
    teacher_mapping,
):
    """snapshot_parallel_tables=2 with both tables' landings admitted in
    ONE trigger wave: the concurrent per-table applies reach the same
    final state and watermark as the serial path (disjoint per-table
    state — landing subdir, prev store, store table, dead-letter
    subdir)."""
    root = str(tmp_path / "landing")
    for poll in (1, 2):
        write_snapshot(
            os.path.join(root, "mixfs.student"), f"s{poll}.json",
            S_SNAPSHOTS[poll - 1], ver=poll,
        )
        write_snapshot(
            os.path.join(root, "mixfs.teacher"), f"t{poll}.json",
            T_SNAPSHOTS[poll - 1], ver=poll,
        )
    pipe = make_multi_pipe(
        spark, tmp_path, root, student_struct, student_mapping,
        teacher_struct, teacher_mapping,
    )
    pipe.snapshot_parallel_tables = 2
    pipe.max_files_per_trigger = 16  # all four landings in one batch
    q = pipe.start(available_now=True)
    q.awaitTermination(120)
    assert state(spark, pipe.store, "mixfs:student2", S_COLS) == [
        (1, 1, 95, "ann", "a"),
        (3, 3, 60, "dan", "d"),
    ]
    assert state(spark, pipe.store, "mixfs:teacher2", T_COLS) == [
        (1, "math", 120),
        (3, "bio", 80),
    ]
    assert read_checkpoint_state(pipe.store)["position"] == 2


def test_multitable_dead_letters_of_one_batch_keep_both_queues(
    spark, tmp_path, student_struct, student_mapping, teacher_struct,
    teacher_mapping,
):
    """Multi-table snapshot_diff applies each table through its own kernel
    call, and those calls share one batch token. When both tables
    dead-letter in the same micro-batch, both queues must survive: the
    dead-letter directory is keyed on the token AND the call's mapped-table
    set, so the second table's overwrite cannot land on the first's."""
    root = str(tmp_path / "landing")
    write_snapshot(
        os.path.join(root, "mixfs.student"), "s1.json",
        [srow(1, 1, 90, "ann", "a"), srow(None, 2, 80, "bob", "b")], ver=1,
    )
    write_snapshot(
        os.path.join(root, "mixfs.teacher"), "t1.json",
        [trow(1, "math", 100), trow(None, "art", 90)], ver=1,
    )
    pipe = make_multi_pipe(
        spark, tmp_path, root, student_struct, student_mapping,
        teacher_struct, teacher_mapping,
    )
    pipe.max_files_per_trigger = 16  # both tables' landings in one batch
    q = pipe.start(available_now=True)
    q.awaitTermination(120)
    assert sum(r.dead_letter_count for r in pipe.results) == 2
    dead = spark.read.parquet(str(tmp_path / "mstore" / "_dead_letter"))
    assert sorted(r.table_name for r in dead.collect()) == [
        "mixfs.student", "mixfs.teacher",
    ]
    assert state(spark, pipe.store, "mixfs:student2", S_COLS) == [
        (1, 1, 90, "ann", "a"),
    ]
    assert state(spark, pipe.store, "mixfs:teacher2", T_COLS) == [(1, "math", 100)]


def test_parallel_apply_failure_lets_sibling_finish_then_reraises(
    spark, tmp_path, student_struct, student_mapping, teacher_struct,
    teacher_mapping,
):
    """The documented parallel failure semantics: a failing table must not
    roll back or block its sibling (a flipped table has converged; replays
    are idempotent), and the batch must still fail loudly so the
    un-flipped table replays."""
    root = str(tmp_path / "landing")
    write_snapshot(os.path.join(root, "mixfs.student"), "s1.json",
                   S_SNAPSHOTS[0], ver=1)
    write_snapshot(os.path.join(root, "mixfs.teacher"), "t1.json",
                   T_SNAPSHOTS[0], ver=1)
    pipe = make_multi_pipe(
        spark, tmp_path, root, student_struct, student_mapping,
        teacher_struct, teacher_mapping,
    )
    pipe.snapshot_parallel_tables = 2
    pipe.max_files_per_trigger = 16  # both tables in one batch
    original = pipe._apply_snapshot_one

    def failing(full_name, per_file, batch_id):
        if full_name == "mixfs.teacher":
            raise RuntimeError("injected teacher failure")
        return original(full_name, per_file, batch_id)

    pipe._apply_snapshot_one = failing
    q = pipe.start(available_now=True)
    with pytest.raises(Exception, match="injected teacher failure"):
        q.awaitTermination(120)
        q.processAllAvailable()
    # the sibling finished and flipped despite the teacher's failure
    assert state(spark, pipe.store, "mixfs:student2", S_COLS) == [
        (1, 1, 90, "ann", "a"),
        (1, 2, 80, "bob", "b"),
    ]
    assert pipe.store.read(spark, "mixfs:teacher2") is None


def test_config_errors_fail_at_construction(
    spark, tmp_path, student_struct, student_mapping, teacher_struct,
):
    """Misconfigured snapshot_table / row_structs keys raise at pipeline
    construction with a clear message, not as a bare KeyError inside
    foreachBatch (r14 review)."""
    common = dict(
        spark=spark,
        events_path=str(tmp_path / "landing"),
        store=ParquetKeyedStore(str(tmp_path / "s"), n_buckets=4),
        mappings={"mixfs.student": student_mapping},
        checkpoint_dir=str(tmp_path / "ckpt"),
        source_format="snapshot_diff",
    )
    with pytest.raises(ValueError, match="snapshot_table"):
        CdcStreamPipeline(
            row_struct=student_struct, snapshot_table="mixfs.ghost", **common
        )
    with pytest.raises(ValueError, match="no mapping"):
        CdcStreamPipeline(
            row_struct=None,
            row_structs={
                "mixfs.student": student_struct,
                "mixfs.teacher": teacher_struct,
            },
            **common,
        )


def test_retention_guard_rejects_partial_reread(
    spark, tmp_path, student_struct, student_mapping,
):
    """ADVICE r13: the diff comes from a batch-side re-read of the landing,
    so a producer that deletes a landing file between stream admission and
    apply would silently shrink the snapshot into spurious DELETEs. The
    guard compares the staged row count against the admitted count for the
    triggering version and fails loudly on shortfall."""
    landing = str(tmp_path / "snaps")
    write_snapshot(landing, "s1.json", S_SNAPSHOTS[0], ver=1)  # 2 rows on disk
    pipe = CdcStreamPipeline(
        spark=spark,
        events_path=landing,
        row_struct=student_struct,
        store=ParquetKeyedStore(str(tmp_path / "snapstore"), n_buckets=4),
        mappings={"mixfs.student": student_mapping},
        checkpoint_dir=str(tmp_path / "ckpt"),
        source_format="snapshot_diff",
    )
    # a stream admission that claimed 5 rows at version 1 (i.e. 3 rows'
    # worth of landing vanished before the re-read). Since r14 the
    # cross-batch files-map check catches the vanished file even earlier
    # than the staged-count compare — both raise the same error type.
    rows = [Row(_file=f"file://{landing}/gone.json", _v=1, _n=5)]
    with pytest.raises(SnapshotRetentionError, match="retention contract"):
        pipe._apply_snapshot_one("mixfs.student", rows, batch_id=0)


def test_retention_guard_catches_cross_batch_deletion(
    spark, tmp_path, student_struct, student_mapping,
):
    """r14 review: a multi-file version whose FIRST file applied+flipped
    and was then deleted leaves the equal-version heal re-reading a
    half-gone landing — spurious DELETEs the same-batch count guard cannot
    see (the deleted file was admitted by an earlier batch). The files map
    remembers it at version >= latest, so its absence from the landing now
    raises instead of silently shrinking the snapshot."""
    landing = str(tmp_path / "snaps")
    write_snapshot(landing, "s1a.json", S_SNAPSHOTS[0][:1], ver=1)

    def pipe():
        return CdcStreamPipeline(
            spark=spark,
            events_path=landing,
            row_struct=student_struct,
            store=ParquetKeyedStore(str(tmp_path / "snapstore"), n_buckets=4),
            mappings={"mixfs.student": student_mapping},
            checkpoint_dir=str(tmp_path / "ckpt"),
            source_format="snapshot_diff",
        )

    q = pipe().start(available_now=True)
    q.awaitTermination(120)
    # first file applied and flipped; producer deletes it too early, then
    # the version's remainder file lands
    os.remove(os.path.join(landing, "s1a.json"))
    write_snapshot(landing, "s1b.json", S_SNAPSHOTS[0][1:], ver=1)
    q2 = pipe().start(available_now=True)
    with pytest.raises(Exception, match="SnapshotRetention|no longer present"):
        q2.awaitTermination(120)
        q2.processAllAvailable()


def test_replay_of_applied_version_with_pruned_landing_skips(
    spark, tmp_path, student_struct, student_mapping,
):
    """The benign twin (r14 review): a post-flip REPLAY that redelivers
    exactly the deleted files of the already-applied version is converged
    by definition — skip, never raise (and never emit whole-table
    deletes)."""
    landing = str(tmp_path / "snaps")
    write_snapshot(landing, "s1.json", S_SNAPSHOTS[0], ver=1)
    pipe = CdcStreamPipeline(
        spark=spark,
        events_path=landing,
        row_struct=student_struct,
        store=ParquetKeyedStore(str(tmp_path / "snapstore"), n_buckets=4),
        mappings={"mixfs.student": student_mapping},
        checkpoint_dir=str(tmp_path / "ckpt"),
        source_format="snapshot_diff",
    )
    q = pipe.start(available_now=True)
    q.awaitTermination(120)
    want = state(spark, pipe.store, "mixfs:student2", S_COLS)
    os.remove(os.path.join(landing, "s1.json"))
    # replay the committed batch's content by hand: the batch redelivers
    # s1.json (now deleted) at the applied version
    rows = [Row(_file=f"file://{landing}/s1.json", _v=1, _n=len(S_SNAPSHOTS[0]))]
    assert pipe._apply_snapshot_one("mixfs.student", rows, batch_id=99) is None
    assert state(spark, pipe.store, "mixfs:student2", S_COLS) == want


def test_stray_root_file_is_warned_not_fatal(
    spark, tmp_path, student_struct, student_mapping, teacher_struct,
    teacher_mapping, caplog,
):
    """r14 review: the trigger glob also matches files directly in the
    landing root; a stray export must be ignored with a warning, not
    attributed to a bogus table named after the root dir (which raised a
    misleading supervisor-fatal UnmappedLandingTableError)."""
    import logging as _logging

    root = str(tmp_path / "landing")
    write_snapshot(os.path.join(root, "mixfs.student"), "s1.json",
                   S_SNAPSHOTS[0], ver=1)
    write_snapshot(root, "stray-export.json", [{"sn": 9}], ver=1)
    pipe = make_multi_pipe(
        spark, tmp_path, root, student_struct, student_mapping,
        teacher_struct, teacher_mapping,
    )
    with caplog.at_level(_logging.WARNING,
                         logger="mysql_hbase_replicator_spark.streaming.pipeline"):
        q = pipe.start(available_now=True)
        q.awaitTermination(120)
    assert state(spark, pipe.store, "mixfs:student2", S_COLS) == [
        (1, 1, 90, "ann", "a"),
        (1, 2, 80, "bob", "b"),
    ]
    assert any("without table attribution" in r.message for r in caplog.records)


def test_unstamped_only_file_enters_pruning_map(
    spark, tmp_path, student_struct, student_mapping,
):
    """ADVICE r13: a landing file whose rows are ALL unstamped used to
    return before record_files and be re-scanned by every later landing
    re-read; it now enters the files map at version 0 (and is pruned by any
    real version's re-read)."""
    landing = str(tmp_path / "snaps")
    os.makedirs(landing)
    with open(os.path.join(landing, "u1.json"), "w") as f:
        for r in S_SNAPSHOTS[0]:
            f.write(json.dumps(r) + "\n")  # no _snap_ver stamp
    pipe = CdcStreamPipeline(
        spark=spark,
        events_path=landing,
        row_struct=student_struct,
        store=ParquetKeyedStore(str(tmp_path / "snapstore"), n_buckets=4),
        mappings={"mixfs.student": student_mapping},
        checkpoint_dir=str(tmp_path / "ckpt"),
        source_format="snapshot_diff",
    )
    q = pipe.start(available_now=True)
    q.awaitTermination(120)
    prev = PrevSnapshotStore(os.path.join(pipe.checkpoint_dir, "snapshots"))
    assert prev.files_map() == {"u1.json": 0}
    # a later stamped poll prunes the unstamped file from its re-read
    paths, _names = pipe._snapshot_landing_files(prev, 1, {})
    assert [os.path.basename(p) for p in paths] == []


def test_struct_seq_with_null_member_does_not_wedge_checkpoint(
    spark, tmp_path, student_struct, student_mapping,
):
    """ADVICE r13: the driver-side checkpoint max must be None-safe
    RECURSIVELY — a struct-typed seq (the Debezium pipeline's
    (ts_ms, file, pos)) with a NULL member used to raise TypeError when
    compared against another group's struct, wedging the stream in a
    crash-replay loop one level below the r13 flat-None fix."""
    events = events_from_rows(
        spark,
        [
            {"position": 1, "op": "insert", "db": "mixfs", "table": "student",
             "before": None, "after": srow(1, 1, 90, "ann", "a")},
            {"position": 2, "op": "update", "db": "mixfs", "table": "student",
             "before": srow(1, 1, 90, "ann", "a"),
             "after": srow(1, 1, 95, "ann", "a")},
            {"position": 3, "op": "delete", "db": "mixfs", "table": "student",
             "before": srow(1, 1, 95, "ann", "a"), "after": None},
        ],
        student_struct,
    ).withColumn(
        "seq",
        F.struct(
            # ts_ms NULL for the insert+delete groups, set for update — the
            # per-group maxpos structs then mix None and int members
            F.when(F.col("op") == "update", F.lit(1000)).cast("long").alias("ts"),
            F.col("position").alias("pos"),
        ),
    )
    store = ParquetKeyedStore(str(tmp_path / "store"), n_buckets=4)
    result = apply_cdc_batch(
        spark, events, store, {"mixfs.student": student_mapping}
    )
    # max ord = the update group ((1000, 2) sorts above both NULL-ts
    # structs under the None-safe key) — its position is the checkpoint
    assert result.checkpoint_position == 2
    # the kernel's last-image collapse orders by the same seq semantics
    # (struct compare, nulls first): (None,1) < (None,3) < (1000,2), so
    # the update is the last image and the row survives
    assert state(spark, store, "mixfs:student2", S_COLS) == [
        (1, 1, 95, "ann", "a")
    ]


def test_first_seen_file_deleted_at_applied_version_raises(
    spark, tmp_path, student_struct, student_mapping,
):
    """ADVICE r14 (medium): a file FIRST landed at the already-applied
    version (the equal-version heal), admitted by this batch, then deleted
    before the landing re-read was previously classified a benign replay —
    it is in file_vers and latest == applied — and skipped as 'converged',
    silently diverging the store (its rows were never applied). Benignity
    is now judged against the PRE-merge files map: only files a PRIOR flip
    recorded at >= latest may skip; first-seen-this-batch files raise."""
    landing = str(tmp_path / "snaps")
    write_snapshot(landing, "s1a.json", S_SNAPSHOTS[0][:1], ver=1)
    pipe = CdcStreamPipeline(
        spark=spark,
        events_path=landing,
        row_struct=student_struct,
        store=ParquetKeyedStore(str(tmp_path / "snapstore"), n_buckets=4),
        mappings={"mixfs.student": student_mapping},
        checkpoint_dir=str(tmp_path / "ckpt"),
        source_format="snapshot_diff",
    )
    q = pipe.start(available_now=True)
    q.awaitTermination(120)
    want = state(spark, pipe.store, "mixfs:student2", S_COLS)
    assert want  # version 1 applied+flipped from s1a.json alone
    # a remainder file of the SAME version is admitted and then deleted
    # before the re-read — never applied, so it must raise, not skip
    rows = [Row(_file=f"file://{landing}/s1b.json", _v=1, _n=1)]
    with pytest.raises(SnapshotRetentionError, match="no longer present"):
        pipe._apply_snapshot_one("mixfs.student", rows, batch_id=7)
    # and the store was not mutated on the way out
    assert state(spark, pipe.store, "mixfs:student2", S_COLS) == want


def test_landing_table_of_handles_uri_and_relative_roots():
    """ADVICE r14: stray root-level files must be detected ('' return —
    warned and skipped) when the landing root is a URI (hdfs://, file://)
    or a relative path. The previous abspath-vs-abspath compare matched
    only local absolute roots, so on a URI root the stray file was
    attributed to a bogus table named after the root dir and raised the
    supervisor-fatal error the guard exists to prevent."""
    from types import SimpleNamespace

    probe = CdcStreamPipeline._landing_table_of
    for root in (
        "hdfs://nn:8020/data/landing",
        "s3a://bucket/data/landing",
        "file:///data/landing",
        "/data/landing",
    ):
        self = SimpleNamespace(events_path=root)
        assert probe(self, "hdfs://nn:8020/data/landing/stray.json") == ""
        assert probe(self, "file:///data/landing/stray.json") == ""
        assert probe(self, "hdfs://nn:8020/data/landing/db.t/f.json") == "db.t"
    # relative events_path: both sides resolve against the same cwd
    rel = SimpleNamespace(events_path="landing")
    cwd_root = os.path.abspath("landing")
    assert probe(rel, f"file://{cwd_root}/stray.json") == ""
    assert probe(rel, f"file://{cwd_root}/mixfs.student/f.json") == "mixfs.student"


def test_global_snapshot_watermark_is_monotonic(
    spark, tmp_path, student_struct, student_mapping, teacher_struct,
    teacher_mapping,
):
    """ADVICE r14: adding a table whose first applied version trails its
    siblings' must not move the recorded high-watermark BACKWARD — a
    monitoring consumer reads that as position regression. The watermark
    write is skipped while min-across-tables is below the recorded
    position and resumes once the late table catches up."""
    root = str(tmp_path / "landing")
    pipe = make_multi_pipe(
        spark, tmp_path, root, student_struct, student_mapping,
        teacher_struct, teacher_mapping,
    )
    # both tables applied version 3 -> watermark 3
    pipe._prev_store("mixfs.student").flip(0, 3)
    pipe._prev_store("mixfs.teacher").flip(0, 3)
    pipe._advance_global_snapshot_watermark()
    assert read_checkpoint_state(pipe.store)["position"] == 3
    # teacher re-seeded / new table at version 1: min regresses, write skipped
    pipe._prev_store("mixfs.teacher").flip(1, 1)
    pipe._advance_global_snapshot_watermark()
    assert read_checkpoint_state(pipe.store)["position"] == 3
    # late table catches up past the watermark: it re-advances
    pipe._prev_store("mixfs.teacher").flip(2, 4)
    pipe._prev_store("mixfs.student").flip(1, 5)
    pipe._advance_global_snapshot_watermark()
    assert read_checkpoint_state(pipe.store)["position"] == 4


def test_concurrent_small_batch_applies_preserve_buckets_and_conf(
    spark, tmp_path, student_struct, student_mapping, teacher_struct,
    teacher_mapping,
):
    """r14 verdict #6 — pin the parallel-apply conf-safety at the race
    site: two CONCURRENT kernel applies (each ending in
    ParquetKeyedStore.merge on its own table) inside forced small-batch
    conf windows must (a) never delete an unaffected bucket — the r14
    STATIC-overwrite race deleted every bucket the merge didn't touch when
    one thread's conf restore interleaved another's write — and (b) leave
    the session conf exactly as it was: the kernel plans small batches as
    one partition instead of switching confs, so AQE and the shuffle
    partition count are neither set, unset nor pinned by an apply. Four
    rounds widen the interleaving window."""
    from concurrent.futures import ThreadPoolExecutor

    conf_keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")

    def explicit(key):
        jconf = spark._jsparkSession.sessionState().conf()
        return spark.conf.get(key) if jconf.contains(key) else None

    prior = {k: explicit(k) for k in conf_keys}

    store = ParquetKeyedStore(str(tmp_path / "store"), n_buckets=8)

    def s_ev(pos, op, sn, id_, score):
        img = {"sn": sn, "id": id_, "score": score, "name": f"n{sn}", "rem": "r"}
        return {"position": pos, "op": op, "db": "mixfs", "table": "student",
                "before": img if op != "insert" else None,
                "after": img if op != "delete" else None}

    def t_ev(pos, op, tid, salary):
        img = {"tid": tid, "subject": "math", "salary": salary}
        return {"position": pos, "op": op, "db": "mixfs", "table": "teacher",
                "before": img if op != "insert" else None,
                "after": img if op != "delete" else None}

    # seed both tables across all 8 buckets (serially)
    seed_s = [s_ev(i, "insert", sn, id_, 90)
              for i, (sn, id_) in enumerate(
                  ((sn, id_) for sn in range(1, 9) for id_ in (1, 2)), 1)]
    seed_t = [t_ev(i, "insert", tid, 100) for i, tid in enumerate(range(1, 17), 1)]
    apply_cdc_batch(spark, events_from_rows(spark, seed_s, student_struct),
                    store, {"mixfs.student": student_mapping})
    apply_cdc_batch(spark, events_from_rows(spark, seed_t, teacher_struct),
                    store, {"mixfs.teacher": teacher_mapping})

    def apply_student(r):
        ev = [s_ev(100 + r, "update", r, 1, 100 + r)]
        return apply_cdc_batch(
            spark, events_from_rows(spark, ev, student_struct),
            store, {"mixfs.student": student_mapping},
        )

    def apply_teacher(r):
        ev = [t_ev(100 + r, "update", r, 200 + r)]
        return apply_cdc_batch(
            spark, events_from_rows(spark, ev, teacher_struct),
            store, {"mixfs.teacher": teacher_mapping},
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        for r in (1, 2, 3, 4):
            fa = pool.submit(apply_student, r)
            fb = pool.submit(apply_teacher, r)
            fa.result(timeout=300)
            fb.result(timeout=300)

    # (a) every seeded row survives — a STATIC-overwrite flip would have
    # wiped the buckets the one-key merges didn't touch
    assert state(spark, store, "mixfs:student2", S_COLS) == sorted(
        (sn, id_, (100 + sn) if (id_ == 1 and sn <= 4) else 90, f"n{sn}", "r")
        for sn in range(1, 9) for id_ in (1, 2)
    )
    assert state(spark, store, "mixfs:teacher2", T_COLS) == sorted(
        (tid, "math", (200 + tid) if tid <= 4 else 100) for tid in range(1, 17)
    )
    # (b) session conf untouched (set stays set at the same value; unset
    # stays unset)
    assert {k: explicit(k) for k in conf_keys} == prior


def test_benign_skip_warns_and_never_proves_unhealed_present_file(
    spark, tmp_path, student_struct, student_mapping, caplog,
):
    """r15 review: a replay batch can carry BOTH proven-benign missing
    files (the converged replay) and a still-present file at the applied
    version that no flip ever recorded (a late remainder in the same
    trigger). The skip stands — applying would diff against the half-gone
    landing — but (a) the deferral must be warned loudly, and (b) the
    unhealed file must NOT be recorded at the applied version, or a later
    deletion+replay would pass the benignity check with rows that were
    never applied (the ADVICE r14 hole through the skip path)."""
    import logging as _logging

    landing = str(tmp_path / "snaps")
    write_snapshot(landing, "s1a.json", S_SNAPSHOTS[0], ver=1)
    pipe = CdcStreamPipeline(
        spark=spark,
        events_path=landing,
        row_struct=student_struct,
        store=ParquetKeyedStore(str(tmp_path / "snapstore"), n_buckets=4),
        mappings={"mixfs.student": student_mapping},
        checkpoint_dir=str(tmp_path / "ckpt"),
        source_format="snapshot_diff",
    )
    q = pipe.start(available_now=True)
    q.awaitTermination(120)
    want = state(spark, pipe.store, "mixfs:student2", S_COLS)
    # producer deletes the applied file; a late remainder of the SAME
    # version lands; the replay redelivers both
    os.remove(os.path.join(landing, "s1a.json"))
    write_snapshot(landing, "s1b.json", [srow(9, 9, 50, "zed", "z")], ver=1)
    rows = [
        Row(_file=f"file://{landing}/s1a.json", _v=1, _n=len(S_SNAPSHOTS[0])),
        Row(_file=f"file://{landing}/s1b.json", _v=1, _n=1),
    ]
    with caplog.at_level(_logging.WARNING,
                         logger="mysql_hbase_replicator_spark.streaming.pipeline"):
        assert pipe._apply_snapshot_one("mixfs.student", rows, batch_id=5) is None
    assert state(spark, pipe.store, "mixfs:student2", S_COLS) == want
    assert any("DEFERRED" in r.message and "s1b.json" in str(r.args)
               for r in caplog.records)
    # the unhealed file was NOT proven: it is absent from the files map...
    fmap = pipe._prev_store("mixfs.student").files_map()
    assert "s1b.json" not in fmap and fmap.get("s1a.json") == 1
    # ...and the deferral is PERSISTED in the marker (r15 ADVICE: the
    # checkpoint advanced past s1b.json, so the stream never redelivers it
    # — without persistence the warning above fires exactly once)
    assert pipe._prev_store("mixfs.student").unhealed_map() == {"s1b.json": 1}
    # every later poll touching the table RE-WARNS about the deferred heal,
    # even one delivering nothing applicable
    caplog.clear()
    with caplog.at_level(_logging.WARNING,
                         logger="mysql_hbase_replicator_spark.streaming.pipeline"):
        pipe._apply_snapshot_one(
            "mixfs.student",
            [Row(_file=f"file://{landing}/idle.json", _v=None, _n=0)],
            batch_id=7,
        )
    assert any("still carry a DEFERRED heal" in r.message
               and "s1b.json" in str(r.args) for r in caplog.records)
    # ...so deleting it and replaying again RAISES instead of passing as
    # a converged replay
    os.remove(os.path.join(landing, "s1b.json"))
    with pytest.raises(SnapshotRetentionError, match="no longer present"):
        pipe._apply_snapshot_one(
            "mixfs.student",
            [Row(_file=f"file://{landing}/s1b.json", _v=1, _n=1)],
            batch_id=6,
        )
    # a strictly newer version fully applying supersedes the deferred rows
    # and clears the persisted entry (the warning stops)
    write_snapshot(landing, "s2.json", S_SNAPSHOTS[1], ver=2)
    assert pipe._apply_snapshot_one(
        "mixfs.student",
        [Row(_file=f"file://{landing}/s2.json", _v=2, _n=len(S_SNAPSHOTS[1]))],
        batch_id=8,
    ) is not None
    assert pipe._prev_store("mixfs.student").unhealed_map() == {}
