"""Layout-management gates: partition pruning must eliminate directories at
planning time, and partitioned writes must bound the files per directory —
the write-side properties that keep 100 TB scans cheap."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mysql_hbase_replicator_spark.operators.layout import write_partitioned_sorted

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partitioned_write_prunes_directories(spark, tmp_path):
    out = str(tmp_path / "events_by_type")
    events = spark.read.parquet(f"{SF}/events.parquet").drop("ts")
    write_partitioned_sorted(events, out, ["event_type"], sort_cols=["user_id"])

    # one file per partition directory (no small-file spray)
    for d in os.listdir(out):
        if d.startswith("event_type="):
            files = [
                f
                for f in os.listdir(os.path.join(out, d))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, d

    back = spark.read.parquet(out)
    filtered = back.filter(F.col("event_type") == "click")
    plan = _plan(filtered)
    # pruning happens at planning: the partition filter must appear as a
    # PartitionFilters entry on the scan, not as a post-scan Filter. Match
    # loosely (the entry mentions the column) — exact rendering of the
    # filter list varies across Spark versions.
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf_lines and any("event_type" in l for l in pf_lines), plan[:2000]
    expected = events.filter(F.col("event_type") == "click").count()
    assert filtered.count() == expected


def test_partitioned_write_respects_files_per_partition(spark, tmp_path):
    out = str(tmp_path / "events_split")
    events = spark.read.parquet(f"{SF}/events.parquet").drop("ts")
    write_partitioned_sorted(
        events, out, ["event_type"], sort_cols=["event_id"], files_per_partition=3
    )
    counts = set()
    for d in os.listdir(out):
        if d.startswith("event_type="):
            counts.add(
                len(
                    [
                        f
                        for f in os.listdir(os.path.join(out, d))
                        if f.endswith(".parquet")
                    ]
                )
            )
    # every partition dir split into at most 3 files, at least one actually split
    assert counts and max(counts) <= 3 and max(counts) > 1


