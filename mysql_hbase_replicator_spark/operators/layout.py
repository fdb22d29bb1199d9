"""Data-layout management for the parquet store: the write-side half of
"fast at 100 TB".

The reference's sink is HBase — region servers own physical layout
(`HbaseApplier.scala` just issues puts/deletes). On a data-lake store the
engine owns layout itself, and two properties dominate scan cost at scale:

- **partition pruning**: a filter on the partition column must eliminate
  whole directories before any I/O (`PartitionFilters` in the scan node,
  not `PushedFilters` — pruning happens at planning, pushdown at read).
- **file sizing**: each partition directory holds a bounded number of
  files, so reads do not pay per-file open/footer costs on a small-file
  spray.

Both are pure DataFrame writes — no driver-side data movement. Stores that
are rewritten while readers may hold them (the keyed stores, the dedup
indexes) compact through ``versioned.VersionedRoot`` instead.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def write_partitioned_sorted(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
    files_per_partition: int = 1,
) -> None:
    """Write ``df`` hive-partitioned by ``partition_cols``, clustered so each
    partition directory holds AT MOST ``files_per_partition`` files,
    internally sorted by ``sort_cols``.

    The repartition keys every row by its partition values (plus a bounded
    file index when files_per_partition > 1), so each output file is written
    by exactly one task — no small-file spray where every upstream task
    writes into every partition. sortWithinPartitions gives min/max-tight
    row groups for ``sort_cols`` (parquet zone-map pruning on the sort key).

    File-count contract: hash placement of the (value, index) groups into
    ``n_values * files_per_partition`` shuffle partitions can collapse two
    groups of one partition value into the same task; that task still writes
    one file per value it holds, so a directory gets *at most* (typically
    exactly) ``files_per_partition`` files, never more. Exact counts would
    need ``repartitionByRange`` over a precomputed group index — not worth a
    range-boundary sampling pass for a sizing hint. The ``distinct().count()``
    below is one extra O(n_values) aggregate job per write, paid only on the
    ``files_per_partition > 1`` path.
    """
    from pyspark.sql import functions as F

    parts = [F.col(c) for c in partition_cols]
    if files_per_partition > 1:
        # spread rows of one partition value over N writer tasks
        # deterministically by hashing the sort key (or all columns); pin the
        # shuffle partition count explicitly — AQE would otherwise coalesce
        # the small per-(value, index) partitions back into one writer task
        # and defeat the split
        basis = [F.col(c) for c in (sort_cols or df.columns)]
        parts = parts + [F.pmod(F.hash(*basis), F.lit(files_per_partition))]
        n_values = df.select(*partition_cols).distinct().count()
        out = df.repartition(max(1, n_values) * files_per_partition, *parts)
    else:
        out = df.repartition(*parts)
    if sort_cols:
        out = out.sortWithinPartitions(*[F.col(c) for c in sort_cols])
    out.write.partitionBy(*partition_cols).mode("overwrite").parquet(path)


LAYOUT_CACHE_ROOT = os.environ.get("SPARK_GRAFT_LAYOUT_CACHE", "/tmp/spark_graft_layout")


def _fingerprint(src: str) -> str:
    """Cheap content fingerprint of a parquet file/dir: sorted
    (relpath, size, mtime_ns) triples. Good enough to invalidate the layout
    cache when the source is regenerated; no data read."""
    parts = []
    if os.path.isdir(src):
        for r, _, fs in sorted(os.walk(src)):
            for f in sorted(fs):
                p = os.path.join(r, f)
                st = os.stat(p)
                parts.append(f"{os.path.relpath(p, src)}:{st.st_size}:{st.st_mtime_ns}")
    else:
        st = os.stat(src)
        parts.append(f"{os.path.basename(src)}:{st.st_size}:{st.st_mtime_ns}")
    return "\n".join(parts)


def ensure_day_partitioned(
    spark: SparkSession,
    df: DataFrame,
    src_path: str,
    dst: str,
    ts_col: str = "ts",
    date_col: str = "event_date",
    sort_cols: tuple[str, ...] = ("ts",),
) -> str:
    """Materialize ``df`` hive-partitioned by ``date_col = to_date(ts_col)``
    at ``dst`` (idempotent, fingerprint-cached): the write-side half of
    date-range pruning. A date-bounded scan of the result eliminates whole
    day directories at planning time (``PartitionFilters``) — at 100 TB the
    difference between reading one week and reading three years.

    The cache key is a (size, mtime) fingerprint of ``src_path``; a
    regenerated source invalidates the layout. Concurrent builders serialize
    on a blocking flock, so the second process waits, re-reads the marker,
    and returns the finished layout instead of double-writing.
    """
    import fcntl

    os.makedirs(os.path.dirname(dst) or ".", exist_ok=True)
    marker = dst + ".fingerprint"
    want = _fingerprint(src_path)

    def _valid() -> bool:
        try:
            with open(marker) as f:
                return f.read() == want and os.path.isdir(dst)
        except OSError:
            return False

    if _valid():
        return dst
    fd = os.open(dst + ".lock", os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)  # blocking: wait for a peer builder
        if _valid():
            return dst
        from pyspark.sql import functions as F

        out = df.withColumn(date_col, F.to_date(F.col(ts_col)))
        # Stage-and-swap rather than overwriting dst in place: the fast path
        # above returns dst WITHOUT the lock, so a peer rebuilding after a
        # source regeneration must never leave a half-written dst visible to
        # an unlocked reader. With the rename swap the worst a concurrent
        # reader sees is a brief dir-not-found between the two atomic
        # renames, never partial data.
        staging, retired = dst + ".staging", dst + ".retired"
        shutil.rmtree(staging, ignore_errors=True)
        write_partitioned_sorted(out, staging, [date_col], sort_cols=list(sort_cols))
        shutil.rmtree(retired, ignore_errors=True)
        if os.path.isdir(dst):
            os.rename(dst, retired)
        os.rename(staging, dst)
        shutil.rmtree(retired, ignore_errors=True)
        with open(marker, "w") as f:
            f.write(want)
        return dst
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)

