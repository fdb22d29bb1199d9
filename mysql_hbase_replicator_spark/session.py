"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every setting here is chosen for the
1000-executor / 100 TB case:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast-join demotion replace hand-tuned shuffle counts.
- Arrow on: EXT operators (MinHash, cosine top-k, multimodal decode) run as
  pandas UDFs / applyInPandas — Arrow batching is the only acceptable
  Python<->JVM transport at scale.
- Shuffle partitions default to cores locally; AQE coalesces down, and on a
  real cluster the initial value would be sized to ~128 MB post-shuffle
  partitions (spark.sql.adaptive.coalescePartitions handles the rest).
- Heap: local mode puts driver and executors in ONE JVM, so
  ``spark.driver.memory`` is the whole heap. The 8g default fits the test
  SFs; size it at roughly **1-1.5 GiB per core** for heavier local runs
  (``SPARK_GRAFT_DRIVER_MEM=48g`` for the sf≈10 scaling probe on 32 lanes —
  the first sf≈10 probe OOM'd at 8g and GCLocker stalls skewed timings up
  to 2× before dying; see SCALING.md). On a real cluster the same ratio is
  ``spark.executor.memory / spark.executor.cores``.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

# Volume-derived shuffle-partition sizing (r10 SCALING.md sf≈100 probe,
# made self-tuning in r11). The measured rule is initialPartitionNum ≈
# largest-shuffle-bytes / 128 MB; the largest shuffle any registered query
# produces tracks the parquet INPUT volume with a worst-family
# amplification of ~2.5× compressed input (dedup_minhash_lsh's re-rank:
# 44 GB shuffle over ~17.5 GB input at sf≈100; the Q21 semi+anti pair is
# 9.3 GB ≈ 0.5×). AMP=2.0 reproduces the probe's measured optimum (256-ish
# at sf≈100 — spill 6.4 GB → zero on Q21, the hourly-p95 18-89 s variance
# collapsed) while keeping cores as the floor through sf≈10, where the
# larger initial count cost the multi-stage LSH family 1.3-1.4× wall for
# spill that never materializes.
SHUFFLE_AMPLIFICATION = 2.0
TARGET_SHUFFLE_PARTITION_BYTES = 128 << 20


def dir_input_bytes(sf_dir: str) -> int:
    """Total on-disk parquet bytes under ``sf_dir`` (single-file tables and
    partitioned directories alike)."""
    total = 0
    for root, _dirs, files in os.walk(sf_dir):
        for f in files:
            if f.endswith(".parquet"):
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return total


def volume_tuned_partitions(
    sf_dir: str | None = None,
    cpus: int | None = None,
    input_bytes: int | None = None,
) -> int:
    """initialPartitionNum for a dataset: max(cores, input×AMP / 128 MB).
    Deterministic from input volume, so the same rule sizes a 1000-executor
    run — there, input_bytes is the table-scan estimate and cores is the
    fleet's total."""
    n = cpus or DEFAULT_CPUS
    if input_bytes is None:
        if sf_dir is None or not os.path.isdir(sf_dir):
            return n
        input_bytes = dir_input_bytes(sf_dir)
    return max(
        n,
        math.ceil(input_bytes * SHUFFLE_AMPLIFICATION / TARGET_SHUFFLE_PARTITION_BYTES),
    )


def apply_volume_tuning(spark: SparkSession, sf_dir: str, cpus: int | None = None) -> int:
    """Size initialPartitionNum to ``sf_dir``'s volume on a LIVE session
    (it is a runtime AQE conf) — bench.py and scale_probe call this per
    measured SF, so the sf≈100 regime gets its 256-ish initial count with
    no env knob. ``SPARK_GRAFT_INIT_PARTITIONS`` still overrides for A/B
    probes."""
    env = os.environ.get("SPARK_GRAFT_INIT_PARTITIONS")
    val = int(env) if env else volume_tuned_partitions(sf_dir, cpus)
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", str(val)
    )
    return val


def get_spark(
    app_name: str = "mysql-hbase-replicator-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
    sf_dir: str | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    If a session already exists (e.g. the driver harness passed one in),
    ``SparkSession.builder.getOrCreate()`` returns it and the conf below is
    a no-op — all engine code therefore also works on a caller's session.
    """
    n = cpus or DEFAULT_CPUS
    # lazy default: the env override must short-circuit the volume walk —
    # os.environ.get's default argument evaluated the full os.walk of
    # sf_dir even when SPARK_GRAFT_INIT_PARTITIONS was set (and even when
    # getOrCreate returns an existing session, r13 review)
    _env_init = os.environ.get("SPARK_GRAFT_INIT_PARTITIONS")
    init_partitions = (
        _env_init
        if _env_init
        else str(volume_tuned_partitions(sf_dir, n) if sf_dir else n)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        # --- adaptive execution: the scale story -------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing ----------------------------------------------
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        # AQE picks ACTUAL reduce counts by coalescing DOWN from
        # initialPartitionNum, so the initial value bounds how widely the
        # largest shuffle of a stage can spread. Size it to (largest
        # shuffle bytes / ~128 MB) for the deployment: the sf≈100 probe
        # (SCALING.md r10) measured the 9 GB Q21 semi+anti shuffle at
        # cores(=32) spilling 6.4 GB/run and 256 eliminating the spill
        # (40.1 → 32.3 s); on a 1000-executor cluster this is thousands.
        # The DEFAULT stays cores: at test SFs (≤0.1) a large initial
        # count costs real wall-clock on multi-stage plans (the LSH
        # family ran 1.3-1.4× slower at sf0.1 under 8×cores) for spill
        # that never materializes — partition sizing follows data volume.
        # r11: self-tuning — pass sf_dir (or call apply_volume_tuning on
        # the live session) and the initial count is derived from input
        # volume by the measured rule; the env knob remains an override
        # for A/B probes.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            init_partitions,
        )
        # --- python/JVM transport ----------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- driver-side plan building -------------------------------------
        # PySpark's DataFrame debugging wraps every Column function to
        # record its Python call site: ~6 py4j round trips per call plus a
        # failing `import IPython` each time. The CDC kernel builds a few
        # thousand Columns per trigger: turning it off cut a warm 3-table
        # trigger from ~14k py4j calls to ~4.8k. The cost: an analysis
        # error no longer names the Python line that built the Column.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Generated-class cache. A 3-table CDC stream cycles through more
        # generated classes than the default 100-entry LRU holds, so each
        # was evicted before its next use: Janino recompiled ~43 classes
        # per warm trigger (20 once small batches stopped shuffling). 2000
        # entries keeps a pipeline's working set (and the registry
        # queries') compiled, 0 recompiles per warm trigger; an entry is a
        # few KiB of bytecode.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # --- scan sizing: keep parquet splits ~128MB ----------------------
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- file listing: list bounded-fanout stores on the driver -------
        # The engine's hive-partitioned stores are all bounded fan-out BY
        # DESIGN (64 fbucket/sbucket dirs, <=K cell dirs, 32 LSM buckets);
        # the default threshold (32 paths) pushed every re-open of a
        # 64-dir store into a DISTRIBUTED "listing leaf files" job —
        # measured ~0.12-0.15 s per open, 5+ opens per incremental-dedup
        # trigger (r17 REST profile), for directories a local statfs walks
        # in microseconds. 128 keeps every engine store driver-side while
        # genuinely wide tables (>128 partition dirs, the 100 TB layout
        # case) still get the distributed listing. ------------------------
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
        # --- broadcast: dims like region/nation/supplier are tiny ---------
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # --- joins: allow shuffled-hash when the per-partition build side
        # fits (guide §3.1, §9). Honest scope (r17 audit — the r16 A/B's
        # whole-query deltas were load noise): at the test SFs this conf is
        # PLAN-INERT — every visible registered join broadcasts under the
        # 64m threshold, equal-size self-joins (shingle/band/tfidf) fail
        # SHJ's build*3<=probe condition and keep SMJ under either setting,
        # and stat-less checkpointed sides keep SMJ too. It matters only
        # for an asymmetric join whose build side lands between the
        # broadcast threshold and numShufflePartitions × threshold — the
        # mid-size-dimension shape a 100 TB run does hit; the gate
        # conditions are pinned in
        # tests/test_plans.py::test_shuffled_hash_join_gate_conditions and
        # the sf0.1 inertness in plans/r17/shingle_inter_counts__*. -------
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # --- timestamps: parquet int96/µs round-trip sanity ---------------
        .config("spark.sql.session.timeZone", "UTC")
        # events.ts is parquet TIMESTAMP(NANOS), which the vectorized reader
        # rejects; read as long and truncate at the query layer (tables.py).
        # Set here, once, so no query mutates the shared session conf.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def metrics_api_base(spark) -> str | None:
    """Stage-metrics REST root for this app, or None when the UI is off —
    callers then degrade to walls-only telemetry."""
    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return None
    return f"{ui}/api/v1/applications/{spark.sparkContext.applicationId}"


def stage_io_totals(base: str | None) -> dict[str, int] | None:
    """Cumulative completed-stage spill/shuffle counters (ONE key
    vocabulary for every consumer — bench.py's per-query query_io and the
    scale probes' per-run deltas): {spill_disk, spill_mem, shuffle_bytes}.
    Per-window numbers are before/after deltas of this snapshot. Returns
    None when the UI is off or the REST call fails (degrade, don't
    crash)."""
    if base is None:
        return None
    import json as _json
    import urllib.request

    try:
        with urllib.request.urlopen(f"{base}/stages?status=complete", timeout=30) as r:
            stages = _json.loads(r.read())
    except Exception:
        return None
    tot = {"spill_disk": 0, "spill_mem": 0, "shuffle_bytes": 0}
    for s in stages:
        tot["spill_disk"] += s.get("diskBytesSpilled", 0)
        tot["spill_mem"] += s.get("memoryBytesSpilled", 0)
        tot["shuffle_bytes"] += s.get("shuffleWriteBytes", 0)
    return tot
