"""The benchmark's workloads. Each one sets up, measures one timed window,
then checks the engine's output against the reference replica outside that
window. Layers are timed from outside, at the calls into their public
functions: Spark's streaming progress, the pipeline's batch results, a
timing subclass of the LSM store and the catalog's ``map_to_spark``."""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime

from perfbench import gen, reference, spec
from perfbench.trace import SpeedProbe, Tracer, process_cpu_s, vm_hwm_mb

from mysql_hbase_replicator_spark.catalog.meta import MappingCatalog
from mysql_hbase_replicator_spark.operators.cdc_apply import (
    DEAD_LETTER_TABLE,
    read_checkpoint,
    source_struct,
)
from mysql_hbase_replicator_spark.operators.merge import LogStructuredKeyedStore
from mysql_hbase_replicator_spark.session import get_spark, metrics_api_base
from mysql_hbase_replicator_spark.sources.cdc_events import cdc_json_event_schema
from mysql_hbase_replicator_spark.streaming.pipeline import CdcStreamPipeline


@dataclass
class Run:
    workload: str
    seed: int
    seconds: int
    work: str  # this run's private scratch directory
    tracer: Tracer
    t_start: float  # process start, the origin of setup_s
    spark: object = None
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        """One reference comparison: an attempted operation, failed on a
        mismatch."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(f"{what}: {detail}")


# --- Spark --------------------------------------------------------------------
def start_spark(run: Run):
    """The engine's tuned session on local[<cores>], with every directory
    Spark writes to inside this run's scratch directory (run.py points the
    JVM's temp dir there too). The UI, and with it the REST API, is on only
    in traced runs."""
    conf = {
        "spark.driver.memory": "3g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": run.path("spark_local"),
        "spark.sql.warehouse.dir": run.path("warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    if run.tracer.enabled:
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        )
    run.spark = get_spark(
        app_name=f"perfbench-{run.workload}", cpus=os.cpu_count(), extra_conf=conf
    )
    run.spark.sparkContext.setLogLevel("ERROR")
    return run.spark


def spark_totals(spark) -> dict | None:
    """Cumulative job, stage and task counters from the REST API; None when
    the UI is off (untraced runs)."""
    base = metrics_api_base(spark)
    if base is None:
        return None
    with urllib.request.urlopen(f"{base}/stages?status=complete", timeout=60) as r:
        stages = json.loads(r.read())
    with urllib.request.urlopen(f"{base}/jobs", timeout=60) as r:
        jobs = json.loads(r.read())
    tot = {"jobs": len(jobs), "stages": len(stages), "tasks": 0, "shuffle_b": 0,
           "spill_b": 0, "cpu_ns": 0, "gc_ms": 0}
    for s in stages:
        tot["tasks"] += s.get("numCompleteTasks", 0)
        tot["shuffle_b"] += s.get("shuffleWriteBytes", 0)
        tot["spill_b"] += s.get("diskBytesSpilled", 0) + s.get("memoryBytesSpilled", 0)
        tot["cpu_ns"] += s.get("executorCpuTime", 0)
        tot["gc_ms"] += s.get("jvmGcTime", 0)
    return tot


def settle(spark) -> None:
    """Let the JVM finish the warm-up's garbage and queued compilations
    before the window opens, so the window measures its own work."""
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.5)


def cpu_now(spark) -> tuple[float, float]:
    """(CPU seconds, of which JIT compiler) of this process plus the JVM."""
    a = process_cpu_s()
    b = process_cpu_s(spark.sparkContext._gateway.proc.pid)
    return a[0] + b[0], a[1] + b[1]


class CpuMeter:
    """CPU time of this process plus the JVM at marks through the timed
    window, with a core-speed probe running alongside it."""

    def __init__(self, spark):
        self.spark = spark
        self.probe = SpeedProbe()
        self.marks: list[tuple[float, tuple[float, float]]] = []  # (time, cpu_now)

    def mark(self) -> None:
        self.marks.append((time.perf_counter(), cpu_now(self.spark)))

    def start(self) -> None:
        self.probe.start()
        self.mark()

    def stop(self) -> None:
        self.mark()
        self.probe.stop()

    def work_s(self, i: int, j: int) -> float:
        """CPU seconds between marks i and j, the probe's own loops left out."""
        (ta, ca), (tb, cb) = self.marks[i], self.marks[j]
        return cb[0] - ca[0] - sum(s for t, s in self.probe.samples if ta < t <= tb)

    def loop_s(self) -> float:
        return statistics.median(s for _, s in self.probe.samples)


def window_metrics(run: Run, cpu_s_per_event: float, events: int, meter: CpuMeter, wall_s: float) -> None:
    """The window's CPU per event, end to end, and its wall-clock speed, per
    layer. CPU time is scaled by the probe to a core of reference speed:
    this VM's cores change speed by up to 1.8x over minutes, and CPU time
    per event follows them (README). The wall clock follows them and the
    neighbours' load, so it has no bound."""
    jit_s = meter.marks[-1][1][1] - meter.marks[0][1][1]
    run.e2e["cpu_ms_per_event"] = cpu_s_per_event * (spec.CORE_LOOP_REF_S / meter.loop_s()) * 1e3
    run.layer["cpu.unscaled_ms_per_event"] = cpu_s_per_event * 1e3
    run.layer["cpu.jit_ms_per_event"] = jit_s * 1e3 / events
    run.layer["cpu.core_loop_ms"] = meter.loop_s() * 1e3
    run.layer["wall.throughput_per_s"] = events / wall_s


def peak_rss_mb(spark) -> float:
    """Peak RSS of this Python process plus the JVM it launched."""
    return vm_hwm_mb() + vm_hwm_mb(spark.sparkContext._gateway.proc.pid)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# --- the store, timed from outside -------------------------------------------
class TimedStore(LogStructuredKeyedStore):
    """The production LSM store with its public methods timed."""

    def __init__(self, base_dir: str, tracer: Tracer):
        super().__init__(base_dir)
        self.tracer = tracer
        self.reset()

    def reset(self) -> None:
        """Forget what the set-up did, at the start of the timed window."""
        self.write_s: list[float] = []
        self.compact_s: list[float] = []
        self.deltas_at_read: list[int] = []
        self.deltas_before = self._delta_files()

    def _delta_dirs(self, name: str, version: str = "*") -> set[str]:
        return set(glob.glob(os.path.join(self.table_path(name), f"delta_v{version}", f"{self.SEQ_COL}=*")))

    def _delta_files(self) -> set[str]:
        return set(glob.glob(os.path.join(self.base_dir, "*", "delta_v*", f"{self.SEQ_COL}=*", "*.parquet")))

    def rows_written(self) -> int:
        """Rows in the delta files written since ``reset``, from their
        parquet footers; read after the window, so it costs the window
        nothing."""
        import pyarrow.parquet as pq

        return sum(pq.read_metadata(f).num_rows for f in self._delta_files() - self.deltas_before)

    def merge_actions(self, spark, name, final, sink_cols, pk_cols):
        n_compact = len(self.compact_s)
        t0 = time.perf_counter()
        with self.tracer.span("merge.merge_actions", table=name):
            super().merge_actions(spark, name, final, sink_cols, pk_cols)
        self.write_s.append(time.perf_counter() - t0 - sum(self.compact_s[n_compact:]))

    def compact(self, spark, name):
        t0 = time.perf_counter()
        with self.tracer.span("merge.compact", table=name):
            ran = super().compact(spark, name)
        if ran:
            self.compact_s.append(time.perf_counter() - t0)
        return ran

    def read(self, spark, name):
        version = self._doc(name).get("delta_version", 0)
        self.deltas_at_read.append(len(self._delta_dirs(name, str(version))))
        return super().read(spark, name)

    def live_bytes(self) -> int:
        """Bytes of the versions the tables' registries point at. Retired
        versions kept for lagging readers are left out, and so is the
        dead-letter queue, whose file count follows how the log fell into
        triggers."""
        total = 0
        for name in os.listdir(self.base_dir):
            doc = self._doc(name)  # {} for entries that are not tables
            for kind in ("base", "delta"):
                if doc.get(f"{kind}_version") is not None:
                    total += dir_bytes(self._ver_path(name, kind, int(doc[f"{kind}_version"])))
        return total

    def layer_metrics(self) -> dict:
        files = [
            f
            for f in glob.glob(os.path.join(self.base_dir, "**", "*.parquet"), recursive=True)
            if f"{os.sep}{DEAD_LETTER_TABLE}{os.sep}" not in f
        ]
        return {
            "merge.write_ms": sum(self.write_s) * 1e3,
            "merge.bytes_written": dir_bytes(self.base_dir),
            "merge.files": len(files),
            "merge.deltas_at_read": statistics.median(self.deltas_at_read),
        }


# --- shared pieces ----------------------------------------------------------------
def make_pipeline(run: Run, tag: str, store, max_files: int) -> CdcStreamPipeline:
    events = run.path(f"{tag}_events")
    os.makedirs(events, exist_ok=True)
    return CdcStreamPipeline(
        spark=run.spark,
        events_path=events,
        row_struct=None,
        store=store,
        mappings=gen.mappings(),
        checkpoint_dir=run.path(f"{tag}_ckpt"),
        max_files_per_trigger=max_files,
    )


def land_files(events_dir: str, files: list[list[dict]], start: int = 0) -> None:
    for i, evs in enumerate(files, start):
        gen.land(events_dir, f"{i:06d}.json", gen.encode(evs))


def check(run: Run, store: TimedStore, replica: reference.Replica, pipe: CdcStreamPipeline) -> None:
    """Compare the replica with the reference, outside the timed window:
    each table as a user reads it (store read, catalog mapping, Spark SQL)
    by row count and an order-insensitive hash, then the dead letters, the
    checkpoint and the applied counters."""
    spark = run.spark
    catalog = MappingCatalog(run.path("catalog"))
    map_ms, read_ms = [], []
    for full, info in gen.mappings().items():
        catalog.add(info)
        cols = ", ".join(replica.rules[full].sink_cols)
        t0 = time.perf_counter()
        with run.tracer.span("merge.read", table=full):
            df = store.read(spark, info.hbaseTableName)
            t1 = time.perf_counter()
            with run.tracer.span("catalog.map", table=full):
                catalog.map_to_spark(spark, full, df)
            t2 = time.perf_counter()
            got = [tuple(r) for r in spark.sql(f"SELECT {cols} FROM {info.sparkTableName}").collect()]
        # merge-on-read: the store's plan build plus the collect that folds
        # the deltas; the catalog mapping between them is timed on its own
        read_ms.append((time.perf_counter() - t0 - (t2 - t1)) * 1e3)
        map_ms.append((t2 - t1) * 1e3)
        have, want = reference.row_digest(got), reference.row_digest(replica.rows(full))
        run.check(f"table {full}", have == want, f"got {have}, want {want}")
    run.layer["catalog.map_ms"] = statistics.median(map_ms)
    run.layer["merge.read_ms"] = statistics.median(read_ms)
    dl_path = os.path.join(store.base_dir, DEAD_LETTER_TABLE)
    got_dead = []
    if os.path.isdir(dl_path):
        got_dead = [
            tuple(r)
            for r in spark.read.parquet(dl_path).select("position", "op", "table_name").collect()
        ]
    have, want = reference.row_digest(got_dead), reference.row_digest(replica.dead)
    run.check("dead letters", have == want, f"got {have}, want {want}")
    ckpt = read_checkpoint(store)
    run.check("checkpoint", ckpt == replica.checkpoint, f"got {ckpt}, want {replica.checkpoint}")
    applied: dict[str, int] = {}
    for r in pipe.results:
        for k, v in r.applied_counts.items():
            applied[k] = applied.get(k, 0) + v
    skipped = sum(r.skipped_unmapped for r in pipe.results)
    run.check(
        "applied counters",
        applied == replica.applied and skipped == replica.skipped_unmapped,
        f"got {applied} skipped {skipped}, want {replica.applied} skipped {replica.skipped_unmapped}",
    )


def parse_ms(run: Run, events_dir: str) -> float:
    """The sources layer alone: batch read of the landed files with the
    generic event schema plus each mapping's from_json of both images,
    to the noop sink."""
    from pyspark.sql import functions as F

    df = run.spark.read.schema(cdc_json_event_schema()).json(events_dir)
    t0 = time.perf_counter()
    with run.tracer.span("sources.parse"):
        for full, info in gen.mappings().items():
            st = source_struct(info)
            df.filter(F.concat(F.col("db"), F.lit("."), F.col("table")) == full).select(
                F.from_json("before", st).alias("b"), F.from_json("after", st).alias("a")
            ).write.format("noop").mode("overwrite").save()
    return (time.perf_counter() - t0) * 1e3


def plans_layer(run: Run) -> None:
    """The plans layer: each registry builder in spec.PLANS_QUERIES over a
    seeded events table, timed as build (registry call plus ``.schema``,
    which runs any eager jobs) and exec (collect), then checked against its
    DuckDB oracle SQL by row count and an order-insensitive hash."""
    import duckdb

    from mysql_hbase_replicator_spark.plans.registry import (
        ORACLE_REGISTRY,
        QUERY_REGISTRY,
        load_all_queries,
    )

    load_all_queries()
    sf_dir = run.path("plans_sf")
    events = os.path.join(sf_dir, "events.parquet")
    gen.write_events_table(events, run.seed, spec.PLANS_EVENTS)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events}')")
    build_ms = exec_ms = 0.0
    for name in spec.PLANS_QUERIES:
        t0 = time.perf_counter()
        with run.tracer.span("plans.build", query=name):
            df = QUERY_REGISTRY[name](run.spark, sf_dir)
            df.schema
        t1 = time.perf_counter()
        with run.tracer.span("plans.exec", query=name):
            got = [tuple(r) for r in df.collect()]
        t2 = time.perf_counter()
        build_ms += (t1 - t0) * 1e3
        exec_ms += (t2 - t1) * 1e3
        run.layer[f"plans.{name}_s"] = t2 - t0
        # the builders' outputs are ints, floats and strings on both sides
        have = reference.row_digest(got)
        want = reference.row_digest(con.execute(ORACLE_REGISTRY[name]).fetchall())
        run.check(f"plans {name}", have == want, f"got {have}, want {want}")
    con.close()
    run.layer["plans.build_ms"] = build_ms
    run.layer["plans.exec_ms"] = exec_ms


def layer_report(run: Run, query, pipe: CdcStreamPipeline, store: TimedStore, n_warm: int,
                 commits: list[float], lags_ms: list[float], totals, t0: float, t1: float,
                 valid_events: int, events_dir: str) -> None:
    """Per-layer metrics of the timed window (traced runs): the triggers'
    progress and batch results, placed on the perf_counter clock as spans,
    the store's timings and Spark's counters."""
    offset = time.time() - time.perf_counter()
    progress = [p for p in query.recentProgress if p["numInputRows"] > 0][n_warm:]
    results = pipe.results[n_warm:]
    overhead, batch, table, stats, ends = [], [], [], [], []
    for p, r in zip(progress, results):
        d = p["durationMs"]
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() - offset
        ends.append((start + d["triggerExecution"] / 1e3, d["triggerExecution"]))
        overhead.append(d["triggerExecution"] - d.get("addBatch", 0))
        sid = run.tracer.add("pipeline.trigger", start, start + d["triggerExecution"] / 1e3)
        b = r.apply_latency_s["batch"]
        per_table = [v for k, v in r.apply_latency_s.items() if k.startswith("apply:")]
        run.tracer.add("cdc_apply.batch", start + d.get("getBatch", 0) / 1e3,
                       start + d.get("getBatch", 0) / 1e3 + b, parent=sid)
        batch.append(b * 1e3)
        table.extend(v * 1e3 for v in per_table)
        stats.append((b - sum(per_table)) * 1e3)
    # wait: a file's lag minus the duration of the trigger that committed it
    # (the checkpoint is written inside that trigger, shortly before it ends)
    wait = []
    for c, lag in zip(commits, lags_ms):
        trig = next((ms for end, ms in ends if end >= c - 0.05), ends[-1][1])
        wait.append(lag - trig)
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    run.layer.update({
        "pipeline.triggers": len(progress),
        "pipeline.overhead_ms": med(overhead),
        "pipeline.wait_ms": med(wait),
        "cdc_apply.batch_ms": med(batch),
        "cdc_apply.table_ms": med(table),
        "cdc_apply.stats_ms": med(stats),
        "cdc_apply.events": sum(p["numInputRows"] for p in progress),
        "cdc_apply.applied": sum(sum(r.applied_counts.values()) for r in results),
        "cdc_apply.dead_letters": sum(r.dead_letter_count for r in results),
        "cdc_apply.skipped_unmapped": sum(r.skipped_unmapped for r in results),
        "cdc_apply.collapse_ratio": store.rows_written() / valid_events,
        "sources.parse_ms": parse_ms(run, events_dir),
    })
    before, after = totals
    d = {k: after[k] - before[k] for k in after}
    run.layer.update({
        "cdc_apply.jobs_per_trigger": d["jobs"] / max(1, len(progress)),
        "cdc_apply.stages_per_trigger": d["stages"] / max(1, len(progress)),
        "spark.jobs": d["jobs"],
        "spark.stages": d["stages"],
        "spark.tasks": d["tasks"],
        "spark.shuffle_mb": d["shuffle_b"] / 2**20,
        "spark.spill_mb": d["spill_b"] / 2**20,
        "spark.executor_cpu_s": d["cpu_ns"] / 1e9,
        "spark.gc_s": d["gc_ms"] / 1e3,
        "trace.uncovered_ms": run.tracer.uncovered_s(t0, t1, exclude=("window",)) * 1e3,
        "trace.spans": sum(1 for s in run.tracer.spans if t0 <= s["start"] and s["end"] <= t1),
    })


def finish(run: Run, q, pipe, store, replica, n_warm, commits, lags, totals, t0, t1, files) -> None:
    """After the window: the reference check and the store's size; in
    traced runs the per-layer report, then a timed compaction of every
    table (neither window compacts, see README)."""
    run.layer["mem.peak_rss_mb"] = peak_rss_mb(run.spark)
    with run.tracer.span("check"):
        check(run, store, replica, pipe)
    run.e2e["store_bytes_per_event"] = store.live_bytes() / replica.checkpoint
    if run.tracer.enabled:
        window_only = reference.Replica(gen.TABLES)
        for f in files:
            window_only.apply_all(f)
        layer_report(run, q, pipe, store, n_warm, commits, lags, totals, t0, t1,
                     sum(window_only.applied.values()), pipe.events_path)
        run.layer.update(store.layer_metrics())
        for info in gen.mappings().values():
            store.compact(run.spark, info.hbaseTableName)
        run.layer["merge.compact_ms"] = sum(store.compact_s) * 1e3
        run.layer["merge.compactions"] = len(store.compact_s)


# --- backfill -------------------------------------------------------------------
def backfill(run: Run) -> None:
    """Closed batch: a backlog landed before the window, drained by
    availableNow in triggers of BACKFILL_TRIGGER_FILES files."""
    tr = run.tracer
    with tr.span("setup.session"):
        start_spark(run)
    with tr.span("setup.warmup"):
        # an unrelated log drained through its own store and checkpoint, so
        # the measured drain does not pay first-use compilation
        wpipe = make_pipeline(run, "warm", TimedStore(run.path("warm_store"), Tracer(False, "", "")), 1)
        wg = gen.EventGenerator(run.seed + 1_000_003)
        land_files(wpipe.events_path, [wg.batch(spec.WARMUP_EVENTS) for _ in range(spec.WARMUP_TRIGGERS)])
        wq = wpipe.start(available_now=True, query_name="warmup")
        if not wq.awaitTermination(90):  # a run must end within 180 s
            wq.stop()
    with tr.span("setup.generate"):
        g = gen.EventGenerator(run.seed)
        n_files = spec.backfill_triggers(run.seconds) * spec.BACKFILL_TRIGGER_FILES
        files = [g.batch(spec.BACKFILL_EVENTS_PER_FILE) for _ in range(n_files)]
        store = TimedStore(run.path("store"), tr)
        pipe = make_pipeline(run, "main", store, spec.BACKFILL_TRIGGER_FILES)
        land_files(pipe.events_path, files)
        replica = reference.Replica(gen.TABLES)
        for f in files:
            replica.apply_all(f)
    settle(run.spark)
    sp0 = spark_totals(run.spark)
    meter = CpuMeter(run.spark)
    meter.start()
    t0 = time.perf_counter()
    run.e2e["setup_s"] = t0 - run.t_start
    with tr.span("window"):
        q = pipe.start(available_now=True, query_name="backfill")
        if not q.awaitTermination(spec.BACKFILL_DRAIN_LIMIT_S):  # uncommitted files count as failed
            q.stop()
    t1 = time.perf_counter()
    meter.stop()
    sp1 = spark_totals(run.spark)
    ckpt = read_checkpoint(store) or 0
    committed = sum(1 for f in files if f[-1]["position"] <= ckpt)
    run.attempted += n_files
    run.failed += n_files - committed
    if committed < n_files:
        run.problems.append(f"{n_files - committed} files never committed")
    events = sum(len(f) for f in files)
    window_metrics(run, meter.work_s(0, -1) / events, events, meter, t1 - t0)
    finish(run, q, pipe, store, replica, 0, [], [], (sp0, sp1), t0, t1, files)
    if tr.enabled:
        plans_layer(run)


# --- trickle ----------------------------------------------------------------------
def wait_commit(store, position: int, limit_s: float) -> float | None:
    """Poll ``read_checkpoint(store)`` until it reaches ``position``; the
    moment it did, or None after ``limit_s``."""
    deadline = time.perf_counter() + limit_s
    while True:
        pos = read_checkpoint(store)
        now = time.perf_counter()
        if pos is not None and pos >= position:
            return now
        if now > deadline:
            return None
        time.sleep(0.02)  # lag resolution


def trickle_file(g: gen.EventGenerator, n: int) -> list[dict]:
    """``n`` events ending in one dead letter per mapped table. The kernel
    writes dead letters only for a batch that has some, and at 0.5% a
    300-event file often has none for a table, so without this the number
    of Spark jobs per trigger, and with it the CPU, would depend on the seed."""
    return g.batch(n - len(gen.TABLES)) + [g.dead_letter(t) for t in gen.TABLES]


def trickle(run: Run) -> None:
    """Closed loop on the continuous trigger: one small file lands, the next
    only after the store's checkpoint covers it, so each trigger holds one
    file and its fixed cost dominates; lag per file."""
    tr = run.tracer
    with tr.span("setup.session"):
        start_spark(run)
    g = gen.EventGenerator(run.seed)
    store = TimedStore(run.path("store"), tr)
    pipe = make_pipeline(run, "main", store, 1)
    replica = reference.Replica(gen.TABLES)
    with tr.span("setup.warmup"):
        # the log's first files, replicated one trigger each before the window
        q = pipe.start(available_now=False, query_name="trickle")
        for i in range(spec.WARMUP_TRIGGERS):
            evs = trickle_file(g, spec.WARMUP_EVENTS)
            replica.apply_all(evs)
            land_files(pipe.events_path, [evs], start=i)
            wait_commit(store, evs[-1]["position"], 90)
        # the checkpoint is written inside the trigger; its progress is
        # reported when it ends, and the window must not hold its tail
        n_warm = spec.WARMUP_TRIGGERS
        deadline = time.perf_counter() + 30
        while len([p for p in q.recentProgress if p["numInputRows"] > 0]) < n_warm:
            if time.perf_counter() > deadline:
                break
            time.sleep(0.05)
    n_files = spec.trickle_files(run.seconds)
    with tr.span("setup.generate"):
        files = [trickle_file(g, spec.TRICKLE_EVENTS_PER_FILE) for _ in range(n_files)]
        bodies = [gen.encode(f) for f in files]
        for f in files:
            replica.apply_all(f)
    settle(run.spark)
    sp0 = spark_totals(run.spark)
    store.reset()
    landed: list[float] = []
    commits: list[float] = []
    meter = CpuMeter(run.spark)
    meter.start()
    t0 = time.perf_counter()
    run.e2e["setup_s"] = t0 - run.t_start
    with tr.span("window"):
        for i, (evs, body) in enumerate(zip(files, bodies)):
            if i:
                meter.mark()
            with tr.span("gen.land"):
                gen.land(pipe.events_path, f"{spec.WARMUP_TRIGGERS + i:06d}.json", body)
            landed.append(time.perf_counter())
            c = wait_commit(store, evs[-1]["position"], spec.TRICKLE_LAG_LIMIT_S)
            if c is None:
                break
            commits.append(c)
    t1 = time.perf_counter()
    meter.stop()
    # a trigger reports its progress after it commits: let the last one
    # report before stopping the query, or the per-layer report misses it
    deadline = time.perf_counter() + 10
    while len([p for p in q.recentProgress if p["numInputRows"] > 0]) < len(pipe.results):
        if time.perf_counter() > deadline:
            break
        time.sleep(0.05)
    q.stop()
    sp1 = spark_totals(run.spark)
    lags = [(c - l) * 1e3 for c, l in zip(commits, landed)]
    run.attempted += n_files
    run.failed += n_files - len(commits)
    if len(commits) < n_files:
        run.problems.append(f"{n_files - len(commits)} files not committed within {spec.TRICKLE_LAG_LIMIT_S} s")
    # CPU from one landing to the next, median over the files: the first
    # files after the warm-up still pay for JIT compilation (README)
    per_file = [meter.work_s(i, i + 1) for i in range(len(meter.marks) - 1)]
    window_metrics(run, statistics.median(per_file) / spec.TRICKLE_EVENTS_PER_FILE,
                   sum(len(f) for f in files), meter, t1 - t0)
    run.layer["wall.lag_ms_p50"] = statistics.median(lags) if lags else spec.TRICKLE_LAG_LIMIT_S * 1e3
    finish(run, q, pipe, store, replica, n_warm, commits, lags, (sp0, sp1), t0, t1, files)


WORKLOADS = {"backfill": backfill, "trickle": trickle}
