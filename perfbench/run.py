"""Run one workload of the CDC + replica-query benchmark.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 20 --trace 0

Run from a checkout of the repository. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones BENCHMARK.json declares; with --trace 1 the
per-layer ones, and the run's spans are written under .perfbench_work/traces.
Everything the run writes stays under .perfbench_work/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")


def declared_metrics(trace: bool) -> dict[str, str]:
    """name -> unit of the metrics this mode must print, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def result_line(run, declared: dict[str, str], values: dict, fill_missing: bool) -> str:
    """The closing JSON line with every declared metric. ``fill_missing``
    (per-layer mode) prints 0 for a layer the workload does not exercise;
    otherwise a missing metric is an error, as is a name BENCHMARK.json
    does not declare."""
    unknown = sorted(set(values) - set(declared))
    missing = sorted(set(declared) - set(values))
    if unknown or (missing and not fill_missing):
        raise ValueError(f"metrics not declared: {unknown}; declared but not measured: {missing}")
    metrics = {}
    for name, unit in declared.items():
        if not METRIC_NAME.fullmatch(name):
            raise ValueError(f"bad metric name {name!r}")
        metrics[name] = {"value": float(values.get(name, 0.0)), "unit": unit}
    return json.dumps(
        {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }
    )


def isolate(work: str) -> None:
    """Point every temp location at this run's directory before Spark or the
    engine is imported, so nothing carries over between runs."""
    for d in ("tmp", "spark_local", "layout_cache"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark_local")
    os.environ["SPARK_GRAFT_LAYOUT_CACHE"] = os.path.join(work, "layout_cache")
    # every JVM started from here, spark-submit's launcher included, keeps
    # its temp files in the run and writes no /tmp/hsperfdata_* entry
    # all JIT compiler threads live for the whole run, so their CPU time
    # can be read per thread and told apart from the program's
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    os.environ.pop("SPARK_GRAFT_INIT_PARTITIONS", None)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    declared = declared_metrics(bool(args.trace))
    sys.path.insert(0, ROOT)
    import mysql_hbase_replicator_spark  # noqa: F401  (fails fast outside a checkout)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
    work = os.path.join(WORK_ROOT, "runs", run_id)
    isolate(work)
    from perfbench import trace, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    load0, steal0 = trace.loadavg(), trace.cpu_steal_s()
    run = workloads.Run(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        work=work,
        tracer=trace.Tracer(bool(args.trace), args.workload, run_id),
        t_start=T_START,
    )
    try:
        workloads.WORKLOADS[args.workload](run)
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    if run.tracer.enabled:
        run.tracer.dump(os.path.join(WORK_ROOT, "traces", f"{run_id}.jsonl"))
    for p in run.problems:
        print(f"MISMATCH {p}", file=sys.stderr)
    # box load next to every run's numbers: it explains walls that moved
    # with no change to the program
    record = json.dumps({"run_id": run_id, "loadavg_before": load0, "loadavg_after": trace.loadavg(),
                         "cpu_steal_s": trace.cpu_steal_s() - steal0,
                         "e2e": run.e2e, "wall": {k: v for k, v in run.layer.items() if k.startswith(("wall.", "cpu."))},
                         "attempted": run.attempted, "failed": run.failed})
    with open(os.path.join(WORK_ROOT, "runs.jsonl"), "a") as f:
        f.write(record + "\n")
    print(record, file=sys.stderr)
    print(result_line(run, declared, run.layer if args.trace else run.e2e, fill_missing=bool(args.trace)))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
