"""Run one workload over several seeds and report each metric's median and
quartile spread, the number the benchmark's bounds are judged against.

    python3 perfbench/sweep.py --workload trickle --seeds 1-10 [--trace 1]
    python3 perfbench/sweep.py --summarize runs.jsonl [more.jsonl ...]

Runs are sequential, one fresh process each. Result lines are appended to
``--out`` (default .perfbench_work/sweep.jsonl). ``--summarize`` reads such
files; given both traced and untraced runs of a workload it also prints the
tracing overhead (traced minus untraced median of each end-to-end metric).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_of(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (q3 - q1) / median) with Python's default quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("inf")


def values_of(rec: dict) -> dict[str, float]:
    """A run's printed metrics plus its end-to-end numbers, which traced
    runs report only in their per-run record."""
    vals = dict(rec.get("e2e", {}))
    vals.update({k: v["value"] for k, v in rec["result"]["metrics"].items()})
    return vals


def summarize(records: list[dict]) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    groups: dict[tuple, list[dict]] = {}
    for r in records:
        groups.setdefault((r["workload"], r["trace"]), []).append(values_of(r))
    medians: dict[tuple, float] = {}
    for (workload, trace), runs in sorted(groups.items()):
        walls = [r["wall_s"] for r in records if (r["workload"], r["trace"]) == (workload, trace)]
        failed = sum(r["result"]["failed"] for r in records if (r["workload"], r["trace"]) == (workload, trace))
        print(f"== {workload} trace={trace}: {len(runs)} runs, failed ops {failed}, "
              f"wall median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        if len(runs) < 2:
            continue
        for name in runs[0]:
            med, spr = spread([v[name] for v in runs])
            medians[(workload, trace, name)] = med
            bound = bounds.get(name)
            mark = ""
            if bound is not None and name != "setup_s":
                mark = "  ok" if spr < bound / 3 else ("  WIDE" if spr <= bound else "  OVER BOUND")
            print(f"  {name:32s} median {med:12.4f}  spread {spr:7.2%}{mark}")
    for (workload, trace, name), med in sorted(medians.items()):
        base = medians.get((workload, 0, name))
        if trace and name in bounds and base:
            print(f"tracing overhead {workload} {name}: {med - base:+.2f} ({(med - base) / base:+.2%})")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench_work", "sweep.jsonl"))
    ap.add_argument("--summarize", nargs="+")
    args = ap.parse_args()
    if args.summarize:
        records = []
        for path in args.summarize:
            with open(path) as f:
                records.extend(json.loads(line) for line in f if line.strip())
        summarize(records)
        return 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    records = []
    for seed in seeds_of(args.seeds):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(args.trace)]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        rec = {"workload": args.workload, "seed": seed, "trace": args.trace, "wall_s": wall,
               "result": json.loads(proc.stdout.strip().splitlines()[-1])}
        records.append(rec)
        for line in proc.stderr.splitlines():
            if line.startswith("MISMATCH"):
                print(f"seed {seed}: {line[:500]}", file=sys.stderr)
            elif line.startswith('{"run_id"'):  # run.py's per-run record
                box = json.loads(line)
                rec["loadavg"], rec["cpu_steal_s"] = box["loadavg_before"], box["cpu_steal_s"]
                rec["e2e"] = box["e2e"]
        with open(args.out, "a") as f:
            f.write(json.dumps(rec) + "\n")
        vals = {k: round(v, 1) for k, v in values_of(rec).items()}
        print(f"seed {seed} wall {wall:.1f}s load {rec.get('loadavg')} steal {rec.get('cpu_steal_s', 0):.1f}s correct={rec['result']['correct']} {vals}", flush=True)
    summarize(records)
    return 0


if __name__ == "__main__":
    sys.exit(main())
