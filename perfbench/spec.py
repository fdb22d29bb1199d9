"""Fixed settings of the benchmark and what each per-layer metric explains.

BENCHMARK.json at the checkout root declares the metric names, units and
bounds; this module holds the rest of the design so the runner and the tests
share one copy.
"""

from __future__ import annotations

# --- workload sizes ---------------------------------------------------------
# Each window does a fixed amount of work, sized from --seconds by the cost
# measured on a 4-vCPU VM, so that it lasts about that long there. Fixed work,
# not a fixed time, keeps the end-to-end metrics (CPU per event, bytes per
# event) independent of how fast the box happens to run.
# backfill: a closed backlog drained by availableNow, TRIGGER_FILES per trigger.
BACKFILL_EVENTS_PER_FILE = 200
BACKFILL_TRIGGER_FILES = 25  # 5000 events a trigger
BACKFILL_S_PER_TRIGGER = 7.5
BACKFILL_MIN_TRIGGERS = 2
BACKFILL_DRAIN_LIMIT_S = 90.0  # a file not committed by then counts as failed
# both: a trigger of WARMUP_EVENTS runs before the window, so the window
# does not pay the JVM's first-use compilation (that trigger takes 20-25 s)
WARMUP_TRIGGERS = 1
WARMUP_EVENTS = 1000
# trickle: closed loop on the continuous trigger. One file lands, the
# benchmark waits until the store's checkpoint covers it, then lands the
# next, so every trigger holds exactly one file.
TRICKLE_EVENTS_PER_FILE = 300
TRICKLE_S_PER_TRIGGER = 4.0
TRICKLE_MIN_FILES = 3
TRICKLE_LAG_LIMIT_S = 30.0  # a file not committed within this counts as failed


# CPU time is scaled to a core on which trace.core_loop_s() takes this long
# (its median on the 4-vCPU VM the benchmark was sized on)
CORE_LOOP_REF_S = 0.006


def backfill_triggers(seconds: int) -> int:
    return max(BACKFILL_MIN_TRIGGERS, round(seconds / BACKFILL_S_PER_TRIGGER))


def trickle_files(seconds: int) -> int:
    return max(TRICKLE_MIN_FILES, round(seconds / TRICKLE_S_PER_TRIGGER))


# plans layer (traced backfill runs): the registry builders that read only
# events.parquet, run over a seeded events table and checked against their
# DuckDB oracle SQL
PLANS_EVENTS = 20_000
PLANS_QUERIES = (
    "cdc_last_image_per_key",
    "cdc_apply_upsert_delete",
    "cdc_replay_idempotence",
    "cdc_projection_rename_cast",
    "cdc_checkpoint_high_watermark",
    "cdc_rotate_checkpoint",
    "cdc_scd2_history",
    "cdc_snapshot_diff",
    "cdc_lsm_merge_on_read",
)

WORKLOADS = ("backfill", "trickle")

# Which end-to-end metric each per-layer metric should move, and where.
LAYER_MAP = {
    "sources.parse_ms": "cpu_ms_per_event on backfill; should not move trickle",
    "pipeline.triggers": "cpu_ms_per_event on trickle (one trigger per file there)",
    "pipeline.overhead_ms": "cpu_ms_per_event and wall.lag_ms_p50 on trickle (triggerExecution - addBatch)",
    "pipeline.wait_ms": "wall.lag_ms_p50 on trickle (lag - committing trigger)",
    "cdc_apply.batch_ms": "cpu_ms_per_event on both: fixed cost on trickle, per row on backfill",
    "cdc_apply.table_ms": "cpu_ms_per_event on both: fixed cost on trickle, per row on backfill",
    "cdc_apply.stats_ms": "cpu_ms_per_event on both: fixed cost on trickle, per row on backfill",
    "cdc_apply.jobs_per_trigger": "cpu_ms_per_event on trickle (fixed cost per trigger)",
    "cdc_apply.stages_per_trigger": "cpu_ms_per_event on trickle (fixed cost per trigger)",
    "cdc_apply.events": "store_bytes_per_event on backfill",
    "cdc_apply.applied": "store_bytes_per_event on backfill",
    "cdc_apply.dead_letters": "store_bytes_per_event on backfill",
    "cdc_apply.skipped_unmapped": "store_bytes_per_event on backfill",
    "cdc_apply.collapse_ratio": "merge.bytes_written on backfill",
    "merge.write_ms": "cpu_ms_per_event and store_bytes_per_event on backfill",
    # neither window compacts; traced runs compact each table after the check
    "merge.compact_ms": "none (compaction after the window)",
    "merge.compactions": "tables compacted after the window",
    "merge.bytes_written": "store_bytes_per_event (whole store, dead letters included)",
    "merge.files": "store_bytes_per_event on backfill",
    # the read side is timed in each run's reference check, outside the
    # window: no end-to-end metric here moves with it
    "merge.read_ms": "none (merge-on-read: store read + SQL collect, timed in the check)",
    "merge.deltas_at_read": "none (read path, counted in the check)",
    "catalog.map_ms": "none (read path, timed in the check)",
    # registry builders over a seeded events table, after the backfill check
    "plans.build_ms": "none (registry call + .schema, summed over PLANS_QUERIES)",
    "plans.exec_ms": "none (collect of each built plan, summed over PLANS_QUERIES)",
    **{f"plans.{q}_s": "none (build + collect of this builder)" for q in PLANS_QUERIES},
    "spark.jobs": "every metric of the workload",
    "spark.stages": "every metric of the workload",
    "spark.tasks": "every metric of the workload",
    "spark.shuffle_mb": "every metric of the workload",
    "spark.spill_mb": "every metric of the workload",
    "spark.executor_cpu_s": "every metric of the workload",
    "spark.gc_s": "every metric of the workload",
    # the window's wall clock: what a user waits for, but on a shared VM it
    # follows the neighbours' load more than the program (README), so it
    # has no end-to-end bound
    "wall.throughput_per_s": "events / window wall; moves with cpu_ms_per_event on backfill",
    "wall.lag_ms_p50": "trickle: landing -> checkpoint covers the file, median over the files",
    "cpu.unscaled_ms_per_event": "cpu_ms_per_event before scaling to the reference core speed",
    "cpu.jit_ms_per_event": "part of cpu_ms_per_event spent in the JVM's JIT compiler threads",
    "cpu.core_loop_ms": "the core-speed probe's median loop time; scales cpu_ms_per_event",
    # peak RSS of the Python process plus the JVM varies by more than a tenth
    # between runs of one seed, so it is reported here, not end to end
    "mem.peak_rss_mb": "none (too unsteady for an end-to-end bound)",
    "trace.uncovered_ms": "part of the timed window no span covers",
    "trace.spans": "spans recorded in the timed window",
}

# bench.py's one-line output scalars -> the nearest metric here (workload:metric).
LEGACY_MAP = {
    "stream_jsonl_bulk_ev_s": "backfill:wall.throughput_per_s (CPU cost: cpu_ms_per_event)",
    "stream_throughput_ev_s": "backfill:wall.throughput_per_s",
    "cdc_ev_s": "backfill:wall.throughput_per_s (kernel only there; pipeline here)",
    "cdc_lsm_ev_s": "backfill:wall.throughput_per_s",
    "stream_jsonl_ev_s": "trickle:wall.throughput_per_s (closed drain there; one file per trigger here)",
    "batch_ms_p50": "trickle:cdc_apply.batch_ms (trigger duration); file lag is wall.lag_ms_p50",
    "batch_ms_p95": "trickle:wall.lag_ms_p50 (nearest: no tail percentile here)",
    "read_mor_sec": "merge.read_ms (store read + collect per table)",
    "compact_sec": "merge.compact_ms",
    "baseline24_total": "backfill:plans.exec_ms (nearest: the cdc_* builders only, not BASELINE24)",
}
