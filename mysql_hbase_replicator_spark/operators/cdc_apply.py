"""CDC batch kernel (SURVEY.md §2.3 K1-K6, §2.2 P1-P5) — the
semantics-bearing heart of the engine.

Re-expresses the reference's per-event HBase mutation loop
(HbaseApplier.scala:226-275) as set-oriented DataFrame operations over a
micro-batch of change events:

1. P1  filter to mapped tables; skipped events still advance the checkpoint
       (MySQLExtractor.scala:225-236).
2. P2  included-columns projection: absent ordinals → NULL
       (BitSet gate, HbaseApplier.scala:197-208, MongoDBApplier.scala:87-97).
3. P3  column rename per mapping (HbaseTableInfo.scala:142-144).
4. P4  per-column cast to the declared sink type (HbaseTableInfo.scala:158-182).
5. K1  PK-combination key (composite keys supported; rows missing any PK are
       dead-lettered — the reference throws
       "sql statement does not contain all primary keys",
       HbaseApplier.scala:204-208).
6. K5  each valid event expands into its keyed actions in ONE generator,
       ``inline(when(valid, CASE op ...))``: an insert emits the
       after-image's upsert, a delete the before-key's delete, an update
       the after-image's upsert at ``_seq`` 1 plus, under
       ``k3_mode="intended"``, the before-key's delete at ``_seq`` 0. The
       actions are collapsed per batch: last action per key by (stream
       order, ``_seq``) — the batch equivalent of the reference's
       single-thread strict ordering (Rep.scala:56-65).
7. K2/K3/K4 merge: the collapsed upserts and deletes go to the store's
       ``merge_actions`` in one call per table.

The Columns of steps 2-6 and of the batch-wide stats/K1 pass depend on the
mapping alone, so they are built once and reused by every later batch
(``_EXPRS``): the memo is keyed on the mapping's content (``to_json()``),
``k3_mode``, the image mode (generic JSON strings or typed structs) and the
order column (``seq`` or ``position``), and scoped to the live SparkContext.

K3 note (SURVEY §2.3): the reference's update deletes the old row only when
the before/after rowkeys are EQUAL (HbaseApplier.scala:252) — a PK-changing
update orphans the old row. ``k3_mode="intended"`` (default) implements the
evident intent: always delete the before-key, upsert the after-image.
``k3_mode="faithful"`` reproduces the reference exactly (update = plain
upsert of the after-image at its own key; full-row replace already clears
stale columns in a columnar store).

K6: dead-lettered events are queued in a ``_dead_letter`` table. One kernel
call writes all of its tables' dead letters in ONE write, to a
``batch=<token>`` subdirectory keyed on the batch token plus the call's
sorted mapped-table set, overwritten on micro-batch replay so the queue
stays exactly-once under at-least-once delivery (the per-table calls of
multi-table snapshot_diff share a token but not a table set, so they never
overwrite each other); exceeding ``max_dead_letter`` raises, the analog of
the failed-event-queue overflow exit (Rep.scala:86-92).
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid
import weakref
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mysql_hbase_replicator_spark.catalog.meta import HbaseTableInfo
from mysql_hbase_replicator_spark.functions.types import spark_type_from_name
from mysql_hbase_replicator_spark.operators.merge import ParquetKeyedStore
from mysql_hbase_replicator_spark.sources.cdc_events import (
    OP_DELETE,
    OP_INSERT,
    OP_UPDATE,
    ROW_OPS,
)

DEAD_LETTER_TABLE = "_dead_letter"
CHECKPOINT_FILE = "_checkpoint.json"


def dead_letter_batch_path(store: ParquetKeyedStore, token: str) -> str:
    """Target subpath for ONE dead-letter write: every write lands in its
    own ``batch=<token>`` partition directory with mode=overwrite. A
    replayed micro-batch re-derives the same token and OVERWRITES its own
    previous write instead of appending duplicates — the store merge was
    replay-idempotent but an appending dead-letter table silently was not
    (ADVICE r8; K6's reference contract is queue-drained-exactly-once,
    Rep.scala:67-97). Plain ``spark.read.parquet(<base>/_dead_letter)``
    keeps working via partition discovery (the token surfaces as a
    ``batch`` string column). Root-level files must never be mixed into
    this layout: Spark refuses a mixed root-file / partition-dir
    directory, so ALL writers go through this helper.

    The directory name carries BOTH the sanitized token (human-readable)
    and an md5 prefix of the RAW token: two distinct raw tokens that
    sanitize to the same string (e.g. table names differing only in a
    non-alnum character) must never share a directory — with
    mode=overwrite a collision would silently delete the other writer's
    queue, not merely co-mingle rows as append did. Same raw token →
    same path, so replay idempotence is unaffected. The readable part is
    cut to 100 characters (a token naming many mapped tables would pass the
    filesystem's 255-byte name limit); the digest still tells tokens
    apart."""
    safe = "".join(ch if (ch.isalnum() or ch in "._-") else "_" for ch in token)[:100]
    digest = hashlib.md5(token.encode("utf-8")).hexdigest()[:8]
    return os.path.join(store.base_dir, DEAD_LETTER_TABLE, f"batch={safe}.{digest}")


# Micro-batch regime. A batch whose optimized plan Spark estimates at or
# below SMALL_BATCH_BYTES runs as ONE partition: the cached events are
# coalesced to a single partition, which the K5 action generator keeps and
# which already satisfies the stats aggregate's and the collapse window's
# clustering requirement, so neither plans an Exchange and every kernel
# action is one single-stage job (with AQE on, a shuffle costs two jobs: the
# map stage and the re-optimized result stage). The regime is a property of
# the plan, so it holds in whichever session owns the frame; a session conf
# could not do this, because foreachBatch hands the kernel frames of the
# stream's cloned session, which never sees conf set on the caller's. The
# decision reads the optimized plan's sizeInBytes before the first action,
# which runs no job; a plan Spark cannot size reports
# spark.sql.defaultSizeInBytes (Long.MaxValue unless configured) and runs
# large. Large batches
# (backfills, the 200k-event kernel bench) keep the session's AQE shuffles
# and the collapse cache. Measured through the batch API on local[4] with
# the benchmark's generic log (~174 B per event): at 20k events (3.5 MB) the
# two plans are within 12% in wall and 6% in CPU; at 50k events one
# partition takes 4.9 s against 3.2 s, at 200k 17.6 s against 6.6 s. In a
# stream, a 300-event trigger over 3 tables went from 12 jobs to 6, none
# of them shuffling (perfbench trickle, --trace 1).
SMALL_BATCH_BYTES = 4 << 20


@dataclass
class CdcBatchResult:
    """Observability payload — the counter surface the reference exposes via
    JMX (HbaseApplier.scala:110,120-135; MySQLExtractor.scala:217-223)."""

    checkpoint_position: int | None = None
    checkpoint_filename: str | None = None
    applied_counts: dict[str, int] = field(default_factory=dict)  # "db.table.op" -> n
    dead_letter_count: int = 0
    skipped_unmapped: int = 0
    # O1 latency parity (HbaseApplier.scala:45-52 keeps a last-10 ring of
    # per-op HBase RPC times): the batch engine's unit of apply is the
    # per-table merge, so wall-times are keyed "apply:db.table" plus the
    # whole-batch "batch". The rolling ring lives in the pipeline.
    apply_latency_s: dict[str, float] = field(default_factory=dict)


class DeadLetterOverflowError(RuntimeError):
    """K6 failed-event-queue overflow (Rep.scala:86-92)."""


def _present(side: str, col_name: str) -> Column:
    """Included-columns gate: NULL included_* list means 'all present'."""
    inc = F.col(f"included_{side}")
    return F.col(side).isNotNull() & (inc.isNull() | F.array_contains(inc, col_name))


def _gated(side: str, col_name: str) -> Column:
    return F.when(_present(side, col_name), F.col(f"{side}.{col_name}"))


def _pks_valid_on(info: HbaseTableInfo, side_col: Column, inc_col: Column) -> Column:
    """K1 precondition over explicit image/included columns (so the batch-wide
    stats pass can validate per table without first renaming columns)."""
    cond = F.lit(True)
    for c in info.key_columns():
        present = side_col.isNotNull() & (
            inc_col.isNull() | F.array_contains(inc_col, c.dbColumnName)
        )
        cond = cond & present & side_col.getField(c.dbColumnName).isNotNull()
    return cond


def _valid_expr(info: HbaseTableInfo, before: Column, after: Column) -> Column:
    """The K1 validity decision for one table's events (op-dependent image
    choice; update validates BOTH rowkeys like the reference,
    HbaseApplier.scala:250-251)."""
    inc_b, inc_a = F.col("included_before"), F.col("included_after")
    return (
        F.when(F.col("op") == OP_INSERT, _pks_valid_on(info, after, inc_a))
        .when(F.col("op") == OP_DELETE, _pks_valid_on(info, before, inc_b))
        .when(
            F.col("op") == OP_UPDATE,
            _pks_valid_on(info, after, inc_a) & _pks_valid_on(info, before, inc_b),
        )
        .otherwise(F.lit(False))
    )


def _sink_projection(info: HbaseTableInfo, side: str, keys_only: bool = False) -> list[Column]:
    """P2 (gate) + P3 (rename) + P4 (cast) for one image side, in sink
    column order. ``keys_only`` nulls the non-key columns (a delete action
    carries only the before-key)."""
    return [
        (F.lit(None) if keys_only and not c.isPrimaryKey else _gated(side, c.dbColumnName))
        .cast(spark_type_from_name(c.hbaseColumnType, restrict_to_six=False))
        .alias(c.hbaseColumnName)
        for c in info.cols
    ]


# Kernel expressions memo. Every Column the kernel derives from a mapping
# alone is built once and reused by later batches: rebuilding them cost
# ~3.6k py4j round trips per 3-table trickle trigger, most of the trigger's
# driver CPU. Entries are keyed on the mapping's CONTENT (``to_json()``), so
# a mapping edited in place takes effect on the next batch, plus k3_mode,
# the image mode (generic JSON strings vs typed structs) and the order
# column. The memo is scoped to the live SparkContext: a Column holds JVM
# references, and a restarted context starts with an empty memo.
_EXPRS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _memo(spark: SparkSession, key: tuple, build):
    memo = _EXPRS.setdefault(spark.sparkContext, {})
    if key not in memo:
        memo[key] = build()
    return memo[key]


@dataclass(frozen=True)
class _StatsExprs:
    """The batch-wide stats pass over one mapping set."""

    full_name: Column  # db.table
    aggs: list[Column]  # groupBy(_full_name, op) aggregates
    dead: Column  # row op AND K1-invalid: the dead-letter filter
    row_ops: Column
    table_filter: dict[str, Column]  # full name -> _full_name == name


def _stats_exprs(
    spark: SparkSession, mappings: dict[str, HbaseTableInfo], generic: bool, ord_name: str
) -> _StatsExprs:
    def build() -> _StatsExprs:
        # K1 validity, one CASE branch per mapped table. Generic mode parses
        # the JSON images inline with each table's declared schema.
        invalid_case = F.lit(False)
        for fn, info in mappings.items():
            if generic:
                struct = source_struct(info)
                b = F.from_json(F.col("before"), struct)
                a = F.from_json(F.col("after"), struct)
            else:
                b, a = F.col("before"), F.col("after")
            invalid_case = F.when(
                F.col("_full_name") == fn, ~_valid_expr(info, b, a)
            ).otherwise(invalid_case)
        row_ops = F.col("op").isin(*ROW_OPS)
        ord_col = F.col(ord_name)
        aggs = [
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(row_ops & invalid_case, 1).otherwise(0)).alias("n_dead"),
            F.max(F.struct(ord_col.alias("o"), F.col("position").alias("position"))).alias(
                "maxpos"
            ),
            # rotate consumption (HbaseApplier.scala:155-165): the current
            # binlog file is the filename carried by the latest
            # filename-bearing event (rotate markers and any event stamped
            # at source). max ignores the all-null groups.
            F.max(
                F.when(
                    F.col("filename").isNotNull(),
                    F.struct(ord_col.alias("o"), F.col("filename").alias("filename")),
                )
            ).alias("maxfile"),
        ]
        return _StatsExprs(
            full_name=F.concat(F.col("db"), F.lit("."), F.col("table")),
            aggs=aggs,
            dead=row_ops & invalid_case,
            row_ops=row_ops,
            table_filter={fn: F.col("_full_name") == fn for fn in mappings},
        )

    key = ("stats", tuple((fn, info.to_json()) for fn, info in mappings.items()), generic, ord_name)
    return _memo(spark, key, build)


@dataclass(frozen=True)
class _TableExprs:
    """One table's kernel: parse, expand into keyed actions, collapse."""

    parse: list[Column]  # select list: _ord, op, both images, both gates
    actions: Column  # the action generator
    rn: Column  # K5 row number over the PK window
    last: Column  # _rn == 1
    sink_cols: list[str]
    sink_pks: list[str]


def _table_exprs(
    spark: SparkSession, info: HbaseTableInfo, k3_mode: str, generic: bool, ord_name: str
) -> _TableExprs:
    def build() -> _TableExprs:
        if generic:
            # images arrive as JSON strings: parse them against THIS table's
            # declared source schema before the typed kernel
            struct = source_struct(info)
            images = [F.from_json(F.col(s), struct).alias(s) for s in ("before", "after")]
        else:
            images = [F.col("before"), F.col("after")]
        parse = [
            # stream-order key for the K5 collapse: seq when the source
            # stamps it (positions reset per binlog file, see
            # apply_cdc_batch), else position
            F.col(ord_name).alias("_ord"),
            F.col("op"),
            *images,
            F.col("included_before"),
            F.col("included_after"),
        ]

        def action(seq: int, kind: str, side: str) -> Column:
            return F.struct(
                F.lit(seq).alias("_seq"),
                F.lit(kind).alias("_kind"),
                *_sink_projection(info, side, keys_only=kind == "delete"),
            )

        upsert = action(1, "upsert", "after")
        delete = action(0, "delete", "before")
        # K3 intended: delete the before-key; when the PK didn't change, the
        # same-position upsert (seq 1 > 0) wins — full-row replace, like the
        # reference's delete-then-Put (HbaseApplier.scala:252-258). Faithful:
        # the update is a plain upsert of the after-image.
        on_update = F.array(upsert, delete) if k3_mode == "intended" else F.array(upsert)
        op = F.col("op")
        expand = (
            F.when(op == OP_INSERT, F.array(upsert))
            .when(op == OP_UPDATE, on_update)
            .when(op == OP_DELETE, F.array(delete))
        )
        # K1: an invalid event expands to NULL, which inline turns into no
        # rows (its dead letter was queued by apply_cdc_batch)
        valid = _valid_expr(info, F.col("before"), F.col("after"))
        sink_pks = [c.hbaseColumnName for c in info.key_columns()]
        w = Window.partitionBy(*sink_pks).orderBy(F.desc("_ord"), F.desc("_seq"))
        return _TableExprs(
            parse=parse,
            actions=F.inline(F.when(valid, expand)),
            rn=F.row_number().over(w),
            last=F.col("_rn") == 1,
            sink_cols=[c.hbaseColumnName for c in info.cols],
            sink_pks=sink_pks,
        )

    return _memo(spark, ("table", info.to_json(), k3_mode, generic, ord_name), build)


def read_checkpoint_state(store: ParquetKeyedStore) -> dict | None:
    """S2 resume: last committed (filename, position) pair — the BinlogTable
    row analog (HbaseApplier.scala:138-153). The reference persists BOTH the
    binlog filename and the position within it (RepEvent.scala:9-10); a
    position alone is ambiguous across a mid-stream Rotate."""
    path = os.path.join(store.base_dir, CHECKPOINT_FILE)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def read_checkpoint(store: ParquetKeyedStore) -> int | None:
    """Position-only view of the checkpoint (back-compat convenience)."""
    state = read_checkpoint_state(store)
    return state.get("position") if state else None


def _write_checkpoint(store: ParquetKeyedStore, position: int, filename: str | None) -> None:
    """S5: checkpoint written AFTER the data commit — at-least-once, replay
    is idempotent (HbaseApplier.scala:239,261,273 order)."""
    path = os.path.join(store.base_dir, CHECKPOINT_FILE)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"position": position, "filename": filename}, f)
    os.replace(tmp, path)


def apply_cdc_batch(
    spark: SparkSession,
    events: DataFrame,
    store: ParquetKeyedStore,
    mappings: dict[str, HbaseTableInfo],
    k3_mode: str = "intended",
    max_dead_letter: int | None = None,
    advance_checkpoint: bool = True,
    batch_token: str | None = None,
) -> CdcBatchResult:
    """Apply one micro-batch of CDC events to the keyed store.

    ``advance_checkpoint=False`` applies without touching ``_checkpoint.json``
    — used by the dead-letter drain, whose replayed positions are historical
    (advancing from them would REGRESS the live watermark).

    ``batch_token``: stable identity of this micro-batch (the streaming
    pipeline passes ``b{batch_id}``). Dead-letter writes key their
    ``batch=`` subdirectory on it, so an at-least-once replay of the same
    batch overwrites its own prior dead letters instead of duplicating
    them. Callers outside a replayable stream may omit it (each write then
    gets a unique token — plain append semantics)."""
    if k3_mode not in ("intended", "faithful"):
        raise ValueError(f"unknown k3_mode: {k3_mode}")
    import time as _time

    batch_t0 = _time.perf_counter()
    result = CdcBatchResult()
    dtypes = dict(events.dtypes)
    if "filename" not in dtypes:  # pre-rotate fixtures / legacy logs
        events = events.withColumn("filename", F.lit(None).cast("string"))
    # Stream-order for the checkpoint pair and the K5 collapse: real MySQL
    # positions reset per binlog file (RepEvent.scala:9-10 pairs
    # filename+position for exactly this reason), so "max(position) over the
    # batch" can pair the NEW filename with the OLD file's larger position
    # after a mid-batch rotate. Sources that interleave rotates mid-batch
    # must therefore stamp a globally monotonic ``seq`` column (arrival
    # order); when present, the checkpoint is taken from the LAST event by
    # seq — its position, and the filename of the last filename-bearing
    # event by seq. Without ``seq`` we fall back to position order, which is
    # only correct for globally monotonic positions (true of the file-log
    # stand-in fixtures).
    ord_name = "seq" if "seq" in dtypes else "position"
    # generic multi-table mode: the images arrive as JSON strings
    generic_images = dtypes.get("before") == "string"
    small = _plan_bytes(events) <= SMALL_BATCH_BYTES
    if small:
        events = events.coalesce(1)
    events = events.persist()
    try:
        # --- checkpoint + counters + table discovery in ONE driver action ---
        # (the reference pays a checkpoint write per event,
        # HbaseApplier.scala:155-176; we pay one tiny groupBy per batch)
        #
        # K1 validity is folded into this same pass (one CASE branch per
        # mapped table) so the kernel never pays a dedicated dead-letter
        # count action: the single dead-letter WRITE below happens only
        # when some table's n_dead here is non-zero (the rare path), and it
        # selects its rows with this same CASE, so the counts and the
        # written rows can't diverge.
        exprs = _stats_exprs(spark, mappings, generic_images, ord_name)
        named = events.withColumn("_full_name", exprs.full_name)
        stats = (
            named.groupBy("_full_name", "op")
            .agg(*exprs.aggs)
            .collect()
        )
        # Driver-side max over the collected (o, value) structs: compare via
        # a None-safe key, NOT tuple order — a group whose ord is NULL (a
        # legacy seq-less file sharing a batch with seq-stamped ones, or an
        # event line missing `position`) yields Row(o=None, ...), and Python
        # raises TypeError on None<int, wedging the stream in a
        # crash-replay loop (r13 review). None sorts below every real ord.
        # ... and the guard must be RECURSIVE: the ord may itself be a
        # struct (the Debezium pipeline's (ts_ms, file, pos) seq) whose
        # members can be NULL, or one batch can mix long ords with struct
        # ords (a replay straddling a source swap) — a flat None check
        # still raises TypeError on Row-vs-int or None-inside-Row
        # comparison, re-creating the same wedge one level down (ADVICE
        # r13). Type-tagged tuples make every pair comparable: None < any
        # value; unlike types order by tag, never by raw comparison.
        def _cmp_key(o):
            if o is None:
                return (0,)
            if isinstance(o, bool):
                return (1, int(o))
            if isinstance(o, (int, float)):
                return (1, o)
            if isinstance(o, str):
                return (2, o)
            if isinstance(o, (bytes, bytearray)):
                return (3, bytes(o))
            if isinstance(o, (tuple, list)):  # Row subclasses tuple
                return (4, tuple(_cmp_key(x) for x in o))
            return (2, str(o))

        def _none_safe_max(rows, field, field_default):
            def key(r):
                v = r[field]
                return (
                    _cmp_key(r["o"]),
                    v is not None,
                    v if v is not None else field_default,
                )

            return max(rows, key=key, default=None)

        latest_pos = _none_safe_max(
            [r["maxpos"] for r in stats if r["maxpos"] is not None], "position", 0
        )
        result.checkpoint_position = latest_pos["position"] if latest_pos else None
        latest_file = _none_safe_max(
            [r["maxfile"] for r in stats if r["maxfile"] is not None], "filename", ""
        )
        if latest_file is not None:
            result.checkpoint_filename = latest_file["filename"]
        else:
            # no rotate in this batch → the file is unchanged since the last
            # checkpoint (the reference keeps the filename in memory between
            # events; our between-batch memory is the checkpoint itself)
            prev = read_checkpoint_state(store)
            result.checkpoint_filename = prev.get("filename") if prev else None
        mapped = set(mappings)
        tables_in_batch = set()
        dead_counts: dict[str, int] = {}
        row_counts: dict[str, int] = {}
        for r in stats:
            if r["op"] not in ROW_OPS:
                continue
            if r["_full_name"] in mapped:
                # the JMX-analog counter reports events APPLIED: the group's
                # dead-lettered rows were diverted, never merged — counting
                # them here made applied+dead sum past the batch size (r13
                # review). All-dead groups contribute no counter entry.
                n_applied = r["n"] - r["n_dead"]
                if n_applied:
                    result.applied_counts[f"{r['_full_name']}.{r['op']}"] = n_applied
                tables_in_batch.add(r["_full_name"])
                dead_counts[r["_full_name"]] = (
                    dead_counts.get(r["_full_name"], 0) + r["n_dead"]
                )
                row_counts[r["_full_name"]] = (
                    row_counts.get(r["_full_name"], 0) + r["n"]
                )
            else:
                result.skipped_unmapped += r["n"]

        result.dead_letter_count = sum(dead_counts.values())
        if result.dead_letter_count:
            _write_dead_letters(
                store,
                named.filter(exprs.dead),
                generic_images,
                # one directory per (batch, mapped-table set): a replayed
                # call overwrites its own write, while the per-table calls
                # of multi-table snapshot_diff, which share a batch token,
                # land in disjoint directories. Without a token the write
                # gets a unique directory — append semantics.
                f"{batch_token or 'adhoc-' + uuid.uuid4().hex[:12]}"
                f"-{','.join(sorted(mappings))}",
            )

        row_events = named.filter(exprs.row_ops)
        for full_name in sorted(tables_in_batch):
            t0 = _time.perf_counter()
            _apply_table(
                spark,
                row_events.filter(exprs.table_filter[full_name]),
                store,
                mappings[full_name],
                k3_mode,
                generic_images,
                ord_name,
                small=small,
                n_valid=row_counts[full_name] - dead_counts[full_name],
            )
            result.apply_latency_s[f"apply:{full_name}"] = _time.perf_counter() - t0

        if max_dead_letter is not None and result.dead_letter_count > max_dead_letter:
            raise DeadLetterOverflowError(
                f"dead-letter count {result.dead_letter_count} exceeds "
                f"max_dead_letter={max_dead_letter}"
            )

        if advance_checkpoint and result.checkpoint_position is not None:
            _write_checkpoint(
                store, result.checkpoint_position, result.checkpoint_filename
            )
        result.apply_latency_s["batch"] = _time.perf_counter() - batch_t0
        return result
    finally:
        events.unpersist()


def source_struct(info: HbaseTableInfo) -> "T.StructType":
    """The SOURCE row schema a mapping declares: db column names typed by the
    MySQL→Spark map (HbaseTableInfo.scala:158-182). Used to parse JSON row
    images in the heterogeneous multi-table stream — the analog of resolving
    TableInfo per TableMap event (MySQLExtractor.scala:182-202)."""
    from pyspark.sql import types as T

    from mysql_hbase_replicator_spark.functions.types import mysql_type_to_spark

    return T.StructType(
        [
            T.StructField(c.dbColumnName, mysql_type_to_spark(c.dbColumnType), True)
            for c in info.cols
        ]
    )


def _plan_bytes(df: DataFrame) -> int:
    """Spark's size estimate for ``df``'s optimized plan: statistics only,
    no job. A plan Spark cannot size reports spark.sql.defaultSizeInBytes."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _write_dead_letters(
    store: ParquetKeyedStore, dead: DataFrame, generic_images: bool, token: str
) -> None:
    """K6: queue one kernel call's dead letters, every mapped table's, in
    ONE overwrite of ``token``'s ``batch=`` directory."""
    # payload: the delivery verbatim. Generic mode embeds the RAW image
    # strings (pre-parse): serializing parsed structs instead would destroy
    # any source value the current (possibly wrong) mapping mistyped or
    # didn't declare, which is exactly the data a replay-after-mapping-fix
    # needs back (r13 review). Typed mode serializes the typed structs,
    # which ARE the delivery there.
    payload = (
        F.concat(
            F.lit('{"before":'),
            F.coalesce(F.col("before"), F.lit("null")),
            F.lit(',"after":'),
            F.coalesce(F.col("after"), F.lit("null")),
            F.lit("}"),
        )
        if generic_images
        else F.to_json(F.struct("before", "after"))
    )
    dead.select(
        F.col("position"),
        # stream order survives the queue: without seq a replay's K5
        # collapse falls back to position order, which is invalid when
        # binlog positions reset per file (r13 review)
        *([F.col("seq")] if "seq" in dead.columns else []),
        F.col("op"),
        F.col("_full_name").alias("table_name"),
        F.lit("sql statement does not contain all primary keys").alias("reason"),
        payload.alias("payload"),
        # preserved verbatim so a replay re-applies the event exactly as
        # received — the included-columns gate and binlog file included
        F.col("included_before"),
        F.col("included_after"),
        F.col("filename"),
    ).write.mode("overwrite").parquet(dead_letter_batch_path(store, token))


def _apply_table(
    spark: SparkSession,
    ev: DataFrame,
    store: ParquetKeyedStore,
    info: HbaseTableInfo,
    k3_mode: str,
    generic_images: bool,
    ord_name: str,
    small: bool,
    n_valid: int,
) -> None:
    if n_valid == 0:
        # every event for this table was dead-lettered: there is nothing to
        # merge, and the count is already known from the batch-stats pass —
        # skip the collapse + store write (the LSM store would otherwise
        # append an empty delta per all-dead batch)
        return
    exprs = _table_exprs(spark, info, k3_mode, generic_images, ord_name)
    # --- parse, then expand each valid event into its keyed actions in ONE
    # Generate over the cached events (module docstring, step 6). The
    # Generate keeps its child's partitioning, so a small batch's single
    # partition reaches the window below and it plans no Exchange.
    actions = ev.select(*exprs.parse).select("_ord", exprs.actions)

    # --- K5: last action per PK by (stream order, seq) ---------------------
    final = actions.withColumn("_rn", exprs.rn).filter(exprs.last)

    # The rewrite store's merge runs two actions over the collapsed batch
    # (changed-bucket discovery, then the staged write) — for LARGE batches,
    # cache the collapse so the window shuffle executes once per batch, not
    # once per action. Small micro-batches skip the cache: the dedicated
    # materialization action costs more than recomputing a one-partition
    # window inside the merge's actions (SMALL_BATCH_BYTES note above). A
    # single-action store (LogStructuredKeyedStore's delta append) never
    # benefits from the cache.
    cache = not small and store.MULTI_ACTION_MERGE
    if cache:
        final = final.persist()
    try:
        # --- K2/K3/K4: MERGE ------------------------------------------------
        store.merge_actions(
            spark, info.hbaseTableName or info.full_name, final, exprs.sink_cols, exprs.sink_pks
        )
    finally:
        if cache:
            final.unpersist()


def replay_dead_letters(
    spark: SparkSession,
    store: ParquetKeyedStore,
    mappings: dict[str, HbaseTableInfo],
    k3_mode: str = "intended",
) -> CdcBatchResult | None:
    """K6 drain semantics (Rep.scala:67-97: queued failed events are retried
    in order before new work): re-apply everything in the dead-letter table
    under the CURRENT mappings — the recovery path after an operator fixes a
    mapping (e.g. corrects the declared PK set). Events that still fail
    validation are re-dead-lettered by the kernel, so one call = one ordered
    drain pass. Returns None when there is nothing to replay.

    Fully distributed: the table directory is renamed aside (atomic drain —
    survivors re-append to a fresh directory), row images are re-extracted
    JVM-side with ``get_json_object``, and the resulting DataFrame feeds
    straight back through ``apply_cdc_batch``. Nothing is collected to the
    driver, so a poisoned stream's multi-million-row queue replays at the
    same scale as a normal batch. The included-columns gate and binlog
    filename travel with each event, so a replay applies the event exactly
    as originally received. The checkpoint is not advanced by a drain
    (replayed positions are historical). A drain directory left behind by a
    crashed replay is picked up by the next call."""
    import glob
    import shutil

    path = os.path.join(store.base_dir, DEAD_LETTER_TABLE)
    drain_dirs = sorted(glob.glob(path + ".draining.*"))  # stale crashed drains
    if os.path.isdir(path):
        # next suffix = max(existing)+1, NOT len(drain_dirs): after a crash
        # mid-cleanup the surviving set can be sparse (".draining.1" alive,
        # ".draining.0" removed) and a len-derived name would collide —
        # shutil.move would then nest the live dir INSIDE the stale one,
        # hiding its files from the parquet reader and losing the replay.
        used = [int(d.rsplit(".", 1)[-1]) for d in drain_dirs if d.rsplit(".", 1)[-1].isdigit()]
        dst = f"{path}.draining.{max(used, default=-1) + 1}"
        shutil.move(path, dst)
        drain_dirs.append(dst)
    if not drain_dirs:
        return None
    dl = spark.read.option("mergeSchema", "true").parquet(*drain_dirs)
    if "batch" in dl.columns:
        # the per-write subdir token surfaces as a partition column on read;
        # it is layout bookkeeping, not event payload — drop it so replays
        # and re-queues never carry it into data files (a data column named
        # like the partition key would corrupt later partition discovery)
        dl = dl.drop("batch")
    # Exact-duplicate queue rows are replay ARTIFACTS (an event is
    # dead-lettered once per delivery; identical payload+position rows come
    # from a replayed batch that landed under two different batch tokens —
    # e.g. a replay straddling the token-scheme upgrade, where the old
    # write used `b7-...` and the re-delivery wrote `<lineage>-b7-...`, so
    # overwrite couldn't collapse them). Dedupe before applying: otherwise
    # the drain double-applies and still-invalid events re-queue in
    # duplicate, permanently. This byte-level pass is NOT sufficient on its
    # own (ADVICE r10): the same failure re-queued by a crashed earlier
    # drain re-serializes its payload (to_json of the re-extracted images),
    # which may differ from the original delivery in whitespace/wrapper
    # formatting — those duplicates are collapsed by the post-extraction
    # dedupe on ev_df below, after get_json_object has re-minified both.
    dl = dl.dropDuplicates()
    # Re-queue (K6: failures never vanish) everything the drain cannot
    # apply, VERBATIM from the queue rows: ingest-level dead letters whose
    # op is not a row op (e.g. corrupt Debezium envelopes queued by
    # debezium_dead_letters), and rows for tables absent from the CURRENT
    # mappings — apply_cdc_batch would merely count those as
    # skipped_unmapped while the drain's cleanup deleted their queue dirs,
    # silently destroying a decommissioned-then-remapped table's failures
    # (r13 review).
    mapped_names = list(mappings)
    requeue = dl.filter(
        ~F.col("op").isin(*ROW_OPS) | ~F.col("table_name").isin(*mapped_names)
    )
    n_requeue = requeue.count()
    if n_requeue:
        requeue.write.mode("overwrite").parquet(
            dead_letter_batch_path(store, f"requeue-{uuid.uuid4().hex[:12]}")
        )
    live = dl.filter(
        F.col("op").isin(*ROW_OPS) & F.col("table_name").isin(*mapped_names)
    )
    # stream order survives the round trip: queued rows carry seq when their
    # source stamped it — re-emit it VERBATIM (caller-owned type: long
    # offset or ts/file/pos struct; the kernel only needs orderability) so
    # the replay's K5 collapse keeps seq order (positions reset per binlog
    # file). Only when some row actually carries one: an all-null seq
    # column would OUST the position fallback in apply_cdc_batch and break
    # ordering for position-only queues.
    has_seq = "seq" in dl.columns and live.filter(
        F.col("seq").isNotNull()
    ).limit(1).count() > 0
    # route through the generic JSON path so each table parses against its
    # CURRENT mapping schema. get_json_object lifts the sub-objects back out
    # of the payload as JSON text per row, executor-side.
    ev_df = live.select(
        F.col("position").cast("long").alias("position"),
        *([F.col("seq")] if has_seq else []),
        F.col("op").cast("string").alias("op"),
        F.substring_index("table_name", ".", 1).alias("db"),
        F.substring_index("table_name", ".", -1).alias("table"),
        F.get_json_object("payload", "$.before").alias("before"),
        F.get_json_object("payload", "$.after").alias("after"),
        F.col("included_before"),
        F.col("included_after"),
        F.col("filename"),
    )
    # Semantic dedupe (ADVICE r10): get_json_object re-emits the extracted
    # before/after subtrees Jackson-minified, so two queue rows describing
    # the SAME failed event that differ only in payload formatting (the
    # original delivery vs a crashed drain's to_json re-queue) collapse
    # here even though the byte-level pass above missed them. Distinct
    # failures survive: two different events can't agree on every one of
    # (position, op, db, table, minified images, gates, filename) — the
    # only theoretical collision is two identical PK-less rows inside one
    # multi-row event, which the byte-level dropDuplicates above already
    # collapsed under the old scheme too.
    ev_df = ev_df.dropDuplicates()
    if ev_df.isEmpty():
        for d in drain_dirs:
            shutil.rmtree(d)
        if n_requeue:
            result = CdcBatchResult()
            result.dead_letter_count = n_requeue
            return result
        return None
    result = apply_cdc_batch(
        spark, ev_df, store, mappings, k3_mode=k3_mode, advance_checkpoint=False
    )
    result.dead_letter_count += n_requeue
    for d in drain_dirs:
        shutil.rmtree(d)
    return result
