"""Keyed parquet store with MERGE semantics (upsert + delete by PK).

This is the engine's HBase-table analog: the reference's sink is natively
keyed (HBase Put = upsert, Delete = delete; HbaseApplier.scala:226-275); a
parquet lake is not, so this store adds the keyed-merge layer.

Scale design — the table is hash-bucketed on the PK combination
(``_bucket = pmod(xxhash64(pk...), n_buckets)``, the rowkey-encoding analog
of HBaseKVHelper.encodingRawKeyColumns, HbaseApplier.scala:210-217):

- MERGE touches only the buckets that contain changed keys: the read is
  partition-pruned to affected buckets and the write uses dynamic partition
  overwrite, so a micro-batch that touches 1% of keys rewrites ~1% of the
  table instead of 100%.
- At 1000-executor scale the same layout maps directly onto Delta/Iceberg
  MERGE INTO with the bucket as the clustering column; this local
  implementation keeps identical semantics (idempotent, deterministic)
  without requiring those libraries in the container.

Known limitation vs a transactional table format: the per-bucket overwrite is
not atomic under mid-write crashes. Structured Streaming replays the batch,
and the merge is idempotent, so effectively-once state is still reached —
but a production deployment should swap `ParquetKeyedStore` for Delta MERGE
(one-line change in apply_cdc_batch).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from mysql_hbase_replicator_spark.operators.versioned import VersionedRoot

BUCKET_COL = "_bucket"
SCHEMA_FILE = "_schema.json"
KIND_COL = "_kind"  # collapsed-action discriminator: "upsert" | "delete"


class ParquetKeyedStore:
    # merge_actions on this store runs >1 Spark action (bucket discovery,
    # then the staged write) — callers may cache the action frame. A
    # single-action subclass (LogStructuredKeyedStore) sets this False.
    MULTI_ACTION_MERGE = True

    def __init__(self, base_dir: str, n_buckets: int = 32):
        self.base_dir = base_dir
        self.n_buckets = n_buckets
        os.makedirs(base_dir, exist_ok=True)

    def table_path(self, name: str) -> str:
        return os.path.join(self.base_dir, name.replace(":", "_"))

    def exists(self, name: str) -> bool:
        return os.path.isdir(self.table_path(name))

    def _has_data_files(self, name: str) -> bool:
        """True if any parquet data file exists (a fully-emptied table keeps
        its directory but has no files left to infer a schema from)."""
        return self._dir_has_parquet(self.table_path(name))

    @staticmethod
    def _dir_has_parquet(path: str) -> bool:
        """One definition of "holds data" for every store: a recursive walk
        finding at least one ``.parquet`` file (ignores _SUCCESS/.crc)."""
        for _dir, _subdirs, files in os.walk(path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def _bucket(self, pk_cols: list[str]):
        return F.pmod(F.xxhash64(*[F.col(c) for c in pk_cols]), F.lit(self.n_buckets))

    # --- schema registry ----------------------------------------------------
    # Every write records the table's current (widest) schema in
    # _schema.json, and reads supply it explicitly: the parquet reader fills
    # columns a not-yet-rewritten bucket lacks with nulls, which is exactly
    # what option("mergeSchema") computes — but mergeSchema derives it by
    # OPENING EVERY FOOTER at plan time, a per-read job whose cost is pure
    # fixed overhead in the streaming micro-batch path (profiled ~0.2 s per
    # merge at 5k events; see PLANS.md streaming-floor table). The mergeSchema
    # fallback remains because a crash can fall between a first write's data
    # and its registry: the files are there, the registry is not yet, and the
    # next write records it.

    def _versions(self, name: str) -> VersionedRoot:
        """The table's pointer doc (its _schema.json) and version dirs, with
        the per-table writer flock beside the store at
        ``.<table>.compact.lock``."""
        return VersionedRoot(
            self.table_path(name),
            SCHEMA_FILE,
            lock_path=os.path.join(self.base_dir, f".{name.replace(':', '_')}.compact.lock"),
        )

    def _doc(self, name: str) -> dict:
        """The table's registry doc, ``{}`` when there is none (also for
        store entries that are not tables)."""
        return self._versions(name).doc()

    def _read_schema(self, name: str) -> T.StructType | None:
        doc = self._doc(name)
        try:
            return T.StructType.fromJson(doc["schema"]) if doc else None
        except (ValueError, KeyError):
            return None

    def _write_schema(
        self, name: str, schema: T.StructType, pk_cols: list[str] | None = None
    ) -> None:
        doc = {"schema": schema.jsonValue()}
        if pk_cols is None:  # keep previously recorded keys
            pk_cols = self._doc(name).get("pk_cols")
        if pk_cols is not None:
            doc["pk_cols"] = list(pk_cols)
        self._versions(name).write(doc)

    def _read_current(self, spark: SparkSession, name: str) -> DataFrame:
        """The stored table WITH its bucket column, schema-registry fast path."""
        schema = self._read_schema(name)
        reader = (
            spark.read.schema(schema)
            if schema is not None
            else spark.read.option("mergeSchema", "true")
        )
        return reader.parquet(self.table_path(name))

    def read(self, spark: SparkSession, name: str) -> DataFrame | None:
        """Current table state (without the bucket column)."""
        if not self.exists(name) or not self._has_data_files(name):
            return None
        return self._read_current(spark, name).drop(BUCKET_COL)

    def overwrite(self, spark: SparkSession, name: str, df: DataFrame, pk_cols: list[str]) -> None:
        """Full (re)load — initial snapshot path."""
        staged = df.withColumn(BUCKET_COL, self._bucket(pk_cols)).repartition(BUCKET_COL)
        staged.write.partitionBy(BUCKET_COL).mode("overwrite").parquet(
            self.table_path(name)
        )
        self._write_schema(name, staged.schema, pk_cols)

    def merge_actions(
        self,
        spark: SparkSession,
        name: str,
        final: DataFrame,
        sink_cols: list[str],
        pk_cols: list[str],
    ) -> None:
        """Apply a COLLAPSED action frame (one row per PK: ``sink_cols`` +
        ``_kind`` ∈ {upsert, delete}; the CDC kernel's K5 output shape) —
        the store-polymorphic entry point the kernel uses."""
        upserts = final.filter(F.col(KIND_COL) == "upsert").select(*sink_cols)
        deletes = final.filter(F.col(KIND_COL) == "delete").select(*pk_cols)
        self.merge(spark, name, upserts, deletes, pk_cols)

    def merge(
        self,
        spark: SparkSession,
        name: str,
        upserts: DataFrame,
        delete_keys: DataFrame,
        pk_cols: list[str],
    ) -> None:
        """MERGE: delete rows matching ``delete_keys`` or ``upserts`` keys,
        then insert ``upserts``. Equivalent to
        ``MERGE INTO t ON pk WHEN MATCHED [AND in deletes] DELETE
        WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT``.

        Only affected buckets are read and rewritten; they are discovered
        here with a distinct-collect action.
        """
        path = self.table_path(name)
        if not self.exists(name) or not self._has_data_files(name):
            self.overwrite(spark, name, upserts, pk_cols)
            return

        changed_keys = (
            upserts.select(*pk_cols).unionByName(delete_keys.select(*pk_cols)).dropDuplicates()
        )
        affected = [
            r[0]
            for r in changed_keys.select(self._bucket(pk_cols).alias("b")).distinct().collect()
        ]
        if not affected:
            return

        current = self._read_current(spark, name).filter(F.col(BUCKET_COL).isin(affected))
        kept = current.drop(BUCKET_COL).join(F.broadcast(changed_keys), pk_cols, "left_anti")
        # allowMissingColumns = additive schema evolution: a column arriving
        # in upserts backfills null for kept rows (and vice versa for columns
        # a source stopped sending) — the CDC analog of MySQL ADD COLUMN,
        # which the reference tolerates because HBase is schemaless per cell;
        # only PK changes kill the stream (catalog/schema.py)
        new_state = kept.unionByName(upserts, allowMissingColumns=True).withColumn(
            BUCKET_COL, self._bucket(pk_cols)
        )

        # Dynamic partition overwrite only rewrites buckets present in the
        # output; buckets whose rows were all deleted produce no output and
        # must be cleared explicitly. Which buckets got written is OBSERVED on
        # the write action itself (collect_set over the rows as they stream to
        # the files), so the merge costs exactly two Spark actions — the
        # affected-bucket collect above and the write — instead of the
        # persist + distinct-collect + write it used to take (the extra
        # action was ~0.7 s of pure fixed cost per streaming micro-batch).
        # Dynamic overwrite is requested as a WRITE OPTION, not a session
        # conf: `partitionOverwriteMode` is honored per-DataFrameWriter
        # (overriding the session value), so the semantics are scoped to
        # exactly this write. The old session-conf set/restore window was a
        # thread-safety hole (r14 review): two concurrent merges — the
        # multi-table pipeline's parallel per-table applies — could
        # interleave one thread's restore with the other's write, flipping
        # the write to STATIC overwrite mid-flight, which deletes every
        # unaffected bucket of the table (silent data loss).
        obs = Observation()
        staged = new_state.repartition(BUCKET_COL).observe(
            obs, F.collect_set(BUCKET_COL).alias("written")
        )
        staged.write.option("partitionOverwriteMode", "dynamic").partitionBy(
            BUCKET_COL
        ).mode("overwrite").parquet(path)
        written_buckets = set(obs.get["written"])
        for b in set(affected) - written_buckets:
            bucket_dir = os.path.join(path, f"{BUCKET_COL}={b}")
            if os.path.isdir(bucket_dir):
                shutil.rmtree(bucket_dir)
        self._write_schema(name, staged.schema, pk_cols)


class LogStructuredKeyedStore(ParquetKeyedStore):
    """Merge-on-read variant of the keyed store — the LSM/HBase-shaped write
    path (SURVEY.md §1.1: the reference's sink IS an LSM tree; an HBase Put
    appends to the memstore/WAL and compaction folds later,
    HbaseApplier.scala:226-275 never rewrites existing cells).

    The rewrite store above pays, per micro-batch: read affected buckets +
    anti-join + dynamic-overwrite commit across up to n_buckets partition
    directories (~1.2 s of fixed cost at 5k-event batches — the dominant
    term of BENCH_r06's streaming floor). Here ``merge_actions`` instead
    APPENDS the collapsed action frame as one small delta
    (``delta_v{J}/_lsm_seq=N/``, one cheap single-action write), and the
    base table is only rewritten by ``compact()`` — flock-guarded, triggered
    every ``compact_every`` appends, amortizing the rewrite across batches.

    ``read`` reconstructs current state: last action per key across deltas
    (by append seq) wins; a surviving upsert overrides the base row, a
    delete removes it. Exactly the Hudi merge-on-read / Delta deletion-
    vector trade: write-optimized streaming path, read pays the collapse
    until compaction catches up — at 1000-executor scale the delta collapse
    is one window over the (small) recent-change set and the base stays
    partition-pruned.

    Crash + concurrency protocol: SNAPSHOT-POINTER over immutable versioned
    directories (``versioned.VersionedRoot``; r12 verdict #1 — the previous
    rename dance invalidated the file paths a LAZY reader resolved before
    the swap). Base and delta live in ``base_v{K}`` / ``delta_v{J}`` dirs
    and the registry (_schema.json) points at the current pair.
    Compaction writes ``base_v{K+1}`` from the reconstructed state, flips
    the pointer (which also rotates the folded delta version), then sweeps
    stale dirs KEEPING version N-1 of both kinds, so a scan that resolved
    the previous pointer finishes green. Writers serialize on the
    per-table flock; readers never take it. Reference semantics anchor:
    HBase readers are never failed by a flush/compaction
    (HbaseApplier.scala:94).

    Effectively-once is preserved: a replayed micro-batch appends a
    DUPLICATE delta at a higher seq, and last-image-wins collapse makes the
    reconstructed state identical (file-level duplication is garbage the
    next compaction drops).
    """

    MULTI_ACTION_MERGE = False
    SEQ_COL = "_lsm_seq"

    def __init__(self, base_dir: str, n_buckets: int = 32, compact_every: int = 64):
        super().__init__(base_dir, n_buckets=n_buckets)
        self.compact_every = compact_every

    # --- versioned-pointer registry ------------------------------------------
    def _pointer_doc(self, name: str) -> dict:
        """The table's pointer doc, ``{}`` for a table not written yet.
        Every write of this store records ``delta_version``; a non-empty doc
        without it is the rewrite store's ``_schema.json``, whose bucket
        dirs sit outside any version dir. Such a table is refused rather
        than read as empty or overwritten."""
        doc = self._doc(name)
        if doc and "delta_version" not in doc:
            raise ValueError(
                f"table {name!r} under {self.base_dir} has no version pointer "
                f"in {SCHEMA_FILE}: it was written by the rewrite store "
                f"(ParquetKeyedStore) and cannot be opened as a log-structured "
                f"store"
            )
        return doc

    def _ver_path(self, name: str, kind: str, ver: int) -> str:
        return self._versions(name).path(kind, ver)

    # --- delta bookkeeping --------------------------------------------------
    def _delta_path(self, name: str, doc: dict | None = None) -> str:
        doc = self._doc(name) if doc is None else doc
        return self._ver_path(name, "delta", int(doc.get("delta_version", 0)))

    def _delta_seqs(self, name: str, doc: dict | None = None) -> list[int]:
        try:
            entries = os.listdir(self._delta_path(name, doc))
        except OSError:
            return []
        seqs = []
        for e in entries:
            if e.startswith(f"{self.SEQ_COL}="):
                tail = e.split("=", 1)[1]
                if tail.isdigit():
                    seqs.append(int(tail))
        return sorted(seqs)

    def _has_delta_files(self, name: str, doc: dict | None = None) -> bool:
        return self._dir_has_parquet(self._delta_path(name, doc))

    def _sweep(self, spark: SparkSession, name: str, doc: dict, on_drop=None) -> None:
        """Drop the version dirs outside the one-flip retirement window of
        the pointer ``doc`` (see VersionedRoot.sweep)."""
        self._versions(name).sweep(
            {"base": doc.get("base_version"), "delta": int(doc.get("delta_version", 0))},
            on_drop,
        )

    # --- write path ---------------------------------------------------------
    def overwrite(self, spark: SparkSession, name: str, df: DataFrame, pk_cols: list[str]) -> None:
        """Full (re)load — a fresh base version + pointer flip. Deltas
        accumulated before the snapshot are retired in the same flip (their
        stale actions must not replay over the fresh base — the bucketed
        sibling's posture; the old layout got this implicitly because the
        static overwrite wiped the whole table dir). Files linger one flip
        as the reader-retirement window, then the sweep drops them."""
        versions = self._versions(name)
        with versions.lock():
            doc = self._pointer_doc(name)
            prev_base = doc.get("base_version")
            new_ver = (int(prev_base) if prev_base is not None else -1) + 1
            staged = df.withColumn(BUCKET_COL, self._bucket(pk_cols)).repartition(BUCKET_COL)
            staged.write.partitionBy(BUCKET_COL).mode("overwrite").parquet(
                versions.path("base", new_ver)
            )
            rotate = 1 if self._has_delta_files(name, doc) else 0
            doc = versions.update(
                doc,
                schema=staged.schema.jsonValue(),
                pk_cols=list(pk_cols),
                base_version=new_ver,
                delta_version=int(doc.get("delta_version", 0)) + rotate,
            )
            self._sweep(spark, name, doc)

    def merge_actions(
        self,
        spark: SparkSession,
        name: str,
        final: DataFrame,
        sink_cols: list[str],
        pk_cols: list[str],
    ) -> None:
        actions = final.select(*sink_cols, KIND_COL)
        # The append runs UNDER the per-table flock (same posture the
        # bucketed sibling adopted for ADVICE r11): the delta seq is picked
        # from a directory listing and the registry is read-modify-written —
        # without the lock two concurrent appends can pick the SAME seq (one
        # delta dir overwrites the other) or clobber a racing compact()'s
        # fresh pointer flip with a stale base/delta version. The flock is
        # not re-entrant, so the compaction trigger is evaluated outside the
        # lock (compact() takes the same flock and re-checks under it).
        versions = self._versions(name)
        with versions.lock():
            doc = self._pointer_doc(name)
            seqs = self._delta_seqs(name, doc)
            n = (seqs[-1] + 1) if seqs else 0
            out = os.path.join(self._delta_path(name, doc), f"{self.SEQ_COL}={n}")
            # overwrite into the delta's OWN fresh subdir: a crashed write
            # leaves only an uncommitted _temporary dir (invisible to
            # readers) and the replayed batch lands at the next seq
            actions.write.mode("overwrite").parquet(out)
            versions.update(
                doc,
                schema=self._widened_schema(actions, doc).jsonValue(),
                pk_cols=list(pk_cols),
                base_version=doc.get("base_version"),
                delta_version=int(doc.get("delta_version", 0)),
            )
            n_deltas = len(seqs) + 1
        if n_deltas >= self.compact_every:
            self.compact(spark, name)

    @staticmethod
    def _widened_schema(actions: DataFrame, doc: dict) -> T.StructType:
        """Registry schema after appending ``actions``: the SINK schema (no
        _kind: that column exists only inside delta files; leaking it into
        the registry would make base reads surface a phantom null column)
        UNIONED with whatever ``doc`` already recorded. If a source stops
        sending a column, overwriting with only the current batch's
        (narrower) schema would silently null that column on base reads and
        the next compact() would drop it permanently — the rewrite store
        preserves dropped columns via unionByName(allowMissingColumns=True),
        and this is the LSM analog (ADVICE r7)."""
        new_schema = actions.drop(KIND_COL).schema
        if not doc.get("schema"):
            return new_schema
        skip = {*new_schema.names, BUCKET_COL, KIND_COL}
        prev = T.StructType.fromJson(doc["schema"])
        return T.StructType(new_schema.fields + [f for f in prev.fields if f.name not in skip])

    def merge(
        self,
        spark: SparkSession,
        name: str,
        upserts: DataFrame,
        delete_keys: DataFrame,
        pk_cols: list[str],
    ) -> None:
        """Split-API compatibility: fold upserts + deletes into one action
        frame (upsert wins over a same-batch delete of the same key, the
        rewrite store's MERGE semantics) and append it."""
        sink_cols = [c for c in upserts.columns]
        padded = delete_keys.select(
            *[
                F.col(c) if c in delete_keys.columns else F.lit(None).alias(c)
                for c in sink_cols
            ]
        )
        final = upserts.withColumn(KIND_COL, F.lit("upsert")).unionByName(
            padded.withColumn(KIND_COL, F.lit("delete"))
        )
        # same-key upsert+delete in ONE call: keep the upsert (MERGE parity)
        w = Window.partitionBy(*pk_cols).orderBy(F.desc(F.col(KIND_COL) == "upsert"))
        final = (
            final.withColumn("_mrn", F.row_number().over(w))
            .filter(F.col("_mrn") == 1)
            .drop("_mrn")
        )
        self.merge_actions(spark, name, final, sink_cols, pk_cols)

    # --- read path ----------------------------------------------------------
    def exists(self, name: str) -> bool:
        doc = self._pointer_doc(name)
        return doc.get("base_version") is not None or self._has_delta_files(name, doc)

    def read(self, spark: SparkSession, name: str) -> DataFrame | None:
        return self._read_state(spark, name)

    def _read_base(self, spark: SparkSession, name: str, doc: dict) -> DataFrame | None:
        """The given pointer's base frame (bucket column dropped), or None
        when no base version exists or its dir holds no data files (an
        empty compacted state writes only _SUCCESS). The schema comes from
        the SAME doc snapshot as the version — never a re-read of the
        registry file: a concurrent compact/overwrite may have flipped the
        pointer between the caller's load and this call, and pairing the
        NEW schema with the OLD version's files would silently null columns
        the old files don't carry (or drop renamed ones) during exactly the
        retirement window the protocol promises is consistent."""
        bv = doc.get("base_version")
        if bv is None:
            return None
        path = self._ver_path(name, "base", int(bv))
        if not self._dir_has_parquet(path):
            return None
        try:
            schema = T.StructType.fromJson(doc["schema"]) if doc.get("schema") else None
        except ValueError:
            schema = None
        reader = (
            spark.read.schema(schema)
            if schema is not None
            else spark.read.option("mergeSchema", "true")
        )
        return reader.parquet(path).drop(BUCKET_COL)

    def _read_state(self, spark: SparkSession, name: str) -> DataFrame | None:
        """State reconstruction off ONE registry load: base and delta
        versions come from the same pointer document, so the pair is
        consistent even while a concurrent compaction flips the pointer —
        and the version dirs it names are immutable, retained at least one
        further flip (the reader-retirement window)."""
        doc = self._pointer_doc(name)
        base = self._read_base(spark, name, doc)
        if not self._has_delta_files(name, doc):
            return base
        pk_cols = doc.get("pk_cols")
        if pk_cols is None:
            raise ValueError(
                f"log-structured table {name!r} has deltas but no recorded "
                f"pk_cols in {SCHEMA_FILE} — cannot reconstruct state"
            )
        deltas = spark.read.option("mergeSchema", "true").parquet(
            self._delta_path(name, doc)
        )
        w = Window.partitionBy(*pk_cols).orderBy(
            F.desc(self.SEQ_COL), F.desc(F.col(KIND_COL) == "upsert")
        )
        last = (
            deltas.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", self.SEQ_COL)
        )
        live = last.filter(F.col(KIND_COL) == "upsert").drop(KIND_COL)
        if base is None:
            return live
        changed = last.select(*pk_cols)
        kept = base.join(F.broadcast(changed), pk_cols, "left_anti")
        return kept.unionByName(live, allowMissingColumns=True)

    # --- compaction ---------------------------------------------------------
    def compact(self, spark: SparkSession, name: str) -> bool:
        """Fold all deltas into a NEW bucketed base version and flip the
        pointer (the LSM major compaction). flock-guarded so concurrent
        writers serialize; readers are never blocked or failed — the old
        base/delta dirs survive one more flip. Returns True if a
        compaction ran. Crash safety: a base_v{K+1} written but never
        flipped is overwritten by the retry (same version number recomputed
        from the unmoved pointer) or swept as an orphan."""
        versions = self._versions(name)
        with versions.lock():
            doc = self._pointer_doc(name)
            if not self._has_delta_files(name, doc):
                return False
            pk_cols = doc.get("pk_cols")
            state = self._read_state(spark, name)
            prev_base = doc.get("base_version")
            new_ver = (int(prev_base) if prev_base is not None else -1) + 1
            # The partition count is pinned to n_buckets explicitly:
            # compaction often fires from inside the kernel's small-batch
            # regime (4 shuffle partitions, AQE off) and must not inherit
            # that sizing for a full-table rewrite — one task per bucket,
            # whatever the session conf says.
            staged_df = state.withColumn(BUCKET_COL, self._bucket(pk_cols))
            (
                staged_df.repartition(self.n_buckets, BUCKET_COL)
                .write.partitionBy(BUCKET_COL)
                .mode("overwrite")
                .parquet(versions.path("base", new_ver))
            )
            # Registry schema comes from the staged FRAME, never a read-back
            # of the new base dir: when the reconstructed state is EMPTY (a
            # fully-deleted table), partitionBy writes zero data files — only
            # _SUCCESS — and spark.read.parquet would throw
            # UNABLE_TO_INFER_SCHEMA. Auto-compaction fires from
            # merge_actions every compact_every deltas, so that crash turned
            # a delete-all table into a stuck, forever-retrying micro-batch
            # (r11 verdict).
            doc = versions.update(
                doc,
                schema=staged_df.schema.jsonValue(),
                pk_cols=list(pk_cols),
                base_version=new_ver,
                delta_version=int(doc.get("delta_version", 0)) + 1,
            )
            self._sweep(spark, name, doc)
            return True


class BucketedLogStructuredKeyedStore(LogStructuredKeyedStore):
    """LSM store whose base AND delta are Spark BUCKETED CATALOG TABLES
    clustered by the PK columns — the r10 `join_bucketed_colocated` trade
    ("pay layout once, join forever") applied to the CDC read path
    (r10 verdict #4). Reference parity: HBase's region-sharded store IS
    this layout — every read and compaction works region-by-region with no
    cross-region data movement (HbaseApplier.scala:210-217 builds the
    rowkey exactly so rows land in PK-contiguous regions).

    What it buys over ``LogStructuredKeyedStore``: merge-on-read state
    reconstruction is EXCHANGE-FREE. The last-action window over the
    deltas runs straight off the bucketed scan (HashPartitioning(pk)
    satisfies the window's distribution — only a within-partition sort
    remains), and the base anti-join is a co-partitioned SortMergeJoin
    instead of a broadcast: at backfill scale, where the changed-key set
    outgrows any broadcast threshold, the parent store would re-shuffle
    the ENTIRE base on pk — here neither side moves (plan-gated in
    tests/test_lsm_store.py).

    Crash protocol: the parent's snapshot pointer (the mini Iceberg/Delta
    trade): ``base_v{K}``/``delta_v{J}`` dirs behind the registry, one
    pointer flip per compaction (which also retires the folded delta
    version), and a sweep that keeps version N-1 of both kinds for readers
    that resolved the previous pointer; the sweep also drops the swept
    versions' catalog entries.

    Delta appends carry a monotone ``_lsm_seq`` column from the registry's
    ``next_seq`` counter (bumped AFTER the append commits). A crash
    between append and bump makes the REPLAYED batch reuse the seq —
    harmless: the replay appends byte-identical rows, and last-wins
    collapse over identical rows is identical. Like the parent (whose seq
    comes from a directory listing), concurrent WRITERS on one table are
    serialized by the streaming engine, not this class.

    Catalog notes: table names are keyed by (store dir, table, version) so
    stores never collide; a FRESH session re-registers the current
    versions over the existing files with ``CREATE TABLE … CLUSTERED BY …
    LOCATION`` (bucket ids live in the file names Spark wrote, so the
    bucketing contract survives the catalog loss). Schema widening (a CDC
    ADD COLUMN) can't append to a bucketed table — the store compacts
    first (folding the old-schema deltas into the base) and the rotated
    delta version starts with the widened schema; reads union
    allowMissingColumns as everywhere else in the engine.
    """

    def __init__(self, base_dir: str, n_buckets: int = 32, compact_every: int = 64):
        super().__init__(base_dir, n_buckets=n_buckets, compact_every=compact_every)
        import hashlib

        self._digest = hashlib.md5(
            os.path.abspath(base_dir).encode("utf-8")
        ).hexdigest()[:8]

    # --- catalog plumbing ----------------------------------------------------
    # (_doc/_versions/_ver_path are the parent's pointer machinery)
    def _safe(self, name: str) -> str:
        return "".join(c if c.isalnum() else "_" for c in name)

    def _cat_name(self, name: str, kind: str, ver: int) -> str:
        return f"lsm_{self._digest}_{self._safe(name)}_{kind}_v{ver}"

    @staticmethod
    def _ddl_cols(schema: T.StructType) -> str:
        return ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )

    def _bucket_count(self, name: str, doc: dict) -> int:
        """The table's PERSISTED bucket count — the instance's
        ``n_buckets`` only seeds the FIRST write. A store reopened with a
        different constructor value (config drift, changed default) must
        keep declaring and writing the count the files were laid out with:
        re-registering 32-bucket files as INTO 16 BUCKETS makes Spark skip
        the exchange and silently match rows across wrong buckets. Takes
        the already-loaded registry doc — every caller holds one; the
        hot-path merge must not re-parse _schema.json per lookup."""
        return int(doc.get("n_buckets") or self.n_buckets)

    def _ensure_registered(
        self,
        spark: SparkSession,
        name: str,
        kind: str,
        ver: int,
        schema: T.StructType,
        pk_cols: list[str],
        n_buckets: int | None = None,
    ) -> tuple[str, bool]:
        """Idempotently (re)register the catalog entry for an EXISTING
        versioned table dir — the fresh-session path. Bucket ids are
        parsed from the Spark-written file names, so an external CREATE
        over the same files preserves the no-exchange contract. Returns
        (catalog name, created_now) so callers can skip a redundant
        refresh right after a CREATE (which already lists fresh)."""
        cat = self._cat_name(name, kind, ver)
        if spark.catalog.tableExists(cat):
            return cat, False
        n = n_buckets if n_buckets is not None else self._bucket_count(name, self._doc(name))
        pks = ", ".join(f"`{c}`" for c in pk_cols)
        spark.sql(
            f"CREATE TABLE {cat} ({self._ddl_cols(schema)}) USING parquet "
            f"CLUSTERED BY ({pks}) SORTED BY ({pks}) "
            f"INTO {n} BUCKETS "
            f"LOCATION '{self._ver_path(name, kind, ver)}'"
        )
        return cat, True

    def _write_bucketed(
        self,
        df: DataFrame,
        name: str,
        kind: str,
        ver: int,
        pk_cols: list[str],
        mode: str,
        n_buckets: int | None = None,
    ) -> str:
        cat = self._cat_name(name, kind, ver)
        n = n_buckets if n_buckets is not None else self._bucket_count(name, self._doc(name))
        (
            df.write.mode(mode)
            .format("parquet")
            .bucketBy(n, *pk_cols)
            .sortBy(*pk_cols)
            .option("path", self._ver_path(name, kind, ver))
            .saveAsTable(cat)
        )
        return cat

    def _flip_pointer(
        self,
        name: str,
        doc: dict,
        schema_json: dict,
        pk_cols: list[str],
        new_base_ver: int,
    ) -> dict:
        """The ONE atomic pointer flip shared by overwrite() and compact():
        new base in; the current delta version retired (rotated) IF it has
        files, so its stale rows never replay over the new base; next_seq
        carried, folded_seq caught up. A delta-less flip does not burn a
        delta version (the sequence stays gap-free for the crash-protocol
        reader). Returns the new doc."""
        rotate = 1 if doc.get("delta_cols") is not None else 0
        return self._versions(name).update(
            doc,
            schema=schema_json,
            pk_cols=list(pk_cols),
            bucketed=True,
            n_buckets=self._bucket_count(name, doc),
            base_version=new_base_ver,
            delta_version=int(doc.get("delta_version", 0)) + rotate,
            delta_cols=None,
            delta_schema=None,
            next_seq=int(doc.get("next_seq", 0)),
            folded_seq=int(doc.get("next_seq", 0)),
        )

    # --- write path ----------------------------------------------------------
    def overwrite(self, spark: SparkSession, name: str, df: DataFrame, pk_cols: list[str]) -> None:
        """Initial snapshot / full reload: a fresh base version + pointer
        flip (the parent's dynamic-partition machinery never runs here).
        A full (re)load REPLACES state, so any deltas accumulated before
        the snapshot are retired in the same pointer flip — the registry
        stops referencing them immediately; their files linger one flip
        as the reader retirement window, then the sweep drops them.
        (Without the retirement, a post-reload read replayed pre-snapshot
        deletes/upserts over the fresh base.) base_version may be None
        for a store that started life delta-only — same guard as
        compact(). Holds the same per-table flock as compact(): a full
        reload racing a streaming-triggered compaction would otherwise
        interleave two read-modify-write flips over one version dir."""
        with self._versions(name).lock():
            doc = self._pointer_doc(name)
            prev_base = doc.get("base_version")
            new_ver = (int(prev_base) if prev_base is not None else -1) + 1
            self._write_bucketed(
                df, name, "base", new_ver, pk_cols, "overwrite",
                n_buckets=self._bucket_count(name, doc),
            )
            doc = self._flip_pointer(name, doc, df.schema.jsonValue(), pk_cols, new_ver)
            self._sweep(spark, name, doc)

    def merge_actions(
        self,
        spark: SparkSession,
        name: str,
        final: DataFrame,
        sink_cols: list[str],
        pk_cols: list[str],
    ) -> None:
        """Delta append. Runs UNDER the per-table flock (ADVICE r11): the
        append is a read-modify-write of the registry (doc at entry,
        the pointer update at the end), so without the lock an append racing a
        locked overwrite()/compact() pointer flip — the exact cross-process
        scenario the overwrite lock exists for — could clobber the fresh
        pointer with its stale base_version/delta_cols/delta_version. The
        flock is NOT re-entrant, so the two compact() calls (schema-change
        fold, compact_every trigger) happen OUTSIDE the locked region; the
        schema-change path re-enters the lock and re-reads the doc after
        folding, so the decision is always made against a current pointer."""
        actions = final.select(*sink_cols, KIND_COL)
        delta_cols_now = [*sink_cols, KIND_COL, self.SEQ_COL]
        while True:
            with self._versions(name).lock():
                doc = self._pointer_doc(name)
                prev_delta_cols = doc.get("delta_cols")
                if prev_delta_cols is None or prev_delta_cols == delta_cols_now:
                    next_seq, folded_seq = self._append_actions_locked(
                        spark, name, actions, pk_cols, delta_cols_now, doc
                    )
                    break
            # bucketed tables refuse mixed schemas: fold the old-schema
            # deltas into the base (rotating the delta version) — outside
            # the lock, since compact() takes the same flock — then retry
            # the append; post-fold delta_cols is None, so the retry lands
            self.compact(spark, name)
        if next_seq - folded_seq >= self.compact_every:
            self.compact(spark, name)

    def _append_actions_locked(
        self,
        spark: SparkSession,
        name: str,
        actions: DataFrame,
        pk_cols: list[str],
        delta_cols_now: list[str],
        doc: dict,
    ) -> tuple[int, int]:
        """The flock-held core of merge_actions: append one seq-stamped
        delta and commit the registry in the same critical section.
        Returns (next_seq, folded_seq) so the caller can evaluate the
        compaction trigger after releasing the lock."""
        seq = int(doc.get("next_seq", 0))
        delta_ver = int(doc.get("delta_version", 0))
        n_bkts = self._bucket_count(name, doc)
        if doc.get("delta_cols") is not None:
            # current delta version has files: make sure this session's
            # catalog knows it before appending
            self._ensure_registered(
                spark,
                name,
                "delta",
                delta_ver,
                T.StructType.fromJson(doc["delta_schema"]),
                pk_cols,
                n_buckets=n_bkts,
            )
        staged = actions.withColumn(self.SEQ_COL, F.lit(seq))
        self._write_bucketed(
            staged, name, "delta", delta_ver, pk_cols, "append", n_buckets=n_bkts
        )
        folded_seq = int(doc.get("folded_seq", 0))
        self._versions(name).update(
            doc,
            schema=self._widened_schema(actions, doc).jsonValue(),
            pk_cols=list(pk_cols),
            bucketed=True,
            n_buckets=n_bkts,
            base_version=doc.get("base_version"),
            delta_version=delta_ver,
            delta_cols=delta_cols_now,
            delta_schema=staged.schema.jsonValue(),
            next_seq=seq + 1,
            folded_seq=folded_seq,
        )
        return seq + 1, folded_seq

    # --- read path -----------------------------------------------------------
    def exists(self, name: str) -> bool:
        doc = self._pointer_doc(name)
        return doc.get("base_version") is not None or doc.get("delta_cols") is not None

    def read(self, spark: SparkSession, name: str) -> DataFrame | None:
        return self._read_state(spark, name)

    def _read_state(self, spark: SparkSession, name: str) -> DataFrame | None:
        doc = self._pointer_doc(name)
        pk_cols = doc.get("pk_cols")
        base = None
        if doc.get("base_version") is not None:
            base_ver = int(doc["base_version"])
            cat = self._cat_name(name, "base", base_ver)
            if not spark.catalog.tableExists(cat):
                # the base may have been written at an older, narrower
                # schema than the registry's merged one: register with the
                # columns actually in its files (one footer read, fresh
                # sessions only)
                file_schema = spark.read.parquet(
                    self._ver_path(name, "base", base_ver)
                ).schema
                self._ensure_registered(
                    spark, name, "base", base_ver, file_schema, pk_cols,
                    n_buckets=self._bucket_count(name, doc),
                )
            # NO refresh on an already-registered base (ADVICE r11): a base
            # version dir is immutable once the pointer flips — every write
            # lands in a NEW versioned dir (and the crash-retry overwrite of
            # a never-flipped version goes through saveAsTable-overwrite,
            # which re-lists its own entry) — so a per-read refreshTable was
            # a file re-listing with no staleness it could fix. Only the
            # delta refresh below is justified: deltas really do grow.
            base = spark.table(cat)
        if doc.get("delta_cols") is None:
            return base
        cat_d, created_now = self._ensure_registered(
            spark,
            name,
            "delta",
            int(doc.get("delta_version", 0)),
            T.StructType.fromJson(doc["delta_schema"]),
            pk_cols,
            n_buckets=self._bucket_count(name, doc),
        )
        if not created_now:
            # refresh: appends may have come through ANOTHER session
            # sharing this catalog — notably Structured Streaming's
            # foreachBatch, which writes via a CLONED session whose append
            # invalidates the clone's relation cache, not this one's.
            # Without the refresh a read here serves the stale pre-append
            # file listing (caught by tests/test_streaming.py::
            # test_stream_through_bucketed_store). One file listing per
            # read; the parent store pays the same by construction
            # (spark.read.parquet lists fresh every time). A just-CREATEd
            # entry already lists fresh — skip the double listing.
            spark.catalog.refreshTable(cat_d)
        deltas = spark.table(cat_d)
        w = Window.partitionBy(*pk_cols).orderBy(
            F.desc(self.SEQ_COL), F.desc(F.col(KIND_COL) == "upsert")
        )
        last = (
            deltas.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", self.SEQ_COL)
        )
        live = last.filter(F.col(KIND_COL) == "upsert").drop(KIND_COL)
        if base is None:
            return live
        changed = last.select(*pk_cols)
        # NO broadcast hint (vs the parent): both sides read co-partitioned
        # off their bucketed scans, so the anti-join is an exchange-free
        # SortMergeJoin at ANY delta size — the backfill-regime win
        kept = base.join(changed, pk_cols, "left_anti")
        return kept.unionByName(live, allowMissingColumns=True)

    # --- compaction ----------------------------------------------------------
    def compact(self, spark: SparkSession, name: str) -> bool:
        with self._versions(name).lock():
            doc = self._pointer_doc(name)
            if doc.get("delta_cols") is None:
                return False
            pk_cols = doc.get("pk_cols")
            state = self._read_state(spark, name)
            new_ver = int(doc.get("base_version", -1) if doc.get("base_version") is not None else -1) + 1
            self._write_bucketed(
                state, name, "base", new_ver, pk_cols, "overwrite",
                n_buckets=self._bucket_count(name, doc),
            )
            schema = spark.table(self._cat_name(name, "base", new_ver)).schema
            # ONE atomic pointer flip: new base in, folded delta version
            # retired, next delta version armed empty
            doc = self._flip_pointer(name, doc, schema.jsonValue(), pk_cols, new_ver)
            self._sweep(spark, name, doc)
            return True

    def _sweep(self, spark: SparkSession, name: str, doc: dict, on_drop=None) -> None:
        """The parent's sweep, dropping each swept version's CATALOG entry
        before its dir."""
        super()._sweep(
            spark,
            name,
            doc,
            lambda kind, ver: spark.sql("DROP TABLE IF EXISTS " + self._cat_name(name, kind, ver)),
        )


# --- selectable store kinds --------------------------------------------------
# The streaming pipeline (and any embedding app) selects its keyed store by
# name — the production trade is a config choice, not a code change:
#   rewrite  — ParquetKeyedStore: eager bucket rewrite per batch (read-optimal)
#   lsm      — LogStructuredKeyedStore: delta append + merge-on-read
#   bucketed — BucketedLogStructuredKeyedStore: LSM over bucketed CATALOG
#              tables (exchange-free merge-on-read, snapshot-pointer flips)
STORE_KINDS: dict[str, type[ParquetKeyedStore]] = {
    "rewrite": ParquetKeyedStore,
    "lsm": LogStructuredKeyedStore,
    "bucketed": BucketedLogStructuredKeyedStore,
}


def make_store(
    kind: str,
    base_dir: str,
    n_buckets: int = 32,
    compact_every: int = 64,
) -> ParquetKeyedStore:
    """Construct a keyed store by kind name (see STORE_KINDS)."""
    try:
        cls = STORE_KINDS[kind]
    except KeyError:
        raise ValueError(
            f"unknown store kind {kind!r}; expected one of {sorted(STORE_KINDS)}"
        ) from None
    if cls is ParquetKeyedStore:
        return cls(base_dir, n_buckets=n_buckets)
    return cls(base_dir, n_buckets=n_buckets, compact_every=compact_every)
