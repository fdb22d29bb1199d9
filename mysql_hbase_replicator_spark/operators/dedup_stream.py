"""Incremental (streaming) near-dedup (SURVEY.md §2.11 EXT, streaming form).

The batch MinHash-LSH query (operators/dedup.py) answers "which pairs in this
corpus are near-dups". An ingest pipeline needs the ONLINE form: documents
arrive in batches; each batch must be deduped against everything admitted so
far AND within itself, and the survivors join the index. The LSH band table
is exactly that index: admitting a doc = appending its N_BANDS
(band_idx, band_hash) rows; screening a batch = one equi-join against the
table. No signatures are recomputed for old docs, no all-pairs anything —
per batch the cost is O(batch × bands) join against an ever-growing but
key-partitioned table, the only shape that holds up at 100 TB of accumulated
corpus.

Decision rule: a new doc sharing ANY band with an admitted doc (or with an
earlier-by-id doc in the same batch) is rejected. That is LSH-level
near-dup screening (the 8×4 banding targets jaccard ≳ 0.5). With
``rerank_threshold`` set, band collisions become CANDIDATES instead of
verdicts: each (doc, prior) candidate pair is re-ranked with exact Jaccard
over stored per-doc shingle hashes and the doc is rejected only when some
pair reaches the threshold — band-collision false positives are admitted.
The prior side is "earlier-by-id or already-indexed" regardless of the
prior's own admission (same closure as the band-level rule). Cost is
O(candidate pairs × shingles/doc) in equi-joins on the 60-bit h0 key —
still no all-pairs product.

Used inside foreachBatch (the CDC pipeline pattern) or called directly on
batch DataFrames, as in the tests.

Index maintenance: each store is a ``versioned.VersionedRoot`` — rows in
``<root>/index_v<K>`` behind a pointer doc — and each admitted batch appends
a few small parquet files into the current version. When a directory's file
count would exceed ``max_files``, the current version plus the batch is
rewritten into ``n_compact_partitions`` key-partitioned files as
``index_v<K+1>`` and the pointer flips; ``index_v<K>`` survives one more
flip, so a reader holding it finishes its scan, and a crash before the flip
leaves the pointer on it. Screening results are unaffected: compaction only
reorganizes rows.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_hbase_replicator_spark.operators.dedup import band_hashes, hashed_shingles
from mysql_hbase_replicator_spark.operators.versioned import POINTER_DOC, VersionedRoot
from mysql_hbase_replicator_spark.plans.registry import query


class _CompactingIndexBase:
    """The persistent-parquet-index scaffold shared by the incremental
    dedupers: appends into a store's current version, and one rewrite body
    (``_rewrite``) for the ``max_files`` breach and ``compact()``. The live
    version is never renamed under a reader; nothing needs recovery."""

    KIND = "index"

    spark: SparkSession
    index_dir: str
    max_files: int
    n_compact_partitions: int

    def _parquet_files(self, root: str) -> list[str]:
        if not os.path.isdir(root):
            return []
        return [
            os.path.join(d, f)
            for d, _s, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        ]

    def _store(self, root: str) -> tuple[VersionedRoot, dict]:
        """The store at ``root`` and its pointer doc (``{}`` before the first
        write). A root with parquet files but no pointer doc has the
        unversioned layout; read as empty it would re-admit every document,
        so it is refused (checked only when the doc is empty)."""
        versions = VersionedRoot(root)
        doc = versions.doc()
        if not doc and self._parquet_files(root):
            raise ValueError(
                f"dedup index {root} holds parquet files but no pointer doc "
                f"({POINTER_DOC}): it was written by the unversioned index "
                f"layout; rebuild the index into a fresh directory"
            )
        return versions, doc

    def _live_dir(self, root: str) -> str:
        """The current version dir of the store at ``root`` (``index_v0``,
        possibly not yet written, before the first write)."""
        versions, doc = self._store(root)
        return versions.path(self.KIND, int(doc.get(self.KIND, 0)))

    def _data_files(self) -> list[str]:
        return self._parquet_files(self._live_dir(self.index_dir))

    def _dir_counts(self, root: str) -> dict[str, int]:
        counts: dict[str, int] = {}
        for f in self._parquet_files(root):
            d = os.path.dirname(f)
            counts[d] = counts.get(d, 0) + 1
        return counts

    def _predicted_compaction(self, root: str, touched) -> bool:
        """Would the store version at ``root`` exceed ``max_files`` files in
        some directory AFTER appending this batch? Per directory, because a
        hive store's floor is one file per occupied dir (r16 review).
        Decided BEFORE the append so the
        append+compact write pair can collapse into one staged rewrite
        (r17, guide §2.6 — the drains' per-trigger floor is driver/job
        latency, and the oracle rows compact after every append by
        design, paying two write jobs plus an extra full-store read per
        store per batch).

        ``touched`` names the directories the append will add one file to
        (dir-aligned hive appends write exactly one file per touched
        partition dir): a list of ``col=val`` dir names, ``True`` for
        "assume every occupied dir is touched" (callers without a
        driver-side touched list), or None/[] to only rewrite when some
        dir is ALREADY over. Under-prediction (a flat-store append can
        add more than one file) merely delays the rewrite to the next
        trigger — max_files is a file-count performance bound, never a
        screening-semantics input."""
        counts = self._dir_counts(root)
        if counts and max(counts.values()) > self.max_files:
            return True
        if touched is True:
            return bool(counts) and max(counts.values()) + 1 > self.max_files
        for d in touched or []:
            if counts.get(os.path.join(root, d), 0) + 1 > self.max_files:
                return True
        return False

    def _append_or_rewrite(
        self,
        root: str,
        new_rows: DataFrame,
        partition_cols: list[str],
        dedupe: bool = False,
        dir_partition_by: list[str] | None = None,
        schema: str | None = None,
        touched=None,
    ) -> bool:
        """ONE write job per store per trigger: plain append into the
        current version while the post-append file counts stay within
        ``max_files``, otherwise ``_rewrite`` of (live ∪ new) — the union
        rewrite IS the compaction, with the batch's rows riding along
        instead of being written twice and re-read. A crash before the
        pointer flip equals a crash before the append: the batch replays
        and re-screens against the unmoved version. A store's pointer doc
        is written before its first data file. Returns True when the
        rewrite ran (callers hook the semantic occupancy alarm on it)."""
        versions, doc = self._store(root)
        if not doc:
            doc = versions.write({self.KIND: 0})
        live = versions.path(self.KIND, int(doc[self.KIND]))
        fused = bool(self._parquet_files(live)) and self._predicted_compaction(
            live, touched
        )
        if fused:
            self._rewrite(root, new_rows, partition_cols, dedupe, dir_partition_by, schema)
        elif dir_partition_by:
            # dir-aligned append: one file per touched partition dir (see
            # _rewrite's alignment note)
            new_rows.repartition(
                self.n_compact_partitions, *dir_partition_by
            ).write.mode("append").partitionBy(*dir_partition_by).parquet(live)
        else:
            new_rows.write.mode("append").parquet(live)
        return fused

    def _rewrite(
        self,
        root: str,
        new_rows: DataFrame | None,
        partition_cols: list[str],
        dedupe: bool = False,
        dir_partition_by: list[str] | None = None,
        schema: str | None = None,
    ) -> int:
        """Write the store's current version ``index_v<K>`` (plus
        ``new_rows``, when given) as ``index_v<K+1>``, flip the pointer and
        sweep. Returns the new version's file count; 0, with nothing
        written, when the store holds no data. ``dedupe`` drops
        exact-duplicate rows during the rewrite — the shingle store can
        accumulate a doc's set twice when a crash between process_batch's
        two appends is replayed (see the append-order note there); the band
        index tolerates duplicates (candidates are distinct'd) so it skips
        the shuffle. ``dir_partition_by`` writes the new version as
        DIRECTORY partitions (hive layout) so screening joins can
        partition-prune the index.

        When ``dir_partition_by`` is set the repartition MUST align with it:
        hash-partitioning on the directory column puts each hive dir's rows
        in exactly one task → one file per dir. Repartitioning on the join
        key instead (the r16 first cut) made EVERY task write a file into
        EVERY dir — n_compact_partitions × n_buckets tiny files per
        compaction (measured: 256 files and a 2× drain wall on the exact
        deduper's oracle row, which compacts after every append)."""
        versions, doc = self._store(root)
        ver = int(doc.get(self.KIND, 0))
        live = versions.path(self.KIND, ver)
        if not self._parquet_files(live):
            return 0
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        frame = reader.parquet(live)
        if new_rows is not None:
            frame = frame.unionByName(new_rows)
        if dedupe:
            frame = frame.distinct()
        writer = frame.repartition(
            self.n_compact_partitions, *(dir_partition_by or partition_cols)
        ).write.mode("overwrite")
        if dir_partition_by:
            writer = writer.partitionBy(*dir_partition_by)
        out = versions.path(self.KIND, ver + 1)
        writer.parquet(out)
        versions.write({self.KIND: ver + 1})
        versions.sweep({self.KIND: ver + 1})
        return len(self._parquet_files(out))

    def _pruned_read(
        self,
        live_dir: str,
        dir_col: str,
        vals,
        schema: str | None = None,
    ) -> DataFrame:
        """Read a hive-partitioned store statically filtered to the
        partition values appearing in ``vals`` (a single-column frame, or
        an already-collected python list — r17: callers that need the
        values driver-side anyway, for the append's touched-dir
        prediction, collect once and pass the list so the screen does not
        run a second collect job). The value list is driver-collected —
        bounded metadata (<= the bucket/cell fan-out, the same sanctioned
        class as the LSM stores' changed-bucket collect) — and the
        IN-filter plans as a PartitionFilter, so untouched directories
        are never read. Dynamic partition pruning could do this at
        runtime, but its selectivity heuristic never fires on stat-less
        checkpointed batch plans (measured r16, not assumed). One
        definition for all three dedupers' screens.

        ``schema`` (each deduper's INDEX_SCHEMA/... constant — the store
        layouts are owned by this module, so the declared schema cannot
        drift from the written one) skips the per-trigger footer-read
        schema-inference job; the drains re-open their stores several
        times per batch and the inference jobs were pure driver-side
        overhead (guide §6 / r16)."""
        if isinstance(vals, DataFrame):
            keys = [r[0] for r in vals.distinct().collect()]
        else:
            keys = list(vals)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(live_dir).filter(F.col(dir_col).isin(keys))


class IncrementalDeduper(_CompactingIndexBase):
    """Persistent LSH band index + batch screening + compaction.

    ``rerank_threshold=None`` (default) rejects on any band collision;
    a float in (0, 1] enables the exact-Jaccard re-rank, which also
    persists per-doc shingle hashes beside the band index — stored as
    sbucket= directory partitions (doc_id % SHINGLE_BUCKETS) so the
    per-batch Jaccard verification reads only candidate buckets.
    """

    # shingle-store partition fan-out: enough dirs that a batch touching
    # few priors prunes most of the store, few enough that the partition
    # count stays trivial
    SHINGLE_BUCKETS = 64

    # store layouts are owned by this class (band_hashes / hashed_shingles
    # output types), declared so every per-trigger read skips the
    # footer-read schema-inference job (r16)
    INDEX_SCHEMA = "doc_id long, band_idx int, band_hash long"
    SHINGLE_SCHEMA = "doc_id long, h0 long, sbucket int"

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        max_files: int = 64,
        n_compact_partitions: int = 8,
        rerank_threshold: float | None = None,
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.shingle_dir = index_dir + ".shingles"
        self.max_files = max_files
        self.n_compact_partitions = n_compact_partitions
        self.rerank_threshold = rerank_threshold

    def compact(self) -> int:
        """Rewrite the index (and, in re-rank mode, the shingle store) into
        n_compact_partitions join-aligned files each. Returns the resulting
        band-index file count."""
        n = self._rewrite(
            self.index_dir, None, ["band_idx", "band_hash"], schema=self.INDEX_SCHEMA
        )
        if self.rerank_threshold is not None:
            self._rewrite(
                self.shingle_dir, None, ["doc_id"], dedupe=True,
                dir_partition_by=["sbucket"], schema=self.SHINGLE_SCHEMA,
            )
        return n

    def _index(self) -> DataFrame | None:
        live = self._live_dir(self.index_dir)
        if not self._parquet_files(live):
            return None
        return self.spark.read.schema(self.INDEX_SCHEMA).parquet(live)

    def _rejected(self, bands: DataFrame, hashed: DataFrame) -> DataFrame:
        """The (doc_id) rows to reject for this batch — band-level verdicts,
        or Jaccard-re-ranked verdicts when rerank_threshold is set."""
        other = bands.select(F.col("doc_id").alias("prior_id"), "band_idx", "band_hash")
        cand_in_batch = (
            bands.join(other, ["band_idx", "band_hash"])
            .filter(F.col("prior_id") < F.col("doc_id"))
            .select("doc_id", "prior_id")
        )
        index = self._index()
        if index is not None:
            # broadcast the BATCH side explicitly: a micro-batch is small
            # by definition, but its persisted/checkpointed plan carries no
            # size stats, so Catalyst would otherwise plan an SMJ that
            # shuffles the ENTIRE index every trigger (r16 — measured: the
            # auto-planner never broadcast it)
            cand_vs_index = F.broadcast(bands).join(
                index.select(
                    F.col("doc_id").alias("prior_id"), "band_idx", "band_hash"
                ),
                ["band_idx", "band_hash"],
            ).select("doc_id", "prior_id")
            cands = cand_in_batch.unionByName(cand_vs_index)
        else:
            cands = cand_in_batch
        if self.rerank_threshold is None:
            return cands.select("doc_id").distinct()

        # eager checkpoint: cands feeds BOTH the candidate-prior prune
        # below and the Jaccard chain's inter join — without it the whole
        # band-collision build (including the index scan) re-ran once per
        # consumer every trigger (r16 review)
        cands = cands.distinct().localCheckpoint(eager=True)
        # prior-side shingles: current batch (in-batch priors) + the store.
        # The store side drops doc_ids present in the batch FIRST: an
        # at-least-once source redelivers admitted docs, and a doc whose
        # shingles appear on both sides would have n_common and n_b doubled
        # — inflating Jaccard past the threshold for every pair involving
        # it, falsely rejecting genuine sub-threshold neighbours (r13
        # review). The batch doc-id set is small → broadcast anti-join.
        shingles = self._live_dir(self.shingle_dir)
        if not self._parquet_files(shingles):
            prior_sh = hashed
        else:
            # prune the store to CANDIDATE priors before anything touches
            # it (r16): only docs that band-collided with this batch can
            # affect the Jaccard verdicts, yet the unpruned chain scanned,
            # shuffled AND per-doc-counted the ENTIRE accumulated store
            # every trigger. Two prunes, same pattern as the semantic
            # index: a static sbucket partition filter (_pruned_read)
            # narrows the READ to candidate buckets, then a broadcast
            # semi-join narrows the rows to the candidate priors.
            cand_priors = cands.select(
                F.col("prior_id").alias("doc_id")
            ).distinct()
            pruned = (
                self._pruned_read(
                    shingles,
                    "sbucket",
                    cand_priors.select(
                        F.pmod("doc_id", F.lit(self.SHINGLE_BUCKETS))
                    ),
                    schema=self.SHINGLE_SCHEMA,
                )
                .drop("sbucket")
                .join(F.broadcast(cand_priors), "doc_id", "left_semi")
            )
            batch_ids = hashed.select("doc_id").distinct()
            prior_sh = hashed.unionByName(
                pruned.join(F.broadcast(batch_ids), "doc_id", "left_anti")
            )
        prior_sh = prior_sh.select(F.col("doc_id").alias("prior_id"), "h0")
        inter = (
            cands.join(hashed, "doc_id")
            .join(prior_sh, ["prior_id", "h0"])
            .groupBy("doc_id", "prior_id")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        n_doc = hashed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_a"))
        n_prior = prior_sh.groupBy("prior_id").agg(F.count(F.lit(1)).alias("n_b"))
        return (
            inter.join(n_doc, "doc_id")
            .join(n_prior, "prior_id")
            .filter(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
                >= F.lit(float(self.rerank_threshold))
            )
            .select("doc_id")
            .distinct()
        )

    def process_batch(self, docs: DataFrame) -> DataFrame:
        """Screen one batch of (doc_id, text) rows. Returns the admitted
        docs; their bands (and shingle hashes, in re-rank mode) are appended
        to the index. Within-batch dups keep the lowest doc_id
        (deterministic)."""
        # idle polls (empty batches) return immediately — otherwise every
        # empty trigger appends an empty parquet file to the band index
        # (and shingle store), inflating file counts and compaction churn
        # (r15 ADVICE, applied to both dedupers).
        if docs.isEmpty():
            return docs
        hashed = hashed_shingles(docs).persist()
        bands = band_hashes(hashed).persist()
        try:
            # materialize the rejected-id set NOW, distributed (eager local
            # checkpoint — no driver round-trip, no literal IN list): the
            # returned `admitted` plan must not lazily reference index files
            # that a compaction pass may rewrite before the caller collects
            dups = self._rejected(bands, hashed).localCheckpoint(eager=True)
            admitted = docs.join(dups, "doc_id", "left_anti")
            new_bands = bands.join(dups, "doc_id", "left_anti")
            # Append order matters for crash safety (r13 review): SHINGLES
            # FIRST. Bands-first left a window where a crash between the two
            # appends stored bands with no shingles — the doc then
            # band-matched ITSELF on the replay (rejected, so its shingles
            # were never stored) and every future true near-dup of it
            # band-collided into a candidate pair whose Jaccard join found
            # no prior shingles: near-dups admitted forever. Shingles-first
            # inverts the failure: the replayed doc has no bands yet, is
            # re-admitted, and completes the index — the only residue is a
            # duplicated shingle set, which briefly OVER-rejects borderline
            # neighbours (conservative) and is healed by the next
            # compaction's distinct().
            # ONE write job per store (r17): _append_or_rewrite appends
            # while file counts stay within max_files and otherwise folds
            # the batch into the compaction rewrite itself (the old path
            # wrote the append, then re-read and rewrote the whole store).
            # touched=True: neither store's touched-dir list exists
            # driver-side here, so prediction assumes every occupied dir
            # gains a file — at worst one early/late rewrite, never a
            # screening change. Each store now rewrites on its OWN
            # max_files breach instead of whenever the other store's
            # breach tripped the shared compact() — same bound per store,
            # strictly less rewriting.
            if self.rerank_threshold is not None:
                self._append_or_rewrite(
                    self.shingle_dir,
                    hashed.join(dups, "doc_id", "left_anti").withColumn(
                        "sbucket",
                        F.pmod("doc_id", F.lit(self.SHINGLE_BUCKETS)).cast("int"),
                    ),
                    ["doc_id"],
                    dedupe=True,
                    dir_partition_by=["sbucket"],
                    schema=self.SHINGLE_SCHEMA,
                    touched=True,
                )
            self._append_or_rewrite(
                self.index_dir,
                new_bands,
                ["band_idx", "band_hash"],
                schema=self.INDEX_SCHEMA,
                touched=True,
            )
            return admitted
        finally:
            bands.unpersist()
            hashed.unpersist()

class IncrementalExactDeduper(_CompactingIndexBase):
    """Persistent exact-fingerprint index — the online form of
    ``dedup_exact`` and the simplest member of the incremental family
    (band/LSH and semantic/cell variants above): a document is a duplicate
    iff its 60-bit md5 text fingerprint was already admitted, or an
    earlier-by-id batch-mate carries the same fingerprint. The index
    stores one (fp) row per admitted doc, written as fbucket= directory
    partitions (fp % FP_BUCKETS) so each screen statically prunes the read
    to the batch's touched buckets and broadcasts the batch side — the
    same O(touched-bucket occupancy) per-trigger shape as the other two.

    Redelivered docs fingerprint-match their own indexed row and are
    rejected, so an at-least-once source never double-admits. Crash
    safety: one append per batch AFTER the rejected set is eagerly
    materialized; compaction writes the next index version and flips the
    pointer (dedupe=True — a replayed append can store a fingerprint twice,
    and unlike the band index the fp store is semantically a SET)."""

    FP_BUCKETS = 64
    INDEX_SCHEMA = "fp long, fbucket int"

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        max_files: int = 64,
        n_compact_partitions: int = 8,
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.max_files = max_files
        self.n_compact_partitions = n_compact_partitions

    def compact(self) -> int:
        return self._rewrite(
            self.index_dir, None, ["fp"], dedupe=True, dir_partition_by=["fbucket"],
            schema=self.INDEX_SCHEMA,
        )

    def process_batch(self, docs: DataFrame) -> DataFrame:
        """Screen one batch of (doc_id, text) rows; returns the admitted
        docs and appends their fingerprints. Within-batch dups keep the
        lowest doc_id.

        Per-trigger job budget (r17 — the drains' wall was dominated by
        driver/job latency, not compute): ONE checkpoint of the
        fingerprints, ONE tiny collect of the touched buckets (which also
        answers the empty-batch probe, replacing the separate isEmpty
        job), ONE screening checkpoint, ONE store write (append, or the
        fused union rewrite when compaction would have followed)."""
        from mysql_hbase_replicator_spark.operators.dedup import shingle_h0

        fps = (
            docs.select("doc_id", shingle_h0(F.col("text")).alias("fp"))
            .withColumn(
                "fbucket",
                F.pmod("fp", F.lit(self.FP_BUCKETS)).cast("int"),
            )
            .localCheckpoint(eager=True)
        )
        # one metadata-sized job: the touched-bucket list drives the pruned
        # index read AND the append's compaction prediction, and an empty
        # list IS the idle-poll probe (no separate isEmpty job)
        buckets = [r[0] for r in fps.select("fbucket").distinct().collect()]
        if not buckets:
            return docs
        min_ids = fps.groupBy("fp").agg(F.min("doc_id").alias("min_id"))
        in_batch = (
            fps.join(F.broadcast(min_ids), "fp")
            .filter(F.col("doc_id") > F.col("min_id"))
            .select("doc_id")
        )
        dups = in_batch
        live = self._live_dir(self.index_dir)
        if self._parquet_files(live):
            index = self._pruned_read(
                live, "fbucket", buckets, schema=self.INDEX_SCHEMA
            )
            # inner join, batch side broadcast (BuildLeft is not supported
            # for left-semi, and the trailing distinct dedupes multi-row
            # fp matches anyway)
            vs_index = (
                F.broadcast(fps)
                .join(index.select("fp"), "fp")
                .select("doc_id")
            )
            dups = dups.unionByName(vs_index)
        dups = dups.distinct().localCheckpoint(eager=True)
        admitted = docs.join(dups, "doc_id", "left_anti")
        self._append_or_rewrite(
            self.index_dir,
            fps.join(dups, "doc_id", "left_anti").select("fp", "fbucket"),
            ["fp"],
            dedupe=True,
            dir_partition_by=["fbucket"],
            schema=self.INDEX_SCHEMA,
            touched=[f"fbucket={b}" for b in buckets],
        )
        return admitted


class IncrementalSemanticDeduper(_CompactingIndexBase):
    """Online SemDeDup: the streaming sibling of the batch
    ``dedup_semantic_clusters`` operator (operators/similarity.py), the
    embedding counterpart of the MinHash ``IncrementalDeduper`` above.

    Vectors arrive in batches; each batch must be screened against
    everything admitted so far AND against itself, and survivors join the
    index. The k-means cell plays the LSH band's role: the persistent index
    stores one (vec_id, cell, embedding, nsq) row per admitted vector,
    cell-partitioned; screening a batch = assign cells (map-only broadcast
    of the centroid table) → one cell-keyed equi-join against the index +
    one within-batch cell self-join → exact cosine at the gate. Per batch
    the cost is O(batch × cell occupancy) — never all-pairs against the
    accumulated corpus, the only shape that survives an unbounded stream.

    Centroids are trained ONCE from the first batch (its ``n_cells``
    lowest-id vectors seed one distributed Lloyd step — the same
    deterministic recipe as the batch operator) and persisted beside the
    index; production pipelines that already own centroids can pre-write
    that table. Frozen cells are what make admission decisions stable
    across the stream: re-training per batch would silently move cell
    boundaries and change who screens against whom.

    Decision rule (mirrors the batch keep-lowest-id semantics): a vector
    with cosine >= ``threshold`` to ANY indexed vector or to an
    earlier-by-id batch-mate in the SAME cell is rejected — regardless of
    that batch-mate's own admission (same closure as the band-level rule
    above). Redelivered vectors cosine-match their own indexed copy at 1.0
    and are rejected, so an at-least-once source never double-admits.

    Crash safety: one index write per batch, AFTER the rejected set is
    eagerly materialized — a crash before the append, or before a
    rewrite's pointer flip, replays cleanly (the batch re-screens against
    the unmoved version and re-admits); the centroid table is written to a
    staging dir and os.replace'd, so it exists either fully or not at all.
    A compaction writes the next index version and flips the pointer, so a
    reader holding the previous version finishes its scan."""

    CENT_SUFFIX = ".centroids"
    INDEX_SCHEMA = "vec_id long, embedding array<float>, nsq double, cell int"
    CENT_SCHEMA = "cid int, c array<float>"

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        threshold: float | None = None,
        n_cells: int | None = None,
        max_files: int = 64,
        n_compact_partitions: int = 8,
    ):
        from mysql_hbase_replicator_spark.operators.similarity import (
            EMB_DUP_THRESHOLD,
            IVF_K,
        )

        self.spark = spark
        self.index_dir = index_dir
        self.centroid_dir = index_dir + self.CENT_SUFFIX
        self.threshold = EMB_DUP_THRESHOLD if threshold is None else float(threshold)
        self.n_cells = IVF_K if n_cells is None else int(n_cells)
        self.max_files = max_files
        self.n_compact_partitions = n_compact_partitions
        # frozen centroids are immutable once written, so the one-row
        # frame is cached after the first load — re-reading the parquet +
        # re-running the collect_list agg on EVERY batch was one wasted
        # job per trigger (r16). Cached DRIVER-SIDE (collected row +
        # schema, a few KB), not as a localCheckpoint: checkpoint blocks
        # live on executors at replication 1, so an executor loss hours
        # into a stream would poison every later batch through the cached
        # plan (r16 review). Disk stays the source of truth across
        # restarts; createDataFrame re-ships the row per batch.
        self._cents_rows: list | None = None
        self._cents_schema = None

    def _ensure_centroids(self, prepared: DataFrame) -> DataFrame:
        """The one-row broadcastable centroid frame (``cents`` array of
        (cid, c) structs) — read from disk, or trained once from this
        (first) batch and persisted atomically."""
        from pyspark.sql import Window
        from mysql_hbase_replicator_spark.operators.similarity import _kmeans_step

        if self._cents_rows is not None:
            return self.spark.createDataFrame(self._cents_rows, self._cents_schema)
        if self._parquet_files(self.centroid_dir):
            return self._load_centroids()
        w = Window.orderBy("vec_id")
        seeds = (
            prepared.select("vec_id", "embedding")
            .orderBy("vec_id")
            .limit(self.n_cells)
            .select(
                (F.row_number().over(w) - 1).cast("int").alias("cid"),
                F.col("embedding").alias("c"),
            )
            .agg(F.collect_list(F.struct("cid", "c")).alias("cents"))
        )
        cents = _kmeans_step(prepared.select("vec_id", "embedding"), seeds)
        flat = cents.select(F.explode("cents").alias("s")).select(
            F.col("s.cid").alias("cid"), F.col("s.c").alias("c")
        )
        staging = self.centroid_dir + ".staging"
        flat.write.mode("overwrite").parquet(staging)
        if os.path.isdir(self.centroid_dir):  # lost a train race: keep first
            shutil.rmtree(staging)
        else:
            os.replace(staging, self.centroid_dir)
        return self._load_centroids()

    def _load_centroids(self) -> DataFrame:
        frame = (
            self.spark.read.schema(self.CENT_SCHEMA)
            .parquet(self.centroid_dir)
            .agg(F.collect_list(F.struct("cid", "c")).alias("cents"))
        )
        self._cents_rows = frame.collect()
        self._cents_schema = frame.schema
        return self.spark.createDataFrame(self._cents_rows, self._cents_schema)

    def _assign(self, prepared: DataFrame, cents: DataFrame) -> DataFrame:
        # the ONE shared nearest-centroid definition (similarity.py): three
        # literal copies (batch operator, this deduper, _assign_cells) had to
        # stay identical for the frozen-cell determinism the class docstring
        # relies on — r15 ADVICE collapsed them onto _assign_cells.
        from mysql_hbase_replicator_spark.operators.similarity import _assign_cells

        return _assign_cells(prepared, cents).select(
            "vec_id", "cell", "embedding", "nsq"
        )

    def _rejected(self, assigned: DataFrame, cells: list[int]) -> DataFrame:
        """(vec_id) rows to reject: cosine >= threshold to an earlier-by-id
        batch-mate or ANY indexed vector (self-matches included — that is
        the redelivery guard) in the same cell. ``cells`` is the batch's
        driver-collected touched-cell list (process_batch collects it once
        for the prune, the append prediction and the idle probe)."""
        from mysql_hbase_replicator_spark.operators.similarity import (
            cosine_from_parts,
            dot,
        )

        prior_batch = assigned.select(
            F.col("vec_id").alias("prior_id"),
            "cell",
            F.col("embedding").alias("emb_p"),
            F.col("nsq").alias("nsq_p"),
        )
        pairs = (
            assigned.join(prior_batch, "cell")
            .filter(F.col("prior_id") < F.col("vec_id"))
            .select("vec_id", "cell", "emb_p", "nsq_p", "embedding", "nsq")
        )
        live = self._live_dir(self.index_dir)
        if self._parquet_files(live):
            # Two explicit prunes, both load-bearing at corpus scale (r16):
            # (a) the index read is statically filtered to the CELLS THIS
            # BATCH TOUCHES — the index is stored as cell= directory
            # partitions, so the IN-filter becomes a PartitionFilter and
            # untouched cells are never read; the driver-side cell list is
            # bounded metadata (<= n_cells ints, the same sanctioned class
            # as the LSM stores' changed-bucket collect). DPP could do this
            # dynamically, but its selectivity heuristic never fires on the
            # stat-less checkpointed batch plan — measured, not assumed.
            # (b) the BATCH side is broadcast explicitly: its checkpointed
            # plan carries no size stats, so Catalyst would otherwise plan
            # an SMJ that shuffles the whole (pruned) index every trigger.
            # Together: per-trigger index cost is O(touched-cell occupancy),
            # not O(|index|).
            vs_index = F.broadcast(assigned).join(
                self._pruned_read(
                    live, "cell", cells,
                    schema=self.INDEX_SCHEMA,
                ).select(
                    "cell",
                    F.col("embedding").alias("emb_p"),
                    F.col("nsq").alias("nsq_p"),
                ),
                "cell",
            ).select("vec_id", "cell", "emb_p", "nsq_p", "embedding", "nsq")
            pairs = pairs.unionByName(vs_index)
        return (
            pairs.filter(
                cosine_from_parts(
                    dot(F.col("emb_p"), F.col("embedding")),
                    F.col("nsq_p"),
                    F.col("nsq"),
                )
                >= F.lit(self.threshold)
            )
            .select("vec_id")
            .distinct()
        )

    # compaction-time occupancy alarm (r15 verdict #3): frozen cells can't
    # follow a drifting stream, and a hot cell degrades BOTH cost (its
    # within-cell self-join grows quadratically) and recall (near-dups
    # straddling stale boundaries). max/mean occupancy above this factor
    # warns operators to re-seed a new index generation.
    OCCUPANCY_ALARM = 8.0

    def compact(self) -> int:
        """Rewrite the index into n_compact_partitions cell-aligned files.
        Returns the resulting file count, then runs the occupancy-skew
        alarm."""
        n = self._rewrite(
            self.index_dir, None, ["cell"], dir_partition_by=["cell"],
            schema=self.INDEX_SCHEMA,
        )
        if n:
            self._occupancy_alarm()
        return n

    def _occupancy_alarm(self) -> None:
        """Warn when per-cell occupancy skew crosses OCCUPANCY_ALARM.
        Computed entirely driver-side from parquet FOOTER row counts per
        cell= directory (r17, guide §2.6): the store is hive-partitioned
        by cell, so each dir's summed num_rows IS that cell's occupancy —
        the previous groupBy('cell').count() aggregate was one full Spark
        job per compaction (= per trigger in the max_files=1 oracle
        drains) for a number the metadata already holds. Unreadable
        footers are left out, with one warning naming how many."""
        import logging

        import pyarrow.parquet as pq

        log = logging.getLogger(__name__)
        live = self._live_dir(self.index_dir)
        occ: dict[str, int] = {}
        skipped = 0
        for f in self._parquet_files(live):
            d = os.path.basename(os.path.dirname(f))
            if not d.startswith("cell="):
                continue
            try:
                rows = pq.ParquetFile(f).metadata.num_rows
            except (OSError, ValueError):  # ArrowInvalid is a ValueError
                skipped += 1
                continue
            occ[d] = occ.get(d, 0) + rows
        if skipped:
            log.warning(
                "semantic dedup index %s: skipped %d unreadable parquet "
                "footer(s); the occupancy alarm is computed without them",
                live,
                skipped,
            )
        if not occ:
            return
        mx = max(occ.values())
        mean = sum(occ.values()) / len(occ)
        if mean and mx / mean >= self.OCCUPANCY_ALARM:
            log.warning(
                "semantic dedup index %s: cell occupancy skew %.1fx "
                "(max %d / mean %.1f) >= %.1fx — the frozen centroids "
                "no longer fit the stream's distribution; hot cells "
                "degrade screening cost and recall. Re-seed a new "
                "index generation (train fresh centroids, re-admit "
                "through it) when operationally convenient.",
                self.index_dir,
                mx / mean,
                mx,
                mean,
                self.OCCUPANCY_ALARM,
            )

    def process_batch(self, vecs: DataFrame) -> DataFrame:
        """Screen one batch of (vec_id, embedding) rows. Returns the
        admitted rows; their (vec_id, cell, embedding, nsq) join the
        index. Within-batch dups keep the lowest vec_id."""
        from mysql_hbase_replicator_spark.operators.similarity import norm_sq

        prepared = vecs.select(
            "vec_id", "embedding", norm_sq(F.col("embedding")).alias("nsq")
        )
        # EMPTY batches return immediately, unconditionally (r15 ADVICE —
        # was untrained-path-only). Two reasons: (a) an empty batch before
        # any centroids exist must not train — it would persist a zero-row
        # centroid table, every later vector would assign to a NULL cell,
        # and screening would silently admit everything forever (r15
        # review); (b) once trained, an idle poll would still run the full
        # screen (two eager localCheckpoints) and append an EMPTY parquet
        # file to the index, inflating file counts and compaction churn on
        # every idle trigger. The isEmpty limit-1 probe is far cheaper than
        # either.
        if prepared.isEmpty():
            return vecs
        cents = self._ensure_centroids(prepared)
        assigned = self._assign(prepared, cents).localCheckpoint(eager=True)
        # ONE metadata-sized collect: the touched-cell list drives the
        # pruned index read inside _rejected AND the append's compaction
        # prediction (r17 — it was collected twice before, once per use)
        cells = [r[0] for r in assigned.select("cell").distinct().collect()]
        # eager: the returned plan must not lazily reference index files a
        # later compaction may rewrite (same rationale as the band deduper)
        dups = self._rejected(assigned, cells).localCheckpoint(eager=True)
        admitted = vecs.join(dups, "vec_id", "left_anti")
        # the index is stored as cell= DIRECTORY partitions (r16): the
        # screening join's probe side is the index and its key IS the
        # partition column, so dynamic partition pruning skips every cell
        # the batch doesn't touch — per-batch cost becomes O(occupancy of
        # touched cells), not O(|index| scan). With K ∝ √n cells and
        # batches that touch a few topics, that is the difference between
        # a bounded trigger and one that slows linearly with corpus age.
        # ONE write job (r17): append, or the fused union rewrite when a
        # touched cell dir would cross max_files (see _append_or_rewrite)
        if self._append_or_rewrite(
            self.index_dir,
            assigned.join(dups, "vec_id", "left_anti"),
            ["cell"],
            dir_partition_by=["cell"],
            schema=self.INDEX_SCHEMA,
            touched=[f"cell={c}" for c in cells],
        ):
            # same cadence as the old post-compaction alarm
            self._occupancy_alarm()
        return admitted


# ---------------------------------------------------------------------------
# CORRECTNESS rows for the incremental dedupers (r15 verdict #2): each query
# drains three deterministic batches (doc_id/vec_id mod 3) through a FRESH
# deduper — batch 1 is redelivered (the at-least-once guard must admit
# nothing on the replay) and max_files=1 forces mid-stream
# compactions (every append whose directory already holds a file triggers
# one; compaction must not change screening) — and returns the
# final admit/reject report. The DuckDB oracle states the closure rule
# directly: reject iff a qualifying PRIOR exists, where prior = earlier-by-id
# same-batch mate (regardless of that mate's own admission — the deduper
# screens against the batch's full band/cell table) OR any ADMITTED vector
# from an earlier batch (the index holds survivors only), unrolled over the
# three batches.

N_STREAM_BATCHES = 3


def _fresh_stream_index(tag: str) -> str:
    """A fresh scratch root per CALL (never reused: a second run against an
    existing index would reject every row as its own redelivery), under the
    shared ``spark_graft_bucketed_`` prefix so the cross-process dead-owner
    reaper and this process's atexit cleanup both cover it."""
    import tempfile

    from mysql_hbase_replicator_spark.plans.queries_extra import (
        _reap_dead_scratch_roots,
        _register_scratch_cleanup,
    )

    root = tempfile.mkdtemp(prefix=f"spark_graft_bucketed_{tag}_")
    with open(os.path.join(root, "_owner.pid"), "w") as f:
        f.write(str(os.getpid()))
    _register_scratch_cleanup(root)
    _reap_dead_scratch_roots(keep=root)
    return root


def _drain_batches(deduper, frame: DataFrame, id_col: str) -> DataFrame:
    """Run ``frame`` through ``deduper`` as N_STREAM_BATCHES mod-sliced
    batches (redelivering batch 1 once), returning the (id, batch, admitted)
    report. A redelivery that wrongly re-admits a row would duplicate it in
    the admitted union and surface as an oracle row-count/hash mismatch;
    the deduper's max_files=1 forces compactions throughout the drain, so a
    compaction that changed screening would flip later verdicts. (Measured
    r16: collapsing to ONE explicit mid-stream compaction was a wall WASH —
    the accumulated small files make later screens pay back exactly what
    the skipped compactions saved — so the harder exercise stays.)"""
    from functools import reduce

    admits: list[DataFrame] = []
    for b in range(N_STREAM_BATCHES):
        batch = frame.filter(F.col(id_col) % N_STREAM_BATCHES == b)
        admits.append(deduper.process_batch(batch).select(id_col))
        if b == 1:  # at-least-once redelivery: must admit nothing new
            admits.append(deduper.process_batch(batch).select(id_col))
    admitted = reduce(DataFrame.unionByName, admits).withColumn(
        "admitted", F.lit(1)
    )
    return (
        frame.select(
            id_col,
            (F.col(id_col) % N_STREAM_BATCHES).cast("int").alias("batch"),
        )
        .join(admitted, id_col, "left")
        .select(
            id_col,
            "batch",
            F.coalesce("admitted", F.lit(0)).cast("int").alias("admitted"),
        )
        .orderBy(id_col)
    )


def _unrolled_closure_sql(select_report: str) -> str:
    """The 3-batch admit/reject closure over UNDIRECTED qualifying edges
    ``edge(p, v, pb, vb)`` (both orientations of every pair) and
    ``m(id, batch)`` — shared by both incremental oracles. Direction
    matters only WITHIN a batch (earlier-by-id screens later); across
    batches the index screens regardless of id order — an admitted
    HIGHER-id doc from an earlier batch still rejects a later-batch
    arrival (caught on first verify: a directional doc_a < doc_b edge
    missed exactly those rejections)."""
    return f"""
    rej0 AS (SELECT DISTINCT v FROM edge WHERE vb = 0 AND pb = 0 AND p < v),
    adm0 AS (SELECT id FROM m WHERE batch = 0
             AND id NOT IN (SELECT v FROM rej0)),
    rej1 AS (SELECT DISTINCT v FROM edge
             WHERE vb = 1 AND ((pb = 1 AND p < v)
                               OR (pb = 0 AND p IN (SELECT id FROM adm0)))),
    adm1 AS (SELECT id FROM m WHERE batch = 1
             AND id NOT IN (SELECT v FROM rej1)),
    idx2 AS (SELECT id FROM adm0 UNION ALL SELECT id FROM adm1),
    rej2 AS (SELECT DISTINCT v FROM edge
             WHERE vb = 2 AND ((pb = 2 AND p < v)
                               OR (pb < 2 AND p IN (SELECT id FROM idx2)))),
    adm2 AS (SELECT id FROM m WHERE batch = 2
             AND id NOT IN (SELECT v FROM rej2)),
    adm AS (SELECT id FROM idx2 UNION ALL SELECT id FROM adm2)
    {select_report}
    """


def _inc_semantic_oracle_sql() -> str:
    """Online SemDeDup as DuckDB SQL: frozen cells trained from BATCH 0
    only (its 16 lowest-id vectors seed one Lloyd step — `train_rel`
    restricts the shared k-means chain's training rows; the re-assign
    still covers all vectors), then within-cell cosine edges and the
    unrolled 3-batch closure."""
    from mysql_hbase_replicator_spark.operators.similarity import (
        EMB_DIM,
        EMB_DUP_THRESHOLD,
        IVF_K,
        _kmeans_asg_ctes,
    )

    D = EMB_DIM
    seeds = f"""SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
               embedding AS c
        FROM (SELECT vec_id, embedding FROM train ORDER BY vec_id LIMIT {IVF_K})"""
    return f"""
    WITH train AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id % {N_STREAM_BATCHES} = 0
    ),
    {_kmeans_asg_ctes(train_rel="train", seeds_sql=seeds)},
    v AS (
        SELECT e.vec_id, CAST(e.vec_id % {N_STREAM_BATCHES} AS INT) AS batch,
               a.cell, e.embedding,
               LIST_SUM(LIST_TRANSFORM(RANGE(1, {D} + 1),
                        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) AS nsq
        FROM e JOIN asg a ON a.vec_id = e.vec_id
    ),
    m AS (SELECT vec_id AS id, batch FROM v),
    edge AS (
        SELECT x.vec_id AS p, y.vec_id AS v, x.batch AS pb, y.batch AS vb
        FROM v x JOIN v y ON x.cell = y.cell AND x.vec_id <> y.vec_id
        WHERE LIST_SUM(LIST_TRANSFORM(RANGE(1, {D} + 1),
                       i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
                / (SQRT(x.nsq) * SQRT(y.nsq)) >= {EMB_DUP_THRESHOLD}
    ),{_unrolled_closure_sql('''
    SELECT m.id AS vec_id, m.batch,
           CASE WHEN a.id IS NULL THEN 0 ELSE 1 END AS admitted
    FROM m LEFT JOIN adm a ON a.id = m.id''')}
    """


@query("dedup_incremental_semantic", oracle=_inc_semantic_oracle_sql())
def dedup_incremental_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The online SemDeDup CORRECTNESS row (r15 verdict #2): embeddings
    arrive as three mod-3 batches; frozen cells train from batch 0; batch 1
    is redelivered (self-match at cosine 1.0 must reject every row of the
    replay); max_files=1 forces mid-stream compactions. Returns
    one (vec_id, batch, admitted) row per vector.

    Scale shape is the class's own (see IncrementalSemanticDeduper): a
    map-only broadcast assign + one cell-keyed equi-join vs the index + a
    within-batch cell self-join per batch — never all-pairs against the
    accumulated corpus."""
    from mysql_hbase_replicator_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    root = _fresh_stream_index("incsem")
    dd = IncrementalSemanticDeduper(
        spark, os.path.join(root, "index"), max_files=1, n_compact_partitions=4
    )
    return _drain_batches(dd, emb, "vec_id")


def _inc_minhash_oracle_sql() -> str:
    """Online MinHash-LSH dedup as DuckDB SQL: the shared band-hash chain
    down to ``cand(doc_a, doc_b)`` (band collisions, a < b), then the
    unrolled 3-batch closure. Band-level rejection (rerank_threshold=None):
    any shared band with a prior rejects."""
    from mysql_hbase_replicator_spark.operators.dedup import _minhash_cand_ctes

    return f"""
    WITH {_minhash_cand_ctes()},
    m AS (
        SELECT doc_id AS id, CAST(doc_id % {N_STREAM_BATCHES} AS INT) AS batch
        FROM documents
    ),
    und AS (
        SELECT doc_a AS p, doc_b AS v FROM cand
        UNION ALL
        SELECT doc_b AS p, doc_a AS v FROM cand
    ),
    edge AS (
        SELECT u.p, u.v, pm.batch AS pb, vm.batch AS vb
        FROM und u
        JOIN m pm ON pm.id = u.p
        JOIN m vm ON vm.id = u.v
    ),{_unrolled_closure_sql('''
    SELECT m.id AS doc_id, m.batch,
           CASE WHEN a.id IS NULL THEN 0 ELSE 1 END AS admitted
    FROM m LEFT JOIN adm a ON a.id = m.id''')}
    """


@query(
    "dedup_incremental_exact",
    oracle=f"""
    WITH f AS (
        SELECT doc_id, CAST(doc_id % {N_STREAM_BATCHES} AS INT) AS batch,
               CAST(('0x' || SUBSTR(MD5(text), 1, 15)) AS BIGINT) AS fp
        FROM documents
    )
    SELECT doc_id, batch,
           CASE WHEN batch * 10000000000 + doc_id
                     = MIN(batch * 10000000000 + doc_id) OVER (PARTITION BY fp)
                THEN 1 ELSE 0 END AS admitted
    FROM f
    """,
)
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The online exact-dedup CORRECTNESS row: same 3-batch drain (batch 1
    redelivered, max_files=1 compacting after every append) through the
    fingerprint index. For EXACT matching the closure collapses to a
    closed form the oracle states directly: a doc is admitted iff it is
    the (batch, doc_id)-lexicographic FIRST carrier of its fingerprint —
    the first batch containing the fingerprint admits its lowest id, and
    everything later matches the index."""
    from mysql_hbase_replicator_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    root = _fresh_stream_index("incex")
    dd = IncrementalExactDeduper(
        spark, os.path.join(root, "index"), max_files=1, n_compact_partitions=4
    )
    return _drain_batches(dd, docs, "doc_id")


def _inc_minhash_rerank_oracle_sql() -> str:
    """The re-rank variant: candidates still come from band collisions,
    but a pair rejects only when its EXACT h0-set Jaccard clears the
    threshold — ``scored`` from the shared chain, then the same unrolled
    closure. Band-collision false positives are admitted."""
    from mysql_hbase_replicator_spark.operators.dedup import _minhash_scored_cte

    return f"""
    WITH {_minhash_scored_cte()},
    m AS (
        SELECT doc_id AS id, CAST(doc_id % {N_STREAM_BATCHES} AS INT) AS batch
        FROM documents
    ),
    qual AS (SELECT doc_a, doc_b FROM scored
             WHERE jaccard >= {INC_RERANK_THRESHOLD}),
    und AS (
        SELECT doc_a AS p, doc_b AS v FROM qual
        UNION ALL
        SELECT doc_b AS p, doc_a AS v FROM qual
    ),
    edge AS (
        SELECT u.p, u.v, pm.batch AS pb, vm.batch AS vb
        FROM und u
        JOIN m pm ON pm.id = u.p
        JOIN m vm ON vm.id = u.v
    ),{_unrolled_closure_sql('''
    SELECT m.id AS doc_id, m.batch,
           CASE WHEN a.id IS NULL THEN 0 ELSE 1 END AS admitted
    FROM m LEFT JOIN adm a ON a.id = m.id''')}
    """


INC_RERANK_THRESHOLD = 0.3  # same exact-Jaccard gate as dedup_minhash_lsh


@query(
    "dedup_incremental_minhash_rerank", oracle=_inc_minhash_rerank_oracle_sql()
)
def dedup_incremental_minhash_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The re-rank mode CORRECTNESS row: same 3-batch drain as
    `dedup_incremental_minhash`, but with ``rerank_threshold`` set — band
    collisions become candidates verified by exact Jaccard over the
    persisted per-doc shingle stores (redelivered docs self-match at
    Jaccard 1.0), so band false-positives are admitted instead of
    rejected. Exercises the shingle-store side of the index (two appends
    per batch, store-side compaction with dedupe)."""
    from mysql_hbase_replicator_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    root = _fresh_stream_index("incmhrr")
    dd = IncrementalDeduper(
        spark,
        os.path.join(root, "index"),
        max_files=1,
        n_compact_partitions=4,
        rerank_threshold=INC_RERANK_THRESHOLD,
    )
    return _drain_batches(dd, docs, "doc_id")


@query("dedup_incremental_minhash", oracle=_inc_minhash_oracle_sql())
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The online MinHash-LSH CORRECTNESS row (r15 verdict #2): documents
    arrive as three mod-3 batches screened at band level against the
    persistent index and within-batch (lowest doc_id wins); batch 1 is
    redelivered (each doc band-matches its own indexed bands and must be
    rejected); max_files=1 forces mid-stream compactions. Returns
    one (doc_id, batch, admitted) row per document.

    Scale shape is the class's own (see IncrementalDeduper): per batch one
    band-keyed equi-join against the ever-growing but key-partitioned
    index — O(batch × bands), never all-pairs."""
    from mysql_hbase_replicator_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    root = _fresh_stream_index("incmh")
    dd = IncrementalDeduper(
        spark, os.path.join(root, "index"), max_files=1, n_compact_partitions=4
    )
    return _drain_batches(dd, docs, "doc_id")
