"""Incremental corpus dedup — near-dup maintenance for a GROWING corpus.

The single largest recurring cost of a 100 TB training-data pipeline is
NOT the first dedup, it is the daily one: a 1% delta must not trigger a
full-corpus re-dedup. :class:`CorpusDedupIndex` persists the two frames
the MinHash-LSH operator family already computes —

- ``buckets``: (band, bucket, id) of every KEPT document — the LSH
  candidate index;
- ``docs``: (id, hs, sz) hashed shingles of every kept document — the
  exact-verification side (fixed-width longs, never text);

— in the versioned state store, and :meth:`ingest` dedups each new batch
against itself AND the index at O(batch + candidates) compute:

1. the batch's shingles/signatures/bucket keys compute map-side (the
   same expressions as ``minhash_lsh_pairs``);
2. new-new candidates come from the batch's own band self-join;
   new-old candidates from joining the BROADCAST batch buckets against
   the stored bucket index — a columnar scan of the index, never a
   shuffle of it;
3. exact-Jaccard verification touches candidates only (old shingles
   fetched by broadcasting the candidate id set against the docs
   table — again a scan, not a shuffle);
4. within-batch survivors follow the batch operators' canonical
   semantics (connected components of verified pairs -> min id), then
   anything verifying against an indexed doc drops;
5. survivors' buckets + shingles APPEND to the state tables (O(batch),
   hard-linked versions).

Semantics vs a one-shot batch dedup of the full corpus: identical
whenever document ids increase with arrival order (first-arrived ==
global-min canonical), EXCEPT that published canonicals are IMMUTABLE —
a new document that near-dups two previously-separate canonicals drops,
but does not retroactively merge them (you do not retract training data
already shipped; the batch operators remain the backfill path when a
global re-canonicalization is actually wanted). Both properties are
pinned in tests.

Scale notes: the per-batch cost is bounded three ways —

- ``lsh_buckets`` is hash-range-partitioned on ``pt = pmod(bucket,
  index_partitions)``: ingest/probe collect the batch's bounded pt set
  (≤ index_partitions values) and push it as a PartitionFilter, so the
  stored-side scan prunes to the bucket ranges the batch actually
  probes (decisive for small probes — streaming micro-batches,
  eval-set contamination checks — which touch a handful of ranges of a
  10B-doc index);
- the hot-bucket valve (``operators/hot.py``) guards the stored-side
  join when ``max_bucket`` is set: a degenerate index bucket
  (boilerplate cluster) contributes one representative candidate per
  probe instead of its full membership — O(probe), not
  O(probe × members) — with the capped groups logged, never silent;
- candidates-only verification: old shingles are fetched by
  broadcasting the candidate id set against the docs table.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from automated_datastore_discovery_with_aws_glue_spark.operators.cache import adopt, release
from automated_datastore_discovery_with_aws_glue_spark.operators.dedup import (
    _banded,
    _shingle_frame,
    _verified,
    dedup_clusters,
)
from automated_datastore_discovery_with_aws_glue_spark.state.store import ParquetStateStore

BUCKETS = "lsh_buckets"
DOCS = "kept_docs"
EMITTED = "emitted_ids"


class CorpusDedupIndex:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        *,
        n: int = 3,
        num_hashes: int = 64,
        bands: int = 16,
        threshold: float = 0.5,
        commit_backend=None,
        index_partitions: int = 64,
        max_bucket: int | None = None,
    ):
        self.spark = spark
        self.root = root
        self.store = ParquetStateStore(spark, root, commit_backend=commit_backend)
        self.n, self.num_hashes, self.bands = n, num_hashes, bands
        self.threshold = threshold
        self.index_partitions = index_partitions
        self.max_bucket = max_bucket
        self._check_or_write_meta()

    _META_KEYS = ("n", "num_hashes", "bands", "index_partitions")

    def _check_or_write_meta(self) -> None:
        """The hash layout is part of the persisted index: reopening an
        index with different shingle/signature/partition parameters
        would silently mis-prune (pt computed with a different modulus
        excludes valid stored rows) or mis-band. A meta sidecar pins
        the layout at creation; a mismatch on reopen is a loud error,
        never a silent recall hole. (threshold and max_bucket are
        QUERY-time knobs — storage-independent, free to vary.)"""
        import json as _json
        import os as _os

        meta_path = _os.path.join(self.root, "index_meta.json")
        mine = {k: getattr(self, k) for k in self._META_KEYS}
        if _os.path.exists(meta_path):
            with open(meta_path) as fh:
                stored = _json.load(fh)
            diffs = {k: (stored.get(k), mine[k]) for k in self._META_KEYS if stored.get(k) != mine[k]}
            if diffs:
                raise ValueError(
                    f"CorpusDedupIndex at {self.root} was created with "
                    f"{ {k: v[0] for k, v in diffs.items()} } but reopened with "
                    f"{ {k: v[1] for k, v in diffs.items()} }; the hash layout is "
                    f"immutable — rebuild() into a fresh root to change it"
                )
            return
        _os.makedirs(self.root, exist_ok=True)
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump(mine, fh)
        _os.replace(tmp, meta_path)

    # -- internals ---------------------------------------------------------

    def _pt(self) -> F.Column:
        """Partition key of a bucket row: a bounded hash range of the
        bucket value. Derived identically on store and probe sides, so
        a probe's pt set is computable from its own banded frame."""
        return F.pmod(F.col("bucket"), F.lit(self.index_partitions)).cast("int")

    def _doc_pt(self) -> F.Column:
        """Partition key of a docs (shingles) row: hash range of the id.
        The candidate old-id set computes its own pt values, so the
        heavyweight shingle fetch prunes to the id ranges candidates
        actually touch."""
        return F.pmod(F.col("id"), F.lit(self.index_partitions)).cast("int")

    def _pruned_old_side(self, stored_docs: DataFrame, old_ids: DataFrame) -> DataFrame:
        """(id, hs, sz) rows of ``stored_docs`` for the candidate id set
        — partition-pruned to the candidates' pt ranges (``old_ids``
        must be materialized; its pt set is bounded by
        index_partitions), then broadcast-semi-joined."""
        if "pt" in stored_docs.columns:
            pts = sorted(
                r["pt"]
                for r in old_ids.select(self._doc_pt().alias("pt")).distinct().collect()
            )
            if not pts:
                return stored_docs.limit(0).select("id", "hs", "sz")
            stored_docs = stored_docs.filter(F.col("pt").isin(pts))
        return stored_docs.join(F.broadcast(old_ids), "id").select("id", "hs", "sz")

    def _pruned_stored_side(self, banded_probe: DataFrame, label: str) -> tuple[DataFrame, DataFrame | None]:
        """Stored bucket rows relevant to ``banded_probe``, partition-
        pruned to the probe's pt set and (when ``max_bucket`` is set)
        valve-guarded: members of an over-cap (band, bucket) group are
        replaced by the group's min-id representative. Returns
        ``(stored_side, sizes)`` — ``sizes`` is the valve's persisted
        size frame (caller unpersists after its actions), None when the
        valve is off.

        Valve shape: ONE aggregate computes each probed group's count
        AND min id map-side (partial agg — a degenerate hot bucket
        shuffles one row, never its membership), broadcasts back, and a
        single filtered pass keeps small-group members plus each hot
        group's min-id row. The former split_hot_buckets + reps-union
        formulation re-scanned the pruned index once per side (sizes /
        ok / hot) — three scans where two carry identical semantics."""
        pts = sorted(
            r["pt"]
            for r in banded_probe.select(self._pt().alias("pt")).distinct().collect()
        )
        stored = self.store.read(BUCKETS)
        if not pts:
            return stored.limit(0), None
        if "pt" in stored.columns:  # pre-partitioning index: full scan, no crash
            stored = stored.filter(F.col("pt").isin(pts))
        if self.max_bucket is None:
            return stored, None
        from automated_datastore_discovery_with_aws_glue_spark.operators.hot import (
            _log_hot_stats,
            _probe,
        )

        probed = stored.join(
            F.broadcast(banded_probe.select("band", "bucket").distinct()),
            ["band", "bucket"],
            "left_semi",
        )
        sizes = (
            probed.groupBy("band", "bucket")
            .agg(F.count("*").alias("_bn"), F.min("id").alias("_mn"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        max_bucket = self.max_bucket

        def _account() -> None:  # same async accounting as split_hot_buckets
            try:
                n_groups, n_rows = _probe(sizes, max_bucket)
            except Exception:  # session torn down before the probe landed
                return
            if n_groups:
                _log_hot_stats(n_groups, n_rows, label, max_bucket, "route")

        try:
            from pyspark import InheritableThread

            t = InheritableThread(target=_account, daemon=True)
        except ImportError:  # pragma: no cover - ancient pyspark
            import threading

            t = threading.Thread(target=_account, daemon=True)
        t.name = f"hot-bucket-probe-{label}"
        t.start()
        out = (
            probed.join(F.broadcast(sizes), ["band", "bucket"])
            .filter((F.col("_bn") <= max_bucket) | (F.col("id") == F.col("_mn")))
            .select("band", "bucket", "id")
        )
        return out, sizes

    # -- API ---------------------------------------------------------------

    def ingest(self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
        """Dedup ``docs`` against itself and the index; append survivors
        to the index; return the surviving subset of ``docs`` (original
        columns). Each call is one state version per table — replay a
        failed batch idempotently by re-running it against the prior
        version (ids already indexed dedup to nothing... they ARE their
        own near-dups — exact re-ingest of indexed ids is therefore
        filtered up front).

        Contracts: (1) ids are immutable document identities — a replayed
        id with DIFFERENT text is treated as a replay and dropped, not a
        correction (route corrections through a new id); (2) the batch
        side is broadcast against the index scans, which assumes
        batch << corpus (the delta shape) — a bulk load approaching
        corpus size should go through the batch operators instead."""
        base = _shingle_frame(docs, id_col, text_col, self.n).persist(
            StorageLevel.MEMORY_AND_DISK
        )

        have_index = self.store.exists(BUCKETS)
        if have_index:
            if "pt" not in self.store.read(BUCKETS).columns:
                raise ValueError(
                    f"CorpusDedupIndex at {self.root} predates pt-partitioning: "
                    "appending mixed layouts would leave NULL-pt rows the pruned "
                    "scans never see (a silent recall hole). probe() remains "
                    "supported read-only; run rebuild() to migrate the layout"
                )
            stored_docs = self.store.read(DOCS)
            # exact replays (id already indexed) drop before anything else.
            # ONE anti-join against the stored id column, at the BASE
            # level: signatures/bands derive from the filtered frame, so
            # replayed rows never pay signature work and the index-sized
            # id scan runs once (the former base+banded double anti-join
            # scanned it twice, and hashed 16 band rows per replayed doc)
            base_new = base.join(
                stored_docs.select(F.col("id").alias("_known")),
                base["id"] == F.col("_known"),
                "left_anti",
            ).persist(StorageLevel.MEMORY_AND_DISK)
        else:
            base_new = base
        # persist: the self-join (both sides) and keep_banded all consume
        # the banded frame; each un-persisted evaluation would re-run the
        # signature pass (and, with an index, the stored-id anti-join)
        banded_new = _banded(base_new, self.num_hashes, self.bands).persist(
            StorageLevel.MEMORY_AND_DISK
        )

        # within-batch: self-join candidates -> verify -> components ->
        # min-id canonical (the batch operators' semantics). Fast path
        # first: a batch with NO verified internal pairs — the common
        # case for streaming micro-batches and daily deltas — skips the
        # iterative connected-components entirely (several driver-side
        # checkpoint rounds saved per ingest).
        nn_cand = (
            banded_new.alias("l")
            .join(banded_new.alias("r"), ["band", "bucket"])
            .filter(F.col("l.id") < F.col("r.id"))
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
            .distinct()
        )
        nn_pairs = (
            _verified(nn_cand, base_new, base_new, self.threshold)
            .select("id_a", "id_b")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        clusters = None
        if nn_pairs.isEmpty():
            batch_keep = base_new.select("id")
        else:
            clusters = dedup_clusters(nn_pairs, base_new.select("id"))
            batch_keep = (
                clusters.groupBy("cluster_id")
                .agg(F.min("id").alias("id"))
                .select("id")
            )

        sizes = None
        if have_index:
            # new-old candidates: BROADCAST the batch's bucket keys
            # against the stored index — partition-pruned to the pt
            # ranges the batch probes, valve-guarded when configured
            # (a scan of the touched ranges, never an index shuffle).
            # With no internal pairs (the common delta case) batch_keep
            # is exactly base_new's id set, so the already-persisted
            # banded frame IS keep_banded — skip the join + second cache
            if clusters is None:
                keep_banded = banded_new
            else:
                keep_banded = banded_new.join(batch_keep, "id").persist(
                    StorageLevel.MEMORY_AND_DISK
                )
            stored_side, sizes = self._pruned_stored_side(keep_banded, "corpus-index-ingest")
            no_cand = (
                stored_side.alias("o")
                .join(
                    F.broadcast(keep_banded.alias("nw")),
                    ["band", "bucket"],
                )
                .select(F.col("nw.id").alias("id_a"), F.col("o.id").alias("id_b"))
                .distinct()
            )
            # old shingles: broadcast the candidate old-id set at the
            # docs-table scan, pruned to the candidates' id ranges
            no_cand = no_cand.persist(StorageLevel.MEMORY_AND_DISK)
            old_ids = no_cand.select(F.col("id_b").alias("id")).distinct()
            old_side = self._pruned_old_side(stored_docs, old_ids)
            dup_vs_index = _verified(no_cand, base_new, old_side, self.threshold).select(
                F.col("id_a").alias("id")
            ).distinct()
            final_keep = batch_keep.join(dup_vs_index, "id", "left_anti")
        else:
            final_keep = batch_keep

        # ONE materialization pins the (small) surviving ID SET for the
        # state writes AND the returned frame: localCheckpoint stores the
        # set as RDD blocks (the former persist+count+checkpoint trio ran
        # an extra pass), and the count over those blocks is ~free
        final_keep = final_keep.localCheckpoint()
        n_kept = final_keep.count()
        if n_kept:
            # Commit-order invariant: BUCKETS strictly BEFORE DOCS. The
            # replay filter keys on DOCS membership, so a crash in the
            # window between the two appends leaves BUCKETS-only rows for
            # the batch; the replay then reprocesses those ids (not yet in
            # DOCS) and the stale bucket rows are benign — candidate pairs
            # they produce inner-join DOCS for shingles and drop. The
            # reverse order (DOCS first) would make the replay skip ids
            # whose bucket rows were never written, leaving their future
            # near-dups permanently undetectable.
            # repartition by pt BEFORE the partitioned write: each pt dir
            # is then written by one task — 64 files per ingest, not
            # tasks x 64 tiny files (small-file blowup at daily cadence).
            # The banded survivor rows come from the PERSISTED
            # keep_banded when an index exists (final_keep ⊆ batch_keep,
            # so keep_banded ⋈ final_keep == banded_new ⋈ final_keep) —
            # re-deriving banded_new here would re-scan the stored id
            # column for its anti-join.
            banded_keep_src = keep_banded if have_index else banded_new
            # ONE two-table ingest: both staged writes run concurrently
            # (independent jobs — the second write's tasks back-fill the
            # first's tail) while the pointer flips stay strictly
            # BUCKETS-before-DOCS (append_many commits in list order)
            self.store.append_many(
                [
                    {
                        "table": BUCKETS,
                        "df": banded_keep_src.join(final_keep, "id")
                        .select("band", "bucket", "id")
                        .withColumn("pt", self._pt())
                        .repartition(F.col("pt")),
                        "partition_by": "pt",
                    },
                    {
                        "table": DOCS,
                        "df": base_new.join(final_keep, "id")
                        .select("id", "hs", "sz")
                        .withColumn("pt", self._doc_pt())
                        .repartition(F.col("pt")),
                        "partition_by": "pt",
                    },
                ]
            )
        # the returned frame joins the caller's own ``docs`` to the
        # CHECKPOINTED id set — safe long after the operator caches
        # release — and callers that never act on it (the bench
        # lifecycle, make_sink) never pay for materializing the text
        # join at all
        out = docs.join(
            final_keep.withColumnRenamed("id", "__keep"),
            docs[id_col] == F.col("__keep"),
        ).drop("__keep")
        base.unpersist()
        banded_new.unpersist()
        if have_index:
            base_new.unpersist()
            keep_banded.unpersist()
            if sizes is not None:
                sizes.unpersist()
            no_cand.unpersist()
        nn_pairs.unpersist()
        if clusters is not None:
            release(clusters)
        return out

    def kept_ids(self) -> DataFrame:
        """All canonical ids in the index (empty frame before any ingest)."""
        if not self.store.exists(DOCS):
            return self.spark.createDataFrame([], "id long")
        return self.store.read(DOCS).select("id")

    def probe(self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
        """READ-ONLY near-dup lookup against the index: ``(query_id,
        index_id, jaccard)`` for every query document whose exact
        Jaccard against an indexed canonical clears the threshold.
        Nothing is ingested — this is the contamination-check shape
        ("is any of this eval set already in my training corpus?"),
        same candidate/verify economics as :meth:`ingest`."""
        if not self.store.exists(BUCKETS):
            return self.spark.createDataFrame([], "id_a long, id_b long, jaccard double")
        base = _shingle_frame(docs, id_col, text_col, self.n)
        banded = _banded(base, self.num_hashes, self.bands).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        stored_side, sizes = self._pruned_stored_side(banded, "corpus-index-probe")
        cand = (
            stored_side.alias("o")
            .join(F.broadcast(banded.alias("q")), ["band", "bucket"])
            .select(F.col("q.id").alias("id_a"), F.col("o.id").alias("id_b"))
            .distinct()
        )
        cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
        old_ids = cand.select(F.col("id_b").alias("id")).distinct()
        old_side = self._pruned_old_side(self.store.read(DOCS), old_ids)
        out = _verified(cand, base, old_side, self.threshold)
        adopt(out, banded, cand, *( [sizes] if sizes is not None else [] ))
        return out

    def rebuild(self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
        """Global re-canonicalization BACKFILL — the documented bridge
        out of the index's immutable-canonical semantics: run the batch
        operators (``minhash_lsh_pairs`` -> ``dedup_canonical``) over
        the FULL corpus and replace the index contents with the result.
        Unlike :meth:`ingest`, a bridge document CAN merge previously
        separate canonicals here (global connected components), which is
        exactly why this is a scheduled batch job, not the ingest path —
        you rebuild when a re-canonicalized corpus is actually wanted.
        Overwrites land as new state versions (time travel to the
        pre-rebuild index stays available until vacuum); :meth:`ingest`
        and :meth:`probe` work unchanged against the rebuilt tables.
        Returns the canonical corpus (original columns,
        lineage-severed)."""
        from automated_datastore_discovery_with_aws_glue_spark.operators.dedup import (
            dedup_canonical,
            minhash_lsh_pairs,
        )

        pairs = minhash_lsh_pairs(
            docs,
            id_col,
            text_col,
            n=self.n,
            num_hashes=self.num_hashes,
            bands=self.bands,
            threshold=self.threshold,
            max_bucket=self.max_bucket,
            on_hot="route",
        )
        canon = dedup_canonical(docs, pairs, id_col)
        out = canon.localCheckpoint()
        release(canon)
        base = _shingle_frame(out, id_col, text_col, self.n).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        banded = _banded(base, self.num_hashes, self.bands)
        # same commit order as ingest (BUCKETS then DOCS): a crash
        # between the overwrites leaves new BUCKETS over old DOCS —
        # candidates against vanished ids drop at the shingle join, and
        # re-running the rebuild converges
        self.store.overwrite(
            BUCKETS,
            banded.withColumn("pt", self._pt()).repartition(F.col("pt")),
            partition_by="pt",
        )
        self.store.overwrite(
            DOCS,
            base.select("id", "hs", "sz")
            .withColumn("pt", self._doc_pt())
            .repartition(F.col("pt")),
            partition_by="pt",
        )
        base.unpersist()
        return out

    def maintain(self, keep: int = 3) -> None:
        """Retention: keep the last ``keep`` versions of both index
        tables (one version lands per ingested batch)."""
        for table in (BUCKETS, DOCS, EMITTED):
            if self.store.exists(table):
                self.store.vacuum(table, keep=keep)

    def make_sink(self, out_dir: str, id_col: str = "doc_id", text_col: str = "text"):
        """``foreachBatch`` front door: each micro-batch ingests through
        the DURABLE index (unlike the watermark-horizon streaming gate,
        state here never expires — the index IS the corpus) and the
        surviving rows append to ``out_dir`` as parquet. Restart safety:
        the emission set is ``batch ∩ kept_ids − emitted_ids`` —
        canonical membership AFTER the (idempotent) ingest, minus the
        ids already recorded as written, with ``emitted_ids`` committed
        strictly AFTER the parquet append. A replay whose first attempt
        indexed the rows but crashed before the append therefore still
        emits them (they are canonical but not yet emitted), while a
        full replay of committed batches emits nothing. The only
        remaining window is a crash between the parquet append and the
        ``emitted_ids`` commit, which duplicates that one batch's rows —
        at-least-once; readers dedup on the id column."""

        def sink(batch: DataFrame, _batch_id: int) -> None:
            if batch.isEmpty():
                return
            self.ingest(batch, id_col, text_col)
            pending = batch.join(
                self.kept_ids().withColumnRenamed("id", "__keep"),
                batch[id_col] == F.col("__keep"),
            ).drop("__keep")
            if self.store.exists(EMITTED):
                pending = pending.join(
                    self.store.read(EMITTED).withColumnRenamed("id", "__done"),
                    pending[id_col] == F.col("__done"),
                    "left_anti",
                )
            pending = pending.localCheckpoint()  # pin before the two writes
            if pending.isEmpty():
                return
            pending.write.mode("append").parquet(out_dir)
            self.store.append(EMITTED, pending.select(F.col(id_col).alias("id")))

        return sink


# -- bench entries (driver/bench contract: (spark, sf_dir) -> DataFrame) ----


def incr_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark shape of the RECURRING dedup cost: bulk-load 90% of the
    documents corpus into a fresh index, then ingest the remaining 10%
    as the daily delta — the second ingest is the number that must stay
    O(batch + candidates) as the index grows. Returns the canonical id
    set (equal to the one-shot batch dedup of the full corpus, pinned by
    pytest). Rows-only for the driver: the index hashes with ``XXH``;
    dedup_minhash_lsh_md5 runs the same banding and verification with
    ``MD5`` and pins the math in-window."""
    import shutil
    import tempfile

    from automated_datastore_discovery_with_aws_glue_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="bench_dedup_idx_")
    try:
        idx = CorpusDedupIndex(spark, root, threshold=0.5, max_bucket=200)
        idx.ingest(docs.filter(F.col("doc_id") % 10 < 9))
        idx.ingest(docs.filter(F.col("doc_id") % 10 >= 9))
        # localCheckpoint: the result must outlive the temp index dir
        return idx.kept_ids().orderBy("id").localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def incr_classify_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark shape of the RECURRING classify cost: a 10-file CSV
    source classifies in full once, then ONE new file lands and the
    re-classify pass reads only that delta file (file-level incremental
    classification through the real engine — sig diff, counts merge,
    findings append). Returns the per-column entity findings of the
    final pass."""
    import os
    import shutil
    import tempfile
    import uuid

    from automated_datastore_discovery_with_aws_glue_spark.catalog.engine import DiscoveryEngine
    from automated_datastore_discovery_with_aws_glue_spark.sources.readers import load_table

    events = load_table(spark, sf_dir, "events")
    derived = events.select(
        F.col("event_id"),
        F.format_string("%03d-%02d-%04d", F.col("user_id"), F.col("event_id") % 100, F.col("event_id") % 10000).alias("ssn_like"),
        F.format_string("user%d@example.com", F.col("user_id")).alias("email_like"),
        F.col("event_type").alias("free_text"),
        F.pmod(F.col("event_id"), F.lit(10)).cast("int").alias("part"),
    )
    root = tempfile.mkdtemp(prefix="bench_incr_cls_")
    db = f"bench_incr_{uuid.uuid4().hex[:8]}"
    try:
        src = os.path.join(root, "src")
        os.makedirs(src)
        csv_cols = ["ssn_like", "email_like", "free_text"]

        def write_part(p: int, name: str) -> None:
            part_dir = os.path.join(root, f"stage_{p}")
            derived.filter(F.col("part") == p).select(*csv_cols).coalesce(1).write.option(
                "header", True
            ).mode("overwrite").csv(part_dir)
            data = [f for f in os.listdir(part_dir) if f.endswith(".csv")]
            shutil.move(os.path.join(part_dir, data[0]), os.path.join(src, name))
            shutil.rmtree(part_dir, ignore_errors=True)

        # the nine initial files land in ONE partitioned write (one scan
        # of events, nine headered single-file partitions) instead of
        # nine filtered scans; identical rows per file as the per-part
        # path (write_part stays for the delta file, which must land
        # AFTER the first classify pass)
        stage_dir = os.path.join(root, "stage_bulk")
        derived.filter(F.col("part") < 9).select("part", *csv_cols).coalesce(
            1
        ).write.option("header", True).mode("overwrite").partitionBy("part").csv(stage_dir)
        for p in range(9):
            pdir = os.path.join(stage_dir, f"part={p}")
            data = [f for f in os.listdir(pdir) if f.endswith(".csv")]
            shutil.move(os.path.join(pdir, data[0]), os.path.join(src, f"f{p}.csv"))
        shutil.rmtree(stage_dir, ignore_errors=True)
        eng = DiscoveryEngine(spark, os.path.join(root, "state"), database=db)
        eng.onboard_source(
            "s3", {"path": src, "name": "bench_src", "format": "csv"}, {"gdpr-scan": "true"}
        )
        eng.register_pending("s3")
        eng.classify_pending("s3", ["USA_SSN", "EMAIL"], detection_threshold=0.1)
        # the daily delta: one new file; recrawl re-opens, the second
        # classify pass reads ONLY f9.csv
        write_part(9, "f9.csv")
        eng.recrawl("s3", reclassify=False)
        eng.classify_pending("s3", ["USA_SSN", "EMAIL"], detection_threshold=0.1)
        out = (
            eng.latest_findings()
            .select("columnName", F.to_json(F.col("entityTypes")).alias("entities"))
            .orderBy("columnName")
            .localCheckpoint()
        )
        return out
    finally:
        try:
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        except Exception:
            pass
        shutil.rmtree(root, ignore_errors=True)


def incr_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark shape of the RECURRING ANN cost (r9, VERDICT r8 item
    6): bulk-build an IVF index on 90% of the embeddings (distributed
    k-means quantizer), then ingest the remaining 10% as the daily
    delta — the ingest assigns with the STORED quantizer and appends
    O(batch) into hard-linked cell partitions
    (`operators/ann.py IvfVectorIndex`). Returns the partition-pruned
    top-10 for a fixed probe after the delta landed. Rows-only for the
    driver (stateful lifecycle + data-dependent centroids); the
    quantizer math is pinned in-window by the oracle-checked
    `knn_kmeans_centroids`, and build-vs-ingest parity plus pruning by
    `tests/test_ann_index.py`."""
    import shutil
    import tempfile

    from automated_datastore_discovery_with_aws_glue_spark.operators.ann import IvfVectorIndex
    from automated_datastore_discovery_with_aws_glue_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    query = [
        float(v)
        for v in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    root = tempfile.mkdtemp(prefix="bench_ann_idx_")
    try:
        ix = IvfVectorIndex(spark, root, n_cells=16, iterations=2)
        ix.build(emb.filter(F.col("vec_id") % 10 < 9))
        ix.ingest(emb.filter(F.col("vec_id") % 10 >= 9), batch_id=1)
        return ix.topk(query, 10, n_probe=4).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def incr_frontier_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark shape of the RECURRING crawl-frontier cost (r14c):
    seed a fresh :class:`~automated_datastore_discovery_with_aws_glue_spark.state.frontier.CrawlFrontier`
    with the full crawled URL set, ingest 90% of the pages as the bulk
    discovery batch, then the remaining 10% as the daily delta — the
    second ingest is the number that must stay O(batch + hits) as the
    seen-set grows (stored side scanned against the broadcast batch,
    never shuffled; appends hard-linked). Pages are the shared
    link-graph fixture (anchors, base-href, nofollow, hub arms).
    Returns the delta batch's new frontier slice. Rows-only for the
    driver: the lifecycle is stateful (temp store root); the
    discovery math is pinned in-window by corpus_link_graph /
    corpus_crawl_cycle, and the cross-batch == one-shot contract by
    pytest (tests/test_frontier.py)."""
    import shutil
    import tempfile

    from automated_datastore_discovery_with_aws_glue_spark.plans.web_pipeline import (
        _LG_ARMS,
        _LG_HOSTS,
        _lg_page,
        _lg_tpl,
    )
    from automated_datastore_discovery_with_aws_glue_spark.sources.readers import load_table
    from automated_datastore_discovery_with_aws_glue_spark.state.frontier import CrawlFrontier

    docs = load_table(spark, sf_dir, "documents")
    # the fixture page set as real (url, html) rows — the same arm
    # chain the in-window link-graph/crawl-cycle rows compile
    g = (F.col("doc_id") % 200).cast("string")
    x = ((F.col("doc_id") % _LG_HOSTS + 1) % _LG_HOSTS).cast("string")
    arm = F.col("doc_id") % len(_LG_ARMS)
    html = None
    for i, tpl in enumerate(_LG_ARMS):
        branch = _lg_tpl(tpl, g, x)
        html = F.when(arm == i, branch) if html is None else html.when(arm == i, branch)
    pages = docs.select("doc_id", _lg_page().alias("url"), html.alias("html"))
    root = tempfile.mkdtemp(prefix="bench_frontier_")
    try:
        fr = CrawlFrontier(spark, root, partitions=16)
        fr.seed(pages.select("url"))
        fr.ingest(pages.filter(F.col("doc_id") % 10 < 9), "url", "html")
        delta = fr.ingest(pages.filter(F.col("doc_id") % 10 >= 9), "url", "html")
        # localCheckpoint inside ingest: the result outlives the store
        return delta.orderBy("url")
    finally:
        shutil.rmtree(root, ignore_errors=True)
