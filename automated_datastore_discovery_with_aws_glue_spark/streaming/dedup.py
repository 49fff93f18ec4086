"""Streaming dedup — the stream twins of ``operators.dedup``, for
ingest-time cleaning of a document feed:

- :func:`stream_exact_dedup` — exact (fingerprint) dedup;
- :func:`stream_segment_dedup` — C4-style paragraph dedup;
- :func:`stream_minhash_dedup` — NEAR-dup (MinHash-LSH) detection, the
  stream half of the batch ``minhash_lsh_pairs`` candidate rule;
- :func:`stream_url_dedup` — canonical-URL dedup for a crawl frontier /
  page feed, the stream twin of ``operators.web.url_dedup``.

``dropDuplicatesWithinWatermark`` keeps per-key state only until the
event-time watermark passes the key's first sighting plus the delay, so
state is bounded by the dedup horizon instead of growing with the corpus
(plain ``dropDuplicates`` on a stream retains every key forever). The
exact-dedup key is the text fingerprint (md5 of the normalized text,
``operators.text.fingerprint``) — the same key the batch ``dedup_exact``
groups on, so backfill and live ingest agree on what counts as a dup.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from automated_datastore_discovery_with_aws_glue_spark.operators.dedup import (
    _band_structs,
    _signature_expr,
)
from automated_datastore_discovery_with_aws_glue_spark.operators.hashing import hashed_shingles
from automated_datastore_discovery_with_aws_glue_spark.operators.text import fingerprint


def stream_exact_dedup(
    docs: DataFrame,
    *,
    text_col: str = "text",
    ts_col: str = "ts",
    dedup_horizon: str = "10 minutes",
) -> DataFrame:
    """Emit only the first sighting of each distinct (normalized) text
    within the dedup horizon. A duplicate arriving after the horizon is
    treated as new — the price of bounded state; widen the horizon to
    trade state size for dedup reach."""
    return (
        docs.withColumn("fp", fingerprint(F.col(text_col)))
        .withWatermark(ts_col, dedup_horizon)
        .dropDuplicatesWithinWatermark(["fp"])
    )


def stream_url_dedup(
    pages: DataFrame,
    *,
    url_col: str = "url",
    ts_col: str = "ts",
    dedup_horizon: str = "10 minutes",
) -> DataFrame:
    """Emit only the first sighting of each CANONICAL URL within the
    dedup horizon — the crawl-frontier twin of
    ``operators.web.url_dedup``: two raw URLs that normalize to the
    same canonical form (case, www, default port, tracking params,
    fragment, trailing slash) are one page, and re-crawls inside the
    horizon are suppressed with state bounded by the watermark instead
    of growing with the frontier. Unparseable URLs normalize to NULL
    and are dropped (route the raw feed to a quarantine sink before
    this stage to keep them)."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.web import url_normalize

    return (
        pages.withColumn("url_norm", url_normalize(F.col(url_col)))
        .filter(F.col("url_norm").isNotNull())
        .withWatermark(ts_col, dedup_horizon)
        .dropDuplicatesWithinWatermark(["url_norm"])
    )


def stream_segment_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    sep: str = "\n\n",
    dedup_horizon: str = "10 minutes",
) -> DataFrame:
    """Ingest-time C4-style segment dedup — the stream twin of
    ``operators.dedup.dedup_segments``: split each arriving document on
    ``sep`` and keep only the globally FIRST sighting of every distinct
    segment within the event-time horizon (cross-batch state bounded by
    the watermark, exactly like :func:`stream_exact_dedup`).

    Emits SEGMENT rows ``(doc_id, ts, pos, seg, n_total)``; compose with
    :func:`reassemble_segments` inside ``foreachBatch`` to get documents
    back (all of a document's segments surface in the same micro-batch,
    so batch-side reassembly is exact). A per-document SENTINEL row
    (``pos = -1``, namespaced unique fingerprint) always survives the
    dedup, so a document whose every segment is boilerplate still comes
    back — empty — rather than vanishing, matching the batch operator's
    contract. ``n_total`` (the document's pre-dedup segment count) rides
    every row so reassembly can report drops without a second stateful
    operator."""
    import re as _re

    segs = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(ts_col).alias("ts"),
        # content fingerprint for the sentinel: a corrected message
        # reusing its predecessor's (id, ts) must keep its own sentinel
        # (only true exact replays may dedup to nothing) — the minhash
        # twin keys its sentinel the same way
        F.md5(
            F.coalesce(F.col(text_col), F.lit("<null>")).cast("binary")
        ).alias("_tfp"),
        # NULL text must still emit the sentinel row — split(NULL) is
        # NULL and posexplode would silently eliminate the document,
        # breaking the every-doc-emits contract; coalesce to ''
        F.split(
            F.coalesce(F.col(text_col), F.lit("")), F.lit(_re.escape(sep)), -1
        ).alias("_parts"),
    ).select(
        "doc_id",
        "ts",
        "_tfp",
        F.size(F.filter("_parts", lambda s: F.trim(s) != "")).alias("n_total"),
        F.posexplode(
            F.concat(F.array(F.lit("")), F.col("_parts"))  # slot 0 = sentinel
        ).alias("pos", "seg"),
    )
    segs = (
        segs.filter((F.col("pos") == 0) | (F.trim("seg") != ""))
        .withColumn("pos", F.col("pos") - 1)
        .withColumn(
            "fp",
            # namespace prefixes ('s' segment / 'd' doc-sentinel) make a
            # segment-vs-sentinel fingerprint collision structurally
            # impossible, whatever the segment text says
            F.when(
                F.col("pos") >= 0,
                F.md5(F.concat(F.lit("s"), F.col("seg")).cast("binary")),
            ).otherwise(
                # concat_ws silently DROPS nulls — two NULL-id docs at
                # one ts would collide on a sentinel; coalesce first.
                # The content fingerprint is part of the key so only a
                # bit-for-bit replay of the same (id, ts, text) loses
                # its sentinel — a correction reusing the predecessor's
                # (id, ts) still emits.
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit("d"),
                        F.coalesce(F.col("doc_id").cast("string"), F.lit("<null>")),
                        F.coalesce(F.col("ts").cast("string"), F.lit("<null>")),
                        F.col("_tfp"),
                    ).cast("binary")
                )
            ),
        )
        .drop("_tfp")
        .withWatermark("ts", dedup_horizon)
        .dropDuplicatesWithinWatermark(["fp"])
    )
    return segs


def stream_minhash_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    dedup_horizon: str = "10 minutes",
    carry_payload: bool = False,
) -> DataFrame:
    """Watermark-bounded streaming NEAR-dup detection — the stream twin
    of batch ``minhash_lsh_pairs``' candidate rule (two docs are
    near-dup candidates iff they share ANY LSH band bucket), applied
    within the event-time horizon.

    Shape: each arriving doc's MinHash signature computes MAP-SIDE
    (``hashed_shingles`` -> per-permutation ``array_min`` — no shuffle,
    identical math to the batch operator), splits into ``bands`` banded
    bucket keys, and ``dropDuplicatesWithinWatermark`` on (band, bucket)
    claims each bucket for its first sighting; state is one row per
    distinct bucket within the horizon — bounded, restart-safe via the
    checkpoint. Emits surviving BAND rows ``(doc_id, ts, n_bands, band,
    bucket)``; compose with :func:`finalize_minhash_dedup` inside
    ``foreachBatch`` (all of a doc's rows surface in the same
    micro-batch) to get per-document verdicts:

    - every band fresh            -> unique doc, keep;
    - some band already claimed   -> ``is_near_dup_candidate`` — the
      batch candidate rule. Streaming cannot run the exact-Jaccard
      verify (the earlier doc's shingles are gone when the dup
      arrives), so this is the recall-biased ingest gate: drop
      candidates for lossy cleaning, or route them to a batch
      ``minhash_lsh_pairs`` verify when precision matters;
    - EXACT replay (same id, ts, text) -> every row including the
      per-doc sentinel (band = -1, keyed on (id, ts, text-fingerprint))
      is a duplicate, so the doc vanishes entirely — replayed messages
      dedup to nothing, like :func:`stream_exact_dedup`. A same-key
      message whose TEXT differs gets a fresh sentinel, so it always
      surfaces with a verdict (likely flagged) instead of being
      silently swallowed by its predecessor's band claims.

    ``carry_payload=True`` adds ``text`` and ``buckets`` columns carried
    on the SENTINEL row only (NULL on band rows — no per-band payload
    amplification): what :func:`make_verified_minhash_sink` needs to run
    the precision-restoring exact-Jaccard verify batch-side. The dedup
    state keys are unchanged (band, bucket).
    """
    sig = _signature_expr(
        hashed_shingles(F.coalesce(F.col(text_col), F.lit("")), n), num_hashes
    )
    banded = _band_structs(F.col("_sig"), num_hashes, bands)
    sentinel = F.struct(
        F.lit(-1).alias("band"),
        # unique per (doc, ts, content): dedups ONLY a true replay —
        # same key AND same text — never a corrected/near-dup message
        F.xxhash64(
            F.col("doc_id").cast("string"), F.col("ts").cast("string"), F.col("_fp")
        ).alias("bucket"),
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(ts_col).alias("ts"),
        sig.alias("_sig"),
        fingerprint(F.coalesce(F.col(text_col), F.lit(""))).alias("_fp"),
        F.coalesce(F.col(text_col), F.lit("")).alias("_text"),
    ).select(
        "doc_id",
        "ts",
        "_fp",
        "_text",
        F.lit(bands).alias("n_bands"),
        banded.alias("_buckets"),
        F.explode(F.concat(F.array(sentinel), banded)).alias("bb"),
    )
    cols = [
        F.col("doc_id"),
        F.col("ts"),
        F.col("_fp").alias("fp"),
        F.col("n_bands"),
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    ]
    if carry_payload:
        is_sent = F.col("bb.band") == -1
        cols += [
            F.when(is_sent, F.col("_text")).alias("text"),
            F.when(is_sent, F.col("_buckets")).alias("buckets"),
        ]
    return (
        base.select(*cols)
        .withWatermark("ts", dedup_horizon)
        .dropDuplicatesWithinWatermark(["band", "bucket"])
    )


def finalize_minhash_dedup(band_rows: DataFrame) -> DataFrame:
    """Batch-side verdicts for ``foreachBatch`` over
    :func:`stream_minhash_dedup` output: one row per ingested MESSAGE —
    ``(doc_id, ts, fp, n_bands, n_bands_new, is_near_dup_candidate)``
    where ``n_bands_new`` counts the message's fresh (unclaimed) band
    buckets and the candidate flag fires when ANY band was already
    claimed within the horizon (the batch LSH candidate rule). Grouping
    includes the content fingerprint, so a corrected message sharing
    (id, ts) with its predecessor IN THE SAME micro-batch gets its own
    verdict row (sentinel only, everything claimed -> flagged) instead
    of folding into the predecessor's clean verdict. Exact replays have
    no rows at all (even the sentinel deduped) and so never re-emit."""
    return (
        band_rows.groupBy("doc_id", "ts", "fp")
        .agg(
            F.max("n_bands").alias("n_bands"),
            F.sum((F.col("band") >= 0).cast("int")).alias("n_bands_new"),
        )
        .withColumn(
            "is_near_dup_candidate", F.col("n_bands_new") < F.col("n_bands")
        )
    )


def make_verified_minhash_sink(
    horizon_dir: str,
    out_dir: str,
    *,
    n: int = 3,
    jaccard_threshold: float = 0.5,
    horizon_us: int = 10 * 60 * 1_000_000,
    commit_backend=None,
):
    """The precision-restoring hand-off :func:`stream_minhash_dedup`
    documents: a ``foreachBatch`` sink that routes flagged
    ``is_near_dup_candidate`` messages through a bounded batch
    exact-Jaccard verify before dropping anything — LSH band collisions
    alone are recall-biased (false positives drop real data), so
    precision-critical ingest verifies each candidate against the
    actual earlier text.

    Per micro-batch (over ``stream_minhash_dedup(carry_payload=True)``
    output):

    1. :func:`finalize_minhash_dedup` verdicts join the sentinel-row
       payload (text + full bucket list).
    2. Clean messages are accepted outright.
    3. Candidates join the HORIZON STORE (band, bucket) rows — only
       docs sharing a claimed bucket, never the whole horizon — and the
       surviving pairs compute exact n-gram Jaccard JVM-side
       (``array_intersect``/``array_union`` over hashed shingles). A
       candidate is dropped only when some partner clears
       ``jaccard_threshold``; band-collision false positives SURVIVE.
       The verify corpus also includes the batch's own clean docs, so
       same-batch near-dups verify too.
    4. Accepted messages append their exploded bucket rows + text to the
       horizon store — a ``ParquetStateStore`` table at ``horizon_dir``
       partitioned by the event-time bucket ``tb = floor(ts_us /
       horizon_us)``; buckets whose END fell behind the horizon are
       dropped with ``replace_partitions`` (replacement-by-nothing) —
       state is bounded by the horizon (retention ≤ 2x horizon at
       bucket granularity), exactly like the streaming operator's own
       watermark state. Every store mutation commits through the
       versioned CAS (``commit_backend``), and a losing writer RETRIES
       against the fresh snapshot — two concurrent sinks interleave
       safely instead of racing the prune.
    5. Every message's final verdict row lands in ``out_dir``:
       ``(doc_id, ts, fp, n_bands, n_bands_new, is_near_dup_candidate,
       verified_dup, kept)``.

    Driver-side work is O(messages per batch) bookkeeping; all text
    comparison stays distributed."""
    from automated_datastore_discovery_with_aws_glue_spark.state.store import (
        ConcurrentWriteError,
        ParquetStateStore,
    )

    HORIZON = "horizon"
    _H_SCHEMA = (
        "doc_id bigint, ts timestamp, fp bigint, text string, "
        "band int, bucket bigint, tb bigint"
    )

    def _with_retry(mutate) -> None:
        """Optimistic-concurrency loop: a commit that loses the CAS
        re-derives against the new latest version and retries (append /
        partition-replace are both snapshot-consistent re-runs)."""
        for attempt in range(5):
            try:
                return mutate()
            except ConcurrentWriteError:
                if attempt == 4:
                    raise

    def sink(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        store = ParquetStateStore(spark, horizon_dir, commit_backend=commit_backend)
        verdicts = finalize_minhash_dedup(batch)
        info = batch.filter(F.col("band") == -1).select(
            "doc_id", "ts", "fp", "text", "buckets"
        )
        merged = verdicts.join(info, ["doc_id", "ts", "fp"], "inner").localCheckpoint()

        clean = merged.filter(~F.col("is_near_dup_candidate"))
        cands = merged.filter(F.col("is_near_dup_candidate"))

        def explode_buckets(df: DataFrame) -> DataFrame:
            return df.select(
                "doc_id", "ts", "fp", "text", F.explode("buckets").alias("bb")
            ).select("doc_id", "ts", "fp", "text", "bb.band", "bb.bucket")

        # verify corpus: horizon store + this batch's clean docs
        corpus = explode_buckets(clean)
        if store.exists(HORIZON):
            corpus = corpus.unionByName(
                store.read(HORIZON).select(
                    "doc_id", "ts", "fp", "text", "band", "bucket"
                )
            )

        dropped_fps = None
        if not cands.isEmpty():
            cand_b = explode_buckets(cands)
            pairs = (
                cand_b.alias("c")
                .join(corpus.alias("h"), ["band", "bucket"])
                .filter(F.col("c.fp") != F.col("h.fp"))
                .groupBy(F.col("c.fp").alias("fp"), F.col("h.fp").alias("h_fp"))
                .agg(
                    F.first(F.col("c.text")).alias("c_text"),
                    F.first(F.col("h.text")).alias("h_text"),
                )
            )
            a = F.array_distinct(hashed_shingles(F.col("c_text"), n))
            b = F.array_distinct(hashed_shingles(F.col("h_text"), n))
            jac = F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))
            dropped_fps = (
                pairs.filter(jac >= jaccard_threshold).select("fp").distinct()
            )

        accepted = merged if dropped_fps is None else merged.join(
            dropped_fps.withColumnRenamed("fp", "_dfp"),
            merged["fp"] == F.col("_dfp"),
            "left",
        ).withColumn("verified_dup", F.col("_dfp").isNotNull()).drop("_dfp")
        if "verified_dup" not in accepted.columns:
            accepted = accepted.withColumn("verified_dup", F.lit(False))
        final = accepted.withColumn("kept", ~F.col("verified_dup")).localCheckpoint()

        final.drop("text", "buckets").write.mode("append").parquet(out_dir)

        kept_docs = final.filter(F.col("kept"))
        if not kept_docs.isEmpty():
            rows = explode_buckets(kept_docs).withColumn(
                "tb", F.floor(F.unix_micros("ts") / F.lit(horizon_us))
            )
            _with_retry(
                lambda: store.append(HORIZON, rows, partition_by="tb")
            )
        # prune: drop time buckets whose END fell behind the horizon
        # relative to the newest event seen — bounded state, mirroring
        # the stream operator's watermark eviction; the replace commits
        # through the CAS so concurrent sinks can't race it
        if store.exists(HORIZON):
            cur = store.read(HORIZON)
            max_row = cur.agg(F.max(F.unix_micros("ts")).alias("m")).collect()[0]
            if max_row["m"] is not None:
                cutoff = int(max_row["m"]) - horizon_us
                expired = [
                    r["tb"]
                    for r in cur.select("tb").distinct().collect()
                    if (r["tb"] + 1) * horizon_us <= cutoff
                ]
                if expired:
                    empty = spark.createDataFrame([], _H_SCHEMA)
                    _with_retry(
                        lambda: store.replace_partitions(
                            HORIZON, empty, partition_by="tb", values=expired
                        )
                    )
                    store.vacuum(HORIZON, keep=5)

    return sink


def reassemble_segments(
    segs: DataFrame, *, sep: str = "\n\n"
) -> DataFrame:
    """Batch-side reassembly for ``foreachBatch`` over
    :func:`stream_segment_dedup` output: surviving segments regroup into
    ``(doc_id, ts, text, n_kept, n_dropped)`` ordered by original
    position. Grouping is on (doc_id, ts) — the message identity the
    sentinel is keyed on — so two versions of one doc id arriving in the
    same micro-batch reassemble separately instead of interleaving into
    one garbage row (with ``n_dropped`` going negative). The sentinel
    (``pos = -1``) guarantees one output row per ingested message;
    ``n_dropped`` = pre-dedup segment count minus survivors."""
    return (
        segs.groupBy("doc_id", "ts")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("pos") >= 0, F.struct("pos", "seg"))
                        )
                    ),
                    lambda s: s.getField("seg"),
                ),
            ).alias("text"),
            F.sum((F.col("pos") >= 0).cast("long")).alias("n_kept"),
            (F.max("n_total") - F.sum((F.col("pos") >= 0).cast("long"))).alias(
                "n_dropped"
            ),
        )
    )
