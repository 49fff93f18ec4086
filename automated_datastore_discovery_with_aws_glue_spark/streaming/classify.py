"""Ingest-time PII classification — the streaming composition of the
mergeable COUNT form (SURVEY A3 + the file-level incremental machinery,
`operators/classify.py`).

Classification is an aggregate (per-column match fractions), so a
stream can't emit it row-by-row — but counts are ADDITIVE: each
micro-batch contributes its per-(column, entity) match counts at
O(batch) cost, the counts append to a state table, and the
reference-shaped classification derives from the SUM at any moment —
EXACTLY equal to a one-shot batch classify of everything ingested so
far. That is ingest-time PII monitoring: a column's detection flips the
instant enough matching rows have arrived, with no re-scan of history.

State growth is one metadata-scale row-set per batch (#columns x
#entities, not data-sized); compact periodically by replacing the table
with its own sum (``compact_counts``) and vacuuming.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from automated_datastore_discovery_with_aws_glue_spark.operators.classify import (
    classification_from_counts,
    classify_columns_counts,
)
from automated_datastore_discovery_with_aws_glue_spark.operators.hashing import (
    XXH,
    HashFamily,
    checked,
)
from automated_datastore_discovery_with_aws_glue_spark.state.store import ParquetStateStore

_COLS = ("columnName", "entity", "n_matched", "n_values")


def _applied_through(store: ParquetStateStore, table: str) -> int:
    """Highest batch_id whose counts are already in ``table`` (-1 when
    none). Metadata-scale scan of one long column."""
    if not store.exists(table):
        return -1
    df = store.read(table)
    if "batch_id" not in df.columns:
        return -1  # pre-batch_id table: can't prove a replay, apply
    row = df.agg(F.max("batch_id").alias("m")).collect()[0]
    return -1 if row["m"] is None else int(row["m"])


def make_classify_sink(
    store: ParquetStateStore,
    table: str,
    entities: Sequence[str] | None = None,
    *,
    columns: Sequence[str] | None = None,
):
    """``foreachBatch`` sink: append each micro-batch's match counts to
    ``table``. Pair with :func:`current_classification` to read the
    up-to-now detections.

    Exactly-once counts under foreachBatch's at-least-once delivery:
    each row carries its ``batch_id``, and a batch whose id is already
    ≤ the table's max is a replay and skips. The marker IS the count
    rows (same single state-version append), so there is no window
    where counts land without their id or vice versa. Micro-batch ids
    are monotone within a checkpoint; a FRESH checkpoint restarts ids
    at 0 and is a full re-ingest — same operator-error caveat as every
    counts table (counts have no content identity to dedup on)."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return  # an empty micro-batch must not burn a state version
        if batch_id <= _applied_through(store, table):
            return  # replayed micro-batch: counts already applied
        counts = classify_columns_counts(batch, entities, columns=columns)
        store.append(
            table,
            counts.select(*_COLS).withColumn("batch_id", F.lit(batch_id).cast("long")),
        )

    return sink


def current_classification(
    store: ParquetStateStore,
    table: str,
    entities: Sequence[str] | None = None,
    detection_threshold: float = 0.1,
    *,
    column_names: Sequence[str],
    use_context: bool = True,
) -> DataFrame:
    """Reference-shaped ``(columnName, entityTypes)`` over everything
    ingested so far — the same threshold + context gate (incl. the
    exact-sub-form escape) as the batch classifier, over summed
    counts."""
    return classification_from_counts(
        store.read(table),
        entities,
        detection_threshold,
        column_names=column_names,
        use_context=use_context,
    )


def _max_batch(df: DataFrame) -> int:
    """Highest batch_id IN this snapshot (-1 when none) — the compaction
    derivations use this, not ``_applied_through``, so the preserved
    replay marker comes from the exact pinned version being rewritten."""
    if "batch_id" not in df.columns:
        return -1
    row = df.agg(F.max("batch_id").alias("m")).collect()[0]
    return -1 if row["m"] is None else int(row["m"])


def _summed_counts(df: DataFrame) -> DataFrame:
    applied = _max_batch(df)
    summed = (
        df.groupBy("columnName", "entity")
        .agg(F.sum("n_matched").alias("n_matched"), F.sum("n_values").alias("n_values"))
        .withColumn("batch_id", F.lit(applied).cast("long"))
    )
    return summed.select(*_COLS, "batch_id")


def compact_counts(store: ParquetStateStore, table: str, *, max_retries: int = 5) -> None:
    """Replace the per-batch count rows with their sum (one row per
    (column, entity)) — run periodically with ``store.vacuum`` to keep
    the monitoring table O(columns x entities) regardless of how many
    batches ever landed. Derivations before/after are identical
    (summing is associative). The max applied batch_id is preserved on
    every compacted row so a replay arriving after a compaction still
    skips.

    Safe to run WHILE the stream writes: the rewrite is a pinned-snapshot
    CAS (``overwrite(expect=base)``) — a micro-batch that appends between
    the snapshot read and the commit makes the commit lose with
    ``ConcurrentWriteError`` and the compaction re-derives from the fresh
    snapshot, so no batch's counts are ever dropped."""
    _compact_cas(store, table, _summed_counts, max_retries=max_retries)


def _compact_cas(
    store: ParquetStateStore,
    table: str,
    derive,
    *,
    max_retries: int,
    write_kwargs=None,
) -> None:
    """Read-modify-overwrite with optimistic concurrency: pin the version
    the derivation reads, commit against exactly that version, retry from
    the fresh snapshot on a lost race. ``write_kwargs(version)`` (r10)
    lets the caller derive per-attempt overwrite options — partition
    layout, version metadata — from the SAME pinned snapshot (the ANN
    index's compaction carries its watermark/counters this way)."""
    from automated_datastore_discovery_with_aws_glue_spark.state.store import ConcurrentWriteError

    last: ConcurrentWriteError | None = None
    for _ in range(max_retries):
        base = store.latest_version(table)
        snap = store.read(table, version=base)
        kw = write_kwargs(base) if write_kwargs is not None else {}
        try:
            store.overwrite(table, derive(snap), expect=base, **kw)
            return
        except ConcurrentWriteError as exc:
            last = exc  # a micro-batch landed mid-compaction: re-derive
    raise ConcurrentWriteError(
        f"{table}: compaction lost the commit race {max_retries} times"
    ) from last


def make_cms_sink(
    store: ParquetStateStore,
    table: str,
    value_col: str,
    *,
    depth: int = 4,
    width: int = 512,
    hash_fn: HashFamily = XXH,
):
    """``foreachBatch`` sink for ingest-time FREQUENCY monitoring: each
    micro-batch's count-min sketch (``operators.sketch.cms_build``)
    merges into a persisted sketch table — the same additive-rollup
    shape as the classify counts, with the same batch_id replay guard
    (exactly-once cells under at-least-once delivery). The stored
    sketch stays ≤ depth x width rows forever; query it any time with
    ``cms_query`` for "how often has this value arrived so far"."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.sketch import cms_build, cms_merge

    hash_fn = checked(hash_fn)

    def sink(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        if batch_id <= _applied_through(store, table):
            return  # replayed micro-batch: cells already merged
        delta = cms_build(batch, value_col, depth=depth, width=width, hash_fn=hash_fn)
        if store.exists(table):
            prior = store.read(table).select("row", "bucket", "cnt")
            merged = cms_merge(prior, delta)
        else:
            merged = delta
        store.overwrite(
            table,
            merged.withColumn("batch_id", F.lit(batch_id).cast("long")),
        )

    return sink


def make_distinct_sink(
    store: ParquetStateStore,
    table: str,
    keys: Sequence[str],
    value_col: str,
    *,
    lg_k: int = 12,
):
    """``foreachBatch`` sink for ingest-time DISTINCT-count monitoring:
    each micro-batch appends one mergeable HLL sketch per key
    (``operators.sketch.hll_partials``) — the additive-rollup shape of
    the classify counts with the same batch_id replay guard. State is
    one (keys, sketch) row-set per batch, metadata-scale; read the
    up-to-now estimate any time with :func:`current_distinct`, which
    UNIONS the stored sketches (equal to sketching everything ingested
    so far in one pass — `tests/test_hll.py` pins merge == whole)."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.sketch import hll_partials

    key_list = list(keys)

    def sink(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        if batch_id <= _applied_through(store, table):
            return  # replayed micro-batch: sketch already appended
        partial = hll_partials(
            batch.withColumn("_b", F.lit(batch_id).cast("long")),
            key_list,
            value_col,
            batch_col="_b",
            lg_k=lg_k,
        )
        store.append(
            table,
            partial.select(
                *key_list, "hll", F.col("_b").alias("batch_id")
            ),
        )

    return sink


def current_distinct(
    store: ParquetStateStore, table: str, keys: Sequence[str]
) -> DataFrame:
    """Up-to-now distinct estimate per key from the stored per-batch
    sketches: ``(keys..., approx_nd)``."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.sketch import hll_union_estimate

    return hll_union_estimate(store.read(table), list(keys))


def compact_distinct(store: ParquetStateStore, table: str, *, max_retries: int = 5) -> None:
    """Replace the per-batch sketch rows with their per-key UNION (one
    row per key) — estimates before/after are identical (HLL union is
    associative); the max applied batch_id is preserved so replays
    arriving after a compaction still skip. Same pinned-snapshot CAS as
    ``compact_counts``: a micro-batch appended mid-compaction makes the
    commit lose and the union re-derives — its sketch is never dropped."""

    def derive(df: DataFrame) -> DataFrame:
        applied = _max_batch(df)
        keys = [c for c in df.columns if c not in ("hll", "batch_id")]
        merged = (
            df.groupBy(*keys)
            .agg(F.hll_union_agg("hll").alias("hll"))
            .withColumn("batch_id", F.lit(applied).cast("long"))
        )
        return merged.select(*keys, "hll", "batch_id")

    _compact_cas(store, table, derive, max_retries=max_retries)
