"""Count-min sketch — a MERGEABLE frequency summary as plain DataFrame
operations (Cormode & Muthukrishnan 2005).

At 100 TB the exact per-value frequency table of a high-cardinality
column is itself data-scale; the CMS is the classic bounded-memory
answer: ``depth x width`` counters, update = ``depth`` hashed
increments per value, point query = min over ``depth`` counters. The
estimate is ONE-SIDED (``est >= true``, over-count bounded by
``e * N / width`` with probability ``1 - exp(-depth)``), and two
sketches over disjoint data MERGE by cell-wise addition — the property
that makes it a per-partition / per-day rollup you can keep adding to,
exactly like the mergeable classify counts.

Spark-first shape: the sketch IS a DataFrame ``(row, bucket, cnt)``
(at most ``depth * width`` rows — metadata-scale), produced by one
explode + hash aggregate; updates/merges/queries are joins and
aggregates, so everything runs JVM-side and distributes. (Spark also
ships a built-in ``count_min_sketch`` aggregate returning an opaque
binary; this explicit formulation is the one a pipeline can merge,
store in the state store, and differentially verify.)

Hashing: ``hash_fn`` is a family member (``operators/hashing.py``).
``XXH`` (default) is the fast production family; with ``MD5`` every
cell is the 60-bit ``md5_hash64`` of ``row || '|' || value``, so a
DuckDB oracle replays the ENTIRE sketch bit-for-bit, collisions
included.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from automated_datastore_discovery_with_aws_glue_spark.operators.hashing import (
    XXH,
    HashFamily,
    checked,
)


def _bucket(v: Column, row: Column, width: int, hash_fn: HashFamily) -> Column:
    return F.pmod(checked(hash_fn).key_hash(row, v, sep="|"), F.lit(width)).cast("int")


def cms_build(
    df: DataFrame,
    value_col: str | Column,
    *,
    depth: int = 4,
    width: int = 512,
    hash_fn: HashFamily = XXH,
) -> DataFrame:
    """Sketch a column (or expression) into ``(row, bucket, cnt)`` —
    one explode + one hash aggregate; the shuffle carries at most
    ``depth * width`` keys. NULL values are skipped (no frequency)."""
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row")
    e = df.select(v.cast("string").alias("v")).filter(F.col("v").isNotNull()).select("v", rows)
    return (
        e.select(F.col("row"), _bucket(F.col("v"), F.col("row"), width, hash_fn).alias("bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Cell-wise addition — sketches over disjoint data merge into the
    sketch of the union (same depth/width/hash assumed)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_query(
    sketch: DataFrame,
    values: DataFrame,
    value_col: str = "v",
    *,
    depth: int = 4,
    width: int = 512,
    hash_fn: HashFamily = XXH,
) -> DataFrame:
    """Point-query frequencies for ``values[value_col]``: min over the
    ``depth`` counters — ``(v, est_n)``, one broadcast-sized join
    against the metadata-scale sketch. ``est_n >= true count`` always
    (one-sided error)."""
    rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row")
    q = (
        values.select(F.col(value_col).cast("string").alias("v"))
        .distinct()
        .select("v", rows)
        .select("v", "row", _bucket(F.col("v"), F.col("row"), width, hash_fn).alias("bucket"))
    )
    return (
        q.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy("v")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est_n"))
    )


# ---------------------------------------------------------------------------
# Mergeable HLL distinct-count sketches (DataSketches via Spark built-ins)
# ---------------------------------------------------------------------------

def hll_partials(
    df: "DataFrame",
    keys: list[str],
    value_col: str,
    *,
    batch_col: str,
    lg_k: int = 12,
) -> "DataFrame":
    """Per-(batch, keys) HLL sketch of ``value_col`` distincts:
    ``(batch, keys..., sketch binary)`` via Spark's built-in
    DataSketches ``hll_sketch_agg``. The sketch column is an opaque
    mergeable binary — store it in the state table per ingest batch and
    NEVER rescan history: distinct-count rollups become metadata-scale
    unions (the same recurring-cost shape as the mergeable classify
    counts and the CMS).

    Union-of-partials equals the whole-corpus sketch EXACTLY at the
    same ``lg_k`` (pinned in pytest), so incremental estimates never
    drift from what a full rescan would report."""
    return df.groupBy(batch_col, *keys).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("hll")
    )


def hll_union_estimate(partials: "DataFrame", keys: list[str]) -> "DataFrame":
    """Union stored per-batch sketches per key and estimate:
    ``(keys..., approx_nd)``. One metadata-scale aggregate — input rows
    are (batches x keys), never data-scale."""
    return partials.groupBy(*keys).agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll")).alias("approx_nd")
    )
