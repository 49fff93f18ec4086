"""Similarity search over embedding columns (north-star surface):

- brute-force cosine top-k  — exact baseline; one scan, TakeOrdered
- blocked near-dup          — cosine >= t within blocking keys
- hyperplane-LSH top-k      — sign-bit bucketing; the 100 TB path where
                              only the query's bucket is scanned
- IVF top-k                 — `operators/ann.IvfVectorIndex`; this module
                              holds its integer k-means / PQ quantizer
                              trainers and cell/ADC expressions

Kernel choice (measured, 200k rows x local[32]): the higher-order
``aggregate(zip_with(...))`` dot product is the fast path at every
dimension we tested — 0.12s/0.11s at dim 8 (tie), 0.44s vs 0.14s at
dim 32, 0.84s vs 0.19s at dim 64 (unrolled vs HOF). A statically
unrolled sum looks like straight-line codegen material, but past a few
hundred terms the generated method exceeds the JIT's ~8 KB bytecode
budget (so it runs as un-JIT-compiled bytecode) and past ~500 terms
Janino fails outright and the whole stage falls back to interpreted
Catalyst evaluation of a giant expression tree. The HOF kernel is a
compact JIT-friendly loop, its expression tree is O(1) in the
dimension (Catalyst analysis stays cheap), and its left-to-right
seeded-0.0 fold is deterministic — the DuckDB oracle replays it
bit-for-bit.

Embeddings are cast to double once so results are bit-identical with
the DuckDB oracle's list_cosine_similarity.
"""

from __future__ import annotations

import math

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.storagelevel import StorageLevel

from automated_datastore_discovery_with_aws_glue_spark.operators.cache import adopt
from automated_datastore_discovery_with_aws_glue_spark.operators.hashing import (
    XXH,
    HashFamily,
    checked,
)
from automated_datastore_discovery_with_aws_glue_spark.operators.hot import (
    HOT_POLICIES,
    split_hot_buckets,
    star_reps,
)
from automated_datastore_discovery_with_aws_glue_spark.operators.rebalance import spread


def dot(a: Column, b: Column) -> Column:
    """Dot product of two double-array columns: left-to-right IEEE fold
    seeded 0.0 — ((0 + a1*b1) + a2*b2) + ... — the order every oracle
    twin replays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def lit_vec(values: list[float]) -> Column:
    """A literal double-array Column, built as ONE SQL string — building
    it from per-element ``F.lit(...).cast(...)`` Columns costs 2 py4j
    round-trips per element, which at 64 planes x 64 dims made plan
    CONSTRUCTION (not execution) the dominant cost of the LSH operators
    (~8s of driver time). Python float repr round-trips exactly through
    Java's Double.parseDouble, so values are bit-identical either way."""
    return F.expr(_lit_vec_sql(values))


def _lit_vec_sql(values: list[float]) -> str:
    inner = ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in values)
    return f"array({inner})"


def _norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double-array columns (any dimension)."""
    return dot(a, b) / (_norm(a) * _norm(b))


def vector_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality probe (one-row scan). Array columns carry
    no length in the schema."""
    rows = df.select(F.size(F.col(vec_col))).limit(1).collect()
    return int(rows[0][0]) if rows else 0


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda v: v.cast("double"))


def brute_force_topk(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k against one query vector.

    Executes as scan -> projection -> TakeOrderedAndProject: no shuffle,
    no global sort materialization; each partition keeps k rows.
    Rounded similarity + id tiebreak make the ordering total. The score
    is :func:`cosine_lit_sql`, the one exact-cosine-against-a-literal
    implementation (shared with ``IvfVectorIndex.topk``)."""
    score, _nrm = cosine_lit_sql(vec_col, query)
    return (
        df.selectExpr(f"`{id_col}`", f"round({score}, 4) AS similarity")
        .orderBy(F.desc("similarity"), id_col)
        .limit(k)
    )


def blocked_near_dup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    *,
    threshold: float = 0.95,
    max_block: int | None = None,
    on_hot: str = "drop",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within blocks (id_a < id_b).
    The self-join shuffles on the block key only; cosine is evaluated on
    co-located pairs, and each vector's norm is computed ONCE per row
    (persisted) instead of once per pair — at B rows per block that
    saves B norm evaluations per candidate. ``spread`` rebalances
    unsplittable inputs.

    This operator is the EXACT all-pairs-within-block verifier — pair
    work is intrinsically O(B²) per block, so a degenerate caller block
    (one language, one near-constant embedding cluster) goes quadratic.
    ``max_block`` is the same safety valve the LSH family carries
    (``operators/hot.py``): blocks above the cap leave the self-join
    under the ``on_hot`` policy — ``'drop'`` excludes them with a logged
    (group, row) account, ``'route'`` pairs every member with the
    block's min-id representative (O(B) candidates, cosine-verified like
    any pair) so a boilerplate block stays connected for clustering
    consumers. Default ``None`` keeps exactness; the sub-quadratic
    sibling :func:`lsh_near_dup` is the 100 TB candidate generator."""
    if on_hot not in HOT_POLICIES:
        raise ValueError(f"on_hot must be one of {HOT_POLICIES}, got {on_hot!r}")
    base = (
        spread(
            df.select(
                F.col(id_col).alias("id"),
                F.col(block_col).alias("block"),
                as_double(F.col(vec_col)).alias("v"),
            )
        )
        .withColumn("nrm", _norm(F.col("v")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    src = base
    extra = None
    cached: list = [base]
    if max_block is not None:
        src, hot, _stats, sizes = split_hot_buckets(
            base, ("block",), max_block, label="blocked_near_dup", policy=on_hot
        )
        cached.append(sizes)
        if on_hot == "route":
            extra = (
                star_reps(hot, ("block",), carry={"_rep_v": "v", "_rep_n": "nrm"})
                .filter(F.col("id") != F.col("_rep"))
                .select(
                    F.col("_rep").alias("id_a"),
                    F.col("id").alias("id_b"),
                    "block",
                    F.col("_rep_v").alias("v_a"),
                    F.col("_rep_n").alias("n_a"),
                    F.col("v").alias("v_b"),
                    F.col("nrm").alias("n_b"),
                )
            )
    a = src.select(F.col("id").alias("id_a"), "block", F.col("v").alias("v_a"), F.col("nrm").alias("n_a"))
    b = src.select(F.col("id").alias("id_b"), "block", F.col("v").alias("v_b"), F.col("nrm").alias("n_b"))
    cand = (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "block", "v_a", "n_a", "v_b", "n_b")
    )
    if extra is not None:
        cand = cand.unionByName(extra.select("id_a", "id_b", "block", "v_a", "n_a", "v_b", "n_b"))
    sim = F.round(dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")), 4)
    result = (
        cand.withColumn("similarity", sim)
        .filter(F.col("similarity") >= threshold)
        .select("id_a", "id_b", "block", "similarity")
    )
    return adopt(result, *cached)


# ---------------------------------------------------------------------------
# Hyperplane LSH (approximate; the partition-pruned scale path)
# ---------------------------------------------------------------------------

def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes (public SimHash-for-cosine LSH)."""
    return np.random.RandomState(seed).standard_normal((n_planes, dim))


def _lit_matrix_sql(rows: np.ndarray) -> str:
    """A literal array-of-double-arrays as one SQL string (see
    :func:`lit_vec` for why strings beat per-element Column ops). The
    optimizer constant-folds it to a single array literal."""
    return (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"CAST('{float(c)!r}' AS DOUBLE)" for c in row) + ")"
            for row in rows
        )
        + ")"
    )


def lsh_bucket_expr(vec_col: str, planes: np.ndarray) -> Column:
    """Sign-bit bucket id of a vector under the given hyperplanes.

    One compact fold over the plane index: bit i = sign of
    dot(v, planes[i]), XOR-accumulated into a BIGINT. The per-plane dot
    is the same left-to-right zip_with/aggregate fold as :func:`dot`, so
    the DuckDB oracle regenerates the identical bucket from the same
    seeded literals.

    Emitted as ONE SQL string with the planes as a single 2-D literal —
    NOT one unrolled dot-expression per plane: per-plane Column ops cost
    ~10 py4j round-trips each, and the unrolled expression tree (planes x
    dim literals as separate nodes) made Janino's first-run compile of
    the stage the dominant cost of a single query (~2-3s at 32x64).
    The looped form keeps the generated code O(1) in plane count."""
    n = len(planes)
    return F.expr(
        f"aggregate(sequence(0, {n - 1}), CAST(0 AS BIGINT), (acc, i) -> "
        f"acc ^ shiftleft(CAST(aggregate(zip_with(`{vec_col}`, "
        f"element_at({_lit_matrix_sql(planes)}, i + 1), "
        f"(x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), "
        f"(a, b) -> a + b) >= 0 AS BIGINT), i))"
    )


def lsh_near_dup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.9,
    n_bands: int = 8,
    band_planes: int = 4,
    seed: int = 42,
    max_bucket: int | None = None,
    on_hot: str = "drop",
) -> DataFrame:
    """Sub-quadratic embedding near-duplicate pairs: banded hyperplane-LSH
    candidate generation composed with exact cosine verification — the
    100 TB complement of :func:`blocked_near_dup` (which is all-pairs
    *within* caller-provided blocks).

    Shape: one projection emits ``n_bands`` (band, bucket) keys per row
    (bucket = sign bits under that band's ``band_planes`` hyperplanes);
    the self-join runs per (band, bucket) group — never all-pairs;
    candidate pairs dedup once; exact cosine verifies survivors. Every
    stage shuffles on bounded keys, so the plan scales with the number
    of colliding pairs, not rows².

    Recall tuning (sim s, collision prob per plane p = 1 - acos(s)/pi):
    a pair survives a band with p^band_planes and is a candidate with
    1-(1-p^band_planes)^n_bands — more bands raise recall, more planes
    per band cut the candidate count. Defaults favor high thresholds;
    the pytest recall assertion runs wider bands for the uniform-random
    fixture. Deterministic planes -> the DuckDB oracle replays candidate
    generation and verification exactly.

    ``max_bucket`` is the hot-bucket safety valve for skewed corpora: a
    degenerate (band, bucket) group — near-constant embeddings all
    landing together — makes that group's self-join quadratic. With a
    cap, over-cap groups leave candidate generation under the ``on_hot``
    policy (``operators/hot.py``): ``'drop'`` excludes them with a
    logged account of the dropped (group, row) counts; ``'route'``
    pairs every member with the group's min-id representative — O(B)
    candidates per hot bucket through the same exact-cosine verify,
    keeping boilerplate components connected for the clustering
    consumers. One extra groupBy-count on the already-persisted bucket
    frame; None (default) keeps every bucket."""
    if on_hot not in HOT_POLICIES:
        raise ValueError(f"on_hot must be one of {HOT_POLICIES}, got {on_hot!r}")
    dim = vector_dim(df, vec_col)
    planes = hyperplanes(dim, n_bands * band_planes, seed)
    base = (
        spread(df.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v")))
        .withColumn("nrm", _norm(F.col("v")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bands = []
    for b in range(n_bands):
        sub = planes[b * band_planes : (b + 1) * band_planes]
        bands.append(
            F.struct(F.lit(b).alias("band"), lsh_bucket_expr("v", sub).alias("bucket"))
        )
    # persisted: the (band, bucket) frame feeds BOTH sides of the self-join,
    # and the bucket expression (n_bands x band_planes literal-plane dots) is
    # large — persisting caches 24 bytes/row-band AND keeps Catalyst from
    # analyzing/AQE-replanning the giant expression twice
    buckets = cached_buckets = (
        base.select("id", F.explode(F.array(*bands)).alias("bb"))
        .select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    extra = None
    cached = [base, cached_buckets]
    if max_bucket is not None:
        buckets, hot, _stats, sizes = split_hot_buckets(
            buckets, ("band", "bucket"), max_bucket,
            label="lsh_near_dup", policy=on_hot,
        )
        cached.append(sizes)
        if on_hot == "route":
            extra = (
                star_reps(hot, ("band", "bucket"))
                .filter(F.col("id") != F.col("_rep"))
                .select(F.col("_rep").alias("id_a"), F.col("id").alias("id_b"))
            )
    cand = (
        buckets.alias("a")
        .join(buckets.alias("b"), ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    if extra is not None:
        cand = cand.union(extra)
    cand = cand.distinct()
    va = base.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"), F.col("nrm").alias("n_a"))
    vb = base.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"), F.col("nrm").alias("n_b"))
    sim = F.round(dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")), 4)
    result = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("similarity", sim)
        .filter(F.col("similarity") >= threshold)
        .select("id_a", "id_b", "similarity")
    )
    return adopt(result, *cached)


def lsh_topk(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket.

    On a partitioned/bucketed table the bucket id is a partition key and
    this becomes a partition-pruned scan of ~1/2^n_planes of the data.
    Recall is probabilistic (tested against the exact baseline)."""
    dim = len(query)
    planes = hyperplanes(dim, n_planes, seed)
    # left-to-right IEEE fold, exactly the order the executor-side HOF
    # aggregate uses — np.dot's pairwise/SIMD summation could flip the
    # sign of a near-zero projection and disagree with the executor-side
    # bucket (and the differential oracle) on the same data
    qbucket = 0
    for i, plane in enumerate(planes):
        acc = 0.0
        for x, c in zip(query, plane):
            acc += float(x) * float(c)
        if acc >= 0:
            qbucket |= 1 << i
    return (
        df.withColumn("bucket", lsh_bucket_expr(vec_col, planes))
        .filter(F.col("bucket") == qbucket)
        .select(
            F.col(id_col),
            F.round(cosine(as_double(F.col(vec_col)), lit_vec([float(x) for x in query])), 4).alias("similarity"),
        )
        .orderBy(F.col("similarity").desc(), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Distributed k-means (integer-quantized Lloyd) — the IVF/PQ quantizer's
# scale path
# ---------------------------------------------------------------------------
#
# Full Lloyd over ALL vectors (not a bounded sample, whose cells can come
# out unbalanced at real corpus sizes), in Spark's execution model:
#
# - assign: a literal-matrix integer argmax (`kmeans_cell_expr`), map-side,
#   zero shuffle;
# - update: posexplode + groupBy(cell, pos) sum/count — partial aggregation
#   combines map-side, so the shuffle carries k x d partial rows per
#   partition, never data;
# - per round, exactly k x d aggregate rows reach the driver (metadata-
#   scale, independent of corpus size — the BPE-training collect shape,
#   `operators/bpe.py`).
#
# Everything accumulates in INTEGERS so the result is order-independent
# and a DuckDB oracle replays every iteration bit-for-bit (the
# `operators/graph.py` pattern): vectors are unit-normalized then floored
# to micro-units (x/|v| * 1e6), per-cell means use truncating integer
# division (Spark `div` == DuckDB `//` == trunc toward zero), and the
# centroid re-normalization floor(m * 1e6 / sqrt(sum m^2)) is a
# mul-div-floor chain with no fusable add (cross-engine FMA-safe).
#
# Overflow headroom at 100 TB: |component| <= 1e6, so a per-dim cell sum
# of 1e9 members is <= 1e15, dots are <= d * 1e12, and sum(m^2) <= d * 1e12
# — all comfortably inside BIGINT.


def _lit_imatrix_sql(rows: list[list[int]]) -> str:
    """A literal array-of-bigint-arrays as one SQL string (see
    :func:`lit_vec` for why strings beat per-element Columns)."""
    return (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"CAST({int(c)} AS BIGINT)" for c in row) + ")"
            for row in rows
        )
        + ")"
    )


def quantize_unit_micro(vec_col: str, norm_col: str) -> Column:
    """Unit-normalize then floor to integer micro-units:
    floor(x / |v| * 1e6) per component. Div-then-mul-then-floor — each
    step an IEEE-determined op with no fusable multiply-add, so DuckDB
    replays it bit-for-bit; the caller must have filtered ``norm_col``
    > 0 (all-zero vectors have no direction and would poison the math
    with NaN)."""
    return F.expr(
        f"transform(`{vec_col}`, x -> CAST(floor(CAST(x AS DOUBLE) / "
        f"`{norm_col}` * 1000000.0) AS BIGINT))"
    )


def sq_norm_expr(vec_col: str) -> Column:
    """sqrt of the left-to-right fold of squared components — transform
    THEN aggregate, the exact shape DuckDB's list_transform + list_sum
    folds in the same order."""
    return F.expr(_sq_norm_sql(vec_col))


def _sq_norm_sql(vec_col: str) -> str:
    return (
        f"sqrt(aggregate(transform(`{vec_col}`, x -> CAST(x AS DOUBLE) * "
        f"CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (a, b) -> a + b))"
    )


def cosine_lit_sql(vec_col: str, query: list[float]) -> tuple[str, str]:
    """Exact cosine of ``vec_col`` against one literal query vector as
    SQL text: ``(score, norm)``, where ``norm`` is the stored vector's
    norm (:func:`sq_norm_expr`'s fold) — the caller's zero-norm filter
    and the score's denominator use this one string, so they agree
    bit-for-bit.

    The score is ``dot / (norm * qnorm)``, the same expression tree as
    :func:`cosine` over ``as_double(vec)`` and :func:`lit_vec` — each
    fold left to right from 0.0, so every value is bit-identical:

    - ``dot`` folds ``acc + x * y`` over ``zip_with``, like :func:`dot`;
    - ``norm`` folds ``acc + x * x``; squaring each component before
      the fold equals ``dot(v, v)`` term by term;
    - ``qnorm`` is folded on the driver in the same IEEE order
      (``acc = acc + x * x``, then ``math.sqrt``, correctly rounded like
      Java's ``Math.sqrt``) and enters as a ``CAST('<repr>' AS DOUBLE)``
      literal, which round-trips exactly (see :func:`lit_vec`).

    A zero-norm query makes ``norm * 0.0`` a zero divisor: an ANSI
    divide-by-zero (NULL with ANSI off), exactly as :func:`cosine`. As
    one string the score costs a handful of py4j round trips to plan,
    where the equivalent Column tree costs hundreds."""
    q = [float(x) for x in query]
    acc = 0.0
    for x in q:
        acc = acc + x * x
    v = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    dot_sql = (
        f"aggregate(zip_with({v}, {_lit_vec_sql(q)}, (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
    )
    norm = _sq_norm_sql(vec_col)
    return f"{dot_sql} / ({norm} * CAST('{math.sqrt(acc)!r}' AS DOUBLE))", norm


def kmeans_cell_expr(qvec_col: str, cents: list[list[int]]) -> Column:
    """Integer argmax assignment: cell = argmax over centroids of
    dot(qv, c) with ties to the HIGHER cell id (struct max is
    lexicographic on (score, cell) — the oracle replays it as
    arg_max(cell, dot * k + cell)). Map-side, no shuffle; the centroid
    matrix rides as one constant-folded literal."""
    n = len(cents)
    return F.expr(
        f"CAST(array_max(transform(sequence(0, {n - 1}), i -> named_struct("
        f"'s', aggregate(zip_with(`{qvec_col}`, "
        f"element_at({_lit_imatrix_sql(cents)}, i + 1), (x, y) -> x * y), "
        f"CAST(0 AS BIGINT), (a, b) -> a + b), "
        f"'c', i))).c AS INT)"
    )


def _trunc_div(s: int, cnt: int) -> int:
    """Integer division truncating toward zero — Spark's `div`, DuckDB's
    `//`, and Java semantics (Python's // floors, which differs on
    negatives)."""
    return s // cnt if s >= 0 else -((-s) // cnt)


# -- Arrow training kernels (r10, VERDICT r9 item 7) ----------------------
#
# Lloyd's assignment step over a literal centroid matrix is the one place
# the HOF expression path is slow: Spark evaluates higher-order-function
# lambdas INTERPRETED, per row (~1ms/row against an 8x64 matrix). For
# TRAINING only — scoring/assignment in declared query plans stays on the
# native kmeans_cell_expr/pq_cells_expr — the per-iteration partial sums
# instead come from a vectorized Arrow kernel: one int64 matmul + argmax
# per batch, partial (cell, pos, s, cnt) rows per PARTITION, then a tiny
# groupBy. The math is IDENTICAL (exact int64: |component| <= 1e6 so dots
# <= 6.4e13 and per-batch sums <= 1e10 << 2^63; ties replicate the
# struct-max/min rules), so trained centroids are bit-equal to the HOF
# path — pinned by a differential pytest — and every DuckDB oracle
# replays unchanged. This also removes the posexplode: the shuffle
# carries k x d partial rows per partition, same as before, but nothing
# materializes n x d exploded rows first.


def _kmeans_partials_arrow(base: DataFrame, cents: list[list[int]]) -> DataFrame:
    """Per-partition partial sums for one Lloyd update: rows of
    (cell, pos, s, cnt). Ties go to the HIGHER cell (struct-max parity:
    argmax over reversed columns returns the highest original index)."""
    import pandas as pd

    c = np.array(cents, dtype=np.int64)
    k = c.shape[0]

    def fn(it):
        for pdf in it:
            if not len(pdf):
                continue
            qv = np.array(pdf["_qv"].tolist(), dtype=np.int64)
            dots = qv @ c.T
            cell = (k - 1) - np.argmax(dots[:, ::-1], axis=1)
            frames = []
            for cc in np.unique(cell):
                sel = qv[cell == cc]
                frames.append(
                    pd.DataFrame(
                        {
                            "cell": int(cc),
                            "pos": np.arange(sel.shape[1], dtype=np.int32),
                            "s": sel.sum(axis=0),
                            "cnt": np.int64(sel.shape[0]),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return base.select("_qv").mapInPandas(fn, "cell int, pos int, s long, cnt long")


def _pq_partials_arrow(
    base: DataFrame, books: list[list[list[int]]]
) -> DataFrame:
    """PQ sibling: per-partition partial sums (j, cell, spos, s, cnt)
    for all m subspaces in one pass. Ties go to the LOWER cell
    (np.argmin returns the first minimum — struct-min parity)."""
    import pandas as pd

    b = np.array(books, dtype=np.int64)  # m x k x ds
    m, _k, ds = b.shape

    def fn(it):
        for pdf in it:
            if not len(pdf):
                continue
            qv = np.array(pdf["_qv"].tolist(), dtype=np.int64)
            sub = qv.reshape(qv.shape[0], m, ds)
            frames = []
            for j in range(m):
                diff = sub[:, j, None, :] - b[j][None, :, :]
                d2 = np.einsum("nkd,nkd->nk", diff, diff)
                code = np.argmin(d2, axis=1)
                for cc in np.unique(code):
                    sel = sub[code == cc, j, :]
                    frames.append(
                        pd.DataFrame(
                            {
                                "j": np.int32(j),
                                "cell": int(cc),
                                "spos": np.arange(ds, dtype=np.int32),
                                "s": sel.sum(axis=0),
                                "cnt": np.int64(sel.shape[0]),
                            }
                        )
                    )
            yield pd.concat(frames, ignore_index=True)

    return base.select("_qv").mapInPandas(
        fn, "j int, cell int, spos int, s long, cnt long"
    )


def quantized_training_base(
    df: DataFrame, vec_col: str, id_col: str = "vec_id", hash_fn: HashFamily = XXH
) -> DataFrame:
    """The (_id, _qv, _h) frame BOTH quantizer trainers consume:
    spread (the HOF/Arrow per-row work must not serialize on a
    single-file input), unit-norm micro-quantize, hash for seeding.
    Extracted (code-review r10) so a build that trains centroids AND
    codebooks prepares the corpus once — pass it as ``base=`` to
    :func:`kmeans_centroids_int` / :func:`pq_codebooks_int` (the caller
    then owns persist/unpersist)."""
    h = checked(hash_fn).key_hash(F.col(id_col))
    return (
        spread(df.select(id_col, vec_col))
        .withColumn("_nrm", sq_norm_expr(vec_col))
        .filter(F.col("_nrm") > 0)
        .select(
            F.col(id_col).alias("_id"),
            quantize_unit_micro(vec_col, "_nrm").alias("_qv"),
            h.alias("_h"),
        )
    )


def kmeans_centroids_int(
    df: DataFrame,
    vec_col: str,
    *,
    n_cells: int = 8,
    iterations: int = 3,
    id_col: str = "vec_id",
    hash_fn: HashFamily = XXH,
    assign: str = "arrow",
    base: DataFrame | None = None,
    seed_qvs: list[list[int]] | None = None,
) -> list[list[int]]:
    """Train ``n_cells`` centroids with ``iterations`` full Lloyd steps
    over EVERY (non-zero) vector; returns the k x d integer micro-unit
    centroid matrix. Seeds are the n_cells vectors of smallest
    ``hash_fn.key_hash(id)`` — ``XXH`` (production) or ``MD5`` (the
    DuckDB-replayable family, ``operators/hashing.py``). Empty and
    degenerate (zero-mean) cells keep their previous centroid.
    ``assign`` picks the per-iteration partial-sum backend: ``'arrow'``
    (vectorized int64 matmul — the default; exact-integer math identical
    to the expression path, differential-pinned) or ``'hof'`` (the
    native higher-order-function expression — interpreted per row,
    kept as the differential reference). ``seed_qvs`` supplies the
    hash-order seed prefix when the caller already collected it (a
    build training centroids AND codebooks collects ONE shared prefix
    instead of two orderBy-limit jobs over the base)."""
    import math

    own_base = base is None
    if own_base:
        base = quantized_training_base(df, vec_col, id_col, hash_fn).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    try:
        if seed_qvs is not None:
            cents = [list(v) for v in seed_qvs[:n_cells]]
        else:
            seeds = base.orderBy("_h", "_id").limit(n_cells).select("_qv").collect()
            cents = [list(r["_qv"]) for r in seeds]
        if not cents:
            return []
        for _ in range(iterations):
            if assign == "arrow":
                partials = _kmeans_partials_arrow(base, cents)
            else:
                partials = base.select(
                    kmeans_cell_expr("_qv", cents).alias("cell"),
                    F.posexplode("_qv").alias("pos", "x"),
                ).select("cell", "pos", F.col("x").alias("s"), F.lit(1).alias("cnt"))
            parts = (
                partials.groupBy("cell", "pos")
                .agg(F.sum("s").alias("s"), F.sum("cnt").alias("cnt"))
                .collect()  # exactly k x d rows — metadata-scale
            )
            by_cell: dict[int, dict[int, tuple[int, int]]] = {}
            for r in parts:
                by_cell.setdefault(r["cell"], {})[r["pos"]] = (r["s"], r["cnt"])
            for c, dims in by_cell.items():
                m = [
                    _trunc_div(dims[j][0], dims[j][1])
                    for j in range(len(cents[c]))
                ]
                ss = sum(v * v for v in m)
                if ss == 0:
                    continue  # degenerate cell: keep previous centroid
                root = math.sqrt(float(ss))
                cents[c] = [
                    int(math.floor(float(v) * 1000000.0 / root)) for v in m
                ]
    finally:
        if own_base:
            base.unpersist()
    return cents


# ---------------------------------------------------------------------------
# Distributed PQ codebook training — the product-quantizer's scale path
# ---------------------------------------------------------------------------
#
# Same architecture as kmeans_centroids_int, generalized to m independent
# subspace quantizers trained in ONE pass per iteration: assignment is an
# m-wide literal-tensor argmin (Euclidean, map-side), the update a single
# posexplode + groupBy(subspace, cell, pos) sum/count — every subspace's
# partial sums share one shuffle, and exactly m x k x (d/m) = d x k rows
# reach the driver per round. PQ means are NOT renormalized (codebooks
# approximate subvectors, not directions), so the update is pure integer
# trunc-div — bit-replayable by DuckDB with zero float steps.


def _lit_itensor_sql(books: list[list[list[int]]]) -> str:
    """A literal bigint array-of-arrays-of-arrays (m x k x ds)."""
    return (
        "array("
        + ", ".join(
            "array("
            + ", ".join(
                "array(" + ", ".join(f"{int(c)}L" for c in cent) + ")"
                for cent in book
            )
            + ")"
            for book in books
        )
        + ")"
    )


def pq_cells_expr(qvec_col: str, books: list[list[list[int]]]) -> Column:
    """Per-row array of m cell assignments: for each subspace j, the
    argmin over its k centroids of the exact integer squared distance
    (ties to the LOWER cell — struct MIN on (d2, cell); the oracle
    replays it as arg_min(cell, d2 * k + cell))."""
    m, k = len(books), len(books[0])
    ds = len(books[0][0])
    t = _lit_itensor_sql(books)
    return F.expr(
        f"transform(sequence(0, {m - 1}), j -> "
        f"CAST(array_min(transform(sequence(0, {k - 1}), c -> named_struct("
        f"'d', aggregate(zip_with(slice(`{qvec_col}`, j * {ds} + 1, {ds}), "
        f"element_at(element_at({t}, j + 1), c + 1), "
        f"(x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (a, b) -> a + b), "
        f"'c', c))).c AS INT))"
    )


def probe_cells_expr(
    qvec_col: str, cents: list[list[int]], n_probe: int
) -> Column:
    """Per-row array of the top-``n_probe`` IVF cells by exact integer
    centroid dot — dot DESC, ties to the LOWER cell (array_sort on
    struct(-dot, cell); the oracle replays it as a row_number over
    (dot DESC, cell)). The batch form of the driver-side numpy argsort
    in `operators/ann.py topk` (r11, VERDICT r10 item 1): probe
    selection becomes a map-side column, so a 10k-vector query batch is
    ONE plan, not 10k."""
    n = len(cents)
    mat = _lit_imatrix_sql(cents)
    return F.expr(
        f"transform(slice(array_sort(transform(sequence(0, {n - 1}), i -> "
        f"named_struct('negdot', -aggregate(zip_with(`{qvec_col}`, "
        f"element_at({mat}, i + 1), (x, y) -> x * y), CAST(0 AS BIGINT), "
        f"(a, b) -> a + b), 'c', i))), 1, {min(n_probe, n)}), s -> s.c)"
    )


def adc_lut_expr(qvec_col: str, books: list[list[list[int]]]) -> Column:
    """Per-row m x k ADC lookup table: lut[j][c] = |q_sub_j -
    book[j][c]|^2 in exact integer micro-units — computed ONCE per
    query row (m*k*ds integer ops), so each candidate then costs m
    lookups (:func:`adc_from_lut_expr`) instead of m*ds arithmetic.
    The batch twin of the driver-built table in `operators/ann.py
    topk(mode='adc')`."""
    m, k, ds = len(books), len(books[0]), len(books[0][0])
    t = _lit_itensor_sql(books)
    return F.expr(
        f"transform(sequence(0, {m - 1}), j -> "
        f"transform(sequence(0, {k - 1}), c -> "
        f"aggregate(zip_with(slice(`{qvec_col}`, j * {ds} + 1, {ds}), "
        f"element_at(element_at({t}, j + 1), c + 1), "
        f"(x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (a, b) -> a + b)))"
    )


def adc_from_lut_expr(lut_col: str, codes_col: str, m: int) -> Column:
    """Asymmetric distance of one (query, candidate) pair: m integer
    lookups of the candidate's stored subspace codes in the query's
    precomputed table — no arithmetic on the vector."""
    return F.expr(
        f"aggregate(transform(sequence(0, {m - 1}), j -> "
        f"element_at(element_at(`{lut_col}`, j + 1), "
        f"element_at(`{codes_col}`, j + 1) + 1)), "
        f"CAST(0 AS BIGINT), (a, b) -> a + b)"
    )


def pq_codebooks_int(
    df: DataFrame,
    vec_col: str,
    *,
    m: int = 8,
    k: int = 16,
    iterations: int = 2,
    id_col: str = "vec_id",
    hash_fn: HashFamily = XXH,
    assign: str = "arrow",
    base: DataFrame | None = None,
    seed_qvs: list[list[int]] | None = None,
) -> list[list[list[int]]]:
    """Train m x k product-quantization codebooks with ``iterations``
    full Lloyd steps over EVERY non-zero vector (unit-norm micro-unit
    space, like :func:`kmeans_centroids_int`). Seeds per subspace are
    the subvectors of the k hash-smallest rows; empty cells keep their
    previous centroid. Returns the m x k x (d/m) integer tensor.
    ``assign`` as in :func:`kmeans_centroids_int`: ``'arrow'`` partial
    sums (default) or the ``'hof'`` expression reference; ``seed_qvs``
    as in :func:`kmeans_centroids_int` (the shared hash-order seed
    prefix)."""
    own_base = base is None
    if own_base:
        base = quantized_training_base(df, vec_col, id_col, hash_fn).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    try:
        if seed_qvs is not None:
            seed_vecs = [list(v) for v in seed_qvs[:k]]
        else:
            seed_rows = base.orderBy("_h", "_id").limit(k).select("_qv").collect()
            seed_vecs = [list(r["_qv"]) for r in seed_rows]
        if not seed_vecs:
            return []
        d = len(seed_vecs[0])
        if d % m:
            raise ValueError(f"dim {d} not divisible by m={m}")
        ds = d // m
        books = [
            [list(v[j * ds : (j + 1) * ds]) for v in seed_vecs]
            for j in range(m)
        ]
        while len(books[0]) < k:  # degenerate tiny corpus: repeat seeds
            for j in range(m):
                books[j].append(list(books[j][len(books[j]) % len(seed_vecs)]))
        for _ in range(iterations):
            if assign == "arrow":
                partials = _pq_partials_arrow(base, books)
            else:
                j_col = (F.col("pos") / ds).cast("int")
                partials = base.select(
                    pq_cells_expr("_qv", books).alias("_cells"),
                    F.posexplode("_qv").alias("pos", "x"),
                ).select(
                    j_col.alias("j"),
                    F.element_at("_cells", j_col + 1).alias("cell"),
                    (F.col("pos") % ds).alias("spos"),
                    F.col("x").alias("s"),
                    F.lit(1).alias("cnt"),
                )
            parts = (
                partials.groupBy("j", "cell", "spos")
                .agg(F.sum("s").alias("s"), F.sum("cnt").alias("cnt"))
                .collect()  # exactly d x k rows — metadata-scale
            )
            acc: dict[tuple[int, int], dict[int, tuple[int, int]]] = {}
            for r in parts:
                acc.setdefault((r["j"], r["cell"]), {})[r["spos"]] = (r["s"], r["cnt"])
            for (j, cell), dims in acc.items():
                books[j][cell] = [
                    _trunc_div(dims[p][0], dims[p][1]) for p in range(ds)
                ]
        return books
    finally:
        if own_base:
            base.unpersist()
