"""Deduplication operators for LLM-data pipelines at 100 TB scale:

- exact dedup           — fingerprint group-by (one shuffle on a 128-bit key)
- n-gram Jaccard        — blocked self-join + exact set Jaccard
- MinHash + LSH         — shingle -> 64-perm signature -> banded bucket
                          join -> verify; candidate generation never
                          compares all pairs (the scale path)
- SimHash               — 64-bit sign-sum sketch + blocked Hamming join

Everything is native DataFrame ops (explode / higher-order functions /
xxhash64 / bit ops) — no Python in the hot path. The quadratic variants
take a blocking column; at 100 TB you block (by language, length bucket,
LSH band) or you don't run. The hashing operators take a ``hash_fn``
family member (``operators/hashing.py``): ``XXH`` by default, ``MD5``
for a run the DuckDB oracle replays.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from automated_datastore_discovery_with_aws_glue_spark.operators.cache import (
    adopt,
    carry,
    checkpoint_rdd_id,
    rdd_id_releaser,
    release,
)
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
from automated_datastore_discovery_with_aws_glue_spark.operators.text import (
    fingerprint,
    normalize_text,
    token_count,
)


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct normalized text: representative = min id,
    plus duplicate count. Single hash aggregate on the md5 fingerprint —
    shuffle carries (fingerprint, id, count) only, never the text."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("representative_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs within blocks.

    Scale design — prefix-filtered set-similarity join (the All-Pairs /
    PPJoin candidate rule; public literature: Bayardo et al. WWW'07,
    Vernica et al. SIGMOD'10):

    1. Shingles get a canonical total order (their xxhash64 — a proxy
       for rarest-first). For J >= t it suffices to index each doc's
       first ``|sh| - ceil(t*|sh|) + 1`` shingles: any qualifying pair
       must share an indexed prefix shingle.
    2. Candidates = inverted-index equi-join on (block, prefix-shingle)
       — work scales with shared-shingle pairs, never all pairs.
    3. Size-compatibility prune (J>=t implies min/max sizes >= t) with
       integer arithmetic, then exact verification: one array_intersect
       per surviving candidate; |A∪B| = |A|+|B|-|A∩B| so no union
       array materializes.

    Threshold compares use integer cross-multiplication so engine float
    quirks can't flip boundary pairs. Output: (id_a, id_b, jaccard).

    The hashed-shingle frame is the prefix index AND both verification
    sides, so it is persisted (memory-and-disk; hashes only, never the
    text) — one shingling pass instead of three; ``spread`` rebalances
    unsplittable inputs before the CPU-heavy shingle stage.

    Canonical shingle order is ASCENDING DOCUMENT FREQUENCY (ties by
    hash) — the standard all-pairs refinement: prefixes then hold each
    document's *rarest* shingles, so the inverted index rarely collides
    on stop-gram noise. Costs one extra explode+groupBy+join pipeline
    over the shingle stream (at PB scale the df table can come from a
    sample instead; the ordering only affects pruning power, never
    correctness). Raw candidates skip the pre-verification ``distinct``
    — verifying a duplicate candidate is cheaper than shuffling all
    candidates to dedup them; the final (tiny) result dedups instead.
    """
    num = int(round(threshold * 10000))
    base = (
        _shingle_frame(df, id_col, text_col, n, block_col=block_col)
        .withColumn("plen", F.col("sz") - F.ceil(F.col("sz") * F.lit(threshold)).cast("int") + 1)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # document frequency per shingle hash -> rarest-first total order.
    # The prefix index comes straight off a row_number window over
    # (df, ph) per doc: same single shuffle on id as the previous
    # collect_list+array_sort+posexplode formulation, but no per-doc
    # array materialization/re-explode — measured ~20% faster end-to-end
    # with identical pairs.
    grams = base.select("id", "block", "sz", "plen", F.explode("hs").alias("ph"))
    freq = grams.groupBy("ph").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy("df", "ph")
    pref = (
        grams.join(freq, "ph")
        .withColumn("p", F.row_number().over(w) - 1)
        .filter(F.col("p") < F.col("plen"))
        .select("id", "block", "sz", "p", "ph")
    )
    a = pref.select(F.col("id").alias("id_a"), "block", F.col("sz").alias("sz_a"), F.col("p").alias("p_a"), "ph")
    b = pref.select(F.col("id").alias("id_b"), "block", F.col("sz").alias("sz_b"), F.col("p").alias("p_b"), "ph")
    # PPJoin positional filter (Xiao et al. WWW'08): with the matched
    # prefix shingle at 0-based positions (p_a, p_b), the overlap can't
    # exceed min(p_a,p_b) common shingles before the match + the match +
    # min(suffix_a, suffix_b) after it; J >= t needs overlap*(1+t) >=
    # t*(sz_a+sz_b). At the best positions (0,0) this reduces to the
    # plain size-compatibility bound, so it strictly subsumes it. Checked
    # with integer cross-multiplication (scaled by 10000+num).
    overlap_bound = (
        F.least("p_a", "p_b")
        + 1
        + F.least(F.col("sz_a") - F.col("p_a") - 1, F.col("sz_b") - F.col("p_b") - 1)
    )
    pos_ok = overlap_bound * F.lit(10000 + num) >= F.lit(num) * (F.col("sz_a") + F.col("sz_b"))
    cand = (
        a.join(b, ["block", "ph"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(pos_ok)
        .select("id_a", "id_b")
    )
    return adopt(_verified(cand, base, base, threshold).distinct(), base)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _shingle_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    hash_fn: HashFamily = XXH,
    *,
    block_col: str | None = None,
) -> DataFrame:
    """(id[, block], hs, sz): hs = ``hash_fn.shingles`` (``XXH``: sorted
    8-byte hashes). Every downstream stage (signatures, prefix index,
    verification) works on the shingle set — the text is dropped at the
    scan. ``spread`` rebalances unsplittable inputs before the
    CPU-heavy shingling."""
    cols = [F.col(id_col).alias("id")]
    keep = ["id"]
    if block_col is not None:
        cols.append(F.col(block_col).alias("block"))
        keep.append("block")
    cols.append(F.col(text_col).alias("_t"))
    return (
        spread(df.select(*cols))
        .select(*keep, hash_fn.shingles(F.col("_t"), n).alias("hs"))
        .withColumn("sz", F.size("hs"))
    )


def _signature_expr(hs: Column, num_hashes: int, hash_fn: HashFamily = XXH) -> Column:
    """MinHash signature from a shingle array, fully map-side.

    The i-th permutation is ``hash_fn.key_hash(h, i)`` — for ``XXH``
    ``xxhash64(h, i)`` over the 64-bit shingle hash: an independent mix
    per i with no modular arithmetic (ANSI-safe), hashing a fixed-width
    long instead of re-walking the shingle string per permutation.
    Computed as a nested higher-order transform inside one projection:
    NO explode, NO shuffle — the signature stage is embarrassingly
    parallel at any scale."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(F.transform(hs, lambda h: hash_fn.key_hash(h, i, sep="#"))),
    )


def _band_structs(
    sig: Column, num_hashes: int, bands: int, hash_fn: HashFamily = XXH
) -> Column:
    """``array<struct<band, bucket>>`` of a signature: ``bands`` slices
    of ``num_hashes // bands`` rows, each keyed by ``hash_fn.band_key``
    (``XXH`` hashes the long-array slice; ``MD5`` keeps the slice — arrays
    are hashable join keys, and the slice replays in SQL)."""
    rows = num_hashes // bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda bandix: F.struct(
            bandix.alias("band"),
            hash_fn.band_key(F.slice(sig, bandix * rows + 1, rows)).alias("bucket"),
        ),
    )


def _banded(
    base: DataFrame, num_hashes: int, bands: int, hash_fn: HashFamily = XXH
) -> DataFrame:
    """(id, band, bucket) rows of a shingle frame's MinHash signatures —
    the LSH bucket index every candidate join in the family uses."""
    sigs = base.select("id", _signature_expr(F.col("hs"), num_hashes, hash_fn).alias("signature"))
    return sigs.select(
        "id", F.explode(_band_structs(F.col("signature"), num_hashes, bands, hash_fn)).alias("bb")
    ).select("id", "bb.band", "bb.bucket")


def _verified(
    cand: DataFrame,
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    sides: tuple[str, str] = ("a", "b"),
) -> DataFrame:
    """Exact-Jaccard verification of ``(id_a, id_b)`` candidates:
    ``left`` / ``right`` provide (id, hs, sz) for each side; returns
    ``(id_a, id_b, jaccard)`` for the pairs clearing ``threshold``.
    |A∪B| = |A|+|B|-|A∩B|, so no union array materializes, and the
    threshold compares by integer cross-multiplication — boundary pairs
    are engine-stable. ``sides`` names the suffixes (``id_l``/``id_r``
    for a two-table join)."""
    l, r = sides
    inter = F.size(F.array_intersect(f"hs_{l}", f"hs_{r}"))
    union = F.col(f"sz_{l}") + F.col(f"sz_{r}") - inter
    num = int(round(threshold * 10000))

    def side(frame: DataFrame, s: str) -> DataFrame:
        return frame.select(
            F.col("id").alias(f"id_{s}"), F.col("hs").alias(f"hs_{s}"), F.col("sz").alias(f"sz_{s}")
        )

    return (
        cand.join(side(left, l), f"id_{l}")
        .join(side(right, r), f"id_{r}")
        .filter(inter * 10000 >= F.lit(num) * union)
        .select(f"id_{l}", f"id_{r}", F.round(inter.cast("double") / union, 4).alias("jaccard"))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 64,
    hash_fn: HashFamily = XXH,
) -> DataFrame:
    """MinHash signature per document (one shuffle-free projection:
    shingle -> hash -> per-permutation array_min). With ``hash_fn=MD5``
    every signature value replays in DuckDB."""
    hash_fn = checked(hash_fn)
    return _shingle_frame(df, id_col, text_col, n, hash_fn).select(
        "id", _signature_expr(F.col("hs"), num_hashes, hash_fn).alias("signature")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    on_hot: str = "drop",
    hash_fn: HashFamily = XXH,
) -> DataFrame:
    """Near-dup pairs via banded LSH + exact-Jaccard verification.

    Candidate generation: signatures split into ``bands`` bands of
    ``num_hashes/bands`` rows; docs sharing any band bucket become
    candidates (equi-join on (band, bucket) — linear shuffle, never
    all-pairs). Verification recomputes exact shingle Jaccard on the
    candidates only. With 16 bands x 4 rows the S-curve catches
    J >= ~0.5 with high recall.

    The shingle frame feeds the map-side signature expression and both
    verification sides — persisted once (``XXH``: sorted hash arrays,
    never text); signatures need no shuffle at all (see
    ``_signature_expr``). With ``hash_fn=MD5`` every hash, band key and
    shingle replays in DuckDB, so the differential oracle pins the pair
    set itself — candidates and verification.

    ``max_bucket`` mirrors the hot-bucket safety valve of
    ``similarity.lsh_near_dup``: (band, bucket) groups larger than the
    cap — boilerplate-dominated corpora collapsing into one bucket —
    leave the self-join before it turns quadratic. ``on_hot`` picks the
    policy (``operators/hot.py``): ``'drop'`` excludes them (logged,
    never silent), ``'route'`` emits star candidates to each hot
    group's min-id representative — O(B) per bucket, same exact
    verification."""
    hash_fn = checked(hash_fn)
    if on_hot not in HOT_POLICIES:
        raise ValueError(f"on_hot must be one of {HOT_POLICIES}, got {on_hot!r}")
    base = _shingle_frame(df, id_col, text_col, n, hash_fn).persist(StorageLevel.MEMORY_AND_DISK)
    banded = _banded(base, num_hashes, bands, hash_fn)
    extra = None
    cached: list = [base]
    if max_bucket is not None:
        banded, hot, _stats, sizes = split_hot_buckets(
            banded, ("band", "bucket"), max_bucket,
            label="minhash_lsh_pairs", policy=on_hot,
        )
        cached.append(sizes)
        if on_hot == "route":
            extra = (
                star_reps(hot, ("band", "bucket"))
                .filter(F.col("id") != F.col("_rep"))
                .select(F.col("_rep").alias("id_a"), F.col("id").alias("id_b"))
            )
    cand = (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "bucket"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
    )
    if extra is not None:
        cand = cand.union(extra)
    result = _verified(cand.distinct(), base, base, threshold)
    return adopt(result, *cached)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

#: per-document sketch from the distinct-token hash array ``th``: fold a
#: {width}-bin bit histogram (ones[i] = #tokens with bit i set), then set
#: sketch bit i iff the majority of tokens have it (sign-sum > 0 iff
#: 2*ones > n). ONE SQL expression: a single parse/analyze, no explode,
#: no shuffle — the sketch stage scales with executors alone.
# Per-bit scalar fold: the outer loop runs once per sketch bit, the inner
# aggregate folds the token hashes with a SCALAR accumulator. The earlier
# counter-array formulation (zip_with over a 64-long accumulator) allocated
# a fresh 64-element array per token — same O(T x width) step count but
# with per-token allocation; this form measures ~15% faster and allocates
# nothing per token.
_SIMHASH_EXPR_TMPL = """
    aggregate(
        transform(sequence(0, {maxbit}), i ->
            shiftleft(cast(2 * aggregate(th, cast(0 as bigint),
                                         (a, h) -> a + (shiftrightunsigned(h, i) & 1))
                           > size(th) as bigint), i)),
        cast(0 as bigint),
        (acc, t) -> acc ^ t
    )
"""


def simhash64(df: DataFrame, id_col: str, text_col: str, *, hash_fn: HashFamily = XXH) -> DataFrame:
    """SimHash per document, fully map-side: hash the distinct tokens,
    then fold the sketch with one higher-order expression. The old
    formulation exploded every token and ran a 64-column SUM aggregate —
    a full shuffle of the token stream plus a giant generated aggregate
    class; this is one shuffle-free projection.

    The sketch has ``hash_fn.simhash_width`` bits: 64 for ``XXH``, 60
    for ``MD5``, whose token hash is the 60-bit ``md5_hash64`` — with
    ``MD5`` the differential oracle replays the sketch math bit for
    bit."""
    hash_fn = checked(hash_fn)
    expr = _SIMHASH_EXPR_TMPL.format(maxbit=hash_fn.simhash_width - 1)
    return spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))).select(
        "id",
        F.transform(
            F.array_distinct(F.split(normalize_text(F.col("_t")), " ")),
            lambda t: hash_fn.key_hash(t),
        ).alias("th"),
    ).select("id", F.expr(expr).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    *,
    max_hamming: int = 3,
    max_bucket: int | None = None,
    on_hot: str = "drop",
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming within blocks.

    Candidate generation is EXACT band-blocking (Manku et al., WWW'07):
    split the 64-bit sketch into ``max_hamming + 1`` disjoint bit bands —
    by pigeonhole, two sketches within ``max_hamming`` bits agree on at
    least one whole band — and equi-join on (block, band, band-bits).
    Work scales with band collisions, never all pairs; verification is a
    single bit_count per candidate.

    ``max_bucket`` is the hot-bucket safety valve (see
    ``minhash_lsh_pairs``): (block, band, key) groups above the cap
    leave the self-join. NOTE unlike the probabilistic LSH families this
    band-blocking is exact, so a cap trades completeness for boundedness.
    ``on_hot='drop'`` excludes capped groups (logged, never silent);
    ``on_hot='route'`` keeps hot groups connected by pairing every
    member with the group's min-id representative (its sketch rides the
    ``min_by`` aggregate) — O(B) per bucket, Hamming-verified like any
    candidate. Default ``max_bucket=None`` keeps exactness."""
    if on_hot not in HOT_POLICIES:
        raise ValueError(f"on_hot must be one of {HOT_POLICIES}, got {on_hot!r}")
    bands = max_hamming + 1
    width = 64 // bands
    mask = (1 << width) - 1
    s = simhash64(df, id_col, text_col)
    blocks = df.select(F.col(id_col).alias("id"), F.col(block_col).alias("block"))
    # both sides of the band join read the sketch frame — persist the
    # (id, simhash, block) triple (16B/doc) so sketches compute once
    base = s.join(blocks, "id").persist(StorageLevel.MEMORY_AND_DISK)
    # the 8-byte sketch rides along on both sides of the band join, so
    # verification needs NO join back to the sketch frame — measured ~25%
    # faster than candidates->distinct->2 lookup joins, same results
    banded = base.select(
        "id",
        "block",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("simhash", i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "block", "simhash", "bb.band", "bb.key")
    extra = None
    cached = [base]
    if max_bucket is not None:
        banded, hot, _stats, sizes = split_hot_buckets(
            banded, ("block", "band", "key"), max_bucket,
            label="simhash_pairs", policy=on_hot,
        )
        cached.append(sizes)
        if on_hot == "route":
            extra = (
                star_reps(hot, ("block", "band", "key"), carry={"_rep_sh": "simhash"})
                .filter(F.col("id") != F.col("_rep"))
                .select(
                    F.col("_rep").alias("id_a"),
                    F.col("id").alias("id_b"),
                    F.col("_rep_sh").alias("sh_a"),
                    F.col("simhash").alias("sh_b"),
                )
            )
    left = banded.select(
        F.col("id").alias("id_a"), "block", "band", "key", F.col("simhash").alias("sh_a")
    )
    right = banded.select(
        F.col("id").alias("id_b"), "block", "band", "key", F.col("simhash").alias("sh_b")
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    cand = (
        left.join(right, ["block", "band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
    )
    if extra is not None:
        cand = cand.union(extra)
    result = (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )
    return adopt(result, *cached)


def _gram_keys(
    df: DataFrame, id_col: str, text_col: str, n: int, hash_fn: HashFamily
) -> DataFrame:
    """(id, gh): one row per distinct word ``n``-gram of each document,
    keyed by ``hash_fn.gram_keys`` — the gram stream the contamination
    operators match against the benchmark's."""
    return _shingle_frame(df, id_col, text_col, n, hash_fn).select(
        "id", F.explode(hash_fn.gram_keys(F.col("hs"))).alias("gh")
    )


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 13,
    hash_fn: HashFamily = XXH,
    detect_on: DataFrame | None = None,
) -> DataFrame:
    """Test-set decontamination (the GPT-3-style pipeline step): drop
    every training document that shares ANY word ``n``-gram with the
    benchmark corpus, so evaluation data never leaks into training.

    Scale shape — the benchmark is the SMALL side (benchmarks are KBs/MBs
    where the corpus is TBs): its distinct gram hashes build once and
    BROADCAST to the training scan, so contamination detection is a
    map-side semi-join over the exploded corpus grams (no corpus-sized
    shuffle to find matches); the only corpus-keyed shuffle is the final
    anti-join on contaminated ids, which is bounded by the number of
    contaminated documents. Grams are the family's shingle keys
    (``XXH``: ``hashed_shingles``, fixed-width longs, no gram strings
    materialize; ``MD5``: the 60-bit md5 of each string shingle, which
    DuckDB replays). Returns the surviving ``train`` rows unchanged.

    ``detect_on`` (optional) is the frame the contaminated id set is
    COMPUTED from — it must contain every ``train`` row's (id, text)
    pair; a SUPERSET is fine because the final anti-join only ever
    removes ids present in ``train``. Callers whose ``train`` is an
    expensive derivation of an already-cached frame (corpus_prepare's
    post-dedup canonical slice of the persisted quality gate) pass the
    cached superset here so the gram explode reads the cache instead of
    re-evaluating the canonical subtree — identical output, one
    evaluation of the expensive side."""
    hash_fn = checked(hash_fn)
    bench_grams = _gram_keys(bench, id_col, text_col, n, hash_fn).select("gh").distinct()
    contaminated = (
        _gram_keys(train if detect_on is None else detect_on, id_col, text_col, n, hash_fn)
        .join(F.broadcast(bench_grams), "gh", "left_semi")
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    return train.join(contaminated, id_col, "left_anti")


def decontaminate_bloom(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 13,
    hash_fn: HashFamily = XXH,
    num_bits: int = 8_388_608,
) -> DataFrame:
    """:func:`decontaminate` for the regime where the benchmark's gram
    set is too large to broadcast as an exact hash set (many benchmarks
    x many grams at 100 TB): build a BLOOM FILTER over the benchmark
    grams, prefilter the corpus gram scan with it, then verify ONLY the
    flagged rows against the exact gram set with a shuffle semi-join.

    The filter is a one-hash blocked Bloom built from public primitives
    (Spark's ``bloom_filter_agg`` expression is not SQL-registered):
    bit position = ``pmod(gh, num_bits)``, packed into 64-bit words by a
    ``bit_or`` aggregate — at the default 2^23 bits that is a <=131072-
    row (word, bits) table, ~1 MB broadcast however many grams it
    summarizes. The prefilter is then a broadcast join on the word
    index + a mask test — map-side, corpus never shuffles to be tested.

    Exactness is preserved by construction: a Bloom filter has no false
    negatives, so every truly contaminated gram survives the prefilter,
    and the exact verify discards the false positives — the output
    EQUALS :func:`decontaminate`'s (same oracle), while the exact
    set's shuffle join now sees only the flagged sliver of the corpus
    instead of every gram. Undersizing ``num_bits`` degrades the
    prefilter's selectivity, never the answer (pinned in pytest with an
    absurdly small filter)."""
    hash_fn = checked(hash_fn)
    def bit_cols(df: DataFrame) -> DataFrame:
        # F.shiftleft only takes a literal shift amount; the per-row
        # shift goes through an expression
        pos = F.pmod(F.col("gh"), F.lit(int(num_bits)))
        return df.withColumn("_pos", pos).selectExpr(
            "*",
            "CAST(_pos / 64 AS BIGINT) AS _w",
            "shiftleft(CAST(1 AS BIGINT), CAST(pmod(_pos, 64) AS INT)) AS _m",
        ).drop("_pos")

    bench_grams = _gram_keys(bench, id_col, text_col, n, hash_fn).select("gh").distinct()
    bloom = (
        bit_cols(bench_grams)
        .groupBy("_w")
        .agg(F.bit_or("_m").alias("_bits"))
    )
    flagged = (
        bit_cols(_gram_keys(train, id_col, text_col, n, hash_fn))
        .join(F.broadcast(bloom), "_w")
        .filter(F.col("_m").bitwiseAND(F.col("_bits")) != 0)
        .select("id", "gh")
    )
    contaminated = (
        flagged.join(bench_grams, "gh", "left_semi")
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    return train.join(contaminated, id_col, "left_anti")


def contamination_scores(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 13,
    hash_fn: HashFamily = XXH,
) -> DataFrame:
    """GRADED test-set contamination: per training document, the
    fraction of its distinct word ``n``-grams that appear anywhere in
    the benchmark corpus — the overlap metric behind GPT-3's appendix-C
    contamination analysis, where :func:`decontaminate` is the boolean
    gate built on the same rule. Use it to rank/flag instead of drop
    (e.g. keep docs under an overlap budget).

    Same scale shape as :func:`decontaminate`: the benchmark's distinct
    gram hashes build once and BROADCAST (benchmarks are MBs where the
    corpus is TBs), the corpus side joins map-side against them, and the
    only corpus-keyed shuffle is the per-doc aggregate of (hits, total)
    pairs of longs. Returns ``(id, n_grams, n_contaminated,
    contamination_frac)`` for every ``train`` row (gram-less docs score
    0.0). ``hash_fn`` as in :func:`decontaminate`."""
    hash_fn = checked(hash_fn)
    bench_grams = (
        _gram_keys(bench, id_col, text_col, n, hash_fn)
        .select("gh")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    scored = (
        _gram_keys(train, id_col, text_col, n, hash_fn)
        .join(F.broadcast(bench_grams), "gh", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_contaminated"),
        )
    )
    return (
        train.select(F.col(id_col).alias("id"))
        .join(scored, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            F.round(
                F.coalesce("n_contaminated", F.lit(0))
                / F.greatest(F.coalesce("n_grams", F.lit(0)), F.lit(1)),
                4,
            ).alias("contamination_frac"),
        )
    )


def dedup_segments(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    sep: str = "\n\n",
) -> DataFrame:
    """Segment-level (paragraph/line) dedup across the WHOLE corpus —
    the C4/RefinedWeb-style cleaning step: split each document on
    ``sep``, keep only the globally FIRST occurrence of every distinct
    segment (order: (doc id, position)), and reassemble documents from
    their surviving segments. Returns ``(id, text, n_kept, n_dropped)``
    — a document whose every segment is boilerplate comes back empty
    rather than disappearing.

    Shape: posexplode -> md5 fingerprint -> one row_number window keyed
    on the fingerprint (the only shuffle that grows with segment count;
    the shuffle carries 16-byte hashes + positions, never full segments
    twice) -> groupBy(id) reassembly ordered by position, left-joined
    back onto the input ids so EVERY document keeps its output row (a
    NULL/empty/all-boilerplate text comes back as ''). ``sep`` is a
    literal string — it is regex-escaped for the split (F.split takes a
    pattern; an unescaped '. ' or '|' would shred documents). No
    all-pairs anywhere; skew on a viral boilerplate segment is one hot
    fingerprint key whose rows are a few bytes each."""
    import re as _re

    segs = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(
                F.split(F.col(text_col), F.lit(_re.escape(sep)), -1)
            ).alias("pos", "seg"),
        )
        .filter(F.trim("seg") != "")
        .withColumn("fp", F.md5(F.col("seg").cast("binary")))
    )
    w = Window.partitionBy("fp").orderBy("id", "pos")
    kept = segs.withColumn("rn", F.row_number().over(w))
    reassembled = (
        kept.groupBy("id")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("rn") == 1, F.struct("pos", "seg"))
                        )
                    ),
                    lambda s: s.getField("seg"),
                ),
            ).alias("text"),
            F.sum((F.col("rn") == 1).cast("long")).alias("n_kept"),
            F.sum((F.col("rn") != 1).cast("long")).alias("n_dropped"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(reassembled, "id", "left")
        .select(
            "id",
            F.coalesce("text", F.lit("")).alias("text"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# Near-dup clustering (connected components) + canonical selection
# ---------------------------------------------------------------------------

def _clusters_driver_unionfind(
    pairs: DataFrame,
    edges: DataFrame,
    all_ids: DataFrame | None,
    *,
    id_a: str,
    consume_pairs: bool,
) -> DataFrame:
    """Bounded small-graph path of :func:`dedup_clusters`: exact
    union-find over the collected edge set (path-halving + min-root
    merge so the representative is the component MINIMUM, matching the
    distributed labels bit-for-bit), labels re-distributed via a
    broadcast join. The caller has counted ``edges`` under the cap, so
    the collect is bounded by construction."""
    rows = edges.collect()
    edges.unpersist()
    if consume_pairs:
        release(pairs)
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        ra, rb = find(r["a"]), find(r["b"])
        if ra != rb:
            # min root wins -> label = component minimum
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    labels = [(x, find(x)) for x in parent]
    idt = pairs.schema[id_a].dataType
    schema = T.StructType(
        [T.StructField("id", idt), T.StructField("cluster_id", idt)]
    )
    spark = pairs.sparkSession
    labels_df = spark.createDataFrame(labels, schema)
    if all_ids is not None:
        ids = all_ids.select(F.col(all_ids.columns[0]).alias("id"))
        return ids.join(F.broadcast(labels_df), "id", "left").select(
            "id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id")
        )
    return labels_df


def dedup_clusters(
    pairs: DataFrame,
    all_ids: DataFrame | None = None,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 20,
    consume_pairs: bool = True,
    driver_max_pairs: int | None = 200_000,
) -> DataFrame:
    """Connected components over near-dup pairs — the step that turns
    pairwise similarity into dedup groups: ``(id, cluster_id)`` with
    ``cluster_id`` = the component's minimum id (a deterministic
    canonical representative). With ``all_ids`` (one id per row, first
    column), unpaired documents appear as their own singleton cluster.

    Small-graph fast path: the verified pair set is orders of magnitude
    smaller than the corpus (it is the LSH/PPJoin OUTPUT — ~O(actual
    near-dups), not O(rows²)), so when the distinct directed edge count
    is at most ``2 * driver_max_pairs`` the components are solved with a
    driver-side union-find — one bounded collect, ZERO iterative jobs —
    and the labels broadcast back. The real driver cost is PySpark Row
    objects (~100+ bytes each incl. py4j transfer), so the default cap
    of 200k pairs bounds the collect at tens of MB of Python objects;
    raise it deliberately if your driver is sized for more. This removes
    the per-round scheduling latency that dominates the distributed loop
    on small graphs. Above the cap (or with ``driver_max_pairs=None``)
    the fully distributed path runs; results are identical either way
    (both compute exact components with min-id labels).

    Distributed path — iterative min-label propagation: each round every
    node takes the minimum label among itself and its neighbors; after k
    rounds a node holds the component minimum within distance k, so
    rounds needed = component diameter. Near-dup components are shallow
    (star-like around a template document), so 2-4 rounds is typical;
    ``max_rounds`` bounds adversarial chains.

    Scale: each round is one equi-join + one groupBy, both keyed on the
    node id (the exchange is reused), and convergence is detected with a
    LIMIT-1 count — O(1) driver data per round. ``localCheckpoint``
    truncates lineage every round so the plan does not grow with rounds
    (iterative DataFrame algorithms otherwise re-plan the full history).

    Raises ``RuntimeError`` if labels are still changing after
    ``max_rounds`` — exiting silently there would return *wrong* cluster
    ids for any component whose diameter exceeds the bound.

    Cache lifecycle: each round's checkpoint blocks are unpersisted as
    soon as the next round materializes (the superseded round's blocks
    serve no plan) — by the checkpointed frame's own RDD id, so a shared
    session's other checkpoints survive; the FINAL round's blocks back
    the returned frame and are adopted onto it — freed by
    ``cache.release(result)`` or when the result is garbage-collected.
    Because the returned plan reads lineage-TRUNCATED checkpoint blocks,
    any frame derived from it must keep the result alive via
    ``cache.carry(derived, result)`` — after a release (explicit or
    GC-backstop) a derived plan cannot recompute.
    With ``consume_pairs=True`` (default), the ``pairs`` frame is fully
    consumed here (the label loop is eager) and its operator caches are
    released on exit — re-collecting a ``jaccard_pairs`` result after
    passing it in recomputes (correct, uncached). Pass
    ``consume_pairs=False`` to keep reusing the pairs frame afterward
    (release it yourself via ``cache.release(pairs)``).
    """
    sc = pairs.sparkSession.sparkContext
    # both edge directions come out of ONE evaluation of the pair
    # subtree (explode of a 2-struct array): the former
    # e.union(e.reversed) planned the — typically expensive, rarely
    # persisted — pair generation TWICE (two full candidate+verify
    # passes feeding one distinct)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("a"), F.col(id_b).alias("b")),
                    F.struct(F.col(id_b).alias("a"), F.col(id_a).alias("b")),
                )
            ).alias("_ab")
        )
        .select("_ab.a", "_ab.b")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # the count materializes the persisted edge set either way; on the
    # small side it also licenses the bounded driver collect
    if driver_max_pairs is not None and edges.count() <= 2 * driver_max_pairs:
        result = _clusters_driver_unionfind(
            pairs, edges, all_ids, id_a=id_a, consume_pairs=consume_pairs
        )
        return result
    # init = the first propagation round fused into a groupBy (labels are
    # the identity at round 0, so min-over-neighbors needs no join yet):
    # every node starts at min(id, neighbors) — one round fewer in the loop
    labels = (
        edges.groupBy(F.col("a").alias("id"))
        .agg(F.min("b").alias("mb"))
        .select("id", F.least("id", "mb").alias("label"))
        .localCheckpoint()
    )
    own_ids = {checkpoint_rdd_id(labels)}
    for _ in range(max_rounds):
        nmin = (
            edges.join(labels.select(F.col("id").alias("b"), F.col("label").alias("nb")), "b")
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("nb").alias("nlabel"))
        )
        # change detection rides the update projection — no second join
        # against the previous labels, just a LIMIT-1 probe on the
        # checkpointed result
        new = (
            labels.join(nmin, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias("label"),
                F.coalesce(F.col("nlabel") < F.col("label"), F.lit(False)).alias("_chg"),
            )
            .localCheckpoint()
        )
        changed = new.filter("_chg").limit(1).count()
        # the superseded round's checkpoint blocks feed no live plan once
        # `new` is materialized (localCheckpoint is eager) — drop them NOW
        # instead of letting them pile up for the session's lifetime
        rdd_id_releaser(sc, own_ids)()
        own_ids = {checkpoint_rdd_id(new)}
        labels = new.drop("_chg")
        if changed == 0:
            break
    else:
        edges.unpersist()
        rdd_id_releaser(sc, own_ids)()
        if consume_pairs:
            release(pairs)
        raise RuntimeError(
            f"dedup_clusters: labels still changing after {max_rounds} rounds "
            "(a component's diameter exceeds max_rounds; its cluster ids would "
            "be wrong). Raise max_rounds — rounds needed = component diameter."
        )
    edges.unpersist()
    if consume_pairs:
        release(pairs)
    if all_ids is not None:
        ids = all_ids.select(F.col(all_ids.columns[0]).alias("id"))
        result = ids.join(labels, "id", "left").select(
            "id", F.coalesce("label", F.col("id")).alias("cluster_id")
        )
    else:
        result = labels.select("id", F.col("label").alias("cluster_id"))
    return adopt(result, rdd_id_releaser(sc, own_ids))


def dedup_canonical(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Keep exactly one document per near-dup cluster (the minimum-id
    representative) — the end of the dedup pipeline: pairs -> clusters ->
    filtered corpus. Left-semi join, so no column changes and no row
    multiplication.

    The returned plan reads the cluster result's checkpoint blocks, so
    their ownership is carried onto it (``cache.carry``) — released with
    the result, not when the intermediate goes out of scope. The same
    contract applies to callers deriving from this result: carry it
    (lineage-truncated blocks cannot recompute after release)."""
    clusters = dedup_clusters(pairs, df.select(id_col))
    keep = clusters.filter(F.col("id") == F.col("cluster_id"))
    result = df.join(keep.select(F.col("id").alias(id_col)), id_col, "left_semi")
    return carry(result, clusters)


def _span_gram_base(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> tuple[DataFrame, DataFrame]:
    """Shared base of the repeated-span operators: ``base`` = (id,
    n_tokens, _w normalized word array), ``grams`` = every POSITIONED
    word k-gram keyed by md5 (pos is the 0-based gram index; the gram
    at pos covers tokens [pos, pos+k-1])."""
    base = df.select(
        F.col(id_col).alias("id"),
        token_count(F.col(text_col)).alias("n_tokens"),
        F.split(normalize_text(F.col(text_col)), " ").alias("_w"),
    )
    grams = base.select(
        "id",
        F.posexplode(
            F.when(
                F.size("_w") >= k,
                F.transform(
                    F.sequence(F.lit(1), F.size("_w") - k + 1),
                    lambda i: F.md5(F.concat_ws(" ", F.slice("_w", i, k))),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "h"),
    )
    return base, grams


def _merged_spans(marked: DataFrame, k: int) -> DataFrame:
    """Gaps-and-islands merge of marked gram positions into disjoint
    per-document token spans ``(id, _s, _e)`` — overlapping or adjacent
    k-token covers collapse via a running max of span end."""
    w_prev = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        marked.withColumn("_end", F.col("pos") + k - 1)
        .withColumn("_prev_end", F.max("_end").over(w_prev))
        .withColumn(
            "_new",
            (F.col("_prev_end").isNull() | (F.col("pos") > F.col("_prev_end") + 1)).cast("int"),
        )
        .withColumn("_island", F.sum("_new").over(w_run))
        .groupBy("id", "_island")
        .agg(F.min("pos").alias("_s"), F.max("_end").alias("_e"))
    )


def dup_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
) -> DataFrame:
    """Cross-document repeated-substring analysis at word-k-gram
    granularity — the Spark-first approximation of exact substring
    dedup over a suffix array ("Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2022: repeated >= N-token spans
    are memorization fuel and should be found corpus-wide, not just at
    whole-document granularity).

    Shape: every POSITIONED word k-gram of every document
    (``posexplode`` — positions matter here, unlike the dedup
    shingles), keyed by md5; a gram occurring more than once in the
    CORPUS (any document, including the same one) marks its k-token
    span; overlapping/adjacent marked spans merge per document via a
    gaps-and-islands window (running max of span end). Output per
    document: ``(id, n_spans, dup_tokens, n_tokens, dup_frac)`` —
    ``dup_frac`` is the fraction of the document's tokens inside some
    repeated span, the number a span-trim or doc-drop policy thresholds
    on.

    Scale: one shuffle on the gram hash (count), one semi-join back
    (hash-partitioned, candidate-bounded), one per-document window.
    Everything JVM-side; the gram payload entering the count shuffle is
    a 32-char md5, never the text.
    """
    base, grams = _span_gram_base(df, id_col, text_col, k)
    repeated = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .select("h")
    )
    marked = grams.join(repeated, "h", "left_semi")
    spans = (
        _merged_spans(marked, k)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("_e") - F.col("_s") + 1).alias("dup_tokens"),
        )
    )
    return (
        base.select("id", "n_tokens")
        .join(spans, "id", "left")
        .select(
            "id",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            "n_tokens",
            F.when(
                F.col("n_tokens") > 0,
                F.round(F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"), 4),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


def strip_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
) -> DataFrame:
    """The ACTIONABLE form of :func:`dup_span_stats`: rebuild each
    document with every non-first occurrence of a corpus-repeated
    k-gram span REMOVED, keeping the corpus-wide first occurrence
    (winner = min id, then min position within it — Lee et al. 2022's
    keep-one-copy policy at k-gram granularity). Output text is the
    NORMALIZED token stream re-joined with single spaces — the same
    canonical form every operator in the dedup family hashes.

    Returns ``(id, text_stripped, n_kept, n_removed)``; a document
    whose every token sits inside someone else's earlier span comes
    back empty, never dropped.

    Scale: the stats operator's shuffles plus one winner aggregate
    (metadata-scale: one row per repeated hash) and one positions
    anti-join whose exploded side is bounded by the corpus's duplicated
    tokens.
    """
    base, grams = _span_gram_base(df, id_col, text_col, k)
    # winner = the lexicographic struct-min over (id, pos): first the
    # minimum id, then the minimum pos within that id — exactly the
    # (min doc, first position in it) keep-one-copy policy. One
    # aggregate replaces the old three-step rep -> firsts-join ->
    # anti-join chain (r14): the grams subtree is evaluated twice
    # instead of three times and two gram-scale joins disappear.
    rep = (
        grams.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min(F.struct("id", "pos")).alias("_w"),
        )
        .filter(F.col("_n") > 1)
        .select(
            "h",
            F.col("_w.id").alias("_wid"),
            F.col("_w.pos").alias("_wpos"),
        )
    )
    # inner join on the unique-h winner table (row-preserving for
    # repeated grams), then drop the single winning occurrence — the
    # same rows the semi-join + anti-join pair kept
    marked = grams.join(rep, "h").filter(
        ~((F.col("id") == F.col("_wid")) & (F.col("pos") == F.col("_wpos")))
    )
    covered = _merged_spans(marked, k).select(
        "id", F.explode(F.sequence("_s", "_e")).alias("pos")
    )
    toks = base.select(
        "id", F.posexplode("_w").alias("pos", "tok")
    ).filter(F.col("tok") != "")
    kept = toks.join(covered, ["id", "pos"], "left_anti")
    agg = kept.groupBy("id").agg(
        F.sort_array(F.collect_list(F.struct("pos", "tok"))).alias("_a")
    )
    return (
        base.select("id", "n_tokens")
        .join(agg, "id", "left")
        .select(
            "id",
            F.concat_ws(
                " ",
                F.transform(
                    F.coalesce("_a", F.array().cast("array<struct<pos:int,tok:string>>")),
                    lambda x: x["tok"],
                ),
            ).alias("text_stripped"),
            F.coalesce(F.size("_a"), F.lit(0)).alias("n_kept"),
            (F.col("n_tokens") - F.coalesce(F.size("_a"), F.lit(0))).alias("n_removed"),
        )
    )
