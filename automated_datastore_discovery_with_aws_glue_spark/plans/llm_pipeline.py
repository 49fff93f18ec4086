"""LLM-data-pipeline queries over the driver testdata (documents +
embeddings) with DuckDB oracle twins.

Normalization / shingle / scoring formulas are written once here (as
Spark expressions in operators/, as SQL fragments below) and kept
textually parallel; integer cross-multiplication for thresholds keeps
boundary pairs engine-stable.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from automated_datastore_discovery_with_aws_glue_spark.operators import cache as C
from automated_datastore_discovery_with_aws_glue_spark.operators import dedup as D
from automated_datastore_discovery_with_aws_glue_spark.operators import similarity as S
from automated_datastore_discovery_with_aws_glue_spark.operators import text as TX
from automated_datastore_discovery_with_aws_glue_spark.operators.hashing import MD5
from automated_datastore_discovery_with_aws_glue_spark.sources.readers import load_table

# -- shared SQL fragments (DuckDB) ------------------------------------------

_SQL_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
_SQL_WORDS = f"string_split({_SQL_NORM}, ' ')"

#: distinct word 3-gram shingles of a pre-split `words` list — the SQL
#: twin of ``operators.hashing.word_shingles(n=3)``
_SQL_GRAMS3 = """list_distinct(
                   CASE WHEN len(words) >= 3
                        THEN list_transform(generate_series(1, len(words) - 2),
                                            i -> array_to_string(words[i:i+2], ' '))
                        ELSE [array_to_string(words, ' ')] END
               )"""


def _sql_stopword_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in TX.LANG_STOPWORDS[lang])
    return f"len(list_filter({_SQL_WORDS}, t -> list_contains([{words}], t)))"


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs, "doc_id", "text").orderBy("fp")


DEDUP_EXACT_SQL = f"""
    SELECT md5({_SQL_NORM}) AS fp,
           min(doc_id) AS representative_id,
           count(*) AS dup_count
    FROM documents
    GROUP BY 1
    ORDER BY fp
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, "doc_id", "text", "lang", n=3, threshold=0.5)
    return C.carry(pairs.orderBy("id_a", "id_b"), pairs)


DEDUP_JACCARD_SQL = f"""
    WITH w AS (
        SELECT doc_id, lang, {_SQL_WORDS} AS words FROM documents
    ),
    s AS (
        SELECT doc_id, lang,
               {_SQL_GRAMS3} AS sh
        FROM w
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE
                 / len(list_distinct(a.sh || b.sh)), 4) AS jaccard
    FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 10000
          >= 5000 * len(list_distinct(a.sh || b.sh))
    ORDER BY id_a, id_b
"""


def dedup_clusters_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the n-gram-Jaccard
    pair graph, every document labeled with its component's min doc_id
    (singletons label themselves). The step that turns pairwise
    similarity into dedup groups; `D.dedup_canonical` filters a corpus
    to one representative per cluster. Oracle: DuckDB recursive CTE
    computes the transitive closure of the same pair graph."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, "doc_id", "text", "lang", n=3, threshold=0.5)
    clusters = D.dedup_clusters(pairs, docs.select("doc_id"))
    result = clusters.select(F.col("id").alias("doc_id"), "cluster_id").orderBy("doc_id")
    # the result reads the cluster checkpoint blocks — carry their
    # ownership so the GC backstop can't free them before the collect
    return C.carry(result, clusters)


DEDUP_CLUSTERS_SQL = f"""
    WITH RECURSIVE w AS (
        SELECT doc_id, lang, {_SQL_WORDS} AS words FROM documents
    ),
    s AS (
        SELECT doc_id, lang,
               {_SQL_GRAMS3} AS sh
        FROM w
    ),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh)) * 10000
              >= 5000 * len(list_distinct(a.sh || b.sh))
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM p
        UNION
        SELECT id_b, id_a FROM p
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT d.doc_id,
           CAST(coalesce(m.mn, d.doc_id) AS BIGINT) AS cluster_id
    FROM documents d
    LEFT JOIN (SELECT a, least(a, min(b)) AS mn FROM reach GROUP BY a) m
           ON d.doc_id = m.a
    ORDER BY doc_id
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-accelerated near-dup (no SQL oracle — probabilistic candidate
    generation; recall vs the exact pairs is asserted in pytest)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return C.carry(pairs.orderBy("id_a", "id_b"), pairs)


def dedup_minhash_lsh_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked banded-LSH pairs: ``minhash_lsh_pairs`` with the
    ``MD5`` hash family regenerates identically in DuckDB, so the
    candidate join *and* the exact-Jaccard verification are both pinned
    by the differential gate (``dedup_minhash_lsh`` runs it with XXH)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=16, bands=8, threshold=0.5, hash_fn=MD5
    )
    return C.carry(pairs.orderBy("id_a", "id_b"), pairs)


DEDUP_MINHASH_LSH_MD5_SQL = f"""
    WITH w AS (
        SELECT doc_id, {_SQL_WORDS} AS words FROM documents
    ),
    s AS (
        SELECT doc_id,
               {_SQL_GRAMS3} AS sh
        FROM w
    ),
    sig AS (
        SELECT doc_id, i,
               list_min(list_transform(sh,
                   g -> CAST(('0x' || substr(md5(g || '#' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)
               )) AS mh
        FROM s, range(16) t(i)
    ),
    banded AS (
        SELECT doc_id, i // 2 AS band, list(mh ORDER BY i) AS bucket
        FROM sig GROUP BY doc_id, i // 2
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    v AS (
        SELECT id_a, id_b,
               len(list_intersect(sa.sh, sb.sh)) AS inter,
               len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS un
        FROM cand JOIN s sa ON sa.doc_id = id_a JOIN s sb ON sb.doc_id = id_b
    )
    SELECT id_a, id_b, round(CAST(inter AS DOUBLE) / un, 4) AS jaccard
    FROM v
    WHERE inter * 10000 >= 5000 * un
    ORDER BY id_a, id_b
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming<=3 pairs within language blocks (no SQL oracle —
    xxhash64 has no DuckDB twin; sketch properties tested in pytest)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.simhash_pairs(docs, "doc_id", "text", "lang", max_hamming=3)
    return C.carry(pairs.orderBy("id_a", "id_b"), pairs)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        TX.text_stats(docs, "text")
        .select(
            "doc_id",
            "stat_n_chars",
            "n_tokens",
            "avg_token_len",
            "stopword_ratio",
            "punct_ratio",
            "quality_score",
        )
        .orderBy("doc_id")
    )


TEXT_QUALITY_SQL = f"""
    WITH base AS (
        SELECT doc_id,
               length(text) AS stat_n_chars,
               CASE WHEN {_SQL_NORM} = '' THEN 0 ELSE len({_SQL_WORDS}) END AS n_tokens,
               length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
               length(replace({_SQL_NORM}, ' ', '')) AS n_word_chars,
               {_sql_stopword_hits('en')} AS sw
        FROM documents
    ),
    m AS (
        SELECT doc_id, stat_n_chars, n_tokens,
               round(n_word_chars::DOUBLE / greatest(n_tokens, 1), 4) AS avg_token_len,
               round(sw::DOUBLE / greatest(n_tokens, 1), 4) AS stopword_ratio,
               round(n_punct::DOUBLE / greatest(stat_n_chars, 1), 4) AS punct_ratio
        FROM base
    )
    SELECT doc_id, stat_n_chars, n_tokens, avg_token_len, stopword_ratio, punct_ratio,
           round(least(n_tokens / 20.0, 1.0) * 0.4
                 + least(stopword_ratio * 5, 1.0) * 0.4
                 + (1 - least(punct_ratio * 10, 1.0)) * 0.2, 4) AS quality_score
    FROM m
    ORDER BY doc_id
"""


CANDIDATE_STRATEGIES = ("lsh", "lsh_md5", "ppjoin")


def _validate_candidates(candidates: str, max_bucket: int | None) -> None:
    """Argument validation shared by the compositions — called BEFORE any
    frame is persisted, so an invalid call can't leak a cache entry in a
    long-lived session."""
    if candidates not in CANDIDATE_STRATEGIES:
        raise ValueError(
            f"candidates must be one of {CANDIDATE_STRATEGIES}, got {candidates!r}"
        )
    if candidates == "ppjoin" and max_bucket is not None:
        raise ValueError(
            "max_bucket applies to the LSH candidate strategies; "
            "'ppjoin' has no bucket concept (its prefix filter is the bound)"
        )


def _near_dup_pairs(
    df: DataFrame,
    *,
    candidates: str,
    n: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    on_hot: str = "route",
) -> DataFrame:
    """The pair stage of the corpus compositions, parameterized by
    candidate-generation strategy (the compositions used to hard-wire
    exact PPJoin, whose pair output grew ~42x for 10x data in the sf1
    stress probe while the in-repo LSH path grew ~8x):

    - ``'lsh'``     — banded MinHash-LSH candidates + exact-Jaccard
                      verify (xxhash64, ``D.minhash_lsh_pairs``): the
                      100 TB throughput path — candidate volume scales
                      with colliding near-dups, never with all
                      shared-shingle pairs.
    - ``'lsh_md5'`` — the same operator with 16 permutations in 8 bands
                      and ``hash_fn=MD5``: every hash
                      replays in DuckDB, so the WHOLE composition stays
                      differential-oracle-checkable. Query-layer
                      default.
    - ``'ppjoin'``  — exact prefix-filtered set-similarity join
                      (``D.jaccard_pairs``): guaranteed-complete pairs
                      for compliance-grade dedup; intrinsically
                      super-linear pair output on near-dup-dense
                      corpora — the exact MODE, not the default.

    All three strategies share GLOBAL (cross-language) near-dup
    semantics: an identical text tagged with two different ``lang``
    values is still a duplicate. PPJoin therefore runs with a constant
    block (its prefix/positional filters, not language blocking, bound
    the candidate work) — blocking it by ``lang`` would silently exempt
    cross-language duplicates that the LSH strategies catch.

    ``max_bucket``/``on_hot`` (the hot-bucket valve) apply to the LSH
    strategies; PPJoin has no bucket concept, so passing a cap with
    ``candidates='ppjoin'`` is an error rather than a silent no-op.
    """
    _validate_candidates(candidates, max_bucket)
    if candidates == "ppjoin":
        blocked = df.withColumn("_blk", F.lit(1))
        return D.jaccard_pairs(blocked, "doc_id", "text", "_blk", n=n, threshold=threshold)
    # both LSH strategies carry the hot-bucket valve: boilerplate-
    # degenerate (band, bucket) groups above the cap star-route to the
    # group representative (on_hot='route' keeps components connected
    # for the downstream clustering) instead of going quadratic
    layout = {} if candidates == "lsh" else dict(num_hashes=16, bands=8, hash_fn=MD5)
    return D.minhash_lsh_pairs(
        df, "doc_id", "text", n=n, threshold=threshold,
        max_bucket=max_bucket, on_hot=on_hot, **layout,
    )


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter signals per document (duplicate
    word-bigram fraction + top-bigram share) — see
    ``operators.text.repetition_stats``. The quality gate that catches
    boilerplate/degenerate text that token-count/stopword heuristics
    pass."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        TX.repetition_stats(docs, "text", n=2)
        .select("doc_id", "n_grams", "dup_gram_frac", "top_gram_frac")
        .orderBy("doc_id")
    )


TEXT_REPETITION_SQL = f"""
    WITH w AS (
        SELECT doc_id, {_SQL_WORDS} AS words FROM documents
    ),
    g AS (
        SELECT doc_id,
               CASE WHEN len(words) >= 2
                    THEN list_transform(generate_series(1, len(words) - 1),
                                        i -> array_to_string(words[i:i+1], ' '))
                    ELSE []::VARCHAR[] END AS grams
        FROM w
    )
    SELECT doc_id,
           len(grams) AS n_grams,
           round((len(grams) - len(list_distinct(grams)))::DOUBLE
                 / greatest(len(grams), 1), 4) AS dup_gram_frac,
           round(coalesce(list_max(list_transform(list_distinct(grams),
                     x -> len(list_filter(grams, y -> y = x)))), 0)::DOUBLE
                 / greatest(len(grams), 1), 4) AS top_gram_frac
    FROM g
    ORDER BY doc_id
"""


def knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched brute-force similarity JOIN: exact cosine top-3 neighbors
    for EACH of the 5 query vectors (vec_id < 5) in one plan — the
    all-queries-at-once shape a batch ANN / recall-evaluation job runs.
    The bounded query side broadcasts, scoring runs co-located on one
    corpus scan (one scan per BATCH of queries, not per query), and a
    per-query window takes the top-k. Rounded similarity + id tiebreak
    keep the ordering total across engines."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), S.as_double(F.col("embedding")).alias("qv")
    )
    sim = F.round(S.cosine(S.as_double(F.col("embedding")), F.col("qv")), 4)
    w = Window.partitionBy("query_id").orderBy(F.col("similarity").desc(), "vec_id")
    return (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", sim.alias("similarity"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .orderBy("query_id", "rk")
    )


KNN_BATCH_SQL = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    s AS (
        SELECT query_id, e.vec_id,
               round(list_cosine_similarity(e.v, qv), 4) AS similarity
        FROM e, q WHERE e.vec_id <> query_id
    ),
    r AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY similarity DESC, vec_id) AS rk
        FROM s
    )
    SELECT query_id, vec_id, similarity, rk FROM r WHERE rk <= 3
    ORDER BY query_id, rk
"""


def corpus_clean(
    spark: SparkSession,
    sf_dir: str,
    *,
    candidates: str = "lsh_md5",
    max_bucket: int | None = None,
) -> DataFrame:
    """End-to-end corpus preparation — the composed pipeline a training
    run actually executes: quality-score every document, drop low-quality
    ones, then keep exactly one representative per near-dup cluster
    (min-id canonical over the near-dup pair graph). Output:
    (doc_id, quality_score) of the surviving corpus.

    The pair stage is pluggable (:func:`_near_dup_pairs`) and defaults
    to MinHash-LSH candidates + exact-Jaccard verify — the scale path;
    ``candidates='ppjoin'`` is the guaranteed-complete exact mode
    (:func:`corpus_clean_exact` keeps its oracle). Every stage is an
    already-bounded operator, so the composition inherits their scale
    posture (no all-pairs, no driver data).

    ``kept`` (quality stats + filter) feeds BOTH the pair generator and
    the canonical keep side — persisted once instead of recomputing the
    scoring pass, released with the result via the cache-lifecycle
    machinery (``cache.adopt``/``carry``)."""
    from pyspark.storagelevel import StorageLevel

    _validate_candidates(candidates, max_bucket)  # before any persist
    docs = load_table(spark, sf_dir, "documents")
    kept = (
        TX.text_stats(docs, "text")
        .filter(F.col("quality_score") >= 0.5)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs = _near_dup_pairs(
        kept, candidates=candidates, n=3, threshold=0.5, max_bucket=max_bucket
    )
    canon = D.dedup_canonical(kept, pairs, "doc_id")
    result = canon.select("doc_id", "quality_score").orderBy("doc_id")
    return C.adopt(C.carry(result, canon), kept)


def corpus_clean_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-mode composition: PPJoin candidate generation (complete
    pair set). Oracle-backed by the PPJoin CTE chain."""
    return corpus_clean(spark, sf_dir, candidates="ppjoin")


def corpus_clean_xxh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-path composition: ``XXH`` MinHash-LSH candidates
    (rows-only — xxhash64 has no DuckDB twin; the ``corpus_clean``
    lsh_md5 default, the same operator with ``MD5``, is the proof)."""
    return corpus_clean(spark, sf_dir, candidates="lsh")


# -- composed-oracle CTE builders (DuckDB) ----------------------------------

_SQL_QUALITY_CTES = f"""base AS (
        SELECT doc_id, lang, text,
               length(text) AS n_chars,
               CASE WHEN {_SQL_NORM} = '' THEN 0 ELSE len({_SQL_WORDS}) END AS n_tokens,
               length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
               {_sql_stopword_hits('en')} AS sw
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang, text,
               round(least(n_tokens / 20.0, 1.0) * 0.4
                     + least(round(sw::DOUBLE / greatest(n_tokens, 1), 4) * 5, 1.0) * 0.4
                     + (1 - least(round(n_punct::DOUBLE / greatest(n_chars, 1), 4) * 10, 1.0)) * 0.2,
                     4) AS quality_score
        FROM base
    ),
    kept AS (SELECT * FROM scored WHERE quality_score >= 0.5)"""


def _sql_ppjoin_pairs(src: str) -> str:
    """CTE chain ending in ``p(id_a, id_b)``: exact GLOBAL n-gram-Jaccard
    pairs of ``src`` (needs doc_id, text) — the twin of the compositions'
    'ppjoin' mode (``D.jaccard_pairs`` over a constant block: the exact
    strategy must see the same cross-language duplicates the LSH
    strategies catch — see ``_near_dup_pairs``)."""
    return f"""w AS (SELECT doc_id, {_SQL_WORDS} AS words FROM {src}),
    s AS (SELECT doc_id, {_SQL_GRAMS3} AS sh FROM w),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh)) * 10000
              >= 5000 * len(list_distinct(a.sh || b.sh))
    )"""


def _sql_md5_lsh_pairs(src: str, *, num_hashes: int = 16, band_rows: int = 2) -> str:
    """CTE chain ending in ``p(id_a, id_b)``: banded md5-MinHash-LSH
    candidates + exact-Jaccard verify of ``src`` (needs doc_id, text) —
    the SQL replay of ``D.minhash_lsh_pairs(num_hashes=16, bands=8,
    threshold=0.5, hash_fn=MD5)``."""
    return f"""w AS (SELECT doc_id, {_SQL_WORDS} AS words FROM {src}),
    s AS (SELECT doc_id, {_SQL_GRAMS3} AS sh FROM w),
    sig AS (
        SELECT doc_id, i,
               list_min(list_transform(sh,
                   g -> CAST(('0x' || substr(md5(g || '#' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)
               )) AS mh
        FROM s, range({num_hashes}) t(i)
    ),
    banded AS (
        SELECT doc_id, i // {band_rows} AS band, list(mh ORDER BY i) AS bucket
        FROM sig GROUP BY doc_id, i // {band_rows}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    p AS (
        SELECT id_a, id_b
        FROM cand JOIN s sa ON sa.doc_id = id_a JOIN s sb ON sb.doc_id = id_b
        WHERE len(list_intersect(sa.sh, sb.sh)) * 10000
              >= 5000 * (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
    )"""


#: transitive closure of the pair CTE ``p`` -> per-node min label ``lbl``
_SQL_CLOSURE = """edges AS (
        SELECT id_a AS a, id_b AS b FROM p
        UNION
        SELECT id_b, id_a FROM p
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    lbl AS (SELECT a, least(a, min(b)) AS mn FROM reach GROUP BY a)"""


def _corpus_clean_sql(candidates: str) -> str:
    pair_ctes = (
        _sql_ppjoin_pairs("kept")
        if candidates == "ppjoin"
        else _sql_md5_lsh_pairs("kept")
    )
    return f"""
    WITH RECURSIVE {_SQL_QUALITY_CTES},
    {pair_ctes},
    {_SQL_CLOSURE}
    SELECT k.doc_id, k.quality_score
    FROM kept k LEFT JOIN lbl ON k.doc_id = lbl.a
    WHERE coalesce(lbl.mn, k.doc_id) = k.doc_id
    ORDER BY doc_id
"""


CORPUS_CLEAN_SQL = _corpus_clean_sql("lsh_md5")
CORPUS_CLEAN_EXACT_SQL = _corpus_clean_sql("ppjoin")


def lang_identify(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", TX.lang_id(F.col("text")).alias("predicted_lang")
    ).orderBy("doc_id")


LANG_ID_SQL = f"""
    WITH s AS (
        SELECT doc_id,
               {_sql_stopword_hits('en')} AS s_en,
               {_sql_stopword_hits('es')} AS s_es,
               {_sql_stopword_hits('de')} AS s_de,
               {_sql_stopword_hits('fr')} AS s_fr
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                WHEN s_de >= s_fr THEN 'de'
                ELSE 'fr' END AS predicted_lang
    FROM s
    ORDER BY doc_id
"""


def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-style quality scoring (the CCNet/fastText shape public
    LLM pipelines use): hashed word uni+bigram features -> linear model
    -> sigmoid, entirely JVM-side (literal weight vector, md5 bucketing
    so the DuckDB oracle folds the same numbers). The heuristic
    ``text_quality`` twin stays; this is the model-driven formulation —
    swap :func:`operators.text.quality_weights` for trained weights and
    the plan is production-shaped (a big model would broadcast a weight
    table; same plan, different literal)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", TX.classifier_score(F.col("text")).alias("cls_quality")
    ).orderBy("doc_id")


def _classifier_sql() -> str:
    from automated_datastore_discovery_with_aws_glue_spark.operators.text import QUALITY_DIM, quality_weights

    wv = "[" + ", ".join(repr(w) for w in quality_weights()) + "]::DOUBLE[]"
    bucket = "CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % " + str(QUALITY_DIM)
    return f"""
        WITH d AS (SELECT doc_id, {_SQL_WORDS} AS words FROM documents),
        g AS (
            SELECT doc_id,
                   list_concat(
                       words,
                       list_transform(range(1, len(words)),
                                      i -> words[i] || ' ' || words[i + 1])
                   ) AS grams
            FROM d
        )
        SELECT doc_id,
               round(1.0 / (1.0 + exp(-(
                   list_sum(list_transform(grams, g -> ({wv})[({bucket}) + 1]))
                   / greatest(len(grams), 1)
               ))), 4) AS cls_quality
        FROM g
        ORDER BY doc_id
    """


TEXT_QUALITY_CLASSIFIER_SQL = _classifier_sql()


def doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — keyword extraction / feature
    selection over the corpus. Two shuffles total (doc-term counts, then
    the per-doc ranking window; document frequency rides a window over
    the already-aggregated doc-term frame — no second corpus scan, no
    join), and the corpus-size scalar folds in as a broadcast of a
    1-row aggregate. Smooth idf: ln((1 + N) / (1 + df)) + 1."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("term"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.withColumn("dfreq", dfreq)
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.lit(1) + F.col("n_docs")) / (F.lit(1.0) + F.col("dfreq"))) + 1),
                4,
            ),
        )
    )
    rnk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    )
    return (
        scored.withColumn("rnk", rnk)
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "tfidf", "rnk")
        .orderBy("doc_id", "rnk")
    )


DOC_TFIDF_TOPK_SQL = f"""
    WITH toks AS (SELECT doc_id, unnest({_SQL_WORDS}) AS term FROM documents),
    t AS (
        SELECT doc_id, term, count(*) AS tf
        FROM toks WHERE term <> '' GROUP BY doc_id, term
    ),
    d AS (SELECT *, count(*) OVER (PARTITION BY term) AS dfreq FROM t),
    n AS (SELECT count(*) AS n_docs FROM documents),
    s AS (
        SELECT doc_id, term, tf,
               round(tf * (ln((1 + n_docs) / (1.0 + dfreq)) + 1), 4) AS tfidf
        FROM d, n
    ),
    r AS (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term
        ) AS rnk FROM s
    )
    SELECT doc_id, term, tf, tfidf, rnk FROM r WHERE rnk <= 3
    ORDER BY doc_id, rnk
"""


#: unigram-LM vocabulary cap: top-V terms by corpus frequency form the
#: model; everything else shares one OOV bucket. Small enough that the
#: sf0.01 corpus exercises BOTH branches; at 100 TB V is the bounded
#: broadcast (50k-ish in real pipelines) — the corpus never shuffles by
#: itself to score itself
_LM_VOCAB = 50


def doc_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram language-model perplexity — the
    quality/outlier signal public LLM pipelines (CCNet, Gopher) compute
    with a KenLM model; here the LM is the corpus's own top-V unigram
    distribution with a single add-one-smoothed OOV bucket, so the whole
    thing is two aggregates + one broadcast join:

    1. token counts (one corpus pass, hash aggregate);
    2. top-V vocab by (count desc, term) — ``TakeOrdered``, V rows;
    3. every token left-joins the BROADCAST vocab probs; misses fall to
       the OOV probability (a literal derived from the same aggregates);
    4. per-doc ``exp(-avg(ln p))``, rounded 4dp.

    High perplexity = text unlike the corpus (noise, wrong language,
    gibberish) -> filter candidates. Deterministic: boundary ties in the
    vocab break on the term, and both engines fold the same doubles."""
    docs = load_table(spark, sf_dir, "documents")
    ppl = _lm_perplexity_frame(docs)
    return C.carry(ppl.orderBy("doc_id"), ppl)


def _lm_perplexity_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, perplexity) — the unordered body of
    :func:`doc_lm_perplexity`, reused by the composed signal gate.
    Carries an adopted cache (the term-count table) — derive from it
    with ``C.carry`` so the cache lives until the caller's action."""
    toks = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    # persisted for the same reason as the bigram LM's tc (r14): the
    # term-count table is vocab-cardinality metadata feeding THREE
    # chains (vocab -> probs, totals, vocab -> vmass) that differ
    # downstream of the exchange, so each re-ran the corpus tokenize
    tc = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c")).persist()
    vocab = tc.orderBy(F.col("c").desc(), "term").limit(_LM_VOCAB)
    # total token count derives from the term-count aggregate — no
    # second corpus scan (sum of per-term counts == count of tokens)
    totals = tc.agg(F.sum("c").alias("t_all"))
    vmass = vocab.agg(F.sum("c").alias("v_mass"))
    probs = vocab.crossJoin(F.broadcast(totals)).select(
        "term", (F.col("c") / F.col("t_all")).alias("p")
    )
    scored = (
        toks.join(F.broadcast(probs), "term", "left")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(vmass))
        .select(
            "doc_id",
            F.log(
                F.coalesce(
                    F.col("p"),
                    # add-one-smoothed OOV bucket: non-zero even when the
                    # vocab covers the whole corpus
                    (F.col("t_all") - F.col("v_mass") + 1) / (F.col("t_all") + 1),
                )
            ).alias("ln_p"),
        )
    )
    return C.adopt(
        scored.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.exp(-F.avg("ln_p")), 4).alias("perplexity"),
        ),
        tc,
    )


DOC_LM_PERPLEXITY_SQL = f"""
    WITH toks AS (SELECT doc_id, unnest({_SQL_WORDS}) AS term FROM documents),
    t AS (SELECT doc_id, term FROM toks WHERE term <> ''),
    tc AS (SELECT term, count(*) AS c FROM t GROUP BY term),
    vocab AS (SELECT term, c FROM tc ORDER BY c DESC, term LIMIT {_LM_VOCAB}),
    totals AS (SELECT sum(c) AS t_all FROM tc),
    vmass AS (SELECT sum(c) AS v_mass FROM vocab),
    scored AS (
        SELECT t.doc_id,
               ln(coalesce(
                   vocab.c::DOUBLE / totals.t_all,
                   (totals.t_all - vmass.v_mass + 1)::DOUBLE / (totals.t_all + 1)
               )) AS ln_p
        FROM t
        LEFT JOIN vocab ON t.term = vocab.term, totals, vmass
    )
    SELECT doc_id, count(*) AS n_tokens,
           round(exp(-avg(ln_p)), 4) AS perplexity
    FROM scored
    GROUP BY doc_id
    ORDER BY doc_id
"""


#: combined-gate thresholds (each bites on the test corpus: quality
#: median .72, classifier median .47, dup-bigram median .03, perplexity
#: median 30.0)
_SIG_MIN_QUALITY = 0.6
_SIG_MIN_CLS = 0.46
_SIG_MAX_DUP = 0.05
_SIG_MAX_PPL = 30.5


def corpus_filter_signals(
    spark: SparkSession,
    sf_dir: str,
    *,
    min_quality: float = _SIG_MIN_QUALITY,
    min_cls: float = _SIG_MIN_CLS,
    max_dup: float = _SIG_MAX_DUP,
    max_ppl: float = _SIG_MAX_PPL,
) -> DataFrame:
    """The combined pre-training filter recipe (C4-style heuristics +
    Gopher repetition + learned-style classifier + LM perplexity — the
    gates public pipelines apply together): one row per SURVIVING
    document with every signal that cleared. Thresholds are keyword
    overrides (defaults tuned so every gate bites on the test corpus;
    real corpora tune per-source — see ``corpus_report``).

    Plan shape: the three per-document signals (heuristic quality,
    classifier score, duplicate-bigram fraction) are pure projections
    computed in ONE corpus scan; the perplexity frame (which needs the
    corpus-level LM aggregates) joins on doc_id — two scans + one join
    total, vs the oracle's compose-the-verified-twins formulation which
    literally joins the four standalone oracle queries."""
    docs = load_table(spark, sf_dir, "documents")
    proj = TX.repetition_stats(TX.text_stats(docs)).select(
        "doc_id",
        "quality_score",
        TX.classifier_score(F.col("text")).alias("cls_quality"),
        "dup_gram_frac",
    )
    ppl_full = _lm_perplexity_frame(docs)
    ppl = ppl_full.select("doc_id", "perplexity")
    return C.carry(
        proj.join(ppl, "doc_id")
        .filter(
            (F.col("quality_score") >= min_quality)
            & (F.col("cls_quality") >= min_cls)
            & (F.col("dup_gram_frac") <= max_dup)
            & (F.col("perplexity") <= max_ppl)
        )
        .orderBy("doc_id"),
        ppl_full,
    )


def corpus_filter_signals_sql() -> str:
    """Compose-the-verified-twins oracle: the four standalone oracle
    queries join on doc_id and the gates filter — any drift in any
    signal's math surfaces here too."""
    return f"""
        SELECT q.doc_id, q.quality_score, c.cls_quality, r.dup_gram_frac,
               p.perplexity
        FROM ({TEXT_QUALITY_SQL}) q
        JOIN ({TEXT_QUALITY_CLASSIFIER_SQL}) c USING (doc_id)
        JOIN ({TEXT_REPETITION_SQL}) r USING (doc_id)
        JOIN ({DOC_LM_PERPLEXITY_SQL}) p USING (doc_id)
        WHERE q.quality_score >= {_SIG_MIN_QUALITY}
          AND c.cls_quality >= {_SIG_MIN_CLS}
          AND r.dup_gram_frac <= {_SIG_MAX_DUP}
          AND p.perplexity <= {_SIG_MAX_PPL}
        ORDER BY doc_id
    """


#: BPE-ish subword splitter: letter runs, digit runs, single symbols
_TOK_RX = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def tok_regex_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish regex (letter runs / digit runs /
    single punctuation) — the pre-tokenizer pass of an LLM data pipeline.
    Pure native regexp_extract_all; counts, distinct counts and
    char-per-token ratio per document."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower("text"), F.lit(_TOK_RX), 0)
    return (
        docs.select(
            "doc_id",
            F.size(toks).alias("n_bpe_tokens"),
            F.size(F.array_distinct(toks)).alias("n_distinct_bpe"),
            F.round(
                F.length("text") / F.greatest(F.size(toks), F.lit(1)), 4
            ).alias("chars_per_token"),
        )
        .orderBy("doc_id")
    )


TOK_REGEX_SQL = rf"""
    WITH t AS (
        SELECT doc_id, length(text) AS n_chars,
               regexp_extract_all(lower(text), '{_TOK_RX}') AS toks
        FROM documents
    )
    SELECT doc_id, len(toks) AS n_bpe_tokens,
           len(list_distinct(toks)) AS n_distinct_bpe,
           round(n_chars::DOUBLE / greatest(len(toks), 1), 4) AS chars_per_token
    FROM t
    ORDER BY doc_id
"""


def doc_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints per document (k=8 char-grams, window w=4),
    reduced to (count, md5-of-sorted-set digest) so the result is one
    row per doc while still pinning every selected fingerprint value.
    Runs with the ``MD5`` hash family — DuckDB replays the identical
    computation for the differential oracle."""
    docs = load_table(spark, sf_dir, "documents")
    fps = TX.winnow_fingerprints(F.col("text"), k=8, w=4, hash_fn=MD5)
    pair = TX.let(
        fps,
        lambda v: F.struct(F.size(v).alias("n"), F.md5(F.concat_ws("", v)).alias("d")),
    )
    return docs.select("doc_id", pair.alias("_p")).select(
        "doc_id",
        F.col("_p.n").alias("n_fp"),
        F.col("_p.d").alias("fp_digest"),
    ).orderBy("doc_id")


DOC_WINNOW_SQL = f"""
    WITH g AS (
        SELECT doc_id, {_SQL_NORM} AS norm FROM documents
    ),
    h AS (
        SELECT doc_id,
               list_transform(generate_series(1, greatest(length(norm) - 7, 1)),
                              i -> md5(norm[i : i + 7])) AS gh
        FROM g
    ),
    m AS (
        SELECT doc_id,
               list_sort(list_distinct(
                   list_transform(generate_series(1, greatest(len(gh) - 3, 1)),
                                  j -> list_min(gh[j : j + 3]))
               )) AS fps
        FROM h
    )
    SELECT doc_id, len(fps) AS n_fp, md5(array_to_string(fps, '')) AS fp_digest
    FROM m
    ORDER BY doc_id
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", TX.fingerprint(F.col("text")).alias("fp"), TX.token_count(F.col("text")).alias("n_tokens")
    ).orderBy("doc_id")


DOC_FINGERPRINT_SQL = f"""
    SELECT doc_id, md5({_SQL_NORM}) AS fp,
           CASE WHEN {_SQL_NORM} = '' THEN 0 ELSE len({_SQL_WORDS}) END AS n_tokens
    FROM documents
    ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors of vec_id=0's embedding, expressed as
    a broadcast join against the one-row query frame (fully lazy)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select(
        S.as_double(F.col("embedding")).alias("q")
    )
    sim = F.round(S.cosine(S.as_double(F.col("embedding")), F.col("q")), 4)
    return (
        emb.crossJoin(F.broadcast(qrow))
        .select("vec_id", sim.alias("similarity"))
        .orderBy(F.col("similarity").desc(), F.col("vec_id"))
        .limit(10)
    )


KNN_BRUTEFORCE_SQL = """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) AS similarity
    FROM embeddings, q
    ORDER BY similarity DESC, vec_id
    LIMIT 10
"""


def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via hyperplane LSH. The seeded planes fold in
    as literals, so the DuckDB oracle (``knn_lsh_oracle_sql``) replays
    bucket assignment and scoring exactly; recall vs brute force is
    additionally asserted in pytest."""
    emb = load_table(spark, sf_dir, "embeddings")
    query = [float(v) for v in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    return S.lsh_topk(emb, "embedding", query, 10, id_col="vec_id", n_planes=4)


#: block-size cap for the headline exact verifier: at sf0.01 exactly one
#: label block (59 rows) exceeds it — the oracle checks BOTH the exact
#: all-pairs arm and the star-routed arm in one result; at sf0.1+ every
#: ~500+-row block routes, so the stress audit exercises the valve and
#: pair work grows O(rows), not O(rows²/blocks)
EMB_NEAR_DUP_MAX_BLOCK = 55


def emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs within label blocks (threshold 0.35 —
    demo level for the uniform-random test embeddings). The headline
    entry runs WITH the degenerate-block valve engaged
    (``max_block``/``on_hot='route'``, VERDICT r5 item 6): over-cap
    blocks contribute min-id star pairs (cosine-verified like any pair)
    instead of all-pairs — the DuckDB oracle replays both arms, so the
    routed semantics are hash-checked end-to-end, and the sf1 stress run
    shows bounded growth instead of the 11.9x all-pairs blowup."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = S.blocked_near_dup(
        emb,
        "vec_id",
        "embedding",
        "label",
        threshold=0.35,
        max_block=EMB_NEAR_DUP_MAX_BLOCK,
        on_hot="route",
    )
    return C.carry(pairs.orderBy("id_a", "id_b"), pairs)


EMB_NEAR_DUP_SQL = f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    sz AS (SELECT label, count(*) AS n, min(vec_id) AS rep FROM e GROUP BY label),
    allp AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS block,
               round(list_cosine_similarity(a.v, b.v), 4) AS similarity
        FROM e a
        JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        JOIN sz ON sz.label = a.label
        WHERE sz.n <= {EMB_NEAR_DUP_MAX_BLOCK}
        UNION ALL
        SELECT r.vec_id AS id_a, m.vec_id AS id_b, m.label AS block,
               round(list_cosine_similarity(r.v, m.v), 4) AS similarity
        FROM e m
        JOIN sz ON sz.label = m.label
        JOIN e r ON r.vec_id = sz.rep
        WHERE sz.n > {EMB_NEAR_DUP_MAX_BLOCK} AND m.vec_id <> sz.rep
    )
    SELECT * FROM allp
    WHERE similarity >= 0.35
    ORDER BY id_a, id_b
"""


def emb_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-quadratic near-dup: banded-LSH candidates + exact cosine
    verify (`S.lsh_near_dup`) — the scale path where `emb_near_dup`'s
    within-block all-pairs is the exact verifier. Seeded planes fold in
    as literals, so the DuckDB oracle replays candidate generation AND
    verification bit-for-bit.

    8 planes per band: a random pair collides in a band with p=2^-8, so
    candidates stay ~linear even on uniform-random embeddings (the
    LSH-adversarial fixture); recall for genuinely-similar pairs is the
    band-OR curve (wide-band recall is pytest-asserted separately in
    test_lsh_near_dup_recall_and_precision)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = S.lsh_near_dup(
        emb, "vec_id", "embedding", threshold=0.35, n_bands=8, band_planes=8
    )
    return C.carry(pairs.orderBy("id_a", "id_b"), pairs)


def _duck_dot(vexpr: str, plane) -> str:
    """One seeded-plane dot product as DuckDB SQL — the identical
    left-to-right IEEE fold the Spark-side HOF kernel runs (Python float
    repr round-trips exactly through both engines' double parsers). ONE
    definition shared by every seeded-plane oracle (see
    ``text.md5_hash64`` for the drift rationale)."""
    terms = " + ".join(
        f"CAST({vexpr}[{i + 1}] AS DOUBLE) * CAST('{float(c)!r}' AS DOUBLE)"
        for i, c in enumerate(plane)
    )
    return f"(CAST(0.0 AS DOUBLE) + {terms})"


def _duck_sign_bucket(vexpr: str, planes) -> str:
    """Sign-bit bucket id under ``planes`` as DuckDB SQL: the bit terms
    are disjoint, so their SUM equals the Spark side's XOR fold
    bit-for-bit."""
    return " + ".join(
        f"(CASE WHEN {_duck_dot(vexpr, pl)} >= 0 THEN CAST(1 AS BIGINT) << {i}"
        f" ELSE CAST(0 AS BIGINT) END)"
        for i, pl in enumerate(planes)
    )


def _emb_lsh_pair_ctes(
    *, threshold: float = 0.35, n_bands: int = 8, band_planes: int = 8,
    seed: int = 42, dim: int = 64,
) -> str:
    """CTE chain ending in ``p(id_a, id_b)``: banded hyperplane-LSH
    candidates + exact-cosine verify over ``embeddings`` — per-band
    bucket exprs from the same seeded hyperplanes as
    ``S.lsh_near_dup``, identical left-to-right IEEE folds."""
    planes = S.hyperplanes(dim, n_bands * band_planes, seed)
    band_selects = []
    for b in range(n_bands):
        sub = planes[b * band_planes : (b + 1) * band_planes]
        band_selects.append(
            f"SELECT id, {b} AS band, {_duck_sign_bucket('v', sub)} AS bucket FROM e"
        )
    bk = " UNION ALL ".join(band_selects)
    return f"""e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        bk AS ({bk}),
        cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                 FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
                 WHERE a.id < b.id),
        p AS (
            SELECT id_a, id_b,
                   round(list_cosine_similarity(ea.v, eb.v), 4) AS similarity
            FROM cand
            JOIN e ea ON ea.id = cand.id_a
            JOIN e eb ON eb.id = cand.id_b
            WHERE round(list_cosine_similarity(ea.v, eb.v), 4) >= {threshold}
        )"""


def emb_near_dup_lsh_oracle_sql(**kw) -> str:
    """DuckDB twin of ``emb_near_dup_lsh`` (see
    :func:`_emb_lsh_pair_ctes`)."""
    return f"""
        WITH {_emb_lsh_pair_ctes(**kw)}
        SELECT id_a, id_b, similarity FROM p
        ORDER BY id_a, id_b
    """


def emb_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level (semantic) dedup end-to-end — the SemDeDup-style
    pipeline step (public: Abbas et al. 2023 'SemDeDup'): banded
    hyperplane-LSH near-dup candidates over the embedding column,
    exact-cosine verification, connected components over the verified
    pairs, and every vector labeled with its cluster's min-id canonical
    representative (keep ``vec_id == cluster_id`` to dedup the corpus
    semantically). Every stage is the proven bounded operator — LSH
    candidates (never all-pairs), join+groupBy label propagation — and
    the seeded planes fold in as literals, so the WHOLE composition
    (candidates -> verify -> transitive closure) replays in DuckDB."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = S.lsh_near_dup(
        emb, "vec_id", "embedding", threshold=0.35, n_bands=8, band_planes=8
    )
    clusters = D.dedup_clusters(pairs, emb.select("vec_id"))
    result = clusters.select(F.col("id").alias("vec_id"), "cluster_id").orderBy("vec_id")
    return C.carry(result, clusters)


def emb_canonical_oracle_sql(**kw) -> str:
    return f"""
        WITH RECURSIVE {_emb_lsh_pair_ctes(**kw)},
        edges AS (
            SELECT id_a AS a, id_b AS b FROM p
            UNION
            SELECT id_b, id_a FROM p
        ),
        reach(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a
        ),
        lbl AS (SELECT a, least(a, min(b)) AS mn FROM reach GROUP BY a)
        SELECT emb.vec_id,
               CAST(coalesce(lbl.mn, emb.vec_id) AS BIGINT) AS cluster_id
        FROM embeddings emb LEFT JOIN lbl ON emb.vec_id = lbl.a
        ORDER BY vec_id
    """

def dedup_simhash_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash sketch itself, oracle-checked bit-for-bit: with the
    ``MD5`` hash family (60-bit token hashes) it exists identically in
    DuckDB, so the differential gate pins every sketch value — the
    strong twin of the rows-only ``dedup_simhash`` pair query (whose
    ``XXH`` run has no DuckDB equivalent)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash64(docs, "doc_id", "text", hash_fn=MD5).select(
        F.col("id").alias("doc_id"), "simhash"
    ).orderBy("doc_id")


DEDUP_SIMHASH_SKETCH_SQL = f"""
    WITH h AS (
        SELECT doc_id,
               list_transform(list_distinct({_SQL_WORDS}),
                              t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS th
        FROM documents
    )
    SELECT doc_id,
           CAST(list_sum(list_transform(range(60), i ->
               CASE WHEN 2 * list_sum(list_transform(th, x -> (x >> i) & 1)) > len(th)
                    THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END))
               AS BIGINT) AS simhash
    FROM h
    ORDER BY doc_id
"""


def dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature values, oracle-checked bit-for-bit: with the
    ``MD5`` hash family (16 perms over word 3-gram shingles) they exist
    identically in DuckDB — the strong twin of the rows-only
    ``dedup_minhash_lsh`` pair query (whose ``XXH`` run has no DuckDB
    equivalent). One row per (doc, permutation)."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(docs, "doc_id", "text", n=3, num_hashes=16, hash_fn=MD5)
    return (
        sigs.select(F.col("id").alias("doc_id"), F.posexplode("signature").alias("_p", "minhash"))
        .select("doc_id", F.col("_p").cast("bigint").alias("perm"), "minhash")
        .orderBy("doc_id", "perm")
    )


DEDUP_MINHASH_SIG_SQL = f"""
    WITH w AS (
        SELECT doc_id, {_SQL_WORDS} AS words FROM documents
    ),
    s AS (
        SELECT doc_id,
               {_SQL_GRAMS3} AS sh
        FROM w
    )
    SELECT doc_id, i AS perm,
           list_min(list_transform(sh,
               g -> CAST(('0x' || substr(md5(g || '#' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)
           )) AS minhash
    FROM s, range(16) t(i)
    ORDER BY doc_id, perm
"""


def knn_lsh_oracle_sql(*, n_planes: int = 4, seed: int = 42, dim: int = 64) -> str:
    """DuckDB twin of ``knn_lsh``: the hyperplanes are seeded literals,
    so the whole bucket computation regenerates here with identical
    coefficients and an identical left-to-right IEEE fold (1-based
    subscripts; bit terms summed — they are disjoint, matching the
    Spark side's XOR fold bit-for-bit). The query's bucket is computed
    by the same expression applied to the vec_id=0 row."""
    planes = S.hyperplanes(dim, n_planes, seed)
    bucket = _duck_sign_bucket("v", planes)
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
        q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
        SELECT b.vec_id,
               round(list_cosine_similarity(b.v, qv), 4) AS similarity
        FROM b, q
        WHERE b.bucket = qbucket
        ORDER BY similarity DESC, vec_id
        LIMIT 10
    """


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_clusters_jaccard": dedup_clusters_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_minhash_lsh_md5": dedup_minhash_lsh_md5,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_sketch": dedup_simhash_sketch,
    "dedup_minhash_sig": dedup_minhash_sig,
    "text_quality": text_quality,
    "lang_identify": lang_identify,
    "doc_fingerprint": doc_fingerprint,
    "tok_regex_count": tok_regex_count,
    "doc_winnow_fingerprint": doc_winnow_fingerprint,
    "knn_bruteforce": knn_bruteforce,
    "knn_lsh": knn_lsh,
    "emb_near_dup": emb_near_dup,
    "emb_near_dup_lsh": emb_near_dup_lsh,
}

def para_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph dedup (C4/RefinedWeb cleaning step): split
    documents into segments, drop every repeat of a segment already seen
    earlier in the corpus (order: doc id, position), reassemble. The
    fixture text has no natural breaks, so the query synthesizes a
    deterministic one every 10 words — both engines apply the same
    regex — then runs the real ``dedup_segments`` operator."""
    docs = load_table(spark, sf_dir, "documents")
    para = docs.select(
        "doc_id",
        F.regexp_replace(F.col("text"), r"(([a-z]+ ){10})", "$1\n").alias("text"),
    )
    return (
        D.dedup_segments(para, "doc_id", "text", sep="\n")
        .select(F.col("id").alias("doc_id"), "text", "n_kept", "n_dropped")
        .orderBy("doc_id")
    )


PARA_DEDUP_SQL = r"""
    WITH para AS (
        SELECT doc_id,
               regexp_replace(text, '(([a-z]+ ){10})', '\1' || chr(10), 'g') AS text
        FROM documents
    ),
    sp AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM para),
    idx AS (
        SELECT doc_id, parts, unnest(generate_series(1, len(parts))) AS i FROM sp
    ),
    segs AS (
        SELECT doc_id, i - 1 AS pos, parts[i] AS seg
        FROM idx WHERE trim(parts[i]) <> ''
    ),
    marked AS (
        SELECT doc_id, pos, seg,
               row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, pos) AS rn
        FROM segs
    ),
    agg AS (
        SELECT doc_id,
               coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, chr(10) ORDER BY pos), '') AS text,
               CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN rn <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        FROM marked
        GROUP BY doc_id
    )
    -- left join onto ALL input docs: a document with no non-empty
    -- segment still emits ('', 0, 0), matching dedup_segments' contract
    SELECT d.doc_id,
           coalesce(a.text, '') AS text,
           coalesce(a.n_kept, 0) AS n_kept,
           coalesce(a.n_dropped, 0) AS n_dropped
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    ORDER BY d.doc_id
"""


#: registered past the driver's 50-query window in __spark_entry__ (the
#: window is full of green entries; check_oracle.py still verifies it)
# ---------------------------------------------------------------------------
# Corpus assembly: splits, stratified sampling, sequence packing
# ---------------------------------------------------------------------------

def _seeded_hash(idcol: F.Column, seed: str) -> F.Column:
    """Deterministic 60-bit hash of ``seed || '#' || id``: the ``MD5``
    family's key hash, which DuckDB replays."""
    return MD5.key_hash(F.lit(seed), idcol, sep="#")


def _seeded_hash_sql(expr: str, seed: str) -> str:
    return f"CAST(('0x' || substr(md5('{seed}#' || CAST({expr} AS VARCHAR)), 1, 15)) AS BIGINT)"


def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/validation/test assignment (90/5/5) by a
    seeded hash bucket of the doc id — the split every training run
    needs: reproducible on any engine or cluster size, stable under
    corpus growth (a document's split never changes when new docs
    arrive), and purely map-side — the only shuffle is the output ORDER
    BY, which a real pipeline drops."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (_seeded_hash(F.col("doc_id"), "split") % 1000).alias("bucket")
    return (
        docs.select("doc_id", bucket)
        .withColumn(
            "split",
            F.when(F.col("bucket") < 900, "train")
            .when(F.col("bucket") < 950, "validation")
            .otherwise("test"),
        )
        .orderBy("doc_id")
    )


CORPUS_SPLIT_SQL = f"""
    SELECT doc_id, bucket,
           CASE WHEN bucket < 900 THEN 'train'
                WHEN bucket < 950 THEN 'validation'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id, {_seeded_hash_sql('doc_id', 'split')} % 1000 AS bucket
        FROM documents
    )
    ORDER BY doc_id
"""


def corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: within each language stratum,
    order documents by a seeded hash (uniform, reproducible) and keep
    the first 50 — balanced-per-stratum sampling with one window shuffle
    on the stratum key, no driver data, no RNG state to coordinate
    across executors."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h = _seeded_hash(F.col("doc_id"), "sample")
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id"))
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 50)
        .orderBy("lang", "rk")
    )


CORPUS_SAMPLE_SQL = f"""
    SELECT doc_id, lang, rk FROM (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY {_seeded_hash_sql('doc_id', 'sample')}, doc_id) AS rk
        FROM documents
    )
    WHERE rk <= 50
    ORDER BY lang, rk
"""


_PACK_BUDGET = 256


def tok_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing, per shard — the step that turns
    a cleaned corpus into fixed-length training sequences: within each
    language shard, documents concatenate in doc_id order and the token
    stream chunks every ``_PACK_BUDGET`` tokens; a document's pack id is
    its start-offset chunk, with a flag when it straddles a boundary
    (i.e. will be split across sequences).

    Scale shape: the running token sum is a SHARD-LOCAL window
    (``partitionBy(lang)``) — packing parallelizes across shards exactly
    the way per-worker packing does in production, and no global
    single-partition cumulative window ever exists. Token counts reuse
    the BPE-ish pre-tokenizer regex of ``tok_regex_count``."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n = F.size(F.regexp_extract_all(F.lower("text"), F.lit(_TOK_RX), 0))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return (
        docs.select("doc_id", "lang", n.alias("n_tokens"))
        .withColumn("cum_tokens", cum)
        .withColumn("start_offset", F.col("cum_tokens") - F.col("n_tokens"))
        .withColumn(
            "pack_id",
            F.floor(F.col("start_offset") / F.lit(float(_PACK_BUDGET))).cast("bigint"),
        )
        .withColumn(
            "straddles",
            (F.col("n_tokens") > 0)
            & (
                F.floor((F.col("cum_tokens") - 1) / F.lit(float(_PACK_BUDGET))).cast("bigint")
                != F.col("pack_id")
            ),
        )
        .orderBy("lang", "doc_id")
    )


TOK_PACK_SQL = rf"""
    WITH t AS (
        SELECT doc_id, lang,
               len(regexp_extract_all(lower(text), '{_TOK_RX}')) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, lang, n_tokens,
               sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM t
    )
    SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST(cum_tokens - n_tokens AS BIGINT) AS start_offset,
           CAST(floor((cum_tokens - n_tokens) / {float(_PACK_BUDGET)}) AS BIGINT) AS pack_id,
           n_tokens > 0 AND
           CAST(floor((cum_tokens - 1) / {float(_PACK_BUDGET)}) AS BIGINT)
               != CAST(floor((cum_tokens - n_tokens) / {float(_PACK_BUDGET)}) AS BIGINT)
               AS straddles
    FROM c
    ORDER BY lang, doc_id
"""


def corpus_prepare(
    spark: SparkSession,
    sf_dir: str,
    *,
    candidates: str = "lsh_md5",
    max_bucket: int | None = None,
) -> DataFrame:
    """The WHOLE corpus-preparation pipeline a training run executes,
    composed end-to-end from the already-proven bounded operators:

    1. quality-score and gate (``text_stats``, score >= 0.5);
    2. keep one representative per near-dup cluster (MinHash-LSH
       candidate pairs by default — :func:`_near_dup_pairs`; exact
       PPJoin via ``candidates='ppjoin'`` — -> label propagation ->
       canonical min-id keep);
    3. decontaminate against the benchmark slice (``source = 'src1'``
       plays the eval set; RAW benchmark docs — the eval set is never
       quality-filtered);
    4. assign the deterministic train/validation/test split.

    Output is the training manifest ``(doc_id, quality_score, split)``.
    Every stage inherits its operator's scale posture — no all-pairs, no
    unbounded driver data — and the caches flow through the lifecycle
    machinery (released with the returned frame)."""
    from pyspark.storagelevel import StorageLevel

    _validate_candidates(candidates, max_bucket)  # before any persist
    docs = load_table(spark, sf_dir, "documents")
    kept = (
        TX.text_stats(docs, "text")
        .filter(F.col("quality_score") >= 0.5)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs = _near_dup_pairs(
        kept, candidates=candidates, n=3, threshold=0.5, max_bucket=max_bucket
    )
    canon = D.dedup_canonical(kept, pairs, "doc_id")
    bench = docs.filter(F.col("source") == "src1")
    train = canon.filter(F.col("source") != "src1")
    # detect contamination on the PERSISTED quality gate (a superset of
    # train — the anti-join inside decontaminate only drops ids in
    # train, so the output is identical) instead of the canonical frame:
    # the gram explode then reads the `kept` cache and the expensive
    # dedup_canonical subtree evaluates ONCE (the output side), not
    # twice (r14 VERDICT item 6)
    clean = D.decontaminate(
        train,
        bench,
        "doc_id",
        "text",
        n=3,
        hash_fn=MD5,
        detect_on=kept.filter(F.col("source") != "src1"),
    )
    bucket = _seeded_hash(F.col("doc_id"), "split") % 1000
    result = (
        clean.select(
            "doc_id",
            "quality_score",
            F.when(bucket < 900, "train")
            .when(bucket < 950, "validation")
            .otherwise("test")
            .alias("split"),
        )
        .orderBy("doc_id")
    )
    return C.adopt(C.carry(result, canon), kept)


def _corpus_prepare_sql(candidates: str = "lsh_md5") -> str:
    gram_list = _SQL_GRAMS3
    pair_ctes = (
        _sql_ppjoin_pairs("kept")
        if candidates == "ppjoin"
        else _sql_md5_lsh_pairs("kept")
    )
    return f"""
    WITH RECURSIVE {_SQL_QUALITY_CTES},
    {pair_ctes},
    {_SQL_CLOSURE},
    canon AS (
        SELECT k.doc_id, k.text, k.quality_score
        FROM kept k LEFT JOIN lbl ON k.doc_id = lbl.a
        WHERE coalesce(lbl.mn, k.doc_id) = k.doc_id
    ),
    bw AS (SELECT {_SQL_WORDS} AS words FROM documents WHERE source = 'src1'),
    bg AS (SELECT DISTINCT unnest({gram_list}) AS gram FROM bw),
    tr AS (
        SELECT c.doc_id, c.text, c.quality_score
        FROM canon c JOIN documents d ON c.doc_id = d.doc_id
        WHERE d.source <> 'src1'
    ),
    trw AS (SELECT doc_id, {_SQL_WORDS} AS words FROM tr),
    contaminated AS (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_id, unnest({gram_list}) AS gram FROM trw
        ) t WHERE gram IN (SELECT gram FROM bg)
    )
    SELECT doc_id, quality_score,
           CASE WHEN bucket < 900 THEN 'train'
                WHEN bucket < 950 THEN 'validation'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id, quality_score,
               {_seeded_hash_sql('doc_id', 'split')} % 1000 AS bucket
        FROM tr WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    )
    ORDER BY doc_id
    """


def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination over the documents table: treat the
    ``src1`` slice as the benchmark/eval set and every other source as
    the training corpus; drop training docs sharing any word 3-gram with
    the benchmark (3 instead of the production 13 — the synthetic docs
    are short). Runs with the ``MD5`` hash family so DuckDB replays the
    identical gram keys; the ``XXH`` production run is pinned by the
    same-math recall relationship tested in pytest."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src1")
    train = docs.filter(F.col("source") != "src1")
    return (
        D.decontaminate(train, bench, "doc_id", "text", n=3, hash_fn=MD5)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


CORPUS_DECONTAMINATE_SQL = f"""
    WITH w AS (
        SELECT doc_id, source, {_SQL_WORDS} AS words FROM documents
    ),
    g AS (
        SELECT doc_id, source,
               {_SQL_GRAMS3} AS grams
        FROM w
    ),
    bench AS (
        SELECT DISTINCT unnest(grams) AS gram FROM g WHERE source = 'src1'
    ),
    contaminated AS (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_id, unnest(grams) AS gram FROM g WHERE source <> 'src1'
        ) t WHERE gram IN (SELECT gram FROM bench)
    )
    SELECT doc_id, source FROM documents
    WHERE source <> 'src1' AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ORDER BY doc_id
"""


def corpus_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded contamination scores (``D.contamination_scores``): per
    training doc (source <> 'src1'), the fraction of its distinct word
    3-grams that appear in the 'src1' benchmark slice — rank/flag
    instead of the boolean `corpus_decontaminate` drop. ``MD5`` hash
    family for the oracle; ``XXH`` is the production family."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src1")
    train = docs.filter(F.col("source") != "src1")
    return (
        D.contamination_scores(train, bench, "doc_id", "text", n=3, hash_fn=MD5)
        .orderBy("doc_id")
    )


CORPUS_CONTAMINATION_SQL = f"""
    WITH w AS (
        SELECT doc_id, source, {_SQL_WORDS} AS words FROM documents
    ),
    g AS (
        SELECT doc_id, source, {_SQL_GRAMS3} AS grams FROM w
    ),
    bench AS (
        SELECT DISTINCT unnest(grams) AS gram FROM g WHERE source = 'src1'
    ),
    tr AS (
        SELECT doc_id, unnest(grams) AS gram FROM g WHERE source <> 'src1'
    ),
    agg AS (
        SELECT doc_id,
               count(*) AS n_grams,
               CAST(sum(CASE WHEN gram IN (SELECT gram FROM bench) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_contaminated
        FROM tr GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(a.n_grams, 0) AS n_grams,
           coalesce(a.n_contaminated, 0) AS n_contaminated,
           round(coalesce(a.n_contaminated, 0)::DOUBLE
                 / greatest(coalesce(a.n_grams, 0), 1), 4) AS contamination_frac
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    WHERE d.source <> 'src1'
    ORDER BY d.doc_id
"""


def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column —
    the storage form a 100 TB embedding corpus actually keeps (4x
    smaller than float32): ``scale = amax/127``; ``q_i = floor(x_i/scale
    + 0.5)`` clamped to [-127, 127] (explicit floor(+0.5) instead of a
    round() builtin so both engines run the identical IEEE ops — no
    rounding-mode ambiguity at .5 boundaries). Entirely map-side; the
    md5 digest of the quantized CSV pins the whole vector bit-for-bit in
    the oracle without shipping arrays through the compare. All-zero
    vectors quantize to zeros via the scale=1 guard."""
    emb = load_table(spark, sf_dir, "embeddings")
    xs = F.transform("embedding", lambda x: x.cast("double"))
    amax = F.array_max(F.transform(xs, F.abs))
    scale = F.when(amax == 0.0, F.lit(1.0)).otherwise(amax / F.lit(127.0))
    q = F.transform(
        xs,
        lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127), F.floor(x / scale + F.lit(0.5)).cast("int")),
        ),
    )
    return emb.select(
        "vec_id",
        F.round(scale, 6).alias("scale"),
        F.md5(F.concat_ws(",", F.transform(q, lambda v: v.cast("string"))).cast("binary")).alias(
            "q_digest"
        ),
    ).orderBy("vec_id")


EMB_QUANTIZE_SQL = """
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS xs FROM embeddings
    ),
    s AS (
        SELECT vec_id, xs,
               CASE WHEN list_max(list_transform(xs, x -> abs(x))) = 0.0 THEN 1.0
                    ELSE list_max(list_transform(xs, x -> abs(x))) / 127.0 END AS scale
        FROM e
    )
    SELECT vec_id, round(scale, 6) AS scale,
           md5(array_to_string(
               list_transform(xs, x -> CAST(greatest(-127, least(127,
                   CAST(floor(x / scale + 0.5) AS INT))) AS VARCHAR)),
               ',')) AS q_digest
    FROM s
    ORDER BY vec_id
"""


def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus report card — the summary table a data-curation
    dashboard shows after every pipeline run: document count, mean
    quality score, mean token count, and the exact-duplicate fraction
    (1 - distinct fingerprints / docs). One pass over the corpus and one
    groupBy on the bounded source key. ``mean_quality`` uses the exact
    integer-unit average idiom (sum 1e-4 units as longs, half-up integer
    division — see ``relational._exact_avg_value``) so double partial-sum
    ordering can never flip the 4th decimal between engines."""
    docs = load_table(spark, sf_dir, "documents")
    stats = TX.text_stats(docs, "text").withColumn("fp", TX.fingerprint(F.col("text")))
    qunits = F.sum(F.round(F.col("quality_score") * 10000, 0).cast("long"))
    n = F.count(F.lit(1))
    return (
        stats.groupBy("source")
        .agg(
            n.alias("n_docs"),
            (qunits * 2 + n).cast("long").alias("_q2n"),
            F.sum("n_tokens").alias("_tsum"),
            F.countDistinct("fp").alias("_nfp"),
        )
        .withColumn(
            "mean_quality",
            F.expr("(_q2n div (2 * n_docs)) / CAST(10000 AS DOUBLE)"),
        )
        .withColumn(
            "mean_tokens",
            F.round(F.col("_tsum").cast("double") / F.col("n_docs"), 4),
        )
        .withColumn(
            "exact_dup_frac",
            F.round(
                (F.col("n_docs") - F.col("_nfp")).cast("double") / F.col("n_docs"), 4
            ),
        )
        .select("source", "n_docs", "mean_quality", "mean_tokens", "exact_dup_frac")
        .orderBy("source")
    )


CORPUS_REPORT_SQL = f"""
    WITH base AS (
        SELECT doc_id, source,
               md5({_SQL_NORM}) AS fp,
               length(text) AS n_chars,
               CASE WHEN {_SQL_NORM} = '' THEN 0 ELSE len({_SQL_WORDS}) END AS n_tokens,
               length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
               {_sql_stopword_hits('en')} AS sw
        FROM documents
    ),
    scored AS (
        SELECT source, fp, n_tokens,
               CAST(round(
                   round(least(n_tokens / 20.0, 1.0) * 0.4
                         + least(round(sw::DOUBLE / greatest(n_tokens, 1), 4) * 5, 1.0) * 0.4
                         + (1 - least(round(n_punct::DOUBLE / greatest(n_chars, 1), 4) * 10, 1.0)) * 0.2,
                         4) * 10000, 0) AS BIGINT) AS q_units
        FROM base
    )
    SELECT source,
           count(*) AS n_docs,
           ((2 * CAST(sum(q_units) AS BIGINT) + count(*)) // (2 * count(*))) / 10000.0
               AS mean_quality,
           round(CAST(sum(n_tokens) AS BIGINT)::DOUBLE / count(*), 4) AS mean_tokens,
           round((count(*) - count(DISTINCT fp))::DOUBLE / count(*), 4) AS exact_dup_frac
    FROM scored
    GROUP BY source
    ORDER BY source
"""


def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting: per-source sampling weight
    proportional to sqrt(share), renormalized — the temperature-style
    (alpha = 0.5) rebalancing multilingual / multi-domain training mixes
    use so small domains aren't drowned by head domains. One groupBy over
    the corpus; the normalizing window runs on the AGGREGATED frame
    (one row per source — bounded, never data-scale). sqrt instead of a
    pow() builtin keeps both engines on the identical IEEE op."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    total = Window.partitionBy()
    share = F.col("n_docs") / F.sum("n_docs").over(total)
    raw = F.sqrt(share)
    return (
        counts.withColumn("share", F.round(share, 6))
        .withColumn("weight", F.round(raw / F.sum(raw).over(total), 6))
        .select("source", "n_docs", "share", "weight")
        .orderBy("source")
    )


CORPUS_MIXTURE_SQL = """
    WITH c AS (
        SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ),
    sh AS (
        SELECT source, n_docs, n_docs / sum(n_docs) OVER () AS share FROM c
    )
    SELECT source, n_docs,
           round(share, 6) AS share,
           round(sqrt(share) / sum(sqrt(share)) OVER (), 6) AS weight
    FROM sh
    ORDER BY source
"""


EXTRA_QUERIES = {
    "corpus_clean": corpus_clean,
    "corpus_clean_exact": corpus_clean_exact,
    "corpus_clean_xxh": corpus_clean_xxh,
    "text_repetition": text_repetition,
    "knn_batch": knn_batch,
    "emb_canonical": emb_canonical,
    "para_dedup": para_dedup,
    "corpus_split": corpus_split,
    "corpus_sample_stratified": corpus_sample_stratified,
    "tok_pack_sequences": tok_pack_sequences,
    "emb_quantize_int8": emb_quantize_int8,
    "corpus_mixture_weights": corpus_mixture_weights,
    "corpus_report": corpus_report,
    "corpus_decontaminate": corpus_decontaminate,
    "corpus_contamination": corpus_contamination,
    "corpus_prepare": corpus_prepare,
    "text_quality_classifier": text_quality_classifier,
    "doc_tfidf_topk": doc_tfidf_topk,
    "doc_lm_perplexity": doc_lm_perplexity,
    "corpus_filter_signals": corpus_filter_signals,
}

ORACLES = {
    "corpus_clean": CORPUS_CLEAN_SQL,
    "text_quality_classifier": TEXT_QUALITY_CLASSIFIER_SQL,
    "doc_tfidf_topk": DOC_TFIDF_TOPK_SQL,
    "doc_lm_perplexity": DOC_LM_PERPLEXITY_SQL,
    "corpus_filter_signals": corpus_filter_signals_sql(),
    "corpus_clean_exact": CORPUS_CLEAN_EXACT_SQL,
    "text_repetition": TEXT_REPETITION_SQL,
    "knn_batch": KNN_BATCH_SQL,
    "emb_canonical": emb_canonical_oracle_sql(),
    "para_dedup": PARA_DEDUP_SQL,
    "corpus_split": CORPUS_SPLIT_SQL,
    "corpus_sample_stratified": CORPUS_SAMPLE_SQL,
    "tok_pack_sequences": TOK_PACK_SQL,
    "emb_quantize_int8": EMB_QUANTIZE_SQL,
    "corpus_mixture_weights": CORPUS_MIXTURE_SQL,
    "corpus_report": CORPUS_REPORT_SQL,
    "corpus_decontaminate": CORPUS_DECONTAMINATE_SQL,
    "corpus_contamination": CORPUS_CONTAMINATION_SQL,
    "corpus_prepare": _corpus_prepare_sql(),
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard": DEDUP_JACCARD_SQL,
    "dedup_clusters_jaccard": DEDUP_CLUSTERS_SQL,
    "dedup_minhash_lsh_md5": DEDUP_MINHASH_LSH_MD5_SQL,
    "dedup_simhash_sketch": DEDUP_SIMHASH_SKETCH_SQL,
    "dedup_minhash_sig": DEDUP_MINHASH_SIG_SQL,
    "text_quality": TEXT_QUALITY_SQL,
    "tok_regex_count": TOK_REGEX_SQL,
    "lang_identify": LANG_ID_SQL,
    "doc_fingerprint": DOC_FINGERPRINT_SQL,
    "doc_winnow_fingerprint": DOC_WINNOW_SQL,
    "knn_bruteforce": KNN_BRUTEFORCE_SQL,
    "knn_lsh": knn_lsh_oracle_sql(),
    "emb_near_dup": EMB_NEAR_DUP_SQL,
    "emb_near_dup_lsh": emb_near_dup_lsh_oracle_sql(),
}


# ---------------------------------------------------------------------------
# r7: cross-document repeated spans + Gopher quality rules
# ---------------------------------------------------------------------------

_DUP_SPAN_K = 5


def corpus_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated k-gram span analysis (the Spark-first
    approximation of suffix-array exact substring dedup — Lee et al.
    2022); per-document span count / covered tokens / coverage
    fraction, the signals a span-trim or doc-drop policy thresholds
    on. See ``operators.dedup.dup_span_stats``."""
    docs = load_table(spark, sf_dir, "documents")
    return D.dup_span_stats(docs, "doc_id", "text", k=_DUP_SPAN_K).orderBy("id")


CORPUS_DUP_SPANS_SQL = rf"""
    WITH tok AS (
        SELECT doc_id,
               CASE WHEN {_SQL_NORM} = '' THEN 0 ELSE len({_SQL_WORDS}) END AS n_tokens,
               {_SQL_WORDS} AS words
        FROM documents
    ),
    g AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(words[i:i+{_DUP_SPAN_K - 1}], ' ')) AS h
        FROM tok, unnest(generate_series(1, len(words) - {_DUP_SPAN_K} + 1)) AS t(i)
        WHERE len(words) >= {_DUP_SPAN_K}
    ),
    rep AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
    m AS (SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM rep)),
    sp AS (
        SELECT doc_id, pos, pos + {_DUP_SPAN_K} - 1 AS e,
               max(pos + {_DUP_SPAN_K} - 1) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        FROM m
    ),
    isl AS (
        SELECT doc_id, pos, e,
               sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM sp
    ),
    spans AS (SELECT doc_id, island, min(pos) AS s, max(e) AS e FROM isl GROUP BY doc_id, island),
    agg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
        FROM spans GROUP BY doc_id
    )
    SELECT t.doc_id AS id,
           coalesce(a.n_spans, 0) AS n_spans,
           coalesce(a.dup_tokens, 0) AS dup_tokens,
           CAST(t.n_tokens AS INT) AS n_tokens,
           CASE WHEN t.n_tokens > 0
                THEN round(coalesce(a.dup_tokens, 0)::DOUBLE / t.n_tokens, 4)
                ELSE 0.0 END AS dup_frac
    FROM tok t LEFT JOIN agg a USING (doc_id)
    ORDER BY id
"""


def corpus_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher heuristic quality-filter rule set (Rae et al. 2021,
    Appendix A1.1) over the documents table — every signal plus the
    composed pass flag, one JVM-side scan. See
    ``operators.text.gopher_signals``."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        TX.gopher_signals(docs, "text")
        .select(
            "doc_id",
            "n_words",
            "mean_word_len",
            "symbol_word_ratio",
            "bullet_line_frac",
            "ellipsis_line_frac",
            "alpha_word_frac",
            "n_stopwords",
            "passes",
        )
        .orderBy("doc_id")
    )


def _gopher_sql() -> str:
    stop = ", ".join(f"'{s}'" for s in TX.GOPHER_STOPWORDS)
    return rf"""
    WITH base AS (
        SELECT doc_id, text,
               CASE WHEN {_SQL_NORM} = '' THEN 0 ELSE len({_SQL_WORDS}) END AS n_words,
               {_SQL_WORDS} AS words,
               list_filter(string_split(text, chr(10)), s -> trim(s) <> '') AS lines
        FROM documents
    ),
    sig AS (
        SELECT doc_id,
               CAST(n_words AS INT) AS n_words,
               CASE WHEN n_words > 0
                    THEN round(list_sum(list_transform(words, t -> len(t)))::DOUBLE / n_words, 4)
                    ELSE 0.0 END AS mean_word_len,
               CASE WHEN n_words > 0
                    THEN round((len(text) - len(regexp_replace(text, '#', '', 'g'))
                                + len(regexp_extract_all(text, '\.\.\.|…')))::DOUBLE / n_words, 4)
                    ELSE 0.0 END AS symbol_word_ratio,
               CASE WHEN len(lines) > 0
                    THEN round(len(list_filter(lines, s -> regexp_matches(ltrim(s), '^[-*•]')))::DOUBLE / len(lines), 4)
                    ELSE 0.0 END AS bullet_line_frac,
               CASE WHEN len(lines) > 0
                    THEN round(len(list_filter(lines, s -> regexp_matches(rtrim(s), '(\.\.\.|…)$')))::DOUBLE / len(lines), 4)
                    ELSE 0.0 END AS ellipsis_line_frac,
               CASE WHEN n_words > 0
                    THEN round(len(list_filter(words, t -> regexp_matches(t, '[a-z]')))::DOUBLE / n_words, 4)
                    ELSE 0.0 END AS alpha_word_frac,
               CAST(len(list_filter([{stop}], s -> list_contains(words, s))) AS INT) AS n_stopwords
        FROM base
    )
    SELECT *,
           (n_words BETWEEN 50 AND 100000)
           AND (mean_word_len BETWEEN 3.0 AND 10.0)
           AND (symbol_word_ratio <= 0.1)
           AND (bullet_line_frac <= 0.9)
           AND (ellipsis_line_frac <= 0.3)
           AND (alpha_word_frac >= 0.8)
           AND (n_stopwords >= 2) AS passes
    FROM sig
    ORDER BY doc_id
"""


EXTRA_QUERIES["corpus_dup_spans"] = corpus_dup_spans
EXTRA_QUERIES["corpus_gopher_filters"] = corpus_gopher_filters
ORACLES["corpus_dup_spans"] = CORPUS_DUP_SPANS_SQL
ORACLES["corpus_gopher_filters"] = _gopher_sql()


def corpus_strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable span-trim: every non-first occurrence of a
    corpus-repeated k-gram span removed, corpus-wide first occurrence
    kept (Lee et al. 2022's keep-one-copy policy at k-gram
    granularity). See ``operators.dedup.strip_dup_spans``."""
    docs = load_table(spark, sf_dir, "documents")
    return D.strip_dup_spans(docs, "doc_id", "text", k=_DUP_SPAN_K).orderBy("id")


CORPUS_STRIP_DUP_SPANS_SQL = rf"""
    WITH tok AS (
        SELECT doc_id,
               CASE WHEN {_SQL_NORM} = '' THEN 0 ELSE len({_SQL_WORDS}) END AS n_tokens,
               {_SQL_WORDS} AS words
        FROM documents
    ),
    g AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(words[i:i+{_DUP_SPAN_K - 1}], ' ')) AS h
        FROM tok, unnest(generate_series(1, len(words) - {_DUP_SPAN_K} + 1)) AS t(i)
        WHERE len(words) >= {_DUP_SPAN_K}
    ),
    rep AS (SELECT h, min(doc_id) AS wid FROM g GROUP BY h HAVING count(*) > 1),
    firsts AS (
        SELECT g.h, r.wid, min(g.pos) AS wpos
        FROM g JOIN rep r ON g.h = r.h AND g.doc_id = r.wid
        GROUP BY g.h, r.wid
    ),
    m AS (
        SELECT g.doc_id, g.pos FROM g
        WHERE g.h IN (SELECT h FROM rep)
          AND NOT EXISTS (
              SELECT 1 FROM firsts f
              WHERE f.h = g.h AND f.wid = g.doc_id AND f.wpos = g.pos)
    ),
    sp AS (
        SELECT doc_id, pos, pos + {_DUP_SPAN_K} - 1 AS e,
               max(pos + {_DUP_SPAN_K} - 1) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        FROM m
    ),
    isl AS (
        SELECT doc_id, pos, e,
               sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM sp
    ),
    spans AS (SELECT doc_id, island, min(pos) AS s, max(e) AS e FROM isl GROUP BY doc_id, island),
    covered AS (
        SELECT doc_id, p AS pos FROM spans, unnest(generate_series(s, e)) AS u(p)
    ),
    toks AS (
        SELECT doc_id, i AS pos, words[i] AS tokn
        FROM tok, unnest(generate_series(1, len(words))) AS t(i)
        WHERE words[i] <> ''
    ),
    kept AS (
        SELECT t.doc_id, t.pos, t.tokn FROM toks t
        WHERE NOT EXISTS (
            SELECT 1 FROM covered c WHERE c.doc_id = t.doc_id AND c.pos = t.pos)
    ),
    agg AS (
        SELECT doc_id,
               array_to_string(list(tokn ORDER BY pos), ' ') AS text_stripped,
               CAST(count(*) AS INT) AS n_kept
        FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id AS id,
           coalesce(a.text_stripped, '') AS text_stripped,
           coalesce(a.n_kept, 0) AS n_kept,
           CAST(t.n_tokens - coalesce(a.n_kept, 0) AS INT) AS n_removed
    FROM tok t LEFT JOIN agg a USING (doc_id)
    ORDER BY id
"""

EXTRA_QUERIES["corpus_strip_dup_spans"] = corpus_strip_dup_spans
ORACLES["corpus_strip_dup_spans"] = CORPUS_STRIP_DUP_SPANS_SQL


def corpus_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis
    priority keys — ``operators.text.weighted_sample_key``): 200
    documents drawn with probability proportional to length
    (``n_chars``), the shape mixture construction uses when long
    documents should be over-represented per token rather than per doc.
    One global top-k on the key — no RNG state, reproducible, and the
    DuckDB oracle replays the identical selection."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.text import weighted_sample_key

    docs = load_table(spark, sf_dir, "documents")
    key = weighted_sample_key(F.col("doc_id"), F.col("n_chars"))
    return (
        docs.select("doc_id", "n_chars", key.alias("_k"))
        .orderBy(F.col("_k").desc(), "doc_id")
        .limit(200)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


CORPUS_SAMPLE_WEIGHTED_SQL = """
    SELECT doc_id, CAST(n_chars AS INT) AS n_chars FROM (
        SELECT doc_id, n_chars,
               ln((CAST(('0x' || substr(md5('7|' || doc_id), 1, 15)) AS BIGINT)
                   % 1000000007 + 1) / 1000000008.0) / n_chars AS k
        FROM documents
        ORDER BY k DESC, doc_id
        LIMIT 200
    )
    ORDER BY doc_id
"""

EXTRA_QUERIES["corpus_sample_weighted"] = corpus_sample_weighted
ORACLES["corpus_sample_weighted"] = CORPUS_SAMPLE_WEIGHTED_SQL


_LM2_BIGRAMS = 20_000
_LM2_LAMBDA = 0.7


def doc_lm_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BIGRAM transition perplexity with unigram
    interpolation — one model class up from :func:`doc_lm_perplexity`
    (the CCNet/KenLM-style signal at order 2): p(w2|w1) =
    λ·c12/c1 + (1-λ)·p_uni(w2), the corpus's own top-B bigram table and
    top-V unigram distribution (single add-one OOV bucket) both
    BROADCAST. Word-salad that fools a unigram LM (common words, wrong
    order) scores high here. Three aggregates + two broadcast joins;
    transitions derive map-side from each doc's token array. Documents
    with fewer than two tokens have no transitions and drop out."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    # persisted: the term-count table is vocab-cardinality metadata but
    # feeds FOUR derivation chains (vocab -> uni, vocab -> vmass,
    # totals, bi) — unpersisted, each re-ran the full corpus tokenize +
    # count shuffle (r14; the chains differ downstream of the exchange,
    # so ReusedExchange alone does not cover the scan)
    tc = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c")).persist()
    vocab = tc.orderBy(F.col("c").desc(), "term").limit(_LM_VOCAB)
    totals = tc.agg(F.sum("c").alias("t_all"))
    vmass = vocab.agg(F.sum("c").alias("v_mass"))
    uni = vocab.crossJoin(F.broadcast(totals)).select(
        F.col("term").alias("w2"), (F.col("c") / F.col("t_all")).alias("p1")
    )

    def pair_frame(src: DataFrame) -> DataFrame:
        # let-bound + zip_with over two shifted slices (r14): the
        # previous transform(sequence(1, n-1), i -> element_at(words,
        # i)) re-evaluated the un-bound tokenize regex inside the
        # per-element lambda — O(L^2) work per document, measured 7.1 s
        # vs 0.5 s per corpus pass at sf0.1 (the dedup shingle kernels
        # already guard against exactly this, operators/dedup.py)
        def body(words: Column) -> Column:
            return F.when(
                F.size(words) >= 2,
                F.zip_with(
                    F.slice(words, 1, F.size(words) - 1),
                    F.slice(words, 2, F.size(words) - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))

        pairs = TX.let(TX.tokens(F.col("text")), body)
        return (
            src.select("doc_id", F.explode(pairs).alias("pp"))
            .select("doc_id", "pp.w1", "pp.w2")
            .filter((F.col("w1") != "") & (F.col("w2") != ""))
        )

    # NOT persisted: the transition stream feeds both the bigram-count
    # pass and the scoring pass, but re-running the map-side tokenize +
    # explode measured CHEAPER than writing/reading the materialized
    # pair stream (14.5 s vs 13.5 s at sf0.1)
    pairs = pair_frame(docs)
    bc = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .orderBy(F.col("c12").desc(), "w1", "w2")
        .limit(_LM2_BIGRAMS)
    )
    bi = bc.join(tc.select(F.col("term").alias("w1"), F.col("c").alias("c1")), "w1").select(
        "w1", "w2", (F.col("c12") / F.col("c1")).alias("p2")
    )
    lam = F.lit(_LM2_LAMBDA)
    scored = (
        pairs.join(F.broadcast(bi), ["w1", "w2"], "left")
        .join(F.broadcast(uni), "w2", "left")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(vmass))
        .select(
            "doc_id",
            F.log(
                lam * F.coalesce(F.col("p2"), F.lit(0.0))
                + (F.lit(1.0) - lam)
                * F.coalesce(
                    F.col("p1"),
                    (F.col("t_all") - F.col("v_mass") + 1) / (F.col("t_all") + 1),
                )
            ).alias("ln_p"),
        )
    )
    return C.adopt(
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.round(F.exp(-F.avg("ln_p")), 4).alias("perplexity2"),
        )
        .orderBy("doc_id"),
        tc,
    )


DOC_LM_PERPLEXITY_BIGRAM_SQL = f"""
    WITH toks AS (SELECT doc_id, unnest({_SQL_WORDS}) AS term FROM documents),
    t AS (SELECT doc_id, term FROM toks WHERE term <> ''),
    tc AS (SELECT term, count(*) AS c FROM t GROUP BY term),
    vocab AS (SELECT term, c FROM tc ORDER BY c DESC, term LIMIT {_LM_VOCAB}),
    totals AS (SELECT sum(c) AS t_all FROM tc),
    vmass AS (SELECT sum(c) AS v_mass FROM vocab),
    uni AS (SELECT v.term AS w2, v.c::DOUBLE / totals.t_all AS p1 FROM vocab v, totals),
    w AS (SELECT doc_id, {_SQL_WORDS} AS words FROM documents),
    pr AS (
        SELECT doc_id, words[i] AS w1, words[i + 1] AS w2
        FROM w, unnest(generate_series(1, len(words) - 1)) AS u(i)
        WHERE len(words) >= 2 AND words[i] <> '' AND words[i + 1] <> ''
    ),
    bc AS (
        SELECT w1, w2, count(*) AS c12 FROM pr GROUP BY w1, w2
        ORDER BY c12 DESC, w1, w2 LIMIT {_LM2_BIGRAMS}
    ),
    bi AS (
        SELECT bc.w1, bc.w2, bc.c12::DOUBLE / tc.c AS p2
        FROM bc JOIN tc ON bc.w1 = tc.term
    ),
    scored AS (
        SELECT pr.doc_id,
               ln({_LM2_LAMBDA} * coalesce(bi.p2, 0.0)
                  + (1.0 - {_LM2_LAMBDA}) * coalesce(
                        uni.p1,
                        (totals.t_all - vmass.v_mass + 1)::DOUBLE / (totals.t_all + 1)
                    )) AS ln_p
        FROM pr
        LEFT JOIN bi ON pr.w1 = bi.w1 AND pr.w2 = bi.w2
        LEFT JOIN uni ON pr.w2 = uni.w2
        CROSS JOIN totals CROSS JOIN vmass
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_transitions,
           round(exp(-avg(ln_p)), 4) AS perplexity2
    FROM scored GROUP BY doc_id
    ORDER BY doc_id
"""

EXTRA_QUERIES["doc_lm_perplexity_bigram"] = doc_lm_perplexity_bigram
ORACLES["doc_lm_perplexity_bigram"] = DOC_LM_PERPLEXITY_BIGRAM_SQL


# -- r8: corpus-trained BPE tokenizer (operators/bpe.py) ---------------------
# The reference has no tokenizer analogue; this closes the builder
# brief's token-counting gap with a LEARNED subword vocabulary: one
# corpus-scale word-count pass, merge training on the capped word-type
# table (metadata scale), merges replayed map-side as literal replace
# chains. DuckDB replays the ENTIRE training unrolled, so the learned
# merges themselves are differentially checked — not just their use.

from automated_datastore_discovery_with_aws_glue_spark.operators import bpe as BPE  # noqa: E402

#: learned merges memoized per sf_dir — training is deterministic, and
#: three declared queries (merges / encode / packing) would otherwise
#: each re-run the corpus word-count pass + 12 argmax rounds
_BPE_MERGES_CACHE: dict[str, list[dict]] = {}


def _bpe_merges_for(spark: SparkSession, sf_dir: str) -> list[dict]:
    got = _BPE_MERGES_CACHE.get(sf_dir)
    if got is None:
        docs = load_table(spark, sf_dir, "documents")
        got = BPE.bpe_train(BPE.word_counts(docs))
        _BPE_MERGES_CACHE[sf_dir] = got
    return got


def tok_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge table itself (step, pair, merged symbol,
    pair count) — training runs at build time on the word-type table;
    the tiny result is re-framed for the driver. DuckDB re-learns the
    same merges through the unrolled CTE oracle, differentially
    verifying every argmax round."""
    merges = _bpe_merges_for(spark, sf_dir)
    out = spark.createDataFrame(
        [
            (m["step"], m["lhs"], m["rhs"], m["merged"], m["pair_count"])
            for m in merges
        ],
        "step int, lhs string, rhs string, merged string, pair_count bigint",
    )
    return out.orderBy("step")


TOK_BPE_MERGES_SQL = BPE.merges_sql()


def tok_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under the corpus-trained BPE
    vocabulary: letter-run words segment by replaying the learned
    merges (map-side literal replaces — no join, no shuffle); digit
    runs and punctuation count 1 each as in the pre-tokenizer. The
    compression column shows subword learning doing real work
    (chars per BPE token > 1 wherever merges fired)."""
    docs = load_table(spark, sf_dir, "documents")
    merges = _bpe_merges_for(spark, sf_dir)
    seg = BPE.encode_seg_expr(F.col("text"), merges)
    n_bpe = BPE.token_count_expr(seg)
    n_other = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit(r"[0-9]+|[^a-z0-9\s]"), 0)
    )
    return (
        docs.select(
            "doc_id",
            n_bpe.alias("n_bpe_tokens"),
            n_other.cast("int").alias("n_other_tokens"),
            (n_bpe + n_other).cast("int").alias("n_tokens_total"),
        )
        .orderBy("doc_id")
    )


TOK_BPE_ENCODE_SQL = rf"""
    WITH {BPE.encode_ctes()}
    SELECT doc_id,
           CAST(length(seg) - length(replace(seg, '<', '')) AS INT) AS n_bpe_tokens,
           CAST(n_other AS INT) AS n_other_tokens,
           CAST(length(seg) - length(replace(seg, '<', '')) + n_other AS INT)
               AS n_tokens_total
    FROM enc_{BPE.N_MERGES}
    ORDER BY doc_id
"""


def tok_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing on REAL learned-BPE token counts (the r7
    verdict's token-exact packing ask): same shard-local concat-and-
    chunk as :func:`tok_pack_sequences`, but the running sum packs
    actual subword counts instead of pre-tokenizer proxies."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    merges = _bpe_merges_for(spark, sf_dir)
    seg = BPE.encode_seg_expr(F.col("text"), merges)
    n_other = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit(r"[0-9]+|[^a-z0-9\s]"), 0)
    )
    n = (BPE.token_count_expr(seg) + n_other).cast("int")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.select("doc_id", "lang", n.alias("n_tokens"))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .withColumn("start_offset", F.col("cum_tokens") - F.col("n_tokens"))
        .withColumn(
            "pack_id",
            F.floor(F.col("start_offset") / F.lit(float(_PACK_BUDGET))).cast("bigint"),
        )
        .withColumn(
            "straddles",
            (F.col("n_tokens") > 0)
            & (
                F.floor((F.col("cum_tokens") - 1) / F.lit(float(_PACK_BUDGET))).cast("bigint")
                != F.col("pack_id")
            ),
        )
        .orderBy("lang", "doc_id")
    )


TOK_PACK_BPE_SQL = rf"""
    WITH {BPE.encode_ctes()},
    t AS (
        SELECT doc_id, lang,
               length(seg) - length(replace(seg, '<', '')) + n_other AS n_tokens
        FROM enc_{BPE.N_MERGES}
    ),
    c AS (
        SELECT doc_id, lang, n_tokens,
               sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM t
    )
    SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST(cum_tokens - n_tokens AS BIGINT) AS start_offset,
           CAST(floor((cum_tokens - n_tokens) / {float(_PACK_BUDGET)}) AS BIGINT) AS pack_id,
           n_tokens > 0 AND
           CAST(floor((cum_tokens - 1) / {float(_PACK_BUDGET)}) AS BIGINT)
               != CAST(floor((cum_tokens - n_tokens) / {float(_PACK_BUDGET)}) AS BIGINT)
               AS straddles
    FROM c
    ORDER BY lang, doc_id
"""

EXTRA_QUERIES["tok_bpe_merges"] = tok_bpe_merges
EXTRA_QUERIES["tok_bpe_encode"] = tok_bpe_encode
EXTRA_QUERIES["tok_pack_sequences_bpe"] = tok_pack_sequences_bpe
ORACLES["tok_bpe_merges"] = TOK_BPE_MERGES_SQL
ORACLES["tok_bpe_encode"] = TOK_BPE_ENCODE_SQL
ORACLES["tok_pack_sequences_bpe"] = TOK_PACK_BPE_SQL


def corpus_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination (r8): the 100 TB regime where
    the benchmark gram set is too large to broadcast exactly — a
    bloom_filter_agg binary prefilters the corpus gram scan map-side
    (no false negatives), and only the flagged sliver verifies against
    the exact set. The output EQUALS exact decontamination by
    construction, so it shares ``corpus_decontaminate``'s oracle —
    the whole two-tier composition is hash-checked, not rows-only.
    (The filter is the bit_or-aggregated bitset table of
    ``operators.dedup.decontaminate_bloom`` — public primitives only;
    Spark's internal bloom_filter_agg is not SQL-registered.)"""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src1")
    train = docs.filter(F.col("source") != "src1")
    return (
        D.decontaminate_bloom(
            train, bench, "doc_id", "text", n=3, hash_fn=MD5,
            num_bits=1_048_576,
        )
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


EXTRA_QUERIES["corpus_decontaminate_bloom"] = corpus_decontaminate_bloom
ORACLES["corpus_decontaminate_bloom"] = CORPUS_DECONTAMINATE_SQL


def j_salted_skew_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-flattened enrichment join (r8): events join their per-type
    rollup on event_type — a 4-value key, the canonical hot-key shape
    (at 100 TB one key = one straggler partition). ``salted_join``
    widens the shuffle key to (event_type, salt in [0,8)) with the
    rollup replicated 8x, so each hot key spreads over 8 partitions;
    the result set is identical to the plain join by construction,
    which is exactly what the oracle hash-checks."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_type"),
        F.round(F.sum("value"), 2).alias("type_total"),
    )
    out = salted_join(
        ev.select("event_id", "event_type"), dim, "event_type", n_salt=8
    )
    return out.select("event_id", "event_type", "n_type", "type_total").orderBy(
        "event_id"
    )


J_SALTED_SKEW_SQL = """
    WITH dim AS (
        SELECT event_type, count(*) AS n_type,
               round(sum(value), 2) AS type_total
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, d.n_type, d.type_total
    FROM events e JOIN dim d USING (event_type)
    ORDER BY e.event_id
"""

EXTRA_QUERIES["j_salted_skew_enrich"] = j_salted_skew_enrich
ORACLES["j_salted_skew_enrich"] = J_SALTED_SKEW_SQL


def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023 — hashed unigram+
    bigram features, add-1 smoothed target/raw ratio, integer micro-nat
    quantization; ``operators/dsir.py``) for EVERY document, target =
    the English slice of the same corpus — the "more like my curated
    set" selection a pretraining mixture build runs over the raw pool.
    The oracle replays the whole thing: md5 bucket hashing, both bucket
    count tables, the quantized log-ratio LUT, and the exact integer
    per-document sum."""
    from automated_datastore_discovery_with_aws_glue_spark.operators import dsir

    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    # carry: the orderBy wrapper must own the scorer's adopted caches —
    # returning the bare wrapper lets the GC backstop unpersist them
    # before the caller's action (every cached subtree then silently
    # recomputes; the r14 lost-cache class)
    scores = dsir.dsir_scores(docs, target)
    return C.carry(scores.orderBy("doc_id"), scores)


CORPUS_DSIR_WEIGHTS_SQL = r"""
    WITH n AS (
        SELECT doc_id, lang,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
        FROM documents
        WHERE trim(regexp_replace(lower(text), '\s+', ' ', 'g')) <> ''
    ),
    occ AS (
        SELECT doc_id, lang, words[i] AS gram
        FROM n, unnest(generate_series(1, len(words))) AS t(i)
        UNION ALL
        SELECT doc_id, lang, words[i] || ' ' || words[i + 1] AS gram
        FROM n, unnest(generate_series(1, len(words) - 1)) AS t(i)
        WHERE len(words) >= 2
    ),
    b AS (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) % 4096 AS bucket
        FROM occ
    ),
    tq AS (SELECT bucket, count(*) AS cq FROM b GROUP BY bucket),
    tp AS (SELECT bucket, count(*) AS cp FROM b WHERE lang = 'en' GROUP BY bucket),
    lut AS (
        SELECT bucket,
               CAST(round(ln((coalesce(cp, 0) + 1.0) / (coalesce(cq, 0) + 1.0))
                          * 1000000) AS BIGINT) AS l_micro
        FROM tp FULL OUTER JOIN tq USING (bucket)
    ),
    tot AS (
        SELECT CAST(round(ln(CAST((SELECT count(*) FROM b) + 4096 AS DOUBLE)
                             / CAST((SELECT count(*) FROM b WHERE lang = 'en') + 4096 AS DOUBLE))
                    * 1000000) AS BIGINT) AS k_micro
    )
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(lut.l_micro) + count(*) * any_value(tot.k_micro) AS BIGINT) AS score_micro
    FROM b JOIN lut USING (bucket), tot
    GROUP BY b.doc_id
    ORDER BY doc_id
"""

EXTRA_QUERIES["corpus_dsir_weights"] = corpus_dsir_weights
ORACLES["corpus_dsir_weights"] = CORPUS_DSIR_WEIGHTS_SQL


def fuzzy_join_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table fuzzy join (`operators/fuzzy.py`): match the corpus
    against a derived DIRTY FEED — the md5-selected half of the corpus
    re-keyed (+500000) with the first token dropped, the classic
    "same record, mangled text" linkage shape. Banded-LSH candidates
    (left buckets equi-joined to right buckets, never |L|x|R|), exact
    shingle-Jaccard verification, ``MD5`` hash family so the oracle
    replays signatures, candidates, AND verification."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.fuzzy import fuzzy_join

    docs = load_table(spark, sf_dir, "documents")
    norm = TX.normalize_text(F.col("text"))
    left = docs.filter(norm != "").select("doc_id", "text")
    toks = TX.tokens(F.col("text"))
    feed = (
        docs.filter(
            TX.md5_hash64(
                F.concat(F.lit("fj|"), F.col("doc_id").cast("string"))
            ) % 2 == 0
        )
        .select(
            (F.col("doc_id") + 500000).alias("feed_id"),
            F.concat_ws(
                " ", F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
            ).alias("feed_text"),
        )
        .filter(F.col("feed_text") != "")
    )
    pairs = fuzzy_join(
        left, feed,
        left_id="doc_id", right_id="feed_id",
        left_text="text", right_text="feed_text",
        n=3, num_hashes=16, bands=8, threshold=0.5, hash_fn=MD5,
    )
    return C.carry(pairs.orderBy("id_l", "id_r"), pairs)


FUZZY_JOIN_DOCS_SQL = f"""
    WITH w AS (
        SELECT doc_id, {_SQL_WORDS} AS words FROM documents
        WHERE {_SQL_NORM} <> ''
    ),
    sl AS (
        SELECT doc_id AS id_l, {_SQL_GRAMS3} AS sh FROM w
    ),
    feed AS (
        SELECT doc_id + 500000 AS id_r,
               list_slice(words, 2, len(words)) AS words
        FROM (SELECT doc_id, {_SQL_WORDS} AS words FROM documents)
        WHERE CAST(('0x' || substr(md5('fj|' || doc_id), 1, 15)) AS BIGINT) % 2 = 0
          AND len(words) >= 2
    ),
    sr AS (
        SELECT id_r, {_SQL_GRAMS3} AS sh FROM feed
    ),
    sig_l AS (
        SELECT id_l, i,
               list_min(list_transform(sh,
                   g -> CAST(('0x' || substr(md5(g || '#' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)
               )) AS mh
        FROM sl, range(16) t(i)
    ),
    sig_r AS (
        SELECT id_r, i,
               list_min(list_transform(sh,
                   g -> CAST(('0x' || substr(md5(g || '#' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)
               )) AS mh
        FROM sr, range(16) t(i)
    ),
    banded_l AS (
        SELECT id_l, i // 2 AS band, list(mh ORDER BY i) AS bucket
        FROM sig_l GROUP BY id_l, i // 2
    ),
    banded_r AS (
        SELECT id_r, i // 2 AS band, list(mh ORDER BY i) AS bucket
        FROM sig_r GROUP BY id_r, i // 2
    ),
    cand AS (
        SELECT DISTINCT id_l, id_r
        FROM banded_l a JOIN banded_r b
          ON a.band = b.band AND a.bucket = b.bucket
    ),
    v AS (
        SELECT id_l, id_r,
               len(list_intersect(sa.sh, sb.sh)) AS inter,
               len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS un
        FROM cand JOIN sl sa USING (id_l) JOIN sr sb USING (id_r)
    )
    SELECT id_l, id_r, round(CAST(inter AS DOUBLE) / un, 4) AS jaccard
    FROM v
    WHERE inter * 10000 >= 5000 * un
    ORDER BY id_l, id_r
"""

EXTRA_QUERIES["fuzzy_join_docs"] = fuzzy_join_docs
ORACLES["fuzzy_join_docs"] = FUZZY_JOIN_DOCS_SQL


def corpus_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR resampling step: deterministic top-150 documents by
    importance weight (`operators/dsir.dsir_select` — ties on doc_id),
    target = the English slice. Declared past-window (the weight math
    is pinned in-window by `corpus_dsir_weights`); the oracle replays
    the selection."""
    from automated_datastore_discovery_with_aws_glue_spark.operators import dsir

    docs = load_table(spark, sf_dir, "documents")
    sel = dsir.dsir_select(docs, docs.filter(F.col("lang") == "en"), 150)
    # carry: sel owns the scorer's caches; the orderBy wrapper must own
    # sel in turn or the backstop releases the whole chain pre-action
    return C.carry(sel.orderBy("doc_id"), sel)


CORPUS_DSIR_SELECT_SQL = (
    "SELECT * FROM (SELECT doc_id, n_grams, score_micro FROM ("
    + CORPUS_DSIR_WEIGHTS_SQL.replace("ORDER BY doc_id", "")
    + ") ORDER BY score_micro DESC, doc_id LIMIT 150) ORDER BY doc_id"
)

EXTRA_QUERIES["corpus_dsir_select"] = corpus_dsir_select
ORACLES["corpus_dsir_select"] = CORPUS_DSIR_SELECT_SQL


def knn_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means coarse-quantizer training (r9, VERDICT r8
    item 3): 3 full Lloyd iterations over EVERY non-zero embedding —
    assignment is the literal-matrix integer argmax (map-side), the
    update a posexplode + groupBy(cell, pos) sum/count whose partial
    aggregation combines map-side, so each round shuffles k x d partial
    rows per partition and collects exactly k x d rows
    (`operators/similarity.py kmeans_centroids_int`). All math in
    integer micro-units (unit-norm floor-quantized vectors, truncating
    integer means, mul-div-floor renormalization — FMA-safe), so the
    oracle replays all three iterations bit-for-bit, DuckDB's `//`
    matching Spark's `div`/Java truncation. Seeded with the ``MD5``
    hash family (`operators/ann.py IvfVectorIndex` uses ``XXH``);
    output = the final centroid matrix unnested to atomic (cell, pos, c)
    rows."""
    from automated_datastore_discovery_with_aws_glue_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    cents = S.kmeans_centroids_int(
        emb, "embedding", n_cells=8, iterations=3, id_col="vec_id", hash_fn=MD5
    )
    rows = [
        (cell, pos, int(v))
        for cell, vec in enumerate(cents)
        for pos, v in enumerate(vec)
    ]
    return spark.createDataFrame(
        rows, "cell int, pos int, c bigint"
    ).orderBy("cell", "pos")


_QUANT_BASE_CTES = [
    """nz AS MATERIALIZED (
        SELECT vec_id, embedding,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings
    )""",
    """q AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
                    / nrm * 1000000.0) AS BIGINT)) AS qv,
               CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM nz WHERE nrm > 0
    )""",
]


def _kmeans_sql(
    k: int = 8,
    iterations: int = 3,
    final: str | None = None,
    extra_ctes: list[str] | None = None,
) -> str:
    """DuckDB replay of kmeans_centroids_int: every iteration unrolled
    as MATERIALIZED CTEs (twice-referenced stages would otherwise be
    inlined and explode, see the BPE oracle). ``final`` overrides the
    trailing SELECT (it sees the ``q`` frame and the last centroid
    stage ``c{iterations}``) — consumers like the cluster-balanced
    sampler append their own assignment + selection on top of the same
    replayed training."""
    # nz/q are the SHARED quantization frame (one definition — a drift
    # between the kmeans and PQ oracles would silently diverge the twins;
    # code-review r10)
    ctes = list(_QUANT_BASE_CTES) + [
        f"""c0 AS MATERIALIZED (
        SELECT CAST(s.cell AS INT) AS cell, CAST(t.i - 1 AS INT) AS pos,
               CAST(s.qv[t.i] AS BIGINT) AS c
        FROM (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cell, qv
              FROM q ORDER BY h, vec_id LIMIT {k}) s,
             unnest(generate_series(1, len(s.qv))) AS t(i)
    )""",
    ]
    for n in range(1, iterations + 1):
        p = n - 1
        ctes.append(
            f"""k{n} AS MATERIALIZED (
        SELECT cell, list(c ORDER BY pos) AS cv FROM c{p} GROUP BY cell
    )"""
        )
        ctes.append(
            f"""a{n} AS MATERIALIZED (
        SELECT vec_id, qv, arg_max(cell, dot * {k} + cell) AS cell
        FROM (SELECT q.vec_id, q.qv, kk.cell,
                     list_sum(list_transform(generate_series(1, len(q.qv)),
                          i -> q.qv[i] * kk.cv[i])) AS dot
              FROM q, k{n} kk)
        GROUP BY vec_id, qv
    )"""
        )
        ctes.append(
            f"""s{n} AS MATERIALIZED (
        SELECT cell, CAST(t.i - 1 AS INT) AS pos,
               CAST(sum(qv[t.i]) AS BIGINT) AS s, count(*) AS cnt
        FROM a{n}, unnest(generate_series(1, len(qv))) AS t(i)
        GROUP BY cell, t.i
    )"""
        )
        ctes.append(
            f"""n{n} AS MATERIALIZED (
        SELECT cell, pos,
               CAST(floor(CAST(m AS DOUBLE) * 1000000.0
                    / sqrt(CAST(ss AS DOUBLE))) AS BIGINT) AS c
        FROM (SELECT cell, pos, m,
                     sum(m * m) OVER (PARTITION BY cell) AS ss
              FROM (SELECT cell, pos, CAST(s // cnt AS BIGINT) AS m FROM s{n}))
        WHERE ss > 0
    )"""
        )
        ctes.append(
            f"""c{n} AS MATERIALIZED (
        SELECT p.cell, p.pos, CAST(COALESCE(nn.c, p.c) AS BIGINT) AS c
        FROM c{p} p LEFT JOIN n{n} nn ON nn.cell = p.cell AND nn.pos = p.pos
    )"""
        )
    tail = (
        final
        if final is not None
        else f"SELECT cell, pos, c FROM c{iterations} ORDER BY cell, pos"
    )
    return "WITH " + ",\n    ".join(ctes + (extra_ctes or [])) + "\n    " + tail


KNN_KMEANS_SQL = _kmeans_sql(8, 3)

EXTRA_QUERIES["knn_kmeans_centroids"] = knn_kmeans_centroids
ORACLES["knn_kmeans_centroids"] = KNN_KMEANS_SQL


def knn_pq_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed product-quantization codebook training (r9, the PQ
    sibling of ``knn_kmeans_centroids``): 2 full Lloyd iterations over
    every non-zero embedding train all m=8 subspace quantizers in ONE
    pass per iteration — assignment is an m-wide literal-tensor integer
    argmin (map-side), the update a single posexplode +
    groupBy(subspace, cell, pos) whose partial sums share one shuffle;
    exactly d x k rows reach the driver per round
    (`operators/similarity.py pq_codebooks_int`). PQ means are plain
    integer trunc-divs (no renormalization — codebooks approximate
    subvectors, not directions), so the oracle replays both iterations
    with zero float steps. Seeded with the ``MD5`` hash family
    (`operators/ann.py IvfVectorIndex` uses ``XXH``)."""
    from automated_datastore_discovery_with_aws_glue_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    books = S.pq_codebooks_int(
        emb, "embedding", m=8, k=8, iterations=2, id_col="vec_id", hash_fn=MD5
    )
    rows = [
        (j, cell, pos, int(v))
        for j, book in enumerate(books)
        for cell, cent in enumerate(book)
        for pos, v in enumerate(cent)
    ]
    return spark.createDataFrame(
        rows, "subspace int, cell int, pos int, c bigint"
    ).orderBy("subspace", "cell", "pos")


def _pq_ctes(
    m: int = 8, k: int = 8, ds: int = 8, iterations: int = 2, prefix: str = ""
) -> list[str]:
    """The PQ-training CTE chain (c0..c{iterations} etc.), names
    ``prefix``ed so it can ride NEXT TO the kmeans chain in one oracle
    (both reference the shared ``q`` frame) — the composition the
    end-to-end ADC scoring twin needs (r10)."""
    p_ = prefix
    ctes = [
        f"""{p_}c0 AS MATERIALIZED (
        SELECT CAST(sj.j AS INT) AS j, CAST(s.cell AS INT) AS cell,
               CAST(t.i - 1 AS INT) AS pos,
               CAST(s.qv[sj.j * {ds} + t.i] AS BIGINT) AS c
        FROM (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cell, qv
              FROM q ORDER BY h, vec_id LIMIT {k}) s,
             unnest(generate_series(0, {m - 1})) AS sj(j),
             unnest(generate_series(1, {ds})) AS t(i)
    )""",
    ]
    for n in range(1, iterations + 1):
        p = n - 1
        ctes.append(
            f"""{p_}k{n} AS MATERIALIZED (
        SELECT j, cell, list(c ORDER BY pos) AS cv FROM {p_}c{p} GROUP BY j, cell
    )"""
        )
        ctes.append(
            f"""{p_}a{n} AS MATERIALIZED (
        SELECT vec_id, j, qv, arg_min(cell, d2 * {k} + cell) AS cell
        FROM (SELECT q.vec_id, kk.j, q.qv, kk.cell,
                     list_sum(list_transform(generate_series(1, {ds}),
                          i -> (q.qv[kk.j * {ds} + i] - kk.cv[i])
                             * (q.qv[kk.j * {ds} + i] - kk.cv[i]))) AS d2
              FROM q, {p_}k{n} kk)
        GROUP BY vec_id, j, qv
    )"""
        )
        ctes.append(
            f"""{p_}s{n} AS MATERIALIZED (
        SELECT j, cell, CAST(t.i - 1 AS INT) AS pos,
               CAST(sum(qv[j * {ds} + t.i]) AS BIGINT) AS s, count(*) AS cnt
        FROM {p_}a{n}, unnest(generate_series(1, {ds})) AS t(i)
        GROUP BY j, cell, t.i
    )"""
        )
        ctes.append(
            f"""{p_}n{n} AS MATERIALIZED (
        SELECT j, cell, pos, CAST(s // cnt AS BIGINT) AS c FROM {p_}s{n}
    )"""
        )
        ctes.append(
            f"""{p_}c{n} AS MATERIALIZED (
        SELECT p.j, p.cell, p.pos, CAST(COALESCE(nn.c, p.c) AS BIGINT) AS c
        FROM {p_}c{p} p LEFT JOIN {p_}n{n} nn
          ON nn.j = p.j AND nn.cell = p.cell AND nn.pos = p.pos
    )"""
        )
    return ctes


_PQ_BASE_CTES = _QUANT_BASE_CTES  # one shared definition of nz/q


def _pq_sql(m: int = 8, k: int = 8, ds: int = 8, iterations: int = 2) -> str:
    """DuckDB replay of pq_codebooks_int (every stage MATERIALIZED)."""
    ctes = _PQ_BASE_CTES + _pq_ctes(m, k, ds, iterations)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT j AS subspace, cell, pos, c FROM c{iterations}"
        + "\n    ORDER BY subspace, cell, pos"
    )


KNN_PQ_SQL = _pq_sql(8, 8, 8, 2)

EXTRA_QUERIES["knn_pq_codebooks"] = knn_pq_codebooks
ORACLES["knn_pq_codebooks"] = KNN_PQ_SQL


def corpus_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced corpus selection (r9): train the distributed
    k-means quantizer on the embeddings (4 cells, 2 full Lloyd passes —
    the `knn_kmeans_centroids` machinery), assign EVERY vector
    map-side, and keep a deterministic per-cluster sample of 25
    documents (ordered by md5 hash — the seedless-random twin pattern).
    This is the SemDeDup-adjacent curation shape: sampling per semantic
    cluster instead of globally keeps rare regions represented when a
    corpus is dominated by one dense mode. Fully oracle-replayed
    end-to-end — training, assignment, join, and selection.

    Scale path (r10, VERDICT r9 item 5): the per-cell window no longer
    sorts the corpus. Because selection is by ascending md5 hash, a
    per-cell HASH-THRESHOLD prefilter (expected ~185 survivors per cell
    against the 25 needed) runs below the window, so the sort sees
    survivors only; a cell whose filter kept everything, or that still
    yielded its full 25, is PROVABLY identical to the unfiltered answer
    (the 25 smallest hashes are all under the threshold), and the
    cosmically-unlikely short cell falls back to an unfiltered pass for
    just that cell. Selection — and the oracle — are unchanged."""
    from automated_datastore_discovery_with_aws_glue_spark.operators import similarity as S

    need = 25
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    # ONE persisted quantized base feeds the trainer AND the assignment
    # (the emb_ivf_join pattern): previously the trainer derived its own
    # internal base and the assignment re-ran the scan+norm+quantize
    # projection from the parquet table a second time
    tbase = S.quantized_training_base(emb, "embedding", "vec_id", MD5).persist()
    cents = S.kmeans_centroids_int(
        emb, "embedding", n_cells=4, iterations=2, id_col="vec_id", hash_fn=MD5,
        base=tbase,
    )
    # the interpreted-HOF assignment is the per-row cost: ONE pass over
    # the cached quantized rows, persisted across the counts / select /
    # (rare) fallback actions, released before the literal return
    assigned = (
        tbase.select(F.col("_id").alias("vec_id"), "_qv")
        .withColumn("cell", S.kmeans_cell_expr("_qv", cents))
        .select("vec_id", "cell")
        .persist()
    )
    try:
        cnts = {
            r["cell"]: r["n"]
            for r in assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        if not cnts:
            return spark.createDataFrame(
                [], "cell int, doc_id bigint, lang string, rn int"
            )
        thresh = _cluster_sample_thresholds(cnts, need)
        sample = _cluster_sample_select(assigned, docs, thresh, need)
        rows = sample.collect()
        got = {}
        for r in rows:
            got[r["cell"]] = got.get(r["cell"], 0) + 1
        full = 1 << 60
        # a filtered cell that did not fill its quota cannot prove the
        # filter kept its 25 hash-smallest docs — re-run just those cells
        # unfiltered (join selectivity below the margin; never seen in
        # practice, correct when it happens)
        short = [
            c for c, t in thresh.items() if t < full and got.get(c, 0) < need
        ]
        if short:
            fb = _cluster_sample_select(
                assigned.filter(F.col("cell").isin(short)),
                docs,
                {c: full for c in short},
                need,
            ).collect()
            rows = [r for r in rows if r["cell"] not in set(short)] + fb
    finally:
        assigned.unpersist()
        tbase.unpersist()
    data = sorted(
        ((r["cell"], r["doc_id"], r["lang"], r["rn"]) for r in rows),
        key=lambda t: (t[0], t[3]),
    )
    return spark.createDataFrame(data, "cell int, doc_id bigint, lang string, rn int")


def _cluster_sample_thresholds(cnts: dict[int, int], need: int) -> dict[int, int]:
    """Per-cell md5-hash thresholds: expected survivors ~= need*5 + 60
    (P[Binomial < need] at that margin is ~1e-20); a cell at or below
    the margin keeps everything (threshold = 2^60 = the hash range)."""
    full = 1 << 60
    margin = need * 5 + 60
    # exact integer arithmetic (ADVICE r10): float division loses the
    # low ~7 bits of a 2^60-scale threshold to the 53-bit mantissa
    return {
        c: (full if n <= margin else full * margin // n + 1)
        for c, n in cnts.items()
    }


def _cluster_sample_select(
    assigned: DataFrame, docs: DataFrame, thresh: dict[int, int], need: int
) -> DataFrame:
    """Hash-prefilter (below the window) -> doc join -> per-cell
    row_number -> quota cut. The filter keys on hash(vec_id), which
    equals hash(doc_id) on every joined row (equi-join key)."""
    from pyspark.sql import Window

    from automated_datastore_discovery_with_aws_glue_spark.operators.text import md5_hash64

    t = None
    for c, tv in sorted(thresh.items()):
        t = (F.when if t is None else t.when)(F.col("cell") == c, F.lit(tv))
    pref = (
        assigned.withColumn("_h", md5_hash64(F.col("vec_id").cast("string")))
        .filter(F.col("_h") < t)
    )
    w = Window.partitionBy("cell").orderBy(F.col("_h"), F.col("doc_id"))
    return (
        pref.join(docs, pref["vec_id"] == docs["doc_id"])
        .select("cell", "doc_id", "lang", "_h")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= need)
        .select("cell", "doc_id", "lang", "rn")
    )


_CLUSTER_SAMPLE_CTES = """kf AS MATERIALIZED (
        SELECT cell, list(c ORDER BY pos) AS cv FROM c2 GROUP BY cell
    ),
    af AS MATERIALIZED (
        SELECT vec_id, arg_max(cell, dot * 4 + cell) AS cell
        FROM (SELECT q.vec_id, kk.cell,
                     list_sum(list_transform(generate_series(1, len(q.qv)),
                          i -> q.qv[i] * kk.cv[i])) AS dot
              FROM q, kf kk)
        GROUP BY vec_id
    ),
    smp AS (
        SELECT af.cell, d.doc_id, d.lang,
               row_number() OVER (
                   PARTITION BY af.cell
                   ORDER BY CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
                            d.doc_id
               ) AS rn
        FROM af JOIN documents d ON d.doc_id = af.vec_id
    )"""

CORPUS_CLUSTER_SAMPLE_SQL = _kmeans_sql(
    4,
    2,
    final=(
        "SELECT CAST(cell AS INT) AS cell, doc_id, lang, CAST(rn AS INT) AS rn\n"
        "    FROM smp WHERE rn <= 25 ORDER BY cell, rn"
    ),
    extra_ctes=[_CLUSTER_SAMPLE_CTES],
)

EXTRA_QUERIES["corpus_cluster_sample"] = corpus_cluster_sample
ORACLES["corpus_cluster_sample"] = CORPUS_CLUSTER_SAMPLE_SQL


def knn_ivf_pq_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end IVF-PQ ADC scoring (r10, VERDICT r9 item 1 — the last
    rows-only ANN math, now oracle-replayed): train the coarse
    quantizer (4 cells, 2 Lloyd passes) AND the m=8 PQ codebooks (2
    passes) with md5 seeding, then for the three hash-LARGEST vectors
    (deterministic, disjoint from the hash-smallest seeds) run the full
    production probe pipeline — select n_probe=2 cells by integer
    centroid dot, score every vector in the probed cells with the
    ASYMMETRIC-DISTANCE lookup table (the per-query m x k integer table
    is computed driver-side exactly as a PQ scorer materializes it),
    keep the 50 ADC-best candidates, and re-rank them by EXACT integer
    L2 to the final top-10 — all as ONE batch plan (r11).
    Every number is an exact integer, so DuckDB replays training,
    probe selection, code assignment, ADC, and re-rank bit-for-bit.
    Seeded with the ``MD5`` hash family (`operators/ann.py
    IvfVectorIndex` uses ``XXH``)."""
    from pyspark.sql import Window

    m, kk, n_cells, n_probe = 8, 8, 4, 2
    emb = load_table(spark, sf_dir, "embeddings")
    # ONE persisted quantized pass feeds both trainers AND the scoring
    # frames below (r14): unshared, each trainer derived+persisted its
    # own base and ran its own seed job, and the scoring projection
    # re-ran the scan+quantize a third time. Seeds share one hash-order
    # prefix collect (the IvfVectorIndex.build pattern).
    tbase = S.quantized_training_base(emb, "embedding", "vec_id", MD5).persist()
    seed_qvs = [
        list(r["_qv"])
        for r in tbase.orderBy("_h", "_id")
        .limit(max(n_cells, kk))
        .select("_qv")
        .collect()
    ]
    cents = S.kmeans_centroids_int(
        emb, "embedding", n_cells=n_cells, iterations=2, id_col="vec_id",
        hash_fn=MD5, base=tbase, seed_qvs=seed_qvs,
    )
    books = S.pq_codebooks_int(
        emb, "embedding", m=m, k=kk, iterations=2, id_col="vec_id",
        hash_fn=MD5, base=tbase, seed_qvs=seed_qvs,
    )
    if not cents or not books:  # empty / all-zero corpus: nothing to score
        tbase.unpersist()
        return spark.createDataFrame(
            [], "query_id int, rnk int, vec_id bigint, adc_d2 bigint, exact_d2 bigint"
        )
    base = tbase.select(F.col("_id").alias("vec_id"), "_qv", "_h")
    # ONE assignment pass: the cell argmax and the m-wide code argmin
    # are interpreted HOF lambdas (the costly step) — persist so the
    # probe joins filter the materialized rows instead of re-deriving
    # them; lifetime rides the returned frame (cache.adopt)
    assigned = base.select(
        "vec_id",
        "_qv",
        S.kmeans_cell_expr("_qv", cents).alias("_cell"),
        S.pq_cells_expr("_qv", books).alias("_codes"),
    ).persist()
    # r11 (VERDICT r10 item 6): the three per-query driver-built
    # subplans collapse into ONE batch plan — probe selection, the ADC
    # lookup table, scoring, the 50-cut, and the exact re-rank are all
    # columns/windows of a single job (the `topk_batch` shape); result
    # and oracle unchanged. LUT rides the 3-row query frame, computed
    # once per query; per candidate the score is m integer lookups.
    qbase = (
        base.orderBy(F.col("_h").desc(), F.col("vec_id").desc())
        .limit(3)
        .withColumn(
            "query_id",
            F.row_number().over(
                Window.orderBy(F.col("_h").desc(), F.col("vec_id").desc())
            )
            - 1,
        )
        .select("query_id", F.col("_qv").alias("_qqv"))
        .withColumn("_lut", S.adc_lut_expr("_qqv", books))
    )
    qdf = qbase.withColumn(
        "_cell", F.explode(S.probe_cells_expr("_qqv", cents, n_probe))
    )
    w1 = Window.partitionBy("query_id").orderBy("adc_d2", "vec_id")
    surv = (
        qdf.join(assigned.select("vec_id", "_cell", "_codes"), "_cell")
        .select(
            "query_id",
            "vec_id",
            S.adc_from_lut_expr("_lut", "_codes", m).alias("adc_d2"),
        )
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= 50)
        .drop("_rn")
    )
    exact = F.expr(
        "aggregate(zip_with(`_qqv`, `_qv`, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS BIGINT), (a, b) -> a + b)"
    )
    result = (
        surv.join(qbase.select("query_id", "_qqv"), "query_id")
        .join(assigned.select("vec_id", "_qv"), "vec_id")
        .select("query_id", "vec_id", "adc_d2", exact.alias("exact_d2"))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("exact_d2", "vec_id")
            ),
        )
        .filter(F.col("rnk") <= 10)
        .select("query_id", "rnk", "vec_id", "adc_d2", "exact_d2")
        .orderBy("query_id", "rnk")
    )
    return C.adopt(result, assigned, tbase)


_ADC_SCORING_CTES = """kf AS MATERIALIZED (
        SELECT cell, list(c ORDER BY pos) AS cv FROM c2 GROUP BY cell
    ),
    pkf AS MATERIALIZED (
        SELECT j, cell, list(c ORDER BY pos) AS cv FROM pc2 GROUP BY j, cell
    ),
    qry AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY h DESC, vec_id DESC) - 1 AS query_id,
               vec_id AS q_vid, qv AS qqv
        FROM q ORDER BY h DESC, vec_id DESC LIMIT 3
    ),
    probe AS MATERIALIZED (
        SELECT query_id, cell FROM (
            SELECT qry.query_id, kf.cell,
                   row_number() OVER (PARTITION BY qry.query_id ORDER BY
                       list_sum(list_transform(generate_series(1, len(qry.qqv)),
                            i -> qry.qqv[i] * kf.cv[i])) DESC, kf.cell) AS pr
            FROM qry, kf)
        WHERE pr <= 2
    ),
    asn AS MATERIALIZED (
        SELECT vec_id, qv, arg_max(cell, dot * 4 + cell) AS cell
        FROM (SELECT q.vec_id, q.qv, kk.cell,
                     list_sum(list_transform(generate_series(1, len(q.qv)),
                          i -> q.qv[i] * kk.cv[i])) AS dot
              FROM q, kf kk)
        GROUP BY vec_id, qv
    ),
    cds AS MATERIALIZED (
        SELECT vec_id, j, arg_min(cell, d2 * 8 + cell) AS code
        FROM (SELECT q.vec_id, kk.j, kk.cell,
                     list_sum(list_transform(generate_series(1, 8),
                          i -> (q.qv[kk.j * 8 + i] - kk.cv[i])
                             * (q.qv[kk.j * 8 + i] - kk.cv[i]))) AS d2
              FROM q, pkf kk)
        GROUP BY vec_id, j
    ),
    adc AS MATERIALIZED (
        SELECT pr.query_id, a.vec_id,
               CAST(sum(list_sum(list_transform(generate_series(1, 8),
                    i -> (qy.qqv[cd.j * 8 + i] - pk.cv[i])
                       * (qy.qqv[cd.j * 8 + i] - pk.cv[i])))) AS BIGINT) AS adc_d2
        FROM probe pr
        JOIN asn a ON a.cell = pr.cell
        JOIN cds cd ON cd.vec_id = a.vec_id
        JOIN pkf pk ON pk.j = cd.j AND pk.cell = cd.code
        JOIN qry qy ON qy.query_id = pr.query_id
        GROUP BY pr.query_id, a.vec_id
    ),
    cand AS MATERIALIZED (
        SELECT query_id, vec_id, adc_d2 FROM (
            SELECT query_id, vec_id, adc_d2,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY adc_d2, vec_id) AS rn
            FROM adc)
        WHERE rn <= 50
    ),
    rr AS MATERIALIZED (
        SELECT c.query_id, c.vec_id, c.adc_d2,
               CAST(list_sum(list_transform(generate_series(1, len(a.qv)),
                    i -> (qy.qqv[i] - a.qv[i]) * (qy.qqv[i] - a.qv[i]))) AS BIGINT) AS exact_d2
        FROM cand c
        JOIN asn a ON a.vec_id = c.vec_id
        JOIN qry qy ON qy.query_id = c.query_id
    )"""

KNN_IVF_PQ_SCORED_SQL = _kmeans_sql(
    4,
    2,
    final=(
        "SELECT CAST(query_id AS INT) AS query_id, CAST(rnk AS INT) AS rnk,\n"
        "           vec_id, adc_d2, exact_d2\n"
        "    FROM (SELECT *, row_number() OVER (PARTITION BY query_id\n"
        "              ORDER BY exact_d2, vec_id) AS rnk FROM rr)\n"
        "    WHERE rnk <= 10 ORDER BY query_id, rnk"
    ),
    extra_ctes=_pq_ctes(8, 8, 8, 2, prefix="p") + [_ADC_SCORING_CTES],
)

EXTRA_QUERIES["knn_ivf_pq_scored"] = knn_ivf_pq_scored
ORACLES["knn_ivf_pq_scored"] = KNN_IVF_PQ_SCORED_SQL


def ann_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-occupancy / assignment-distance report (r10, VERDICT r9
    item 2 — the oracle-checked math twin of
    `operators/ann.py IvfVectorIndex.cell_balance`, whose production
    counters live in version metadata): train the md5 quantizer, assign
    every non-zero vector map-side, and report per cell the exact count,
    its share in basis points, and the mean assignment dot in
    micro-cosine units. The per-row dot is quantized to micro-units
    BEFORE summation (trunc-div — the DSIR integer pattern), so the sum
    is BIGINT-safe at 1e9 rows and order-independent; imbalance
    (max share vs 10000/k) is the documented `needs_rebuild` signal."""
    # ONE persisted quantized base feeds the trainer AND the assignment
    # (the corpus_cluster_sample pattern): previously the trainer derived
    # its own internal base and the report pass re-ran the scan + norm +
    # quantize projection from the parquet table a second time
    emb = load_table(spark, sf_dir, "embeddings")
    tbase = S.quantized_training_base(emb, "embedding", "vec_id", MD5).persist()
    cents = S.kmeans_centroids_int(
        emb,
        "embedding",
        n_cells=4,
        iterations=2,
        id_col="vec_id",
        hash_fn=MD5,
        base=tbase,
    )
    if not cents:  # empty / all-zero corpus: no cells to report
        tbase.unpersist()
        return spark.createDataFrame(
            [], "cell int, n_vecs bigint, share_bp bigint, mean_cos_micro bigint"
        )
    from automated_datastore_discovery_with_aws_glue_spark.operators.cache import adopt
    from automated_datastore_discovery_with_aws_glue_spark.operators.similarity import _lit_imatrix_sql

    assigned = (
        tbase.select(F.col("_id").alias("vec_id"), "_qv")
        .withColumn("_cell", S.kmeans_cell_expr("_qv", cents))
        .withColumn(
            "_dotq",
            F.expr(
                f"aggregate(zip_with(`_qv`, element_at({_lit_imatrix_sql(cents)}, "
                f"`_cell` + 1), (x, y) -> x * y), CAST(0 AS BIGINT), "
                f"(a, b) -> a + b) div 1000000"
            ),
        )
    )
    per = assigned.groupBy("_cell").agg(
        F.count(F.lit(1)).alias("n_vecs"), F.sum("_dotq").alias("_sdot")
    )
    total = per.agg(F.sum("n_vecs").alias("_total"))
    return adopt(
        per.crossJoin(F.broadcast(total))
        .select(
            F.col("_cell").alias("cell"),
            "n_vecs",
            F.expr("(n_vecs * 10000) div _total").alias("share_bp"),
            F.expr("_sdot div n_vecs").alias("mean_cos_micro"),
        )
        .orderBy("cell"),
        tbase,
    )


_CELL_BALANCE_CTES = """kf AS MATERIALIZED (
        SELECT cell, list(c ORDER BY pos) AS cv FROM c2 GROUP BY cell
    ),
    asnb AS MATERIALIZED (
        SELECT vec_id, arg_max(cell, dot * 4 + cell) AS cell,
               arg_max(dot, dot * 4 + cell) // 1000000 AS dotq
        FROM (SELECT q.vec_id, kk.cell,
                     list_sum(list_transform(generate_series(1, len(q.qv)),
                          i -> q.qv[i] * kk.cv[i])) AS dot
              FROM q, kf kk)
        GROUP BY vec_id
    ),
    per AS (
        SELECT cell, count(*) AS n_vecs, sum(dotq) AS sdot FROM asnb GROUP BY cell
    ),
    tot AS (SELECT sum(n_vecs) AS total FROM per)"""

ANN_CELL_BALANCE_SQL = _kmeans_sql(
    4,
    2,
    final=(
        "SELECT CAST(cell AS INT) AS cell, CAST(n_vecs AS BIGINT) AS n_vecs,\n"
        "           CAST((n_vecs * 10000) // total AS BIGINT) AS share_bp,\n"
        "           CAST(sdot // n_vecs AS BIGINT) AS mean_cos_micro\n"
        "    FROM per, tot ORDER BY cell"
    ),
    extra_ctes=[_CELL_BALANCE_CTES],
)

EXTRA_QUERIES["ann_cell_balance"] = ann_cell_balance
ORACLES["ann_cell_balance"] = ANN_CELL_BALANCE_SQL


def _emb_join_cells(n_vectors: int) -> int:
    """emb_ivf_join's adaptive block count: ~500-vector cells, floor 4
    (the oracle's k), cap 64 (diminishing blocking returns vs training
    cost). ONE definition shared with the gate tripwire test."""
    return min(64, max(4, n_vectors // 500))


def emb_ivf_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-blocked cross-table embedding similarity join (r10 fourth
    wave — the SemDeDup/IVF-as-blocking shape `fuzzy_join_docs` is for
    text): an 'incoming' vector batch (every 7th corpus vector) is
    linked against the FULL corpus by cosine >= threshold without an
    all-pairs product. Blocking = the md5-trained k-means cells: each
    incoming vector probes its top-2 cells (per-row integer argsort of
    centroid dots, ties to the lower cell), candidates are the
    same-cell corpus vectors, and the exact integer micro-unit dot
    decides. At 100 TB both sides ARE the partitioned IVF index
    (`operators/ann.py`), so the join shuffles on the cell key and
    prunes everything else; candidates are corpus/k per probe, never
    corpus^2. Self-pairs excluded; cos_micro = dot div 1e6 (~cosine x
    1e6, exact integer on both engines)."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.similarity import _lit_imatrix_sql

    threshold_micro = 250_000  # cosine >= 0.25
    emb = load_table(spark, sf_dir, "embeddings")
    # IVF's contract is BOUNDED cell size: candidates per probe are
    # corpus/k, so k must scale with the corpus or the join degrades
    # toward quadratic (measured: fixed k=4 at sf1 = 59 s of pair
    # scoring; adaptive k -> ~bounded ~500-vector cells). The DuckDB
    # twin pins the k=4 instance the oracle-gate scales produce
    # (<= 2000 vectors — tripwired by
    # tests/test_text_similarity.py test_emb_ivf_join_oracle_k_tripwire
    # so a grown testdata fails LOUDLY here, not as a hash mismatch);
    # larger corpora change only the blocking granularity, never the
    # pair math.
    #
    # The sizing count rides the SAME persisted training base the
    # trainer consumes (ADVICE r10): one scan sizes the cells over
    # exactly the rows that participate (zero-norm vectors excluded),
    # instead of a second full-table count that included them.
    tbase = S.quantized_training_base(emb, "embedding", "vec_id", MD5).persist()
    n_cells = _emb_join_cells(tbase.count())
    cents = S.kmeans_centroids_int(
        emb,
        "embedding",
        n_cells=n_cells,
        iterations=2,
        id_col="vec_id",
        hash_fn=MD5,
        base=tbase,
    )
    if not cents:  # empty / all-zero corpus: no blocks, no pairs
        tbase.unpersist()
        return spark.createDataFrame(
            [], "qid bigint, vec_id bigint, cell int, cos_micro bigint"
        )
    n = len(cents)
    base = (
        tbase.select(F.col("_id").alias("vec_id"), "_qv")
        .withColumn("cell", S.kmeans_cell_expr("_qv", cents))
        .persist()
    )
    mat = _lit_imatrix_sql(cents)
    # per-row top-2 probe cells: argsort of struct(-dot, cell) ascending
    # == (dot DESC, cell ASC) — the oracle's row_number order
    probes = F.expr(
        f"transform(slice(array_sort(transform(sequence(0, {n - 1}), i -> "
        f"named_struct('negdot', -aggregate(zip_with(`_qv`, "
        f"element_at({mat}, i + 1), (x, y) -> x * y), CAST(0 AS BIGINT), "
        f"(a, b) -> a + b), 'c', i))), 1, 2), s -> s.c)"
    )
    incoming = (
        base.filter(F.col("vec_id") % 7 == 0)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("_qv").alias("_qqv"),
            F.explode(probes).alias("cell"),
        )
    )
    pair_dot = F.expr(
        "aggregate(zip_with(`_qqv`, `_qv`, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (a, b) -> a + b)"
    )
    result = (
        incoming.join(base, on="cell")
        .filter(F.col("qid") != F.col("vec_id"))
        .withColumn("_dot", pair_dot)
        .select("qid", "vec_id", "cell", F.expr("_dot div 1000000").alias("cos_micro"))
        .filter(F.col("cos_micro") >= threshold_micro)
        .orderBy("qid", "vec_id", "cell")
    )
    return C.adopt(result, base, tbase)


EXTRA_QUERIES["emb_ivf_join"] = emb_ivf_join

_EMB_IVF_JOIN_CTES = """kf AS MATERIALIZED (
        SELECT cell, list(c ORDER BY pos) AS cv FROM c2 GROUP BY cell
    ),
    asn AS MATERIALIZED (
        SELECT vec_id, qv, arg_max(cell, dot * 4 + cell) AS cell
        FROM (SELECT q.vec_id, q.qv, kk.cell,
                     list_sum(list_transform(generate_series(1, len(q.qv)),
                          i -> q.qv[i] * kk.cv[i])) AS dot
              FROM q, kf kk)
        GROUP BY vec_id, qv
    ),
    inc AS MATERIALIZED (
        SELECT qid, qqv, cell FROM (
            SELECT a.vec_id AS qid, a.qv AS qqv, kf.cell,
                   row_number() OVER (PARTITION BY a.vec_id ORDER BY
                       list_sum(list_transform(generate_series(1, len(a.qv)),
                            i -> a.qv[i] * kf.cv[i])) DESC, kf.cell) AS pr
            FROM asn a, kf WHERE a.vec_id % 7 = 0)
        WHERE pr <= 2
    ),
    prs AS (
        SELECT i.qid, a.vec_id, i.cell,
               CAST(CAST(list_sum(list_transform(generate_series(1, len(i.qqv)),
                    x -> i.qqv[x] * a.qv[x])) AS BIGINT) // 1000000 AS BIGINT) AS cos_micro
        FROM inc i JOIN asn a ON a.cell = i.cell
        WHERE i.qid <> a.vec_id
    )"""

ORACLES["emb_ivf_join"] = _kmeans_sql(
    4,
    2,
    final=(
        "SELECT qid, vec_id, CAST(cell AS INT) AS cell, cos_micro\n"
        "    FROM prs WHERE cos_micro >= 250000 ORDER BY qid, vec_id, cell"
    ),
    extra_ctes=[_EMB_IVF_JOIN_CTES],
)


def _md5_query_frame(emb: DataFrame, n: int = 3) -> DataFrame:
    """(query_id, embedding): the n md5-hash-LARGEST non-zero vectors
    (deterministic, disjoint from the hash-smallest training seeds),
    query_id = 0..n-1 in that order — the shared query batch of the
    persisted-index twins."""
    from pyspark.sql import Window

    from automated_datastore_discovery_with_aws_glue_spark.operators.text import md5_hash64

    base = (
        emb.withColumn("_nrm", S.sq_norm_expr("embedding"))
        .filter(F.col("_nrm") > 0)
        .select(
            "vec_id",
            "embedding",
            md5_hash64(F.col("vec_id").cast("string")).alias("_h"),
        )
    )
    order = [F.col("_h").desc(), F.col("vec_id").desc()]
    return (
        base.orderBy(*order)
        .limit(n)
        .withColumn("query_id", F.row_number().over(Window.orderBy(*order)) - 1)
        .select("query_id", "embedding")
    )


def knn_index_topk_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index batch ADC serving twin (r11, VERDICT r10 items
    1+4): build a REAL `IvfVectorIndex` (md5 seeding, PQ tier) in
    scratch from the embeddings table, then run the production
    `topk_batch(mode='adc')` — stored-centroid assignment, top-2 probes
    as a PartitionFilter, per-query lookup-table scoring against the
    STORED codes, 50-cut, exact integer re-rank — for the three
    hash-largest vectors, all as ONE batch plan. Bit-for-bit the
    `knn_ivf_pq_scored` math, but through the persisted store tables
    and `operators/ann.py`'s own serving code, so the DuckDB oracle is
    shared verbatim — this closes the last gap between the oracle-
    pinned math and the production serving shape."""
    import shutil
    import tempfile

    from automated_datastore_discovery_with_aws_glue_spark.operators.ann import IvfVectorIndex

    schema = "query_id int, rnk int, vec_id bigint, adc_d2 bigint, exact_d2 bigint"
    emb = load_table(spark, sf_dir, "embeddings")
    # materialize the 3-row query batch ONCE: the old shape ran the
    # corpus-wide hash sort twice (an emptiness .count() plus the
    # serving plan's own evaluation of the same subtree) — collecting
    # the rows makes the serving plan's query side a local relation
    qframe = _md5_query_frame(emb, 3)
    qrows = qframe.collect()
    if not qrows:  # empty / all-zero corpus: nothing to probe
        return spark.createDataFrame([], schema)
    qlocal = spark.createDataFrame(qrows, qframe.schema)
    root = tempfile.mkdtemp(prefix="q_ann_ix_adc_")
    try:
        ix = IvfVectorIndex(
            spark, root, n_cells=4, iterations=2, hash_fn=MD5, pq_m=8, pq_k=8
        )
        ix.build(emb)
        rows = ix.topk_batch(
            qlocal, 10, n_probe=2, mode="adc", rerank_factor=5
        ).collect()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [
            (r["query_id"], r["rnk"], r["vec_id"], r["adc_d2"], r["exact_d2"])
            for r in rows
        ],
        schema,
    )


EXTRA_QUERIES["knn_index_topk_adc"] = knn_index_topk_adc
# the persisted-index path replays the knn_ivf_pq_scored math exactly —
# one oracle pins both the plan-level twin and the production code path
ORACLES["knn_index_topk_adc"] = KNN_IVF_PQ_SCORED_SQL


def knn_index_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index batch EXACT top-k twin (r11): same scratch-index
    lifecycle as `knn_index_topk_adc` but without the PQ tier —
    `topk_batch(mode='exact')` ranks the probed candidates by the exact
    integer dot (DESC, ties to the lower vec_id) and emits cos_micro =
    dot div 1e6. Oracle replays training, stored-centroid assignment,
    probe selection, and ranking bit-for-bit."""
    import shutil
    import tempfile

    from automated_datastore_discovery_with_aws_glue_spark.operators.ann import IvfVectorIndex

    schema = "query_id int, rnk int, vec_id bigint, cos_micro bigint"
    emb = load_table(spark, sf_dir, "embeddings")
    # same collect-once query batch as knn_index_topk_adc
    qframe = _md5_query_frame(emb, 3)
    qrows = qframe.collect()
    if not qrows:
        return spark.createDataFrame([], schema)
    qlocal = spark.createDataFrame(qrows, qframe.schema)
    root = tempfile.mkdtemp(prefix="q_ann_ix_exact_")
    try:
        ix = IvfVectorIndex(spark, root, n_cells=4, iterations=2, hash_fn=MD5)
        ix.build(emb)
        rows = ix.topk_batch(qlocal, 10, n_probe=2, mode="exact").collect()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [(r["query_id"], r["rnk"], r["vec_id"], r["cos_micro"]) for r in rows],
        schema,
    )


_KNN_INDEX_EXACT_CTES = """kf AS MATERIALIZED (
        SELECT cell, list(c ORDER BY pos) AS cv FROM c2 GROUP BY cell
    ),
    qry AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY h DESC, vec_id DESC) - 1 AS query_id,
               vec_id AS q_vid, qv AS qqv
        FROM q ORDER BY h DESC, vec_id DESC LIMIT 3
    ),
    probe AS MATERIALIZED (
        SELECT query_id, cell FROM (
            SELECT qry.query_id, kf.cell,
                   row_number() OVER (PARTITION BY qry.query_id ORDER BY
                       list_sum(list_transform(generate_series(1, len(qry.qqv)),
                            i -> qry.qqv[i] * kf.cv[i])) DESC, kf.cell) AS pr
            FROM qry, kf)
        WHERE pr <= 2
    ),
    asn AS MATERIALIZED (
        SELECT vec_id, qv, arg_max(cell, dot * 4 + cell) AS cell
        FROM (SELECT q.vec_id, q.qv, kk.cell,
                     list_sum(list_transform(generate_series(1, len(q.qv)),
                          i -> q.qv[i] * kk.cv[i])) AS dot
              FROM q, kf kk)
        GROUP BY vec_id, qv
    ),
    dots AS MATERIALIZED (
        SELECT pr.query_id, a.vec_id,
               CAST(list_sum(list_transform(generate_series(1, len(a.qv)),
                    i -> qy.qqv[i] * a.qv[i])) AS BIGINT) AS dot
        FROM probe pr
        JOIN asn a ON a.cell = pr.cell
        JOIN qry qy ON qy.query_id = pr.query_id
    )"""

KNN_INDEX_TOPK_EXACT_SQL = _kmeans_sql(
    4,
    2,
    final=(
        "SELECT CAST(query_id AS INT) AS query_id, CAST(rnk AS INT) AS rnk,\n"
        "           vec_id, CAST(dot // 1000000 AS BIGINT) AS cos_micro\n"
        "    FROM (SELECT *, row_number() OVER (PARTITION BY query_id\n"
        "              ORDER BY dot DESC, vec_id) AS rnk FROM dots)\n"
        "    WHERE rnk <= 10 ORDER BY query_id, rnk"
    ),
    extra_ctes=[_KNN_INDEX_EXACT_CTES],
)

EXTRA_QUERIES["knn_index_topk_exact"] = knn_index_topk_exact
ORACLES["knn_index_topk_exact"] = KNN_INDEX_TOPK_EXACT_SQL


def emb_index_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production form of `emb_ivf_join` (r11, VERDICT r10 item 1): the
    threshold similarity join rides a PERSISTED `IvfVectorIndex` —
    stored centroids assign the incoming batch (no per-call
    retraining), the probe set prunes partitions, exact integer dots
    decide. Incoming = every 7th corpus vector against the full stored
    corpus, cosine >= 0.25, self-pairs excluded. Same pair math as the
    plan-level twin (the adaptive cell count is the index's n_cells
    here; both resolve to k=4 at oracle-gate scales — the
    `test_emb_ivf_join_oracle_k_tripwire` guard covers this row too)."""
    import shutil
    import tempfile

    from automated_datastore_discovery_with_aws_glue_spark.operators.ann import IvfVectorIndex

    schema = "query_id bigint, vec_id bigint, cell int, cos_micro bigint"
    emb = load_table(spark, sf_dir, "embeddings")
    # the sizing count rides the SAME persisted training base the build
    # consumes (the emb_ivf_join pattern): one corpus scan sizes the
    # cells AND materializes the trainers' input, instead of a separate
    # full-table count job ahead of the build's own base derivation
    tbase = S.quantized_training_base(emb, "embedding", "vec_id", MD5).persist()
    n_nz = tbase.count()
    if n_nz == 0:
        tbase.unpersist()
        return spark.createDataFrame([], schema)
    root = tempfile.mkdtemp(prefix="q_ann_ix_join_")
    try:
        ix = IvfVectorIndex(
            spark, root, n_cells=_emb_join_cells(n_nz), iterations=2, hash_fn=MD5
        )
        ix.build(emb, _base=tbase)
        incoming = emb.filter(F.col("vec_id") % 7 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        # ordered=True: the twin keeps the deterministic presentation
        # order; the production default skips that corpus-scale sort
        rows = ix.similarity_join(
            incoming, threshold_micro=250_000, n_probe=2, exclude_self=True,
            ordered=True,
        ).collect()
    finally:
        tbase.unpersist()
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [(r["query_id"], r["vec_id"], r["cell"], r["cos_micro"]) for r in rows],
        schema,
    )


EXTRA_QUERIES["emb_index_join"] = emb_index_join
ORACLES["emb_index_join"] = _kmeans_sql(
    4,
    2,
    final=(
        "SELECT qid AS query_id, vec_id, CAST(cell AS INT) AS cell, cos_micro\n"
        "    FROM prs WHERE cos_micro >= 250000 ORDER BY query_id, vec_id, cell"
    ),
    extra_ctes=[_EMB_IVF_JOIN_CTES],
)


# -- HTML -> text extraction (r11, VERDICT r10 item 2) ------------------
#
# The synthetic wrapper turns every corpus document into a realistic
# markup page (head/style/script, a comment containing tags, a
# link-dense nav, a heading with a double-encoded entity, the body
# text, a too-short fragment, and a prose footer with one inline link)
# — engineered so each extraction rule does real work: script/style/
# comment content must vanish, the nav must fall to the LINK-DENSITY
# rule (it has enough words), 'Too short' to the word-count rule, and
# the entities must decode in the documented order. The SAME literal
# fragments build the page on both engines.
_HTML_WRAP_A = "<html><head><title>Doc "
_HTML_WRAP_B = (
    "</title><style>body { color: #fff; }</style>"
    '<script type="text/javascript">var x = 1 < 2; // <p>not text</p></script>'
    "</head><body><!-- hidden <p>comment</p> block -->"
    '<nav><a href="/">Home page link</a> <a href="/about">About us page</a></nav>'
    "<h1>Document &amp; title "
)
_HTML_WRAP_C = " heading</h1><p>"
_HTML_WRAP_D = (
    "</p><p>Too short</p><div>Trailing &quot;boilerplate&quot; prose block with "
    '<a href="/x">one inline link</a> kept.</div></body></html>'
)


def corpus_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> clean-text ingest stage (r11, VERDICT r10 item 2):
    synthesize a markup page around every corpus document (shared
    literal fragments, both engines), run `operators/text.py
    html_extract` — comment/script/style removal, block splitting,
    word-count + link-density keep rules (integer cross-multiplied),
    named-entity decoding, whitespace normalization — and report the
    kept-block count, word count, and the extracted text per document.
    Pure native expressions (regexp_replace / HOF lambdas), zero
    Python; DuckDB replays every regex and rule verbatim."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.text import html_extract

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    raw = F.concat(
        F.lit(_HTML_WRAP_A),
        did,
        F.lit(_HTML_WRAP_B),
        did,
        F.lit(_HTML_WRAP_C),
        F.col("text"),
        F.lit(_HTML_WRAP_D),
    )
    out = docs.select("doc_id", html_extract(raw).alias("extracted"))
    return out.select(
        "doc_id",
        F.when(F.col("extracted") == "", F.lit(0))
        .otherwise(F.size(F.split(F.col("extracted"), "\n")))
        .cast("int")
        .alias("n_blocks"),
        F.when(F.col("extracted") == "", F.lit(0))
        .otherwise(F.size(F.split(F.col("extracted"), r"\s+")))
        .cast("int")
        .alias("n_words"),
        "extracted",
    ).orderBy("doc_id")


def html_sql_wrap_expr(extra_salt: str = "") -> str:
    """The synthetic-page SQL expression over a (doc_id, text) row —
    shared with `src_warc_extract`, whose WARC payloads wrap the same
    page around ``extra_salt || text``."""
    return (
        "concat('" + _HTML_WRAP_A + "', CAST(doc_id AS VARCHAR), '"
        + _HTML_WRAP_B.replace("'", "''") + "', CAST(doc_id AS VARCHAR), '"
        + _HTML_WRAP_C + "', "
        + (f"'{extra_salt.replace(chr(39), chr(39) * 2)}' || " if extra_salt else "")
        + "text, '" + _HTML_WRAP_D.replace("'", "''") + "')"
    )


def html_sql_chain(page_expr: str, source: str = "documents") -> str:
    """The DuckDB replay of `operators/text.html_extract` as a CTE
    chain ``cln -> blk -> bx -> bt -> keepb -> agg`` over ``page_expr``
    (an expression over ``source`` rows keyed by doc_id): blocks
    exploded to rows (no nested lambdas needed), the entity chain,
    keep rules, and ordered re-aggregation; ``agg`` ends as
    (doc_id, extracted). Shared by `corpus_html_extract` and the
    WARC-container roundtrip `src_warc_extract`."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.text import (
        AMP_DECODE_RE,
        HTML_ENTITIES,
    )

    # the chain is GENERATED from the operator's own entity table —
    # extending HTML_ENTITIES extends this twin automatically; the
    # ampersand family decodes last in one non-rescanning regex pass
    # (the operator's double-encoding contract)
    ent_chain = "regexp_replace({src}, '<[^>]*>', ' ', 'g')"
    for ent, ch in HTML_ENTITIES:
        ent_chain = (
            "replace(" + ent_chain + ", '" + ent.replace("'", "''")
            + "', '" + ch.replace("'", "''") + "')"
        )
    ent_chain = (
        "regexp_replace(" + ent_chain + ", '" + AMP_DECODE_RE + "', '&', 'g')"
    )
    block_text = (
        "trim(regexp_replace(" + ent_chain + ", '\\s+', ' ', 'g'))"
    )
    t_all = block_text.format(src="b")
    t_noa = block_text.format(
        src="regexp_replace(b, '(?is)<a\\b[^>]*>.*?</a\\s*>', ' ', 'g')"
    )
    return (
        "cln AS MATERIALIZED (\n"
        "    SELECT doc_id,\n"
        "           regexp_replace(regexp_replace(regexp_replace(regexp_replace(" + page_expr + ",\n"
        "               '(?s)<!--.*?-->', ' ', 'g'),\n"
        "               '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g'),\n"
        "               '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g'),\n"
        "               '[\\n\\r]', ' ', 'g') AS raw\n"
        "    FROM " + source + "\n"
        "),\n"
        "blk AS MATERIALIZED (\n"
        "    SELECT doc_id, string_split(regexp_replace(raw,\n"
        "        '(?i)</?(?:p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|thead|tbody"
        "|section|article|header|footer|nav|blockquote|pre|form|hr|title)"
        "\\b[^>]*>', chr(10), 'g'), chr(10)) AS bs\n"
        "    FROM cln\n"
        "),\n"
        "bx AS MATERIALIZED (\n"
        "    SELECT doc_id, t.i AS bi, bs[t.i] AS b\n"
        "    FROM blk, unnest(generate_series(1, len(bs))) AS t(i)\n"
        "),\n"
        "bt AS MATERIALIZED (\n"
        "    SELECT doc_id, bi, " + t_all + " AS t_all, " + t_noa + " AS t_noa\n"
        "    FROM bx\n"
        "),\n"
        "keepb AS MATERIALIZED (\n"
        "    SELECT doc_id, bi, t_all FROM bt\n"
        "    WHERE (CASE WHEN t_all = '' THEN 0\n"
        "                ELSE len(string_split(t_all, ' ')) END) >= 3\n"
        "      AND (length(t_all) - length(t_noa)) * 10000 <= 5000 * length(t_all)\n"
        "),\n"
        "agg AS MATERIALIZED (\n"
        "    SELECT doc_id, array_to_string(list(t_all ORDER BY bi), chr(10)) AS extracted\n"
        "    FROM keepb GROUP BY doc_id\n"
        ")"
    )


def _html_extract_sql() -> str:
    return (
        "WITH "
        + html_sql_chain(html_sql_wrap_expr())
        + "\n"
        "SELECT d.doc_id,\n"
        "       CAST(CASE WHEN coalesce(a.extracted, '') = '' THEN 0\n"
        "                 ELSE len(string_split(a.extracted, chr(10))) END AS INT) AS n_blocks,\n"
        "       CAST(CASE WHEN coalesce(a.extracted, '') = '' THEN 0\n"
        "                 ELSE len(regexp_split_to_array(a.extracted, '\\s+')) END AS INT) AS n_words,\n"
        "       coalesce(a.extracted, '') AS extracted\n"
        "FROM documents d LEFT JOIN agg a USING (doc_id)\n"
        "ORDER BY d.doc_id"
    )


EXTRA_QUERIES["corpus_html_extract"] = corpus_html_extract
ORACLES["corpus_html_extract"] = _html_extract_sql()


def ann_drift_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle twin of the index's drift-history math (r11, VERDICT r10
    item 3 — `operators/ann.py assignment_drift`/`drift_drop`, whose
    production samples fold into ``_TABLE_META`` per ingest): train the
    md5 quantizer, assign every vector, slice the corpus into synthetic
    ingest batches (vec_id mod 3), and report each batch's non-zero row
    count and mean assignment dot in micro-cosine units — the per-row
    dot quantized BEFORE summation (trunc-div, the DSIR integer
    pattern), mean = sum div count, exactly the trend-trigger number
    `needs_rebuild(drift_drop_micro=)` compares."""
    cents = S.kmeans_centroids_int(
        load_table(spark, sf_dir, "embeddings"),
        "embedding",
        n_cells=4,
        iterations=2,
        id_col="vec_id",
        hash_fn=MD5,
    )
    if not cents:  # empty / all-zero corpus: no batches to report
        return spark.createDataFrame(
            [], "batch_id bigint, n_vecs bigint, mean_cos_micro bigint"
        )
    from automated_datastore_discovery_with_aws_glue_spark.operators.similarity import _lit_imatrix_sql

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = (
        emb.withColumn("_nrm", S.sq_norm_expr("embedding"))
        .filter(F.col("_nrm") > 0)
        .select("vec_id", S.quantize_unit_micro("embedding", "_nrm").alias("_qv"))
        .withColumn("_cell", S.kmeans_cell_expr("_qv", cents))
        .select(
            (F.col("vec_id") % 3).alias("batch_id"),
            F.expr(
                f"aggregate(zip_with(`_qv`, element_at({_lit_imatrix_sql(cents)}, "
                f"`_cell` + 1), (x, y) -> x * y), CAST(0 AS BIGINT), "
                f"(a, b) -> a + b) div 1000000"
            ).alias("_dotq"),
        )
    )
    return (
        assigned.groupBy("batch_id")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.sum("_dotq").alias("_s"))
        .select(
            "batch_id", "n_vecs", F.expr("_s div n_vecs").alias("mean_cos_micro")
        )
        .orderBy("batch_id")
    )


_DRIFT_TWIN_CTES = """kf AS MATERIALIZED (
        SELECT cell, list(c ORDER BY pos) AS cv FROM c2 GROUP BY cell
    ),
    asnd AS MATERIALIZED (
        SELECT vec_id, arg_max(cell, dot * 4 + cell) AS cell,
               arg_max(dot, dot * 4 + cell) // 1000000 AS dotq
        FROM (SELECT q.vec_id, kk.cell,
                     list_sum(list_transform(generate_series(1, len(q.qv)),
                          i -> q.qv[i] * kk.cv[i])) AS dot
              FROM q, kf kk)
        GROUP BY vec_id
    ),
    perb AS (
        SELECT vec_id % 3 AS batch_id, count(*) AS n_vecs,
               CAST(sum(dotq) AS BIGINT) AS s
        FROM asnd GROUP BY 1
    )"""

ANN_DRIFT_TWIN_SQL = _kmeans_sql(
    4,
    2,
    final=(
        "SELECT CAST(batch_id AS BIGINT) AS batch_id,\n"
        "           CAST(n_vecs AS BIGINT) AS n_vecs,\n"
        "           CAST(s // n_vecs AS BIGINT) AS mean_cos_micro\n"
        "    FROM perb ORDER BY batch_id"
    ),
    extra_ctes=[_DRIFT_TWIN_CTES],
)

EXTRA_QUERIES["ann_drift_twin"] = ann_drift_twin
ORACLES["ann_drift_twin"] = ANN_DRIFT_TWIN_SQL
