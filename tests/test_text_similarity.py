"""Text-analysis and similarity-search operator tests."""

from __future__ import annotations


import pyspark.sql.functions as F

from automated_datastore_discovery_with_aws_glue_spark.operators.hashing import MD5, XXH
from automated_datastore_discovery_with_aws_glue_spark.operators.similarity import (
    blocked_near_dup,
    brute_force_topk,
    cosine,
    lsh_topk,
)
from automated_datastore_discovery_with_aws_glue_spark.operators.text import (
    fingerprint,
    lang_id,
    text_stats,
    token_count,
)
from automated_datastore_discovery_with_aws_glue_spark.sources.readers import load_table
from tests.conftest import SF_DIR


def test_token_count_and_fingerprint(spark):
    df = spark.createDataFrame(
        [("  Hello   WORLD  ",), ("hello world",), ("",), ("one",)], ["text"]
    )
    rows = df.select(
        token_count(F.col("text")).alias("n"), fingerprint(F.col("text")).alias("fp")
    ).collect()
    assert [r["n"] for r in rows] == [2, 2, 0, 1]
    assert rows[0]["fp"] == rows[1]["fp"]  # case/whitespace-insensitive


def test_lang_id_stopword_evidence(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house is in a box"),
            (2, "el perro y la casa de los gatos en una caja"),
            (3, "der hund und die katze ist von dem haus mit ein"),
            (4, "le chien et les chats dans une maison est pour"),
        ],
        ["id", "text"],
    )
    got = {r["id"]: r[1] for r in df.select("id", lang_id(F.col("text"))).collect()}
    assert got == {1: "en", 2: "es", 3: "de", 4: "fr"}


def test_text_stats_ranges(spark):
    docs = load_table(spark, SF_DIR, "documents")
    stats = text_stats(docs).select(
        "n_tokens", "stopword_ratio", "punct_ratio", "quality_score"
    )
    row = stats.agg(
        F.min("quality_score"), F.max("quality_score"), F.min("n_tokens")
    ).collect()[0]
    assert 0.0 <= row[0] <= row[1] <= 1.0
    assert row[2] >= 0


def test_cosine_exact(spark):
    df = spark.createDataFrame([([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0])], ["a", "b"])
    got = [r[0] for r in df.select(cosine(F.col("a"), F.col("b"))).collect()]
    assert abs(got[0] - 0.0) < 1e-12
    assert abs(got[1] - 1.0) < 1e-12


def test_brute_force_topk_self_is_top(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    query = [float(v) for v in emb.filter(F.col("vec_id") == 7).collect()[0]["embedding"]]
    top = brute_force_topk(emb, "embedding", query, 5).collect()
    assert top[0]["vec_id"] == 7
    assert abs(top[0]["similarity"] - 1.0) < 1e-9
    sims = [r["similarity"] for r in top]
    assert sims == sorted(sims, reverse=True)


def test_lsh_topk_subset_of_bruteforce_universe(spark):
    """LSH scores are true cosine values; the query's own vector always
    lands in its bucket (identical signs), so top-1 is itself."""
    emb = load_table(spark, SF_DIR, "embeddings")
    query = [float(v) for v in emb.filter(F.col("vec_id") == 7).collect()[0]["embedding"]]
    approx = lsh_topk(emb, "embedding", query, 5, id_col="vec_id", n_planes=4)
    rows = approx.collect()
    assert rows[0]["vec_id"] == 7
    assert abs(rows[0]["similarity"] - 1.0) < 1e-9


def test_blocked_near_dup_symmetric_free(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    pairs = blocked_near_dup(emb, "vec_id", "embedding", "label", threshold=0.3).collect()
    assert all(r["id_a"] < r["id_b"] for r in pairs)
    assert all(r["similarity"] >= 0.3 for r in pairs)


def test_winnow_fingerprints_shared_substring(spark):
    """Winnowing guarantee: docs sharing a substring of length >= k+w-1
    (= 11 here) share at least one fingerprint; identical docs share all."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.text import winnow_fingerprints

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "THE QUICK  brown fox jumps over the lazy dog"),  # normalizes equal
            (3, "a totally different sentence with the quick brown fox inside"),
            (4, "zzzz yyyy xxxx wwww vvvv uuuu"),
        ],
        ["id", "text"],
    )
    out = {
        r["id"]: set(r["fp"])
        for r in df.select("id", winnow_fingerprints(F.col("text"), k=8, w=4).alias("fp")).collect()
    }
    assert out[1] == out[2]
    assert out[1] & out[3], "shared 'the quick brown fox' must yield a common fingerprint"
    assert not (out[1] & out[4])


def test_lsh_near_dup_recall_and_precision(spark):
    """Banded-LSH candidates + exact verify: no false positives vs the
    exact all-pairs ground truth, and wide-band recall >= 0.9 even on
    uniform-random embeddings (the LSH-adversarial case)."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.similarity import lsh_near_dup

    emb = load_table(spark, SF_DIR, "embeddings")
    exact = blocked_near_dup(
        emb.withColumn("_blk", F.lit(1)), "vec_id", "embedding", "_blk", threshold=0.35
    )
    truth = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    approx = lsh_near_dup(
        emb, "vec_id", "embedding", threshold=0.35, n_bands=16, band_planes=2
    )
    got = {(r["id_a"], r["id_b"]) for r in approx.collect()}
    assert got <= truth  # exact verification -> zero false positives
    assert truth, "fixture must contain near-dup pairs"
    assert len(got) / len(truth) >= 0.9


def test_lsh_near_dup_hot_bucket_cap(spark):
    """A degenerate corpus (many identical vectors) floods one bucket;
    max_bucket excludes it from candidate generation while normal-sized
    buckets keep producing pairs."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.similarity import lsh_near_dup

    hot = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(100)]          # one hot bucket
    cool = [(200, [0.0, 1.0, 0.1, 0.0]), (201, [0.0, 1.0, 0.1, 0.0])]  # small bucket pair
    df = spark.createDataFrame(hot + cool, ["vec_id", "embedding"])
    uncapped = lsh_near_dup(df, "vec_id", "embedding", threshold=0.99, n_bands=4, band_planes=2)
    capped = lsh_near_dup(
        df, "vec_id", "embedding", threshold=0.99, n_bands=4, band_planes=2, max_bucket=50
    )
    got_uncapped = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    got_capped = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (200, 201) in got_uncapped and len(got_uncapped) > 1000
    assert got_capped == {(200, 201)}  # hot bucket excluded, small bucket intact


def test_repetition_stats_hand_computed(spark):
    """Gopher-style repetition signals: duplicate-bigram fraction and
    top-bigram share against hand-computed values."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),        # bigrams: "spam spam" x3
            (2, "all words unique here now"),  # 4 distinct bigrams
            (3, "x"),                          # under 2 words -> no grams
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["n_grams"], r["dup_gram_frac"], r["top_gram_frac"])
        for r in repetition_stats(docs).collect()
    }
    assert out[1] == (3, round(2 / 3, 4), 1.0)
    assert out[2] == (4, 0.0, 0.25)
    assert out[3] == (0, 0.0, 0.0)


def test_weighted_sample_key_statistics_and_determinism(spark):
    """Efraimidis–Spirakis priority sampling: reproducible, without
    replacement, and weight-proportional — items with 50x weight must
    dominate a top-k draw over a uniform population, while a uniform
    weighting leaves no such bias."""
    import pyspark.sql.functions as F

    from automated_datastore_discovery_with_aws_glue_spark.operators.text import weighted_sample_key

    rows = [(i, 50 if i % 10 == 0 else 1) for i in range(1000)]
    df = spark.createDataFrame(rows, ["id", "w"])

    def draw(weight_col):
        key = weighted_sample_key(F.col("id"), F.col(weight_col))
        return [
            r["id"]
            for r in df.select("id", key.alias("k"))
            .orderBy(F.col("k").desc(), "id")
            .limit(100)
            .collect()
        ]

    s1, s2 = draw("w"), draw("w")
    assert s1 == s2  # seeded: bit-for-bit reproducible
    assert len(set(s1)) == 100  # without replacement
    heavy = sum(1 for i in s1 if i % 10 == 0)
    # 100 heavy items at weight 50 hold ~85% of total mass; expect the
    # sample to be heavy-dominated (loose bound, deterministic draw)
    assert heavy >= 60, heavy

    uniform = df.withColumn("u", F.lit(1))
    key = weighted_sample_key(F.col("id"), F.col("u"))
    su = [
        r["id"]
        for r in uniform.select("id", key.alias("k")).orderBy(F.col("k").desc(), "id").limit(100).collect()
    ]
    assert sum(1 for i in su if i % 10 == 0) <= 25  # no weight, no bias




def test_bigram_lm_catches_word_salad_unigram_misses(spark, tmp_path, monkeypatch):
    """The order-2 signal's reason to exist: on a corpus with a
    consistent transition structure (chained vocabulary walks), a
    scrambled document using the SAME unigram distribution is
    indistinguishable to the unigram LM but lands in the far upper tail
    of the bigram LM — its transitions are unseen."""
    import pyspark.sql.functions as F

    from automated_datastore_discovery_with_aws_glue_spark.plans import llm_pipeline as L

    V, DLEN, NDOCS = 500, 80, 200
    vocab = [f"w{i:03d}" for i in range(V)]

    def walk(start, stride=1):
        return " ".join(vocab[(start + j * stride) % V] for j in range(DLEN))

    rows = [(i, walk(i * 7 % V), "en", "chain", DLEN) for i in range(NDOCS)]
    SALAD_ID = 10**9
    rows.append((SALAD_ID, walk(3, stride=11), "en", "spike", DLEN))  # same words, unseen transitions
    spiked_dir = str(tmp_path / "sf")
    spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"]).coalesce(
        1
    ).write.parquet(spiked_dir + "/documents.parquet")

    monkeypatch.setattr(L, "_LM_VOCAB", V)  # cover the engineered vocab
    bi = L.doc_lm_perplexity_bigram(spark, spiked_dir)
    uni = L.doc_lm_perplexity(spark, spiked_dir)
    bi_med, bi_p90 = bi.agg(
        F.expr("percentile(perplexity2, 0.5)"), F.expr("percentile(perplexity2, 0.9)")
    ).collect()[0]
    uni_med = uni.agg(F.expr("percentile(perplexity, 0.5)")).collect()[0][0]
    bi_salad = bi.filter(F.col("doc_id") == SALAD_ID).collect()[0]["perplexity2"]
    uni_salad = uni.filter(F.col("doc_id") == SALAD_ID).collect()[0]["perplexity"]

    # unigram fooled: same word distribution, same perplexity
    assert abs(uni_salad - uni_med) / uni_med < 0.10, (uni_salad, uni_med)
    # bigram not: far upper tail, with a wide margin
    assert bi_salad > bi_p90 > 0 and bi_salad > 2 * bi_med, (bi_salad, bi_p90, bi_med)


def test_kmeans_integer_replay_and_determinism(spark):
    """kmeans_centroids_int is exact integer math: a pure-Python replay
    of the documented recurrence (unit-norm micro quantization, trunc-
    div means, mul-div-floor renormalization, md5-hash seed order)
    reproduces the Spark result bit-for-bit, and two runs agree."""
    import hashlib
    import math

    import numpy as np

    from automated_datastore_discovery_with_aws_glue_spark.operators.similarity import (
        kmeans_centroids_int,
    )

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.standard_normal(6)]) for i in range(40)]
    rows.append((40, [0.0] * 6))  # zero vector must be excluded
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    got = kmeans_centroids_int(
        df, "embedding", n_cells=3, iterations=2, hash_fn=MD5
    )
    assert got == kmeans_centroids_int(
        df, "embedding", n_cells=3, iterations=2, hash_fn=MD5
    )

    # -- pure-Python replay ------------------------------------------------
    def md5_64(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def quant(v):
        acc = 0.0
        for x in v:  # left-to-right IEEE fold, matching the engine
            acc += float(x) * float(x)
        nrm = math.sqrt(acc)
        return [math.floor(float(x) / nrm * 1000000.0) for x in v]

    def tdiv(s, c):
        return s // c if s >= 0 else -((-s) // c)

    pts = {i: quant(v) for i, v in rows if any(x != 0.0 for x in v)}
    order = sorted(pts, key=lambda i: (md5_64(str(i)), i))
    cents = [list(pts[i]) for i in order[:3]]
    for _ in range(2):
        members = {}
        for i, qv in pts.items():
            best = max(
                range(3),
                key=lambda c: (sum(a * b for a, b in zip(qv, cents[c])), c),
            )
            members.setdefault(best, []).append(qv)
        for c, vs in members.items():
            m = [tdiv(sum(col), len(vs)) for col in zip(*vs)]
            ss = sum(v * v for v in m)
            if ss:
                r = math.sqrt(float(ss))
                cents[c] = [math.floor(float(v) * 1000000.0 / r) for v in m]
    assert got == cents


def test_pq_codebooks_integer_replay_and_drop_in(spark):
    """pq_codebooks_int is exact integer math — a pure-Python replay of
    the documented recurrence (shared micro quantization, per-subspace
    Euclidean argmin with low-cell ties, trunc-div means, NO
    renormalization) reproduces it bit-for-bit. The index's PQ tier,
    which trains with it, is pinned by
    tests/test_ann_index.py::test_pq_tier_codes_and_adc_topk."""
    import hashlib
    import math

    import numpy as np

    from automated_datastore_discovery_with_aws_glue_spark.operators.similarity import (
        pq_codebooks_int,
    )

    rng = np.random.RandomState(5)
    rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(60)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    m, k, ds, iters = 4, 3, 4, 2

    got = pq_codebooks_int(df, "embedding", m=m, k=k, iterations=iters, hash_fn=MD5)

    # -- pure-Python replay --------------------------------------------------
    def md5_64(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def quant(v):
        acc = 0.0
        for x in v:
            acc += float(x) * float(x)
        nrm = math.sqrt(acc)
        return [math.floor(float(x) / nrm * 1000000.0) for x in v]

    def tdiv(s, c):
        return s // c if s >= 0 else -((-s) // c)

    pts = {i: quant(v) for i, v in rows}
    order = sorted(pts, key=lambda i: (md5_64(str(i)), i))
    books = [[pts[i][j * ds : (j + 1) * ds] for i in order[:k]] for j in range(m)]
    for _ in range(iters):
        acc = {}
        for qv in pts.values():
            for j in range(m):
                sub = qv[j * ds : (j + 1) * ds]
                best = min(
                    range(k),
                    key=lambda c: (
                        sum((a - b) ** 2 for a, b in zip(sub, books[j][c])), c
                    ),
                )
                acc.setdefault((j, best), []).append(sub)
        for (j, c), subs in acc.items():
            books[j][c] = [tdiv(sum(col), len(subs)) for col in zip(*subs)]
    assert got == books


def test_knn_ivf_pq_scored_semantics(spark):
    """r10 ADC twin: the probed+PQ-scored+re-ranked top-10 (a) always
    finds each query vector itself at rank 1 with exact_d2 = 0 (its own
    cell is the best probe), and (b) the exact re-rank order equals a
    brute-force integer-L2 ranking restricted to the same candidates."""
    from automated_datastore_discovery_with_aws_glue_spark.plans.llm_pipeline import knn_ivf_pq_scored

    rows = knn_ivf_pq_scored(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 30  # 3 queries x top-10
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for qid, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, 11))
        # the query vector itself: exact distance 0, rank 1
        assert rs[0]["exact_d2"] == 0
        # exact_d2 non-decreasing with rank (re-rank is by exact_d2)
        ds = [r["exact_d2"] for r in rs]
        assert ds == sorted(ds)
        # ADC is an approximation of exact: correlated, never negative
        assert all(r["adc_d2"] >= 0 for r in rs)


def test_ann_cell_balance_consistency(spark):
    """The report's counts are the exact per-cell assignment counts
    (shares sum to <= 10000, mean micro-cosine bounded by 1e6 on unit
    vectors) and agree with an independent re-assignment."""
    import pyspark.sql.functions as F

    from automated_datastore_discovery_with_aws_glue_spark.operators import similarity as S
    from automated_datastore_discovery_with_aws_glue_spark.plans.llm_pipeline import ann_cell_balance
    from automated_datastore_discovery_with_aws_glue_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    got = {r["cell"]: r for r in ann_cell_balance(spark, sf).collect()}
    emb = load_table(spark, sf, "embeddings")
    cents = S.kmeans_centroids_int(
        emb, "embedding", n_cells=4, iterations=2, id_col="vec_id", hash_fn=MD5
    )
    truth = {
        r["cell"]: r["n"]
        for r in emb.withColumn("_nrm", S.sq_norm_expr("embedding"))
        .filter(F.col("_nrm") > 0)
        .select(S.quantize_unit_micro("embedding", "_nrm").alias("_qv"))
        .select(S.kmeans_cell_expr("_qv", cents).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {c: r["n_vecs"] for c, r in got.items()} == truth
    assert sum(r["share_bp"] for r in got.values()) <= 10000
    total = sum(truth.values())
    for c, r in got.items():
        assert r["share_bp"] == (truth[c] * 10000) // total
        # mean assignment dot of unit-ish vectors in micro-units
        assert -1_100_000 <= r["mean_cos_micro"] <= 1_100_000


def test_cluster_sample_prefilter_below_window_and_fallback(spark, monkeypatch):
    """r10 (VERDICT r9 item 5): the hash-threshold prefilter sits BELOW
    the per-cell row_number window (the sort sees survivors, not the
    corpus), and an undershooting threshold falls back to the exact
    unfiltered answer for just the short cells."""
    import re

    import pyspark.sql.functions as F

    from automated_datastore_discovery_with_aws_glue_spark.plans import llm_pipeline as L
    from automated_datastore_discovery_with_aws_glue_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    baseline = [
        (r["cell"], r["doc_id"], r["lang"], r["rn"])
        for r in L.corpus_cluster_sample(spark, sf).collect()
    ]
    assert baseline and max(r[3] for r in baseline) <= 25

    # plan shape: Filter(_h < threshold) is a child of (below) Window
    docs = load_table(spark, sf, "documents")
    assigned = spark.createDataFrame(
        [(i, i % 4) for i in range(500)], "vec_id bigint, cell int"
    )
    frame = L._cluster_sample_select(assigned, docs, {c: 7 << 50 for c in range(4)}, 25)
    plan = frame._jdf.queryExecution().optimizedPlan().toString()
    wpos = plan.index("Window")
    # the optimizer inlines _h: the threshold filter shows as the raw
    # md5-conv comparison on the scan side, printed after (= below) the
    # Window; WindowGroupLimit additionally caps the sort per cell
    fmatch = re.search(r"Filter .*conv\(substr\(md5", plan)
    assert fmatch and fmatch.start() > wpos, plan
    assert "WindowGroupLimit" in plan

    # forced undershoot: every cell's filter keeps (almost) nothing ->
    # the fallback re-runs those cells unfiltered -> identical answer
    monkeypatch.setattr(
        L, "_cluster_sample_thresholds", lambda cnts, need: {c: 1 for c in cnts}
    )
    forced = [
        (r["cell"], r["doc_id"], r["lang"], r["rn"])
        for r in L.corpus_cluster_sample(spark, sf).collect()
    ]
    assert forced == baseline


def test_arrow_training_backend_bit_equals_hof(spark):
    """r10 (VERDICT r9 item 7): the vectorized Arrow partial-sum
    training backend produces BIT-IDENTICAL centroids and codebooks to
    the native HOF expression path (same exact int64 math, same tie
    rules), for both hash seedings."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.similarity import (
        kmeans_centroids_int,
        pq_codebooks_int,
    )
    from automated_datastore_discovery_with_aws_glue_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    for hf in (MD5, XXH):
        a = kmeans_centroids_int(
            emb, "embedding", n_cells=5, iterations=2, hash_fn=hf, assign="arrow"
        )
        h = kmeans_centroids_int(
            emb, "embedding", n_cells=5, iterations=2, hash_fn=hf, assign="hof"
        )
        assert a == h
    pa = pq_codebooks_int(
        emb, "embedding", m=8, k=6, iterations=2, hash_fn=MD5, assign="arrow"
    )
    ph = pq_codebooks_int(
        emb, "embedding", m=8, k=6, iterations=2, hash_fn=MD5, assign="hof"
    )
    assert pa == ph


def test_emb_ivf_join_precision_and_dup_recall(spark, tmp_path):
    """r10 cluster-blocked cross-table join: every emitted pair is a
    true >= threshold pair (numpy-verified on the same quantization),
    and EXACT duplicate vectors are always linked (identical vectors
    share argmax cell, so blocking can never split them)."""
    import numpy as np

    from automated_datastore_discovery_with_aws_glue_spark.operators.cache import release
    from automated_datastore_discovery_with_aws_glue_spark.plans.llm_pipeline import emb_ivf_join
    from automated_datastore_discovery_with_aws_glue_spark.sources.readers import load_table

    # engineered corpus: 80 random vectors; every 7th incoming id (0,
    # 7, 14, ...) is an EXACT copy of corpus vector id+1 -> must link
    rng = np.random.RandomState(5)
    vecs = {}
    for i in range(80):
        vecs[i] = rng.standard_normal(64)
    for i in range(0, 80, 7):
        if i + 1 < 80:
            vecs[i] = vecs[i + 1].copy()
    rows = [(int(i), [float(x) for x in v]) for i, v in vecs.items()]
    spark.createDataFrame(rows, "vec_id bigint, embedding array<double>").write.parquet(
        f"{tmp_path}/embeddings.parquet"
    )
    df = emb_ivf_join(spark, str(tmp_path))
    got = [(r["qid"], r["vec_id"], r["cos_micro"]) for r in df.collect()]
    release(df)
    # numpy replay of the quantization + dot for precision
    qv = {}
    for i, v in vecs.items():
        nrm = float(np.sqrt((v * v).sum()))
        qv[i] = np.floor(v / nrm * 1e6).astype(np.int64)
    for q, v, cm in got:
        dot = int((qv[q] * qv[v]).sum())
        assert cm == dot // 1000000 and cm >= 250_000, (q, v, cm, dot)
    # exact duplicates must be found (cos_micro ~ 1e6 > threshold)
    linked = {(q, v) for q, v, _ in got}
    for i in range(0, 80, 7):
        if i + 1 < 80:
            assert (i, i + 1) in linked, (i, linked)


def test_r10_queries_empty_corpus_guards(spark, tmp_path):
    """code-review r10: an empty embeddings table returns an empty,
    correctly-typed frame from every r10 query (the
    corpus_cluster_sample contract), never an IndexError."""
    from automated_datastore_discovery_with_aws_glue_spark.plans.llm_pipeline import (
        ann_cell_balance,
        emb_ivf_join,
        knn_ivf_pq_scored,
    )

    spark.createDataFrame([], "vec_id bigint, embedding array<double>").write.parquet(
        f"{tmp_path}/embeddings.parquet"
    )
    assert knn_ivf_pq_scored(spark, str(tmp_path)).count() == 0
    assert ann_cell_balance(spark, str(tmp_path)).count() == 0
    assert emb_ivf_join(spark, str(tmp_path)).count() == 0


def test_emb_ivf_join_oracle_k_tripwire():
    """code-review r10: emb_ivf_join's Spark side scales its block
    count while its DuckDB oracle is the fixed k=4 instance. This
    tripwire fails LOUDLY (here, not as a driver hash mismatch) if any
    oracle-gate embeddings table grows past the k=4 regime."""
    import duckdb

    from automated_datastore_discovery_with_aws_glue_spark.plans.llm_pipeline import _emb_join_cells

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        n = duckdb.sql(
            f"select count(*) from '/root/testdata/{sf}/embeddings.parquet'"
        ).fetchone()[0]
        assert _emb_join_cells(n) == 4, (
            f"{sf} has {n} embeddings -> {_emb_join_cells(n)} cells; the "
            f"emb_ivf_join oracle is built for k=4 — parameterize the "
            f"oracle (or re-pin the gate scales) before accepting this"
        )
