"""Dedup operator tests: hand-computed small cases + recall of the
probabilistic paths against exact baselines on real testdata."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from automated_datastore_discovery_with_aws_glue_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash64,
    simhash_pairs,
)
from automated_datastore_discovery_with_aws_glue_spark.operators.hashing import MD5, XXH, word_shingles
from automated_datastore_discovery_with_aws_glue_spark.sources.readers import load_table
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "en"),
            (2, "The quick  brown fox jumps over the lazy dog", "en"),  # ws/case dup of 1
            (3, "the quick brown fox jumps over the lazy cat", "en"),  # near-dup of 1
            (4, "completely different text about spark engines", "en"),
            (5, "el rapido zorro marron salta sobre el perro", "es"),
        ],
        ["doc_id", "text", "lang"],
    )


def test_exact_dedup_normalizes(spark, docs):
    out = {r["representative_id"]: r["dup_count"] for r in exact_dedup(docs, "doc_id", "text").collect()}
    assert out[1] == 2  # docs 1+2 collapse
    assert out[3] == 1 and out[4] == 1 and out[5] == 1


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], ["text"])
    got = [r[0] for r in df.select(word_shingles(F.col("text"), 3)).collect()]
    assert sorted(got[0]) == ["a b c", "b c d"]
    assert got[1] == ["a b"]  # shorter than n -> whole text


def test_jaccard_pairs_hand_computed(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, "doc_id", "text", "lang", n=3, threshold=0.4).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical after normalization
    # doc1 vs doc3: 7 shingles each, 6 shared -> J = 6/8 = 0.75
    assert pairs[(1, 3)] == 0.75
    assert (1, 4) not in pairs
    assert (1, 5) not in pairs  # different block


def test_minhash_signature_shape_and_determinism(spark, docs):
    s1 = minhash_signatures(docs, "doc_id", "text").collect()
    s2 = minhash_signatures(docs, "doc_id", "text").collect()
    assert {r["id"]: r["signature"] for r in s1} == {r["id"]: r["signature"] for r in s2}
    assert all(len(r["signature"]) == 64 for r in s1)
    sigs = {r["id"]: r["signature"] for r in s1}
    # identical docs -> identical signatures
    assert sigs[1] == sigs[2]
    # near-dups agree on most permutations (E[agreement] = J = 0.75)
    agree = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    assert agree >= 32


def test_minhash_lsh_recall_on_testdata(spark):
    """LSH candidates + verification must recover every exact J>=0.5 pair
    (16 bands x 4 rows: P[miss | J=0.5] = (1-0.5^4)^16 ≈ 0.35 per pair —
    but the engineered dups in testdata sit at J≈0.9+ where miss
    probability is ~1e-5)."""
    docs = load_table(spark, SF_DIR, "documents")
    exact = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(docs, "doc_id", "text", "lang", n=3, threshold=0.8).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    assert exact, "testdata should contain engineered near-dups"
    assert exact <= lsh  # full recall at high similarity
    # and every LSH pair is a verified >= 0.5 pair (precision 1.0 by construction)
    all_pairs_05 = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(
            docs.withColumn("one", F.lit(1)), "doc_id", "text", "one", n=3, threshold=0.5
        ).collect()
    }
    assert lsh <= all_pairs_05


def test_simhash_properties(spark, docs):
    sh = {r["id"]: r["simhash"] for r in simhash64(docs, "doc_id", "text").collect()}
    assert sh[1] == sh[2]  # normalization-identical docs
    ham13 = bin(sh[1] ^ sh[3]).count("1")
    ham14 = bin(sh[1] ^ sh[4]).count("1")
    assert ham13 < ham14  # near-dup closer than unrelated doc


def test_simhash_pairs_blocked(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(docs, "doc_id", "text", "lang", max_hamming=10).collect()
    }
    assert pairs[(1, 2)] == 0
    assert all(h <= 10 for h in pairs.values())


def test_hot_bucket_cap_minhash_and_simhash(spark):
    """max_bucket drops oversize LSH buckets in both sketch families: a
    boilerplate corpus (identical docs) stops producing quadratic pairs
    while distinct small groups keep theirs."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_pairs,
    )

    boiler = [(i, "the same boilerplate text repeated everywhere in the corpus", "en") for i in range(40)]
    # identical text for the small pair: short-doc simhashes are volatile
    # under single-word edits, and the cap test needs a pair that exists
    # in BOTH families before capping
    pair = [
        (100, "a genuinely unique document about spark executors and shuffles", "en"),
        (101, "a genuinely unique document about spark executors and shuffles", "en"),
    ]
    df = spark.createDataFrame(boiler + pair, ["doc_id", "text", "lang"])

    mh = minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5, max_bucket=10)
    got_mh = {(r["id_a"], r["id_b"]) for r in mh.collect()}
    assert got_mh == {(100, 101)}

    sh = simhash_pairs(df, "doc_id", "text", "lang", max_hamming=3, max_bucket=10)
    got_sh = {(r["id_a"], r["id_b"]) for r in sh.collect()}
    assert got_sh == {(100, 101)}


@pytest.mark.parametrize("cap", [2_000_000, None], ids=["driver_uf", "distributed"])
def test_dedup_clusters_components(spark, cap):
    """Both component paths — bounded driver union-find and distributed
    min-label propagation — find exact components, including a chain
    (multi-round convergence) and singletons from all_ids."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.dedup import dedup_clusters

    chain = [(i, i + 1) for i in range(10, 18)]  # one 9-node chain
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), *chain], ["id_a", "id_b"]
    )
    all_ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 6, *range(10, 19)]], ["doc_id"])
    got = {
        r["id"]: r["cluster_id"]
        for r in dedup_clusters(pairs, all_ids, driver_max_pairs=cap).collect()
    }
    assert got[1] == got[2] == got[3] == 1
    assert got[5] == got[6] == 5
    assert got[4] == 4  # singleton
    assert all(got[i] == 10 for i in range(10, 19))  # chain converges to min


def test_dedup_clusters_raises_on_non_convergence(spark):
    """A component whose diameter exceeds max_rounds must raise, not
    silently return wrong labels (the bound defaults to 20; a small bound
    against a longer chain exercises the same exit path fast)."""
    import pytest

    from automated_datastore_discovery_with_aws_glue_spark.operators.dedup import dedup_clusters

    chain = spark.createDataFrame([(i, i + 1) for i in range(8)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="still changing"):
        dedup_clusters(chain, max_rounds=3, driver_max_pairs=None)
    # the same chain with a sufficient bound converges to the true labels
    got = {
        r["id"]: r["cluster_id"]
        for r in dedup_clusters(chain, max_rounds=10, driver_max_pairs=None).collect()
    }
    assert all(v == 0 for v in got.values())


def test_dedup_clusters_release_spares_foreign_checkpoints(spark, monkeypatch):
    """On a shared session another pipeline can localCheckpoint while a
    label-propagation round checkpoints. dedup_clusters must release
    only its own round blocks: an unpersisted local checkpoint cannot be
    recomputed, so freeing a foreign one breaks the other pipeline."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.cache import release
    from automated_datastore_discovery_with_aws_glue_spark.operators.dedup import dedup_clusters

    frame_cls = type(spark.range(1))
    original = frame_cls.localCheckpoint
    foreign = []

    def checkpoint_beside_a_foreign_one(self, *args, **kwargs):
        out = original(self, *args, **kwargs)
        foreign.append(original(spark.range(len(foreign) + 3), eager=True))
        return out

    monkeypatch.setattr(frame_cls, "localCheckpoint", checkpoint_beside_a_foreign_one)
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"])
    out = dedup_clusters(pairs, driver_max_pairs=None)
    got = {r["id"]: r["cluster_id"] for r in out.collect()}
    release(out)
    monkeypatch.undo()

    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
    assert len(foreign) >= 2  # the initial labels plus at least one round
    for i, f in enumerate(foreign):
        assert [r["id"] for r in f.collect()] == list(range(i + 3))


def test_dedup_canonical_keeps_one_per_cluster(spark):
    from automated_datastore_discovery_with_aws_glue_spark.operators.dedup import dedup_canonical

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(1, 7)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"])
    kept = sorted(r["doc_id"] for r in dedup_canonical(docs, pairs, "doc_id").collect())
    assert kept == [1, 4, 5]


def test_dedup_segments_removes_corpus_wide_boilerplate(spark):
    """The shared header survives only in its first corpus position;
    unique paragraphs survive everywhere; an all-boilerplate document
    comes back empty rather than vanishing."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.dedup import dedup_segments

    header = "subscribe to our newsletter"
    docs = spark.createDataFrame(
        [
            (1, f"{header}\n\nunique first body"),
            (2, f"{header}\n\nunique second body\n\n{header}"),
            (3, header),
            (4, None),   # NULL text must keep its row, not vanish
            (5, "   "),  # whitespace-only likewise
        ],
        "doc_id bigint, text string",
    )
    out = {r["id"]: (r["text"], r["n_kept"], r["n_dropped"]) for r in
           dedup_segments(docs, "doc_id", "text").collect()}
    assert out[1] == (f"{header}\n\nunique first body", 2, 0)
    assert out[2] == ("unique second body", 1, 2)
    assert out[3] == ("", 0, 1)
    assert out[4] == ("", 0, 0)
    assert out[5] == ("", 0, 0)


def test_dedup_segments_regex_metachar_separator(spark):
    """The separator is a literal, not a regex: '. ' must split on the
    two-char sequence, not on every character."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.dedup import dedup_segments

    docs = spark.createDataFrame(
        [(1, "alpha beta. gamma delta"), (2, "alpha beta. other tail")],
        ["doc_id", "text"],
    )
    out = {r["id"]: (r["text"], r["n_kept"], r["n_dropped"]) for r in
           dedup_segments(docs, "doc_id", "text", sep=". ").collect()}
    assert out[1] == ("alpha beta. gamma delta", 2, 0)
    assert out[2] == ("other tail", 1, 1)  # shared first sentence deduped


def test_corpus_clean_composition_invariants(spark):
    """Exact mode: the composed pipeline keeps only quality survivors,
    exactly one per near-dup cluster, and never invents documents."""
    from automated_datastore_discovery_with_aws_glue_spark.plans.llm_pipeline import corpus_clean

    docs = load_table(spark, SF_DIR, "documents")
    from automated_datastore_discovery_with_aws_glue_spark.operators.text import text_stats

    kept = text_stats(docs, "text").filter(F.col("quality_score") >= 0.5)
    out = corpus_clean(spark, SF_DIR, candidates="ppjoin").collect()
    out_ids = {r["doc_id"] for r in out}
    kept_ids = {r["doc_id"] for r in kept.collect()}
    assert out_ids <= kept_ids
    assert all(r["quality_score"] >= 0.5 for r in out)
    # no surviving near-dup pair: of every qualifying GLOBAL pair among
    # kept docs, at most one side remains (the exact mode is complete and
    # cross-language — same semantics as the LSH default)
    pairs = jaccard_pairs(
        kept.withColumn("_blk", F.lit(1)), "doc_id", "text", "_blk", n=3, threshold=0.5
    ).collect()
    assert pairs, "fixture should contain near-dup pairs among kept docs"
    for p in pairs:
        assert not ({p["id_a"], p["id_b"]} <= out_ids), (p["id_a"], p["id_b"])


def test_corpus_clean_lsh_default_invariants(spark):
    """Default (LSH-candidate) mode: same structural invariants, with
    pair coverage asserted against the LSH pair set it actually uses —
    plus recall: the default must remove ~every exact near-dup the
    PPJoin mode finds (banded-LSH recall at J>=0.5 is high but
    probabilistic, so the bound is >=, not equality)."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.text import text_stats
    from automated_datastore_discovery_with_aws_glue_spark.plans.llm_pipeline import corpus_clean

    docs = load_table(spark, SF_DIR, "documents")
    kept = text_stats(docs, "text").filter(F.col("quality_score") >= 0.5)
    out = corpus_clean(spark, SF_DIR).collect()
    out_ids = {r["doc_id"] for r in out}
    kept_ids = {r["doc_id"] for r in kept.collect()}
    assert out_ids <= kept_ids
    # every LSH-detected near-dup pair lost at least one side
    lsh_pairs = minhash_lsh_pairs(
        kept, "doc_id", "text", n=3, num_hashes=16, bands=8, threshold=0.5, hash_fn=MD5
    ).collect()
    assert lsh_pairs, "fixture should contain LSH-detectable near-dups"
    for p in lsh_pairs:
        assert not ({p["id_a"], p["id_b"]} <= out_ids), (p["id_a"], p["id_b"])
    # and the LSH default catches (here) at least 90% of the exact dup
    # mass: survivors <= exact survivors * 1.1
    exact_ids = {
        r["doc_id"] for r in corpus_clean(spark, SF_DIR, candidates="ppjoin").collect()
    }
    assert len(out_ids) <= max(len(exact_ids) * 1.1, len(exact_ids) + 2)


@pytest.mark.parametrize("cap", [2_000_000, None], ids=["driver_uf", "distributed"])
def test_dedup_clusters_matches_union_find(spark, cap):
    """Differential: cluster labels over the real sf pairs match a
    test-local union-find ground truth on BOTH component paths."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.dedup import (
        dedup_clusters,
        jaccard_pairs,
    )

    docs = load_table(spark, SF_DIR, "documents")
    pairs = jaccard_pairs(docs, "doc_id", "text", "lang", n=3, threshold=0.5)
    pair_rows = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pair_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    truth = {x: find(x) for x in parent}
    got = {
        r["id"]: r["cluster_id"]
        for r in dedup_clusters(pairs, driver_max_pairs=cap).collect()
    }
    assert got == truth


def test_decontaminate_paths_agree_and_drop_overlaps(spark):
    """A training doc sharing any word n-gram with the benchmark drops;
    clean docs survive; the ``XXH`` production family and the
    DuckDB-replayable ``MD5`` family select the identical survivor set."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "the secret benchmark passage lives here")], ["doc_id", "text"]
    )
    train = spark.createDataFrame(
        [
            (1, "totally unrelated training text about spark plans"),
            (2, "prefix words then the secret benchmark passage appears verbatim"),
            (3, "another clean document with no overlap at all"),
        ],
        ["doc_id", "text"],
    )
    for fn in (XXH, MD5):
        kept = sorted(
            r["doc_id"]
            for r in decontaminate(train, bench, "doc_id", "text", n=3, hash_fn=fn).collect()
        )
        assert kept == [1, 3], fn


def test_contamination_scores_hand_computed_and_paths_agree(spark):
    """Graded contamination: per-doc overlap fraction against
    hand-computed values; xxhash64 and md5 paths agree; a doc with no
    grams and a doc absent from the gram stream still emit 0.0 rows."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.dedup import contamination_scores

    bench = spark.createDataFrame(
        [(100, "the secret benchmark passage lives here")], ["doc_id", "text"]
    )
    train = spark.createDataFrame(
        [
            (1, "totally unrelated training text about spark plans"),
            # distinct 3-grams: 6 total, of which "the secret benchmark"
            # and "secret benchmark passage" hit the bench set
            (2, "prefix words then the secret benchmark passage appears"),
            (3, "xy"),  # single word -> 1 whole-text shingle, no hit
        ],
        ["doc_id", "text"],
    )
    for fn in (XXH, MD5):
        got = {
            r["doc_id"]: (r["n_grams"], r["n_contaminated"], r["contamination_frac"])
            for r in contamination_scores(
                train, bench, "doc_id", "text", n=3, hash_fn=fn
            ).collect()
        }
        assert got[1][1] == 0 and got[1][2] == 0.0, fn
        assert got[2] == (6, 2, round(2 / 6, 4)), fn
        assert got[3] == (1, 0, 0.0), fn


def test_dup_span_stats_merges_overlaps_and_counts_cross_doc(spark):
    """Cross-document repeated k-gram spans: overlapping marked grams
    merge into one span (gaps-and-islands), within-doc repeats count,
    sub-k and unique docs report zero, and coverage fractions derive
    from integer pairs."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.dedup import dup_span_stats

    shared = "one two three four five six seven"  # 7 words: 5-gram spans overlap
    docs = spark.createDataFrame(
        [
            (1, shared + " alpha beta gamma delta epsilon"),   # 12 words, shared prefix
            (2, "x1 x2 x3 " + shared + " y1 y2"),              # shared mid-span
            (3, "totally different words with no phrase repeated here at all"),
            (4, "tiny doc"),                                   # < k words
            (5, "p q r s t p q r s t"),                        # within-doc repeat
        ],
        ["doc_id", "text"],
    )
    got = {r["id"]: (r["n_spans"], r["dup_tokens"], r["n_tokens"], r["dup_frac"])
           for r in dup_span_stats(docs, "doc_id", "text", k=5).collect()}
    # doc1: grams at positions 0..2 (the 7 shared words) all repeated in
    # doc2 -> ONE merged span covering 7 tokens
    assert got[1] == (1, 7, 12, round(7 / 12, 4))
    assert got[2] == (1, 7, 12, round(7 / 12, 4))
    assert got[3] == (0, 0, 10, 0.0)
    assert got[4] == (0, 0, 2, 0.0)
    # doc5: 'p q r s t' appears twice in the SAME doc; positions 0 and 5
    # are adjacent spans (5 covers 5..9, 0 covers 0..4 -> merge) = all 10
    assert got[5] == (1, 10, 10, 1.0)


def test_gopher_signals_rules(spark):
    """Each Gopher rule flips the pass flag on an engineered violator
    while a plain prose doc passes."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.text import gopher_signals

    good = ("the quick brown fox jumps over that lazy dog and then walks away to have "
            "a rest with friends near the old bridge while water flows calmly " * 3)
    bullets = "\n".join(f"- item {i}" for i in range(20))
    symbols = " ".join("#tag" for _ in range(60)) + " the of and that have with to be"
    short = "the of and"
    docs = spark.createDataFrame(
        [(1, good), (2, bullets), (3, symbols), (4, short)], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in gopher_signals(docs).collect()}
    assert got[1]["passes"] is True
    assert got[2]["passes"] is False and got[2]["bullet_line_frac"] == 1.0
    assert got[3]["passes"] is False and got[3]["symbol_word_ratio"] > 0.1
    assert got[4]["passes"] is False and got[4]["n_words"] < 50
    assert got[1]["n_stopwords"] >= 2


def test_strip_dup_spans_keeps_first_occurrence(spark):
    """Keep-one-copy at k-gram granularity: the corpus-wide first
    occurrence (min doc id, then min position) survives, every other
    occurrence's merged span is removed; untouched docs round-trip as
    their normalized token stream; a within-doc repeat keeps only its
    first copy."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.dedup import strip_dup_spans

    shared = "one two three four five six seven"
    docs = spark.createDataFrame(
        [
            (1, shared + " alpha beta"),
            (2, "x1 x2 " + shared + " tail1"),
            (3, "unique words only in here nothing repeated at all"),
            (5, "p q r s t p q r s t"),
        ],
        ["doc_id", "text"],
    )
    got = {r["id"]: (r["text_stripped"], r["n_kept"], r["n_removed"])
           for r in strip_dup_spans(docs, "doc_id", "text", k=5).collect()}
    assert got[1] == (shared + " alpha beta", 9, 0)      # winner: intact
    assert got[2] == ("x1 x2 tail1", 3, 7)               # shared span removed
    assert got[3][1:] == (9, 0)                          # untouched
    assert got[5] == ("p q r s t", 5, 5)                 # within-doc: first copy kept


def test_decontaminate_bloom_equals_exact_even_when_undersized(spark):
    """The bloom-prefiltered path must return EXACTLY the exact path's
    survivors (no false negatives by construction; false positives die
    in the verify join) — including with an absurdly undersized filter
    (64 bits for thousands of grams: near-every gram flags, the verify
    still discards every false positive). Plan shape: the bitset
    prefilter is a broadcast join (the corpus never shuffles to be
    tested); the only shuffle joins touch the flagged sliver."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.dedup import (
        decontaminate,
        decontaminate_bloom,
    )

    bench = spark.createDataFrame(
        [(100, "the secret benchmark passage lives here"),
         (101, "a second eval snippet with different words entirely")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            (1, "totally unrelated training text about spark plans"),
            (2, "prefix words then the secret benchmark passage appears verbatim"),
            (3, "another clean document with no overlap at all"),
            (4, "contains a second eval snippet with padding around it"),
        ],
        ["doc_id", "text"],
    )
    exact = sorted(
        r["doc_id"]
        for r in decontaminate(train, bench, "doc_id", "text", n=3).collect()
    )
    assert exact == [1, 3]
    for bits in (8_388_608, 64):  # well-sized and absurdly undersized
        got = sorted(
            r["doc_id"]
            for r in decontaminate_bloom(
                train, bench, "doc_id", "text", n=3, num_bits=bits
            ).collect()
        )
        assert got == exact, bits

    out = decontaminate_bloom(train, bench, "doc_id", "text", n=3)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan  # the bitset prefilter
    for node in ("CartesianProduct", "BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan, node
