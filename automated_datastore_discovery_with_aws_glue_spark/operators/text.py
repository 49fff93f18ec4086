"""Text-analysis operators for LLM-data pipelines (north-star surface,
`BASELINE.json`): token counting, quality scoring, language ID,
document fingerprinting.

All pure JVM-side expressions (split / filter / aggregate higher-order
functions) — no Python UDFs, so every operator rides whole-stage codegen
and scales linearly with executors. Patterns and word lists are shared
verbatim with the DuckDB oracles.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from automated_datastore_discovery_with_aws_glue_spark.operators.hashing import (
    XXH,
    HashFamily,
    checked,
)

#: language -> high-frequency stopwords (tiny embedded lists; the n-gram
#: heuristic just needs relative evidence, not full dictionaries)
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "for"),
    "es": ("el", "la", "de", "y", "que", "en", "los", "una"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "ein"),
    "fr": ("le", "les", "des", "et", "une", "dans", "est", "pour"),
}

_WS = r"\s+"


def normalize_text(col: Column) -> Column:
    """Canonical form for hashing/dedup: lowercase, collapse whitespace,
    trim."""
    return F.trim(F.regexp_replace(F.lower(col), _WS, " "))


def tokens(col: Column) -> Column:
    return F.split(normalize_text(col), " ")


def token_count(col: Column) -> Column:
    return F.when(normalize_text(col) == "", 0).otherwise(F.size(tokens(col)))


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint = md5 of the normalized text
    (exact-dedup key; same function exists in DuckDB for the oracle)."""
    return F.md5(normalize_text(col).cast("binary"))


def md5_hash64(col: Column) -> Column:
    """Top-15-hex-digit md5 of a string column as a BIGINT — the 60-bit
    DuckDB-replayable hash of the ``hashing.MD5`` family and every
    md5-keyed operator (``CAST(('0x' || substr(md5(x), 1, 15)) AS
    BIGINT)`` on the SQL side). ONE definition: a drift in substr width
    or cast order in any single copy would silently break oracle parity
    for just that operator."""
    return F.conv(F.md5(col.cast("binary")).substr(1, 15), 16, 10).cast("bigint")


# -- HTML -> text extraction (r11, VERDICT r10 item 2) -----------------
#
# The most common missing ingest stage of a pretraining pipeline: raw
# markup (CommonCrawl-shape) arrives BEFORE the corpus operators that
# all start from clean text. This is a regex extractor, not an HTML
# parser — the documented trade for staying a pure JVM-side expression
# (whole-stage codegen, zero Python) that DuckDB replays verbatim.
# Known limits (each pytest-pinned): attribute values containing '>'
# truncate that tag early; only the common NAMED entities and the
# high-frequency NUMERIC forms below are decoded (other &#NN; codes
# pass through literally); anchors split across block boundaries lose
# their link-density contribution.

#: entity -> replacement, in DECODE ORDER; the ampersand family is NOT
#: in this table — '&amp;' and '&#38;' decode together in ONE regex
#: pass (:data:`AMP_DECODE_RE`) AFTER it, because with two literal
#: passes whichever ran second would re-decode ampersands the first
#: produced ('&#38;amp;' must yield the literal '&amp;', and
#: '&amp;#38;' the literal '&#38;' — a regex pass never rescans its
#: own replacement, so both double-encoded forms decode exactly one
#: level). The numeric rows are the high-frequency codes real markup
#: uses for punctuation (quote/apostrophe forms, dashes, ellipsis,
#: NBSP) — both decimal and the named twin decode to the same
#: character, so dedup fingerprints agree across encodings.
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#34;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&#160;", " "),
    ("&nbsp;", " "),
    ("&#8216;", "‘"),
    ("&#8217;", "’"),
    ("&lsquo;", "‘"),
    ("&rsquo;", "’"),
    ("&#8220;", "“"),
    ("&#8221;", "”"),
    ("&ldquo;", "“"),
    ("&rdquo;", "”"),
    ("&#8211;", "–"),
    ("&#8212;", "—"),
    ("&ndash;", "–"),
    ("&mdash;", "—"),
    ("&#8230;", "…"),
    ("&hellip;", "…"),
)

#: the ampersand family, decoded LAST in one non-rescanning regex pass
AMP_DECODE_RE = "&(?:amp|#38);"

#: tags whose open OR close ends a text block (replaced by newline)
_HTML_BLOCK_TAGS = (
    "p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|thead|tbody|section|article"
    "|header|footer|nav|blockquote|pre|form|hr|title"
)
_HTML_BLOCK_RE = rf"(?i)</?(?:{_HTML_BLOCK_TAGS})\b[^>]*>"
_HTML_COMMENT_RE = r"(?s)<!--.*?-->"
_HTML_SCRIPT_RE = r"(?is)<script\b[^>]*>.*?</script\s*>"
_HTML_STYLE_RE = r"(?is)<style\b[^>]*>.*?</style\s*>"
_HTML_ANCHOR_RE = r"(?is)<a\b[^>]*>.*?</a\s*>"
_HTML_TAG_RE = r"<[^>]*>"


def _html_block_text(block: Column) -> Column:
    """One block's visible text: strip tags, decode the named entities
    (in HTML_ENTITIES order), collapse whitespace."""
    t = F.regexp_replace(block, _HTML_TAG_RE, " ")
    for ent, ch in HTML_ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(ch))
    t = F.regexp_replace(t, AMP_DECODE_RE, "&")
    return F.trim(F.regexp_replace(t, _WS, " "))


def _word_count(t: Column) -> Column:
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, " ")))


def html_blocks(col: Column) -> Column:
    """The markup split into candidate text blocks: comments, script
    and style elements removed (content included — they are never
    visible text), source newlines normalized to spaces (in HTML they
    are plain whitespace — a pretty-printed paragraph spanning many
    source lines is ONE block), then block-level tag boundaries become
    newlines."""
    cleaned = F.regexp_replace(col, _HTML_COMMENT_RE, " ")
    cleaned = F.regexp_replace(cleaned, _HTML_SCRIPT_RE, " ")
    cleaned = F.regexp_replace(cleaned, _HTML_STYLE_RE, " ")
    cleaned = F.regexp_replace(cleaned, "[\n\r]", " ")
    return F.split(F.regexp_replace(cleaned, _HTML_BLOCK_RE, "\n"), "\n")


def html_extract(
    col: Column, *, min_words: int = 3, max_link_bp: int = 5000
) -> Column:
    """Markup -> clean text: per block, keep it when it has at least
    ``min_words`` words AND its link density (characters contributed by
    anchor elements vs all visible characters) is at most
    ``max_link_bp`` basis points — the boilerplate rule that drops
    navs/footers (anchor-dominated) and stray fragments while keeping
    body prose. Decision by integer cross-multiplication, no division.
    Kept blocks are entity-decoded, whitespace-normalized, and joined
    with newlines. Pure native expressions — the DuckDB oracle
    (`corpus_html_extract`) replays every regex and the keep rule
    verbatim.

    Each block maps to a (t_all, t_noa) struct FIRST, so the
    tag-strip + entity-decode + collapse chain runs once per variant
    per block; filtering raw blocks and re-deriving the text in the
    output transform would run the dominant regex work three times."""

    def texts(b: Column) -> Column:
        return F.struct(
            _html_block_text(b).alias("t_all"),
            _html_block_text(F.regexp_replace(b, _HTML_ANCHOR_RE, " ")).alias(
                "t_noa"
            ),
        )

    def keep(p: Column) -> Column:
        link_chars = F.length(p["t_all"]) - F.length(p["t_noa"])
        return (_word_count(p["t_all"]) >= F.lit(min_words)) & (
            link_chars * F.lit(10000) <= F.lit(max_link_bp) * F.length(p["t_all"])
        )

    return F.array_join(
        F.transform(
            F.filter(F.transform(html_blocks(col), texts), keep),
            lambda p: p["t_all"],
        ),
        "\n",
    )


def _stopword_hits(toks: Column, words: tuple[str, ...]) -> Column:
    vocab = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(vocab, t)))


def lang_id(col: Column) -> Column:
    """Argmax language with the fixed priority en > es > de > fr on ties
    (deterministic across engines; ``array_position`` returns the FIRST
    max, and the name array is in priority order).

    Both the token array and the per-language score array are let-bound
    (see :func:`let`): a naive when-chain over per-language scores
    re-inlines the whole tokenize+filter tree at every comparison (11
    copies for 4 languages) — measured ~3x slower end-to-end at sf0.1,
    with most of the first-run cost in Janino compiling the giant
    expression."""
    langs = list(LANG_STOPWORDS)
    names = F.array(*[F.lit(lang) for lang in langs])

    def pick(scores: Column) -> Column:
        return F.element_at(
            names, F.array_position(scores, F.array_max(scores)).cast("int")
        )

    return let(
        tokens(col),
        lambda toks: let(
            F.array(*[_stopword_hits(toks, LANG_STOPWORDS[lang]) for lang in langs]),
            pick,
        ),
    )


def let(value: Column, body) -> Column:
    """Bind ``value`` to a lambda variable so ``body`` can reference it
    many times while it is evaluated ONCE per row. Spark SQL has no
    let-expression; referencing a Column object twice inlines (and thus
    re-executes) its whole expression tree at every use site — fatal for
    higher-order pipelines where stage N scans stage N-1's array
    element-wise (turns O(L) into O(L^2) work per row). The standard
    workaround: wrap in a 1-element array, ``transform`` with the body,
    take element 1."""
    return F.element_at(F.transform(F.array(value), body), 1)


def winnow_fingerprints(
    col: Column, *, k: int = 8, w: int = 4, hash_fn: HashFamily = XXH
) -> Column:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    hash every character k-gram of the normalized text, slide a window
    of w consecutive gram hashes, keep each window's minimum, return the
    sorted distinct selection. Guarantees any shared substring of length
    >= k + w - 1 contributes at least one common fingerprint — the
    plagiarism/near-dup detection primitive.

    Fully map-side (nested higher-order transforms over one projection);
    no explode, no shuffle. Each stage's array is let-bound (see ``let``)
    so the gram-hash array is computed once per document, not once per
    window. Grams are hashed with ``hash_fn.digest``: ``XXH`` (8-byte
    hashes) is the production family; ``MD5`` selects lexicographic-min
    over hex digests, which exists identically in DuckDB so the
    differential oracle can replay the whole computation."""
    hasher = checked(hash_fn).digest

    def grams(norm: Column) -> Column:
        m = F.length(norm) - k + 1
        return F.transform(
            F.sequence(F.lit(1), F.greatest(m, F.lit(1))),
            lambda i: hasher(norm.substr(i, F.lit(k))),
        )

    def mins(gh: Column) -> Column:
        n_windows = F.greatest(F.size(gh) - w + 1, F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), n_windows), lambda j: F.array_min(F.slice(gh, j, w))
        )

    sel = let(normalize_text(col), lambda norm: let(grams(norm), mins))
    return F.sort_array(F.array_distinct(sel))


def word_grams(col: Column, n: int = 2) -> Column:
    """ALL word n-grams in document order, duplicates KEPT — unlike the
    dedup shingles (``dedup.word_shingles``), repetition analysis needs
    multiplicity. Empty array when the document has fewer than n words.
    The word array is let-bound so the split runs once per row."""

    def body(words: Column) -> Column:
        k = F.size(words)
        grams = F.transform(
            F.sequence(F.lit(1), k - n + 1),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        )
        return F.when(k >= n, grams).otherwise(
            F.array().cast("array<string>")
        )

    return let(tokens(col), body)


def repetition_stats(df: DataFrame, text_col: str = "text", *, n: int = 2) -> DataFrame:
    """Gopher-style repetition signals (public filter family from Rae et
    al. 2021, 'Scaling Language Models: ... Gopher', App. A1.1): the
    fraction of duplicated word n-grams and the share held by the single
    most frequent n-gram. High values mark boilerplate, keyword-stuffed
    spam, and degenerate generations that length/stopword heuristics
    miss — a standard pre-training quality gate next to
    ``text_stats``.

    Fully map-side higher-order expressions (no shuffle, no UDF); the
    per-row top-gram count is O(distinct x total) over document-sized
    arrays — bounded by document length, embarrassingly parallel at any
    corpus size. Adds ``n_grams``, ``dup_gram_frac``, ``top_gram_frac``.
    """

    def metrics(grams: Column) -> Column:
        total = F.size(grams)
        distinct = F.size(F.array_distinct(grams))
        top = F.array_max(
            F.transform(
                F.array_distinct(grams),
                lambda x: F.size(F.filter(grams, lambda y: y == x)),
            )
        )
        denom = F.greatest(total, F.lit(1))
        return F.struct(
            total.alias("n"),
            F.round((total - distinct) / denom, 4).alias("dupf"),
            F.round(F.coalesce(top, F.lit(0)) / denom, 4).alias("topf"),
        )

    m = let(word_grams(F.col(text_col), n), metrics)
    return df.select("*", m.alias("_m")).select(
        *df.columns,
        F.col("_m.n").alias("n_grams"),
        F.col("_m.dupf").alias("dup_gram_frac"),
        F.col("_m.topf").alias("top_gram_frac"),
    )


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality metrics: token count, average token length,
    stopword ratio, punctuation ratio, and a composite quality score in
    [0, 1] (heuristic: enough tokens, prose-like stopword density, low
    punctuation noise)."""
    c = F.col(text_col)
    toks = tokens(c)
    n_tokens = token_count(c)
    n_chars = F.length(c)
    sw = _stopword_hits(toks, LANG_STOPWORDS["en"])
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    stopword_ratio = F.round(sw / F.greatest(n_tokens, F.lit(1)), 4)
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4)
    avg_token_len = F.round(
        F.length(F.regexp_replace(normalize_text(c), " ", "")) / F.greatest(n_tokens, F.lit(1)),
        4,
    )
    quality = F.round(
        F.least(n_tokens / F.lit(20.0), F.lit(1.0)) * 0.4
        + F.least(stopword_ratio * 5, F.lit(1.0)) * 0.4
        + (1 - F.least(punct_ratio * 10, F.lit(1.0))) * 0.2,
        4,
    )
    return df.select(
        "*",
        n_chars.alias("stat_n_chars"),
        n_tokens.alias("n_tokens"),
        avg_token_len.alias("avg_token_len"),
        stopword_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        quality.alias("quality_score"),
    )


# ---------------------------------------------------------------------------
# Learned-style quality scoring: hashed-n-gram linear classifier
# ---------------------------------------------------------------------------

#: feature-hash dimensionality of the linear scorer (small on purpose —
#: the weights ride the plan as ONE literal array; a production model
#: would broadcast a weight table instead, same plan shape)
QUALITY_DIM = 128


def quality_weights(dim: int = QUALITY_DIM, seed: int = 7) -> list[float]:
    """Deterministic stand-in weight vector for the linear scorer (a
    trained fastText-style model would supply these; public pipelines
    like CCNet/fastText score docs exactly this way: hashed n-gram
    features -> linear model -> sigmoid). Seeded and rounded so the
    DuckDB oracle folds the SAME literals."""
    import random

    rng = random.Random(seed)
    return [round(rng.uniform(-1.0, 1.0), 6) for _ in range(dim)]


def classifier_score(col: Column, *, dim: int = QUALITY_DIM, seed: int = 7) -> Column:
    """Linear quality score of a text column in [0, 1]:
    word unigrams + bigrams -> md5-bucket into ``dim`` -> mean of the
    bucket weights -> sigmoid, rounded to 4dp.

    Executes entirely JVM-side: the grams build with split/transform,
    the weight lookup is ``element_at`` on a literal array (constant-
    folded), and the fold is a sequential ``aggregate`` — same
    evaluation ORDER as the DuckDB twin's list fold, so the float sums
    agree bit-for-bit before rounding. md5 bucketing (not xxhash64)
    keeps the hash DuckDB-replayable, like ``hashing.MD5``."""
    weights = F.array(*[F.lit(w) for w in quality_weights(dim, seed)])
    toks = tokens(col)
    grams = F.concat(toks, word_grams(col, 2))
    w_of = lambda g: F.element_at(weights, (md5_hash64(g) % dim + 1).cast("int"))  # noqa: E731
    total = F.aggregate(grams, F.lit(0.0), lambda acc, g: acc + w_of(g))
    n = F.greatest(F.size(grams), F.lit(1))
    mean = total / n
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-mean)), 4)


#: the Gopher document-quality rule set (public: "Scaling Language
#: Models: Methods, Analysis & Insights from Training Gopher", Rae et
#: al. 2021, Appendix A1.1) — thresholds as published
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Gopher quality-filter signals, one JVM-side scan —
    the published heuristic recipe a pretraining pipeline runs before
    any learned scorer:

    - ``n_words`` in [50, 100_000];
    - ``mean_word_len`` in [3, 10];
    - ``symbol_word_ratio`` (# and ellipsis occurrences per word) <= 0.1;
    - ``bullet_line_frac`` (lines starting with a bullet) <= 0.9;
    - ``ellipsis_line_frac`` (lines ending with an ellipsis) <= 0.3;
    - ``alpha_word_frac`` (words containing a letter) >= 0.8;
    - ``n_stopwords`` (distinct hits from the 8-word list) >= 2.

    Emits every signal (rounded 4dp where fractional) plus ``passes``
    so a caller can threshold differently; fractions derive from
    integer pairs, so the DuckDB oracle reproduces them bit-for-bit.
    """
    raw = F.col(text_col)
    words = tokens(raw)
    n_words = token_count(raw)
    lines = F.filter(F.split(raw, "\n"), lambda s: F.trim(s) != "")
    n_lines = F.size(lines)
    n_bullet = F.size(
        F.filter(lines, lambda s: F.regexp_like(F.ltrim(s), F.lit(r"^[-*•]")))
    )
    n_ellipsis = F.size(
        F.filter(lines, lambda s: F.regexp_like(F.rtrim(s), F.lit(r"(\.\.\.|…)$")))
    )
    # symbol OCCURRENCES, not characters: '#' by removed-char count
    # (1 char each), ellipses by regexp_extract_all ('...' is 3 chars)
    n_hash = F.length(raw) - F.length(F.regexp_replace(raw, r"#", ""))
    n_ell_occ = F.size(F.regexp_extract_all(raw, F.lit(r"\.\.\.|…"), 0))
    n_alpha_words = F.size(F.filter(words, lambda t: F.regexp_like(t, F.lit("[a-z]"))))
    n_stop = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains(words, s),
        )
    )
    frac = lambda num, den: F.when(den > 0, F.round(num / den, 4)).otherwise(F.lit(0.0))  # noqa: E731
    out = df.select(
        "*",
        n_words.alias("n_words"),
        frac(
            F.aggregate(words, F.lit(0), lambda acc, t: acc + F.length(t)), n_words
        ).alias("mean_word_len"),
        frac(n_hash + n_ell_occ, n_words).alias("symbol_word_ratio"),
        frac(n_bullet, n_lines).alias("bullet_line_frac"),
        frac(n_ellipsis, n_lines).alias("ellipsis_line_frac"),
        frac(n_alpha_words, n_words).alias("alpha_word_frac"),
        n_stop.alias("n_stopwords"),
    )
    passes = (
        F.col("n_words").between(50, 100_000)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.col("symbol_word_ratio") <= 0.1)
        & (F.col("bullet_line_frac") <= 0.9)
        & (F.col("ellipsis_line_frac") <= 0.3)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("n_stopwords") >= 2)
    )
    return out.withColumn("passes", passes)


def weighted_sample_key(id_col: Column, weight_col: Column, *, seed: int = 7) -> Column:
    """Efraimidis–Spirakis (2006) weighted-reservoir priority key: the
    top-k rows by ``u^(1/w)`` — equivalently ``ln(u)/w``, the monotone
    form used here — are a weighted random sample WITHOUT replacement.
    ``u`` derives deterministically from the seeded ``md5_hash64`` of the
    id as an exact rational in (0, 1), so the sample is reproducible,
    coordination-free across executors, and DuckDB-replayable. Callers
    order DESC with an id tiebreak and must not emit the key itself
    (ln differs across libms by an ulp; selection survives, the raw key
    would not hash-match)."""
    p = 1_000_000_007
    h = md5_hash64(F.concat(F.lit(str(seed)), F.lit("|"), id_col.cast("string")))
    u = (F.pmod(h, F.lit(p)) + 1) / F.lit(float(p + 1))
    return F.log(u) / weight_col.cast("double")


# -- encoding repair (r11 beyond-parity surface) ------------------------
#
# Web-crawl text routinely arrives double-decoded (UTF-8 bytes read as
# Latin-1/cp1252 -> "Ã©cole", "â€™") and sprinkled with stray C0 control
# bytes. Dolma/OSCAR-style cleaning repairs the common sequences and
# strips the control characters BEFORE any hashing or quality scoring,
# otherwise duplicates with different corruption fingerprints never
# merge. This is a finite replacement table for the high-frequency
# cp1252 mojibake, not a general transcoder — the documented trade for
# a pure JVM-side replace chain the DuckDB oracle replays verbatim.

#: mojibake -> intended text, in REPLACE ORDER: three-byte 'â€¢'-family
#: sequences first (they share the 'â€' prefix with the two-char pairs),
#: then the two-char 'Ã?' pairs, then lone NBSP artifacts. Order is part
#: of the contract and is shared with the SQL twin.
MOJIBAKE_PAIRS: tuple[tuple[str, str], ...] = (
    ("â€™", "'"),
    ("â€˜", "'"),
    ("â€œ", '"'),
    ("â€\x9d", '"'),
    ("â€“", "-"),
    ("â€”", "-"),
    ("â€¦", "..."),
    ("â€¢", "*"),
    ("Ã©", "é"),
    ("Ã¨", "è"),
    ("Ã¤", "ä"),
    ("Ã¶", "ö"),
    ("Ã¼", "ü"),
    ("Ã±", "ñ"),
    ("Ã§", "ç"),
    # the true cp1252 artifact for 'à' is Ã + NBSP (UTF-8 0xC3 0xA0 read
    # as cp1252); the Ã + space form appears after downstream
    # NBSP->space folding — repair both, NBSP form first
    ("Ã\xa0", "à"),
    ("Ã ", "à"),
    ("Â\xa0", " "),
    ("Â ", " "),
)

#: C0 controls (minus tab/newline/CR, normalized separately) + DEL +
#: the C1 range U+0080-U+009F — exactly where latin1-misdecoded crawl
#: bytes land, so C1-polluted duplicate variants fingerprint together.
#: Stripping runs AFTER the mojibake replace chain, so multi-byte pairs
#: containing C1 code points (the 'â€\\x9d' curly quote) match first.
CONTROL_CHAR_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]"


def fix_mojibake(col: Column) -> Column:
    """Apply :data:`MOJIBAKE_PAIRS` in order (plain ``replace``, no
    regex — the sequences are literal)."""
    for bad, good in MOJIBAKE_PAIRS:
        col = F.replace(col, F.lit(bad), F.lit(good))
    return col


def fix_encoding(col: Column) -> Column:
    """Mojibake repair + control-character stripping + whitespace
    collapse (case is PRESERVED — this runs before, not instead of,
    :func:`normalize_text`)."""
    repaired = fix_mojibake(col)
    no_ctrl = F.regexp_replace(repaired, CONTROL_CHAR_RE, " ")
    return F.trim(F.regexp_replace(no_ctrl, _WS, " "))
