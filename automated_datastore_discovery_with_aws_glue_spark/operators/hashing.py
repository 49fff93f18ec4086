"""The hash family of the sketch and near-duplicate operators.

Every operator that hashes shingles, keys or signatures takes one
``hash_fn`` argument, a member of this module's family, and has one
code path; the member supplies the expressions where the hashes differ.
``XXH`` (every default) is the production family: ``xxhash64``
throughout. ``MD5`` hashes string shingles and string keys with
``text.md5_hash64`` (60 bits); DuckDB has the same functions and no
``xxhash64``, so the differential oracle replays an ``MD5`` run bit for
bit. :func:`checked` rejects anything else, so a misspelt choice never
falls back to the other family.

``operators.text`` imports this module (winnowing takes a family), so
the text helpers used here are imported at call time.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-grams of the normalized text (whole text as a
    single shingle when shorter than n words). The word array is
    let-bound so the split runs once per row, not once per gram."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.text import let, normalize_text

    def body(words: Column) -> Column:
        k = F.size(words)
        grams = F.transform(
            F.sequence(F.lit(1), k - n + 1),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        )
        return F.when(k >= n, grams).otherwise(F.array(F.concat_ws(" ", words)))

    return F.array_distinct(let(F.split(normalize_text(col), " "), body))


def hashed_shingles(col: Column, n: int = 3) -> Column:
    """Sorted distinct 64-bit hashes of the word n-grams — computed
    numerically: hash each word once, then hash each n-window of word
    hashes (``xxhash64(h_i, h_{i+1}, h_{i+2})``). No shingle string is
    ever materialized, and distinct/sort run over fixed-width longs
    instead of variable-length strings. Set cardinalities (and therefore
    Jaccard) match the string formulation modulo 64-bit collisions.

    The word-hash array is let-bound: a plain Column reference inside the
    gram lambda would re-execute the whole split+hash tree for every
    ``element_at`` — O(L^2) work per document instead of O(L)."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.text import let, normalize_text

    def body(wh: Column) -> Column:
        k = F.size(wh)
        grams = F.transform(
            F.sequence(F.lit(1), k - n + 1),
            lambda i: F.xxhash64(*[F.element_at(wh, i + j) for j in range(n)]),
        )
        return F.when(k >= n, grams).otherwise(F.array(F.xxhash64(wh)))

    wh_expr = F.transform(F.split(normalize_text(col), " "), lambda w: F.xxhash64(w))
    return F.sort_array(F.array_distinct(let(wh_expr, body)))


def _xxh_key(*cols: Column, sep: str = "|") -> Column:
    return F.xxhash64(*cols)


def _md5_key(*cols: Column, sep: str = "|") -> Column:
    from automated_datastore_discovery_with_aws_glue_spark.operators.text import md5_hash64

    parts = [cols[0].cast("string")]
    for c in cols[1:]:
        parts += [F.lit(sep), c.cast("string")]
    return md5_hash64(F.concat(*parts))


@dataclass(frozen=True, eq=False)
class HashFamily:
    """One hash family. Each field is the family's expression for one
    place where the operators hash:

    - ``shingles(text, n)``: the distinct word n-gram set a MinHash
      signature and an exact Jaccard are computed over;
    - ``key_hash(*cols, sep=)``: a BIGINT hash of one or more values —
      the i-th MinHash permutation ``key_hash(shingle, i, sep='#')``, a
      count-min cell, a SimHash token, a quantizer seed; ``MD5`` hashes
      the values' strings joined by ``sep``, ``XXH`` ignores ``sep``;
    - ``gram_keys(shingles)``: the shingle set as BIGINT keys (``XXH``
      shingles already are hashes);
    - ``band_key(slice)``: the LSH bucket key of a signature band;
    - ``digest(col)``: the winnowing fingerprint of a character gram;
    - ``simhash_width``: the number of SimHash sketch bits the token
      hash fills."""

    name: str
    shingles: Callable[[Column, int], Column]
    key_hash: Callable[..., Column]
    gram_keys: Callable[[Column], Column]
    band_key: Callable[[Column], Column]
    digest: Callable[[Column], Column]
    simhash_width: int

    def __repr__(self) -> str:
        return self.name


XXH = HashFamily(
    name="XXH",
    shingles=hashed_shingles,
    key_hash=_xxh_key,
    gram_keys=lambda sh: sh,
    band_key=F.xxhash64,
    digest=F.xxhash64,
    simhash_width=64,
)

MD5 = HashFamily(
    name="MD5",
    shingles=word_shingles,
    key_hash=_md5_key,
    gram_keys=lambda sh: F.transform(sh, lambda g: _md5_key(g)),
    band_key=lambda band: band,
    digest=F.md5,
    simhash_width=60,
)


def checked(hash_fn: object) -> HashFamily:
    """``hash_fn`` when it is ``XXH`` or ``MD5``; anything else (a
    string such as ``'md5'``, ``None``) raises ``ValueError``."""
    if hash_fn is XXH or hash_fn is MD5:
        return hash_fn
    raise ValueError(f"hash_fn must be hashing.XXH or hashing.MD5, got {hash_fn!r}")
