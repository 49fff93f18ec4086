"""Cross-table fuzzy (similarity) join via banded MinHash LSH.

The dedup family (`operators/dedup.py`) finds near-duplicate pairs
WITHIN one corpus; record linkage needs the two-table form — match a
dirty feed against a clean master by text similarity, never by exact
key. Same public construction (Broder MinHash + banding, Leskovec et
al., "Mining of Massive Datasets" ch. 3), different join topology:

- each side independently computes shingles -> signature -> band
  buckets (all map-side, no shuffle);
- candidates = ONE equi-join of left buckets against right buckets on
  ``(band, bucket)`` — linear shuffle in the bucket frames, never
  |L| x |R|;
- exact shingle Jaccard verifies candidates only, against the
  persisted shingle frames.

Hashing: ``hash_fn`` is a family member (``operators/hashing.py``).
``XXH`` (default) is the production family — numeric shingle hashes,
``xxhash64(h, i)`` permutations, ``xxhash64`` band keys. ``MD5`` runs
the same pipeline on string shingles with md5 permutation hashes, so a
DuckDB oracle replays signatures, candidates and verification bit for
bit.

Hot buckets (boilerplate collapsing both sides into one bucket) go
through the same accounted valve as the dedup family: groups larger
than ``max_bucket`` on EITHER side are dropped from candidate
generation (logged, never silent) — at 100 TB this is what keeps the
bucket join from turning quadratic on degenerate text.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from automated_datastore_discovery_with_aws_glue_spark.operators.cache import adopt
from automated_datastore_discovery_with_aws_glue_spark.operators.dedup import (
    _banded,
    _shingle_frame,
    _verified,
)
from automated_datastore_discovery_with_aws_glue_spark.operators.hashing import (
    XXH,
    HashFamily,
    checked,
)
from automated_datastore_discovery_with_aws_glue_spark.operators.hot import (
    split_hot_buckets,
)


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_id: str,
    right_id: str,
    left_text: str,
    right_text: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    hash_fn: HashFamily = XXH,
) -> DataFrame:
    """Similarity join: ``(id_l, id_r, jaccard)`` for every cross-table
    pair with shingle Jaccard >= ``threshold`` that shares at least one
    LSH band bucket (the S-curve recall caveat of every LSH family —
    near-threshold pairs are probabilistic, as in
    ``dedup.minhash_lsh_pairs``).

    Jaccard is thresholded by integer cross-multiplication
    (``inter * 10000 >= t * union``) — boundary pairs are engine-stable."""
    hash_fn = checked(hash_fn)
    base_l = _shingle_frame(left, left_id, left_text, n, hash_fn).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    base_r = _shingle_frame(right, right_id, right_text, n, hash_fn).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    banded_l = _banded(base_l, num_hashes, bands, hash_fn)
    banded_r = _banded(base_r, num_hashes, bands, hash_fn)
    cached = [base_l, base_r]
    if max_bucket is not None:
        banded_l, _hot_l, _st_l, sizes_l = split_hot_buckets(
            banded_l, ("band", "bucket"), max_bucket, label="fuzzy_join.left",
            policy="drop",
        )
        banded_r, _hot_r, _st_r, sizes_r = split_hot_buckets(
            banded_r, ("band", "bucket"), max_bucket, label="fuzzy_join.right",
            policy="drop",
        )
        cached += [sizes_l, sizes_r]

    cand = (
        banded_l.select(F.col("id").alias("id_l"), "band", "bucket")
        .join(
            banded_r.select(F.col("id").alias("id_r"), "band", "bucket"),
            ["band", "bucket"],
        )
        .select("id_l", "id_r")
        .distinct()
    )
    result = _verified(cand, base_l, base_r, threshold, sides=("l", "r"))
    return adopt(result, *cached)
