"""Cross-table fuzzy-join semantics (`operators/fuzzy.py`) — the sf0.01
oracle run pins the ``MD5`` hash family end-to-end; these exercise the
``XXH`` PRODUCTION family and the operator contract (cross-table topology, exact
verification, hot-bucket valve)."""

from __future__ import annotations

import pytest

from automated_datastore_discovery_with_aws_glue_spark.operators.fuzzy import fuzzy_join


def _frames(spark):
    left = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated text about database systems design"),
            (3, "alpha beta gamma delta epsilon zeta eta theta iota"),
        ],
        "lid long, ltext string",
    )
    right = spark.createDataFrame(
        [
            # near-copy of 1 (one word changed)
            (10, "the quick brown fox leaps over the lazy dog tonight"),
            # near-copy of 3 (one word dropped)
            (30, "alpha beta gamma delta epsilon zeta eta theta"),
            # matches nothing
            (99, "zulu yankee xray whiskey victor uniform tango sierra"),
        ],
        "rid long, rtext string",
    )
    return left, right


def test_fuzzy_join_xxhash_finds_cross_table_near_matches(spark):
    left, right = _frames(spark)
    out = {
        (r["id_l"], r["id_r"]): r["jaccard"]
        for r in fuzzy_join(
            left, right,
            left_id="lid", right_id="rid",
            left_text="ltext", right_text="rtext",
            threshold=0.4,
        ).collect()
    }
    assert set(out) == {(1, 10), (3, 30)}
    assert all(0.4 <= j <= 1.0 for j in out.values())


def test_fuzzy_join_exact_verification_rejects_bucket_coincidences(spark):
    """threshold=1.0 keeps only EXACT shingle-set equality — the near
    matches fall out even though they share LSH buckets."""
    left, right = _frames(spark)
    exact_right = right.union(
        spark.createDataFrame(
            [(11, "the quick brown fox jumps over the lazy dog tonight")],
            "rid long, rtext string",
        )
    )
    out = fuzzy_join(
        left, exact_right,
        left_id="lid", right_id="rid",
        left_text="ltext", right_text="rtext",
        threshold=1.0,
    ).collect()
    assert {(r["id_l"], r["id_r"], r["jaccard"]) for r in out} == {(1, 11, 1.0)}


def test_fuzzy_join_hot_bucket_valve_drops_degenerate_buckets(spark):
    """20 identical left rows x 20 identical right rows would be a
    400-pair bucket; max_bucket=5 drops the group on both sides (the
    accounted valve), so NO pairs emerge from the degenerate text."""
    boiler = "terms and conditions apply see website for details"
    left = spark.createDataFrame(
        [(i, boiler) for i in range(20)] + [(100, "alpha beta gamma delta epsilon")],
        "lid long, ltext string",
    )
    right = spark.createDataFrame(
        [(1000 + i, boiler) for i in range(20)]
        + [(2000, "alpha beta gamma delta epsilon")],
        "rid long, rtext string",
    )
    out = fuzzy_join(
        left, right,
        left_id="lid", right_id="rid",
        left_text="ltext", right_text="rtext",
        threshold=0.5, max_bucket=5,
    ).collect()
    assert {(r["id_l"], r["id_r"]) for r in out} == {(100, 2000)}


def test_fuzzy_join_rejects_unknown_hash_fn(spark):
    left, right = _frames(spark)
    with pytest.raises(ValueError):
        fuzzy_join(
            left, right,
            left_id="lid", right_id="rid",
            left_text="ltext", right_text="rtext",
            hash_fn="sha1",
        )
