"""The hash family is chosen by a member of ``operators/hashing.py``;
every operator that takes ``hash_fn`` rejects anything else."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from automated_datastore_discovery_with_aws_glue_spark.operators import dedup as D
from automated_datastore_discovery_with_aws_glue_spark.operators import sketch as SK
from automated_datastore_discovery_with_aws_glue_spark.operators import similarity as S
from automated_datastore_discovery_with_aws_glue_spark.operators.text import winnow_fingerprints

#: former string spellings and near-misses of the two families
NOT_MEMBERS = ("md5", "MD5", "md5 ", "xxh", "xxhash64", None)


def _docs(spark):
    return spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], ["doc_id", "text"])


def _emb(spark):
    return spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], ["vec_id", "embedding"])


def _ivf(spark, tmp_path, h):
    from automated_datastore_discovery_with_aws_glue_spark.operators.ann import IvfVectorIndex

    return IvfVectorIndex(spark, str(tmp_path / "ix"), n_cells=2, hash_fn=h)


def _cms_sink(spark, tmp_path, h):
    from automated_datastore_discovery_with_aws_glue_spark.state.store import ParquetStateStore
    from automated_datastore_discovery_with_aws_glue_spark.streaming.classify import make_cms_sink

    return make_cms_sink(ParquetStateStore(spark, str(tmp_path / "st")), "freq", "v", hash_fn=h)


def _fuzzy(spark, h):
    from automated_datastore_discovery_with_aws_glue_spark.operators.fuzzy import fuzzy_join

    d = _docs(spark)
    return fuzzy_join(
        d, d, left_id="doc_id", right_id="doc_id", left_text="text", right_text="text", hash_fn=h
    )


OPERATORS = {
    "minhash_signatures": lambda s, t, h: D.minhash_signatures(_docs(s), "doc_id", "text", hash_fn=h),
    "minhash_lsh_pairs": lambda s, t, h: D.minhash_lsh_pairs(_docs(s), "doc_id", "text", hash_fn=h),
    "simhash64": lambda s, t, h: D.simhash64(_docs(s), "doc_id", "text", hash_fn=h),
    "decontaminate": lambda s, t, h: D.decontaminate(
        _docs(s), _docs(s), "doc_id", "text", n=3, hash_fn=h
    ),
    "decontaminate_bloom": lambda s, t, h: D.decontaminate_bloom(
        _docs(s), _docs(s), "doc_id", "text", n=3, hash_fn=h
    ),
    "contamination_scores": lambda s, t, h: D.contamination_scores(
        _docs(s), _docs(s), "doc_id", "text", n=3, hash_fn=h
    ),
    "fuzzy_join": lambda s, t, h: _fuzzy(s, h),
    "cms_build": lambda s, t, h: SK.cms_build(_docs(s), "text", hash_fn=h),
    "cms_query": lambda s, t, h: SK.cms_query(
        SK.cms_build(_docs(s), "text"), _docs(s), "text", hash_fn=h
    ),
    "make_cms_sink": _cms_sink,
    "quantized_training_base": lambda s, t, h: S.quantized_training_base(
        _emb(s), "embedding", hash_fn=h
    ),
    "kmeans_centroids_int": lambda s, t, h: S.kmeans_centroids_int(
        _emb(s), "embedding", n_cells=2, hash_fn=h
    ),
    "pq_codebooks_int": lambda s, t, h: S.pq_codebooks_int(
        _emb(s), "embedding", m=1, k=2, hash_fn=h
    ),
    "IvfVectorIndex": _ivf,
    "winnow_fingerprints": lambda s, t, h: winnow_fingerprints(F.col("text"), hash_fn=h),
}


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_operator_rejects_a_hash_fn_that_is_not_a_family_member(spark, tmp_path, name):
    """A misspelt or retired hash choice is an error, never a silent
    run of the other family."""
    for bad in NOT_MEMBERS:
        with pytest.raises(ValueError, match="hash_fn"):
            OPERATORS[name](spark, tmp_path, bad)
