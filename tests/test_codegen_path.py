"""The production execution path — whole-stage codegen with the default
expression factory mode — against the interpreted test session, for the
generated expressions that embed literal vectors and matrices in
higher-order folds: the single-string cosine score, IVF top-k (exact and
ADC lookup table) and the stored-quantizer assignment."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from automated_datastore_discovery_with_aws_glue_spark.operators.ann import IvfVectorIndex
from automated_datastore_discovery_with_aws_glue_spark.operators.similarity import (
    as_double,
    brute_force_topk,
    cosine,
    cosine_lit_sql,
    kmeans_cell_expr,
    lit_vec,
    quantize_unit_micro,
    sq_norm_expr,
)


@pytest.fixture(scope="module")
def case(spark, tmp_path_factory):
    """(run, interpreted results): ``run()`` evaluates every expression
    under test on the session's current execution mode; the results are
    taken once here, before any test switches codegen on."""
    rng = np.random.RandomState(17)
    rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(240)]
    rows += [(240, [0.0] * 16), (241, rows[3][1])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ix = IvfVectorIndex(
        spark, str(tmp_path_factory.mktemp("codegen") / "ix"), n_cells=4, iterations=2, pq_m=4, pq_k=8
    )
    ix.build(df)
    queries = [rows[3][1], [float(x) for x in rng.standard_normal(16)]]
    nonzero = df.filter(F.col("vec_id") != 240)

    def run():
        out = {"mode": spark.conf.get("spark.sql.codegen.wholeStage")}
        for i, q in enumerate(queries):
            out[f"exact{i}"] = [tuple(r) for r in ix.topk(q, 8, n_probe=2).collect()]
            out[f"adc{i}"] = [tuple(r) for r in ix.topk(q, 8, n_probe=2, mode="adc").collect()]
            out[f"brute{i}"] = [tuple(r) for r in brute_force_topk(nonzero, "embedding", q, 8).collect()]
            score, _norm = cosine_lit_sql("embedding", q)
            out[f"score{i}"] = sorted(
                tuple(r)
                for r in nonzero.select(
                    "vec_id",
                    F.expr(score).alias("s"),
                    cosine(as_double(F.col("embedding")), lit_vec(q)).alias("c"),
                ).collect()
            )
        cents = ix.centroids_int()
        out["assign"] = sorted(
            tuple(r["_codes"] or ()) + (r["vec_id"], r["_cell"], r["_dotq"])
            for r in ix._assigned(df, cents, batch_id=0, books=ix.codebooks_int()).collect()
        )
        out["cell"] = sorted(
            tuple(r)
            for r in nonzero.withColumn("_nrm", sq_norm_expr("embedding"))
            .withColumn("_qv", quantize_unit_micro("embedding", "_nrm"))
            .select("vec_id", kmeans_cell_expr("_qv", cents).alias("cell"))
            .collect()
        )
        return out

    return ix, queries, run, run()


def test_codegen_path_matches_interpreted(case, codegen):
    ix, queries, run, want = case
    assert want["mode"] == "false"
    assert codegen.conf.get("spark.sql.codegen.factoryMode") == "FALLBACK"
    top = ix.topk(queries[1], 8, n_probe=2, mode="adc")
    top.collect()  # the adaptive plan is final (stages compiled) once run
    plan = top._sc._jvm.PythonSQLUtils.explainString(top._jdf.queryExecution(), "formatted")
    assert "[codegen id :" in plan, plan

    got = run()
    assert got["mode"] == "true"
    for key in want:
        if key != "mode":
            assert got[key] == want[key], key
    # the one-string score is bit-identical to the Column-tree cosine
    for i in range(len(queries)):
        assert all(s == c for _id, s, c in got[f"score{i}"])
    assert got["exact0"][:2] == [(3, 1.0), (241, 1.0)]


def test_codegen_fixture_restores_the_interpreted_session(spark):
    assert spark.conf.get("spark.sql.codegen.wholeStage") == "false"
    assert spark.conf.get("spark.sql.codegen.factoryMode") == "NO_CODEGEN"
