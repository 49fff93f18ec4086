"""Profiling-plan shape tests (plans/profiling.py).

prof_histogram's r4 nit: the min/max bounds probe used to run an eager
``.first()`` Spark job at plan-BUILD time (a second scan per call). Now
the default path folds the bounds aggregate into the same lazy plan
(broadcast 1-row join), and callers holding bounds (e.g. from
prof_column_stats) get a single-scan plan.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from automated_datastore_discovery_with_aws_glue_spark.operators.hashing import MD5
from automated_datastore_discovery_with_aws_glue_spark.plans.profiling import prof_histogram
from automated_datastore_discovery_with_aws_glue_spark.sources.readers import load_table

from tests.conftest import SF_DIR


def _n_scans(df) -> int:
    # formatted mode prints each node twice (tree + detail) — count the
    # numbered detail headers only
    import re

    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    return len(re.findall(r"\(\d+\) Scan parquet", plan))




def test_histogram_with_bounds_is_single_scan(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    lo, hi = li.agg(
        F.min(F.col("l_extendedprice").cast("double")),
        F.max(F.col("l_extendedprice").cast("double")),
    ).first()
    df = prof_histogram(spark, SF_DIR, bounds=(lo, hi))
    assert _n_scans(df) == 1


def test_histogram_default_is_lazy_and_matches_bounds_path(spark, monkeypatch):
    # plan construction must trigger NO eager action (r4: an eager
    # .first() bounds probe ran a second scan per call)
    from pyspark.sql import DataFrame as SDF

    def boom(self, *a, **k):
        raise AssertionError("eager action during histogram plan build")

    with monkeypatch.context() as m:
        for action in ("first", "collect", "count", "head", "take"):
            m.setattr(SDF, action, boom)
        df = prof_histogram(spark, SF_DIR)
    li = load_table(spark, SF_DIR, "lineitem")
    lo, hi = li.agg(
        F.min(F.col("l_extendedprice").cast("double")),
        F.max(F.col("l_extendedprice").cast("double")),
    ).first()
    got = [tuple(r) for r in df.collect()]
    want = [tuple(r) for r in prof_histogram(spark, SF_DIR, bounds=(lo, hi)).collect()]
    assert got == want
    assert sum(r[2] for r in got) == li.count()


def test_cms_one_sided_error_and_merge(spark):
    """Count-min sketch invariants: estimates are NEVER below the true
    count (one-sided), a narrow sketch over-counts (collisions are
    real), and two sketches over disjoint halves MERGE into exactly the
    whole-data sketch — the property that makes it a per-partition /
    per-day rollup."""
    import pyspark.sql.functions as F

    from automated_datastore_discovery_with_aws_glue_spark.operators.sketch import (
        cms_build,
        cms_merge,
        cms_query,
    )

    rows = [(f"k{i % 50}",) for i in range(2000)] + [("hot",)] * 500
    df = spark.createDataFrame(rows, ["v"]).withColumn("idx", F.monotonically_increasing_id())
    kw = dict(depth=4, width=16, hash_fn=MD5)  # narrow: forced collisions

    sketch = cms_build(df, "v", **kw)
    exact = {r["v"]: r["n"] for r in df.groupBy("v").agg(F.count("*").alias("n")).collect()}
    est = {
        r["v"]: r["est_n"]
        for r in cms_query(sketch, df.select("v").distinct(), **kw).collect()
    }
    assert set(est) == set(exact)
    assert all(est[v] >= exact[v] for v in exact), "CMS must never under-count"
    assert any(est[v] > exact[v] for v in exact), "width 16 over 51 keys must collide"
    # the hot key's estimate is still dominated by its own mass
    assert est["hot"] >= 500

    # merge(two halves) == sketch(whole), cell for cell
    a = cms_build(df.filter("idx % 2 = 0"), "v", **kw)
    b = cms_build(df.filter("idx % 2 = 1"), "v", **kw)
    merged = {
        (r["row"], r["bucket"]): r["cnt"] for r in cms_merge(a, b).collect()
    }
    whole = {(r["row"], r["bucket"]): r["cnt"] for r in sketch.collect()}
    assert merged == whole


def test_prof_correlation_semantics(spark, tmp_path):
    """Pearson pins: corr(x, x-affine) = +-1, independent-ish columns
    land near 0, and the fused-scan query's math matches numpy on the
    same integer-cent quantization."""
    import numpy as np

    from automated_datastore_discovery_with_aws_glue_spark.plans.profiling import prof_correlation

    rng = np.random.RandomState(3)
    q = rng.randint(1, 50, 400).astype(float)
    price = q * 3.0 + 7.0          # corr +1 with quantity
    disc = np.round(rng.uniform(0, 0.1, 400), 2)
    tax = -2.0 * disc + 0.5        # corr -1 with discount
    df = spark.createDataFrame(
        [(float(a), float(b), float(c), float(d)) for a, b, c, d in zip(q, price, disc, tax)],
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double",
    )
    root = str(tmp_path)
    df.write.parquet(f"{root}/lineitem.parquet")
    got = {
        (r["col_x"], r["col_y"]): r["pearson"]
        for r in prof_correlation(spark, root).collect()
    }
    assert got[("l_quantity", "l_extendedprice")] == 1.0
    assert got[("l_discount", "l_tax")] == -1.0
    # numpy replay on the same cent quantization, 4dp
    qc, dc = np.round(q * 100), np.round(disc * 100)
    want = round(float(np.corrcoef(qc, dc)[0, 1]), 4)
    assert abs(got[("l_quantity", "l_discount")] - want) < 2e-4


def test_prof_correlation_zero_variance_yields_null(spark, tmp_path):
    """r10 (ADVICE r9): a constant column makes n*ss - s^2 = 0; the
    guarded ratio returns NULL (both engines), never NaN."""
    from automated_datastore_discovery_with_aws_glue_spark.plans.profiling import prof_correlation

    rows = [(float(i % 7 + 1), 5.0, 0.01 * (i % 4), 0.02) for i in range(50)]
    df = spark.createDataFrame(
        rows,
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double",
    )
    df.write.parquet(f"{tmp_path}/lineitem.parquet")
    got = {
        (r["col_x"], r["col_y"]): r["pearson"]
        for r in prof_correlation(spark, str(tmp_path)).collect()
    }
    # every pair touching a constant column is NULL; the live pair isn't
    for (a, b), v in got.items():
        if "l_extendedprice" in (a, b) or "l_tax" in (a, b):
            assert v is None, (a, b, v)
    assert got[("l_quantity", "l_discount")] is not None
