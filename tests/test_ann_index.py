"""Incremental IVF vector index (`operators/ann.py`): build-vs-ingest
assignment parity, O(batch) append through the versioned store,
partition-pruned probes, replay guard, and the immutable-layout meta."""

from __future__ import annotations

import re

import numpy as np
import pyspark.sql.functions as F
import pytest

from automated_datastore_discovery_with_aws_glue_spark.operators.ann import IvfVectorIndex
from automated_datastore_discovery_with_aws_glue_spark.operators.similarity import brute_force_topk


def _corpus(spark, n=120, dim=8, seed=3):
    rng = np.random.RandomState(seed)
    rows = [(i, [float(x) for x in rng.standard_normal(dim)]) for i in range(n)]
    rows.append((n, [0.0] * dim))  # a zero vector must not poison anything
    return spark.createDataFrame(rows, ["vec_id", "embedding"]), rows


def test_build_then_ingest_equals_one_shot(spark, tmp_path):
    """Splitting the corpus into build + two ingests stores EXACTLY the
    rows a single build-plus-one-ingest stores (same centroids — both
    train on the same build slice — and the stored integer quantizer
    makes assignment deterministic across sessions)."""
    df, _rows = _corpus(spark)
    p1 = df.filter(F.col("vec_id") % 3 == 0)
    p2 = df.filter(F.col("vec_id") % 3 == 1)
    p3 = df.filter(F.col("vec_id") % 3 == 2)

    a = IvfVectorIndex(spark, str(tmp_path / "a"), n_cells=4, iterations=2)
    a.build(p1)
    a.ingest(p2)
    a.ingest(p3)

    b = IvfVectorIndex(spark, str(tmp_path / "b"), n_cells=4, iterations=2)
    b.build(p1)
    b.ingest(p2.unionByName(p3))

    assert a.centroids_int() == b.centroids_int()

    def content(ix):
        return {
            (r["vec_id"], r["_cell"]) for r in ix.vectors().select("vec_id", "_cell").collect()
        }

    assert content(a) == content(b)
    assert len(content(a)) == df.count()

    # a REOPENED handle (fresh object, same root) assigns identically
    a2 = IvfVectorIndex(spark, str(tmp_path / "a"), n_cells=4, iterations=2)
    assert a2.centroids_int() == a.centroids_int()


def test_ingest_is_o_batch_and_replay_guarded(spark, tmp_path):
    """Each ingest writes only the batch through Spark (prior files
    hard-linked by the store), and re-delivering an applied batch_id
    no-ops."""
    df, _rows = _corpus(spark, n=60)
    ix = IvfVectorIndex(spark, str(tmp_path / "ix"), n_cells=4, iterations=1)
    ix.build(df.filter(F.col("vec_id") < 30))
    batch = df.filter((F.col("vec_id") >= 30) & (F.col("vec_id") < 45))
    ix.ingest(batch, batch_id=1)
    n = ix.vectors().count()
    ix.ingest(batch, batch_id=1)  # replay: must not double
    assert ix.vectors().count() == n
    ix.ingest(df.filter(F.col("vec_id") >= 45), batch_id=2)
    assert ix.vectors().count() == df.count()


def test_topk_prunes_partitions_and_tracks_brute_force(spark, tmp_path):
    """The probe plans _cell IN (...) as a PartitionFilter (only probed
    cell directories are listed) and, probing half the cells on a
    spread-out corpus, finds the exact top hit and most of the top-k."""
    df, rows = _corpus(spark, n=200, dim=8)
    ix = IvfVectorIndex(spark, str(tmp_path / "ix"), n_cells=4, iterations=2)
    ix.build(df.filter(F.col("vec_id") < 150))
    ix.ingest(df.filter(F.col("vec_id") >= 150))

    q = rows[7][1]
    top = ix.topk(q, 5, n_probe=2)
    plan = top._sc._jvm.PythonSQLUtils.explainString(
        top._jdf.queryExecution(), "formatted"
    )
    assert re.search(r"PartitionFilters: \[.*_cell#\d+ (IN|INSET)", plan), plan

    got = [r["vec_id"] for r in top.collect()]
    assert got[0] == 7  # self is always in the probed cell
    # brute_force_topk scores every row — feed it the non-zero corpus
    # (cosine of a zero vector is an ANSI divide-by-zero by design)
    exact = {
        r["vec_id"]
        for r in brute_force_topk(
            df.filter(F.col("vec_id") != 200), "embedding", q, 5
        ).collect()
    }
    assert len(exact & set(got)) >= 3

    # the zero vector is stored (assignment total) but never scored
    assert 200 in {r["vec_id"] for r in ix.vectors().select("vec_id").collect()}
    assert 200 not in {r["vec_id"] for r in ix.topk(q, 500, n_probe=4).collect()}


def test_meta_guard_rejects_layout_change(spark, tmp_path):
    df, _rows = _corpus(spark, n=30)
    ix = IvfVectorIndex(spark, str(tmp_path / "ix"), n_cells=4)
    ix.build(df)
    with pytest.raises(ValueError, match="immutable"):
        IvfVectorIndex(spark, str(tmp_path / "ix"), n_cells=8)


def test_build_rejects_unusable_corpus(spark, tmp_path):
    zeros = spark.createDataFrame(
        [(i, [0.0, 0.0]) for i in range(5)], ["vec_id", "embedding"]
    )
    ix = IvfVectorIndex(spark, str(tmp_path / "ix"), n_cells=2)
    with pytest.raises(ValueError, match="non-zero"):
        ix.build(zeros)


def test_ingest_monotonic_contract(spark, tmp_path):
    """r10 (ADVICE r9): replays of APPLIED ids no-op; an UNSEEN id below
    the watermark raises loudly instead of being dropped as a replay."""
    df, _rows = _corpus(spark, n=60)
    ix = IvfVectorIndex(spark, str(tmp_path / "ix"), n_cells=4, iterations=1)
    ix.build(df.filter(F.col("vec_id") < 30))
    ix.ingest(df.filter((F.col("vec_id") >= 30) & (F.col("vec_id") < 40)), batch_id=1)
    ix.ingest(df.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 50)), batch_id=3)
    n = ix.vectors().count()
    ix.ingest(df.limit(5), batch_id=1)  # applied: no-op
    ix.ingest(df.limit(5), batch_id=3)  # applied: no-op
    assert ix.vectors().count() == n
    with pytest.raises(ValueError, match="monotonic"):
        ix.ingest(df.limit(5), batch_id=2)  # unseen below watermark: loud


def test_ingest_auto_id_two_writer_race_is_cas_safe(spark, tmp_path):
    """r10 (VERDICT r9 item 3): two concurrent auto-id ingests derive
    their ids from CAS-pinned snapshots — the loser retries on the fresh
    snapshot, so both batches land exactly once under DISTINCT ids."""
    import threading

    df, _rows = _corpus(spark, n=90)
    ix = IvfVectorIndex(spark, str(tmp_path / "ix"), n_cells=4, iterations=1)
    ix.build(df.filter(F.col("vec_id") < 30))
    b1 = df.filter((F.col("vec_id") >= 30) & (F.col("vec_id") < 60))
    b2 = df.filter(F.col("vec_id") >= 60)

    barrier = threading.Barrier(2)
    errs = []

    def run(batch):
        barrier.wait()
        try:
            ix.ingest(batch)  # auto id
        except Exception as e:  # noqa: BLE001 - surfaced below
            errs.append(e)

    ts = [threading.Thread(target=run, args=(b,)) for b in (b1, b2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    rows = ix.vectors().select("vec_id", "batch_id").collect()
    assert len(rows) == df.count()
    assert len({r["vec_id"] for r in rows}) == df.count()
    bids = {r["batch_id"] for r in rows}
    assert bids == {0, 1, 2}  # build + two distinct auto ids


def test_cell_balance_counters_and_rebuild_trigger(spark, tmp_path):
    """r10 (VERDICT r9 item 2): per-cell counters fold per ingest into
    the version metadata (exact integers, no index scan), and a skewed
    ingest stream trips needs_rebuild(); rebuild() resets the fit."""
    df, _rows = _corpus(spark, n=120, dim=8, seed=7)
    ix = IvfVectorIndex(spark, str(tmp_path / "ix"), n_cells=4, iterations=2)
    ix.build(df)

    # counters == ground truth, and they never read the index
    truth = {
        r["_cell"]: r["n"]
        for r in ix.vectors().groupBy("_cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got = {r["cell"]: r["n_vecs"] for r in ix.cell_balance().collect()}
    assert got == truth
    assert sum(r["share_bp"] for r in ix.cell_balance().collect()) <= 10000

    # a drifted stream: every new vector is (nearly) the same direction
    # -> one cell absorbs everything and the monitor trips
    skew = spark.createDataFrame(
        [(1000 + i, [10.0, 0.1 * (i % 3)] + [0.0] * 6) for i in range(400)],
        ["vec_id", "embedding"],
    )
    ix.ingest(skew, batch_id=1)
    assert ix.imbalance() > 2.5
    assert ix.needs_rebuild(threshold=2.5)

    # the documented response: rebuild on the full corpus -> refreshed
    # quantizer, counters rebuilt from the retrained assignment
    ix.rebuild(df.unionByName(skew))
    got2 = {r["cell"]: r["n_vecs"] for r in ix.cell_balance().collect()}
    truth2 = {
        r["_cell"]: r["n"]
        for r in ix.vectors().groupBy("_cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got2 == truth2
    assert not ix.needs_rebuild(threshold=2.5)


def test_rebuild_preserves_applied_watermark(spark, tmp_path):
    """r10: the new corpus already contains every applied batch's rows,
    so a post-rebuild re-delivery of an old batch id must still no-op."""
    df, _rows = _corpus(spark, n=60)
    build_part = df.filter(F.col("vec_id") < 30)
    batch = df.filter(F.col("vec_id") >= 30)
    ix = IvfVectorIndex(spark, str(tmp_path / "ix"), n_cells=4, iterations=1)
    ix.build(build_part)
    ix.ingest(batch, batch_id=1)
    ix.rebuild(df)
    n = ix.vectors().count()
    ix.ingest(batch, batch_id=1)  # replay after rebuild: still a no-op
    assert ix.vectors().count() == n


def test_legacy_version_without_meta_reconciles_by_scan(spark, tmp_path):
    """An r9-era index version (no _TABLE_META) falls back to deriving
    the applied set / counters from the rows once; the next commit
    persists the reconciled metadata."""
    import os

    df, _rows = _corpus(spark, n=60)
    ix = IvfVectorIndex(spark, str(tmp_path / "ix"), n_cells=4, iterations=1)
    ix.build(df.filter(F.col("vec_id") < 30))
    ix.ingest(df.filter((F.col("vec_id") >= 30) & (F.col("vec_id") < 45)), batch_id=1)
    v = ix.store.latest_version("vectors")
    meta_path = os.path.join(ix.store._version_dir("vectors", v), "_TABLE_META")
    os.remove(meta_path)  # simulate a pre-r10 version

    ix2 = IvfVectorIndex(spark, str(tmp_path / "ix"), n_cells=4, iterations=1)
    n = ix2.vectors().count()
    ix2.ingest(df.limit(5), batch_id=1)  # replay detected via the scan
    assert ix2.vectors().count() == n
    ix2.ingest(df.filter(F.col("vec_id") >= 45), batch_id=2)
    assert ix2.vectors().count() == df.count()
    # the new version persisted reconciled metadata
    assert ix2.store.table_meta("vectors")["applied_batch_ids"] == [0, 1, 2]
    assert ix2.cell_balance().count() >= 1


def test_imbalance_uses_trained_cell_count(spark, tmp_path):
    """code-review r10: an index trained on fewer non-zero vectors than
    the configured n_cells is not 'skewed' merely for being small —
    imbalance divides by the TRAINED cell count."""
    rows = [(i, [1.0 * (i == j) for j in range(8)]) for i in range(4)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    ix = IvfVectorIndex(spark, str(tmp_path / "ix"), n_cells=16, iterations=1)
    ix.build(df)  # only 4 seeds exist -> 4 trained cells
    assert ix.trained_cells() <= 4
    assert ix.imbalance() <= 2.0  # one orthogonal vector per cell
    assert not ix.needs_rebuild(threshold=3.0)


def test_rebuild_rows_carry_watermark_bid(spark, tmp_path):
    """code-review r10: rebuild() writes its rows under the HIGHEST
    surviving batch id, so even the meta-less row-scan fallback keeps
    a replayed old id from silently double-ingesting (it trips the
    monotonic check loudly instead)."""
    import os

    df, _rows = _corpus(spark, n=60)
    ix = IvfVectorIndex(spark, str(tmp_path / "ix"), n_cells=4, iterations=1)
    ix.build(df.filter(F.col("vec_id") < 30))
    ix.ingest(df.filter(F.col("vec_id") >= 30), batch_id=2)
    ix.rebuild(df)
    bids = {r["batch_id"] for r in ix.vectors().select("batch_id").distinct().collect()}
    assert bids == {2}
    # meta intact: replay still a clean no-op
    n = ix.vectors().count()
    ix.ingest(df.limit(5), batch_id=2)
    assert ix.vectors().count() == n
    # meta lost (pathological double failure): the fallback raises
    # loudly on the old id instead of double-ingesting
    v = ix.store.latest_version("vectors")
    os.remove(os.path.join(ix.store._version_dir("vectors", v), "_TABLE_META"))
    ix2 = IvfVectorIndex(spark, str(tmp_path / "ix"), n_cells=4, iterations=1)
    with pytest.raises(ValueError, match="monotonic"):
        ix2.ingest(df.limit(5), batch_id=1)
    assert ix2.vectors().count() == n


def test_compact_consolidates_files_and_preserves_state(spark, tmp_path):
    """r10: many ingests fragment each cell directory (one file per
    touched cell per append); compact() rewrites to one snapshot,
    preserving rows, the applied watermark, the counters, AND replay
    semantics — and a concurrent ingest landing mid-compaction wins the
    CAS (compact retries on the fresh snapshot, losing nothing)."""
    import glob as globmod
    import os

    df, _rows = _corpus(spark, n=120)
    ix = IvfVectorIndex(spark, str(tmp_path / "ix"), n_cells=4, iterations=1)
    ix.build(df.filter(F.col("vec_id") < 40))
    for b in range(1, 5):
        lo, hi = 40 + (b - 1) * 20, 40 + b * 20
        ix.ingest(
            df.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), batch_id=b
        )

    def n_files():
        v = ix.store.latest_version("vectors")
        vdir = ix.store._version_dir("vectors", v)
        return len(globmod.glob(os.path.join(vdir, "_cell=*", "*.parquet")))

    before_rows = {
        (r["vec_id"], r["_cell"], r["batch_id"])
        for r in ix.vectors().select("vec_id", "_cell", "batch_id").collect()
    }
    frag = n_files()
    ix.compact()
    assert n_files() < frag
    after_rows = {
        (r["vec_id"], r["_cell"], r["batch_id"])
        for r in ix.vectors().select("vec_id", "_cell", "batch_id").collect()
    }
    assert after_rows == before_rows
    assert ix.store.table_meta("vectors")["applied_batch_ids"] == [0, 1, 2, 3, 4]
    n = ix.vectors().count()
    ix.ingest(df.limit(5), batch_id=3)  # replay across compaction: no-op
    assert ix.vectors().count() == n

    # concurrent ingest mid-compaction: compact loses the CAS once,
    # retries, and the racing batch survives
    from automated_datastore_discovery_with_aws_glue_spark.state import store as store_mod

    extra = spark.createDataFrame(
        [(1000 + i, [float(i + 1), 0.5, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0]) for i in range(7)],
        ["vec_id", "embedding"],
    )
    orig = store_mod.ParquetStateStore._commit_staged
    state = {"raced": False}

    def racing(self, table, staging, *, expect):
        if table == "vectors" and not state["raced"]:
            state["raced"] = True
            ix.ingest(extra, batch_id=5)  # lands first, mid-compaction
        return orig(self, table, staging, expect=expect)

    import pytest as _pytest

    mp = _pytest.MonkeyPatch()
    try:
        mp.setattr(store_mod.ParquetStateStore, "_commit_staged", racing)
        ix.compact()
    finally:
        mp.undo()
    assert state["raced"]
    assert ix.vectors().count() == n + 7
    assert 5 in set(ix.store.table_meta("vectors")["applied_batch_ids"])


def _quant(vec):
    import math

    nrm = math.sqrt(sum(x * x for x in vec))
    if nrm == 0:
        return None
    return [int(np.floor(x / nrm * 1_000_000.0)) for x in vec]


def _tdiv(a, b):
    """Truncate-toward-zero division (Spark/DuckDB `div`; Python // floors)."""
    return a // b if a >= 0 else -((-a) // b)


def test_topk_batch_exact_one_plan_pruned_and_correct(spark, tmp_path):
    """r11 (VERDICT r10 item 1): a whole query batch links against the
    persisted index in ONE join-shaped plan — probe set carried as a
    PartitionFilter — and with n_probe = n_cells the ranking equals a
    from-scratch integer brute force."""
    df, rows = _corpus(spark, n=150, dim=8)
    ix = IvfVectorIndex(spark, str(tmp_path / "ix"), n_cells=4, iterations=2)
    ix.build(df.filter(F.col("vec_id") < 100))
    ix.ingest(df.filter(F.col("vec_id") >= 100), batch_id=1)

    queries = spark.createDataFrame(
        [(i, rows[i][1]) for i in (3, 11, 42)] + [(99, [0.0] * 8)],
        ["query_id", "embedding"],
    )
    out = ix.topk_batch(queries, 5, n_probe=2)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert re.search(r"PartitionFilters: \[.*_cell#\d+ (IN|INSET)", plan), plan
    got = out.collect()
    # the zero-norm query contributes no rows; each real query self-hits
    assert {r["query_id"] for r in got} == {3, 11, 42}
    for qid in (3, 11, 42):
        mine = [r for r in got if r["query_id"] == qid]
        assert [r["rnk"] for r in mine] == [1, 2, 3, 4, 5]
        assert mine[0]["vec_id"] == qid  # self is in the probed cell

    # probing ALL cells == exact integer brute force (true oracle: the
    # expected ranking is recomputed here from the raw vectors, not
    # from the index's own blocking)
    batch_all = ix.topk_batch(queries, 5, n_probe=4).collect()
    qv = {i: _quant(rows[i][1]) for i in (3, 11, 42)}
    cand = {r[0]: _quant(r[1]) for r in rows if _quant(r[1]) is not None}
    for qid in (3, 11, 42):
        dots = sorted(
            ((-sum(a * b for a, b in zip(qv[qid], v)), vid) for vid, v in cand.items()),
        )[:5]
        expect = [(vid, _tdiv(-negd, 1_000_000)) for negd, vid in dots]
        mine = [
            (r["vec_id"], r["cos_micro"])
            for r in batch_all
            if r["query_id"] == qid
        ]
        assert mine == expect, (qid, mine, expect)


def test_topk_batch_adc_and_similarity_join(spark, tmp_path):
    """ADC tier: per-query lookup-table scoring + exact re-rank in one
    batch plan (self at rank 1, exact_d2 = 0); similarity_join with all
    cells probed equals the exhaustive integer threshold join."""
    df, rows = _corpus(spark, n=160, dim=8, seed=11)
    ix = IvfVectorIndex(
        spark, str(tmp_path / "ix"), n_cells=4, iterations=1, pq_m=4, pq_k=8
    )
    ix.build(df)

    queries = spark.createDataFrame(
        [(i, rows[i][1]) for i in (5, 17)], ["query_id", "embedding"]
    )
    adc = ix.topk_batch(queries, 5, n_probe=2, mode="adc", rerank_factor=4).collect()
    for qid in (5, 17):
        mine = [r for r in adc if r["query_id"] == qid]
        assert [r["rnk"] for r in mine] == [1, 2, 3, 4, 5]
        assert mine[0]["vec_id"] == qid and mine[0]["exact_d2"] == 0
    exact_ids = {
        (r["query_id"], r["vec_id"])
        for r in ix.topk_batch(queries, 5, n_probe=2).collect()
    }
    assert len(exact_ids & {(r["query_id"], r["vec_id"]) for r in adc}) >= 6

    plain = IvfVectorIndex(spark, str(tmp_path / "p"), n_cells=4, iterations=1)
    plain.build(df.filter(F.col("vec_id") < 50))
    with pytest.raises(ValueError, match="pq_m"):
        plain.topk_batch(queries, 5, mode="adc")

    # threshold join, all cells probed == exhaustive numpy ground truth
    incoming = spark.createDataFrame(
        [(r[0], r[1]) for r in rows if r[0] % 9 == 0], ["query_id", "embedding"]
    )
    got = {
        (r["query_id"], r["vec_id"], r["cos_micro"])
        for r in ix.similarity_join(
            incoming, threshold_micro=200_000, n_probe=4, exclude_self=True
        ).collect()
    }
    cand = {r[0]: _quant(r[1]) for r in rows if _quant(r[1]) is not None}
    expect = set()
    for qid, qraw in [(r[0], r[1]) for r in rows if r[0] % 9 == 0]:
        q = _quant(qraw)
        if q is None:
            continue
        for vid, v in cand.items():
            if vid == qid:
                continue
            d = sum(a * b for a, b in zip(q, v))
            cm = _tdiv(d, 1_000_000)
            if cm >= 200_000:
                expect.add((qid, vid, cm))
    assert got == expect


def test_drift_trend_trips_on_balanced_rotation(spark, tmp_path):
    """r11 (VERDICT r10 item 3): a drifting stream that stays
    CELL-BALANCED (flat counters — invisible to the imbalance monitor)
    but rotates away from the trained directions trips the TREND
    trigger: the per-batch mean assignment cosine in the metadata drift
    history falls below the build baseline. rebuild() resets the
    baseline."""
    import math

    # training corpus: tight clusters on 4 orthogonal axes -> 4 cells,
    # mean assignment cosine ~1.0. Axes are assigned by xxhash64 RANK
    # (round-robin), so the 4 hash-smallest rows — the quantizer's
    # seeds — cover all 4 axes and Lloyd converges to one cell per
    # axis (unseeded, two seeds can land on one axis and merge
    # clusters, legitimately lowering the baseline).
    hs = (
        spark.createDataFrame([(i,) for i in range(200)], "vec_id long")
        .select("vec_id", F.xxhash64("vec_id").alias("h"))
        .collect()
    )
    order = [r["vec_id"] for r in sorted(hs, key=lambda r: (r["h"], r["vec_id"]))]
    axis_of = {vid: rank % 4 for rank, vid in enumerate(order)}
    rows = []
    for i in range(200):
        axis = axis_of[i]
        v = [0.0] * 8
        v[axis] = 10.0
        v[(axis + 4) % 8] = 0.01 * (i % 5)  # tiny jitter
        rows.append((i, v))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    ix = IvfVectorIndex(spark, str(tmp_path / "ix"), n_cells=4, iterations=2)
    ix.build(df)
    assert ix.drift_drop() == 0
    assert not ix.needs_rebuild()

    # drifted batches: every vector sits BETWEEN two trained axes
    # (45 degrees -> assignment cosine ~0.707), spread evenly so the
    # cells stay balanced
    s = 10.0 / math.sqrt(2.0)
    drifted = []
    for i in range(200):
        a, b = i % 4, (i + 1) % 4
        v = [0.0] * 8
        v[a], v[b] = s, s
        drifted.append((1000 + i, v))
    ix.ingest(spark.createDataFrame(drifted, ["vec_id", "embedding"]), batch_id=1)

    # counters stay flat: the occupancy monitor sees nothing
    assert ix.imbalance() < 2.0
    # the trend monitor sees the rotation
    hist = {
        r["batch_id"]: r["mean_cos_micro"] for r in ix.assignment_drift().collect()
    }
    assert hist[0] > 950_000  # build baseline ~1.0
    assert hist[1] < 800_000  # drifted batch ~0.707
    assert ix.drift_drop() > 150_000
    assert ix.needs_rebuild()  # default drift_drop_micro=100_000
    assert not ix.needs_rebuild(drift_drop_micro=500_000)

    # the documented response resets the baseline: after retraining on
    # the full corpus the latest fit IS the baseline fit again
    ix.rebuild(
        df.unionByName(spark.createDataFrame(drifted, ["vec_id", "embedding"]))
    )
    assert ix.drift_drop() == 0
    assert not ix.needs_rebuild()
    # history survives compaction (meta carry)
    ix.compact()
    assert ix.assignment_drift().count() >= 1


def test_maintain_bounds_files_and_preserves_state(spark, tmp_path):
    """r11 (VERDICT r10 item 5): N small ingests then maintain() with a
    compact bound yields a bounded per-cell file count with watermark,
    counters, and drift history intact; below the bound maintain() only
    vacuums."""
    import glob as globmod
    import os

    df, _rows = _corpus(spark, n=120)
    ix = IvfVectorIndex(spark, str(tmp_path / "ix"), n_cells=4, iterations=1)
    ix.build(df.filter(F.col("vec_id") < 40))
    for b in range(1, 6):
        lo, hi = 40 + (b - 1) * 16, 40 + b * 16
        ix.ingest(
            df.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), batch_id=b
        )

    def n_files():
        v = ix.store.latest_version("vectors")
        vdir = ix.store._version_dir("vectors", v)
        return len(globmod.glob(os.path.join(vdir, "_cell=*", "*.parquet")))

    frag = n_files()
    # below the bound: no compaction, vacuum only
    rep = ix.maintain(compact_after=50)
    assert rep == {"compacted": False, "vacuumed": True, "needs_rebuild": False}
    assert n_files() == frag
    # at the bound: compaction fires, file count drops, state intact
    rep = ix.maintain(compact_after=5)
    assert rep["compacted"] and not rep["needs_rebuild"]
    assert n_files() < frag
    assert ix.store.table_meta("vectors")["applied_batch_ids"] == [0, 1, 2, 3, 4, 5]
    assert ix.store.table_meta("vectors")["appends_since_rewrite"] == 0
    assert ix.vectors().count() == 120  # ids 0..119 (the zero vector, id 120, is outside every batch)
    assert ix.assignment_drift().count() == 6  # build + 5 ingests
    n = ix.vectors().count()
    ix.ingest(df.limit(5), batch_id=3)  # replay across maintain: no-op
    assert ix.vectors().count() == n
    # vacuum trimmed old versions (keep=2); hard links keep data alive
    assert len(ix.store.versions("vectors")) <= 2


def test_quantizer_pinned_to_vectors_version(spark, tmp_path):
    """r11 (ADVICE r10): the VECTORS meta pins the exact CENTROIDS /
    CODEBOOKS store versions the rows were assigned with, so a crashed
    (or in-flight) rebuild that committed new quantizer tables but not
    the vectors can never pair new codebooks with stale stored
    assignments — readers time-travel to the pinned versions."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.ann import CENTROIDS, CODEBOOKS

    df, rows = _corpus(spark, n=120, dim=8)
    ix = IvfVectorIndex(
        spark, str(tmp_path / "ix"), n_cells=4, iterations=1, pq_m=4, pq_k=8
    )
    ix.build(df)
    meta = ix.store.table_meta("vectors")
    assert meta["quantizer_versions"]["centroids"] == ix.store.latest_version(CENTROIDS)
    assert meta["quantizer_versions"]["codebooks"] == ix.store.latest_version(CODEBOOKS)
    c1, b1 = ix.centroids_int(), ix.codebooks_int()

    # simulate a build that died between the quantizer commits and the
    # vectors commit: NEW centroid/codebook versions exist on disk but
    # the vectors still reference the old ones
    bogus = spark.createDataFrame(
        [(c, p, 999_999) for c in range(4) for p in range(8)],
        "cell int, pos int, c bigint",
    )
    ix.store.overwrite(CENTROIDS, bogus)
    ix.store.overwrite(
        CODEBOOKS,
        spark.createDataFrame(
            [(j, c, p, 999_999) for j in range(4) for c in range(8) for p in range(2)],
            "j int, cell int, pos int, c bigint",
        ),
    )
    assert ix.centroids_int() == c1  # pinned, not latest
    assert ix.codebooks_int() == b1
    # probes and ingests keep assigning with the CONSISTENT quantizer
    ix.ingest(df.limit(5).withColumn("vec_id", F.col("vec_id") + 5000), batch_id=1)
    assert ix.centroids_int() == c1
    assert ix.topk(rows[3][1], 3, n_probe=2).count() == 3


def test_quantizer_cache_reads_the_resolved_version(spark, tmp_path):
    """When the vectors carry no quantizer pin (a legacy version), the
    memo key is the latest CENTROIDS / CODEBOOKS version at resolution
    time. A rebuild that commits new quantizer tables between that
    resolution and the read must not get its NEWER matrix cached under
    the OLDER key — the read uses the resolved version."""
    import os

    from automated_datastore_discovery_with_aws_glue_spark.operators.ann import CENTROIDS, CODEBOOKS

    df, _rows = _corpus(spark, n=120, dim=8)
    root = str(tmp_path / "ix")
    kw = dict(n_cells=4, iterations=1, pq_m=4, pq_k=8)
    IvfVectorIndex(spark, root, **kw).build(df)
    ix = IvfVectorIndex(spark, root, **kw)
    v = ix.store.latest_version("vectors")
    os.remove(os.path.join(ix.store._version_dir("vectors", v), "_TABLE_META"))
    assert ix._quantizer_versions() == {}  # unpinned: keys resolve to latest

    clean = IvfVectorIndex(spark, root, **kw)
    c_old, b_old = clean.centroids_int(), clean.codebooks_int()
    c_key = ix.store.latest_version(CENTROIDS)
    b_key = ix.store.latest_version(CODEBOOKS)
    newer = {
        CENTROIDS: spark.createDataFrame(
            [(c, p, 999_999) for c in range(4) for p in range(8)],
            "cell int, pos int, c bigint",
        ),
        CODEBOOKS: spark.createDataFrame(
            [(j, c, p, 999_999) for j in range(4) for c in range(8) for p in range(2)],
            "j int, cell int, pos int, c bigint",
        ),
    }
    raced: set[str] = set()
    resolve = ix.store.latest_version

    def racing(table):
        got = resolve(table)
        if table in newer and table not in raced:
            raced.add(table)  # a rebuild commits right after key resolution
            ix.store.overwrite(table, newer[table])
        return got

    mp = pytest.MonkeyPatch()
    try:
        mp.setattr(ix.store, "latest_version", racing)
        assert ix.centroids_int() == c_old
        assert ix.codebooks_int() == b_old
    finally:
        mp.undo()
    assert raced == {CENTROIDS, CODEBOOKS}
    assert ix._quantizer_cache[("cent", c_key)] == c_old
    assert ix._quantizer_cache[("book", b_key)] == b_old
    # the rebuild's tables are the new latest, memoised under their own keys
    assert ix.centroids_int() == [[999_999] * 8] * 4
    assert ix.codebooks_int() == [[[999_999] * 2] * 8] * 4
    assert ("cent", c_key + 1) in ix._quantizer_cache


def _old_topk(ix, q, k, n_probe):
    """Reference exact top-k: the Column-tree cosine over the probed
    cells, with the zero-norm filter as its own step."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.similarity import (
        as_double,
        cosine,
        lit_vec,
        sq_norm_expr,
    )

    probes = [int(p) for p in np.argsort(-(ix.quantizer() @ np.asarray(q, dtype=float)))[:n_probe]]
    return (
        ix.vectors()
        .filter(F.col("_cell").isin(probes))
        .withColumn("_nrm", sq_norm_expr("embedding"))
        .filter(F.col("_nrm") > 0)
        .select(
            F.col("vec_id"),
            F.round(cosine(as_double(F.col("embedding")), lit_vec([float(x) for x in q])), 4).alias(
                "similarity"
            ),
        )
        .orderBy(F.col("similarity").desc(), F.col("vec_id"))
        .limit(k)
    )


def _outcome(df):
    """Rows, or the error condition when the query fails."""
    try:
        return [tuple(r) for r in df.collect()]
    except Exception as e:  # noqa: BLE001 — the failure IS the outcome
        return ("error", e.getCondition() if hasattr(e, "getCondition") else type(e).__name__)


def test_topk_single_expression_matches_column_formula(spark, tmp_path):
    """topk scores with one SQL string (driver-folded query norm, one
    shared stored-norm fold); every (vec_id, similarity) must equal the
    Column-tree formula round(cosine(as_double(v), lit_vec(q)), 4) over
    the probed cells — bit for bit, ties and zero-norm rows included —
    a zero-norm query must fail (or not) exactly as the Column formula
    does, and _cell must stay a PartitionFilter."""
    df, rows = _corpus(spark, n=160, dim=8, seed=5)
    extra = [(1000 + i, rows[i % 4][1]) for i in range(6)]  # duplicates -> ties
    extra += [(2000, [0.0] * 8), (2001, [-0.0] * 8)]  # more zero-norm rows
    df = df.unionByName(spark.createDataFrame(extra, ["vec_id", "embedding"]))
    ix = IvfVectorIndex(spark, str(tmp_path / "ix"), n_cells=4, iterations=2, pq_m=4, pq_k=8)
    ix.build(df)

    rng = np.random.RandomState(9)
    queries = [rows[i][1] for i in range(4)] + [
        [float(x) for x in rng.standard_normal(8)] for _ in range(4)
    ]
    for q in queries:
        for k, n_probe in ((5, 2), (500, 4)):
            got = [tuple(r) for r in ix.topk(q, k, n_probe=n_probe).collect()]
            assert got == [tuple(r) for r in _old_topk(ix, q, k, n_probe).collect()]
        # the ADC re-rank emits the same exact scores for its candidates
        exact = dict(_outcome(_old_topk(ix, q, 500, 2)))
        adc = ix.topk(q, 5, n_probe=2, mode="adc").collect()
        assert adc and all(r["similarity"] == exact[r["vec_id"]] for r in adc)

    # a duplicated query ties at 1.0 with its copies, lower id first
    top = ix.topk(rows[0][1], 3, n_probe=4).collect()
    assert [r["vec_id"] for r in top] == [0, 1000, 1004]

    zero = [0.0] * 8
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for flag in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", flag)
            assert _outcome(ix.topk(zero, 5, n_probe=2)) == _outcome(_old_topk(ix, zero, 5, 2))
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)

    for mode in ("exact", "adc"):
        top = ix.topk(queries[5], 5, n_probe=2, mode=mode)
        plan = top._sc._jvm.PythonSQLUtils.explainString(top._jdf.queryExecution(), "formatted")
        assert re.search(r"PartitionFilters: \[.*_cell#\d+ (IN|INSET)", plan), plan


def test_build_cas_folds_in_racing_ingest(spark, tmp_path):
    """r11 (ADVICE r10): an ingest that commits between rebuild()'s
    snapshot read and its VECTORS overwrite is NOT dropped — the lost
    CAS folds the late batch in, re-assigned with the new quantizer,
    rows and watermark id intact."""
    from automated_datastore_discovery_with_aws_glue_spark.state import store as store_mod

    df, _rows = _corpus(spark, n=90)
    ix = IvfVectorIndex(spark, str(tmp_path / "ix"), n_cells=4, iterations=1)
    ix.build(df.filter(F.col("vec_id") < 60))
    ix.ingest(df.filter(F.col("vec_id") >= 60), batch_id=1)

    late = spark.createDataFrame(
        [(2000 + i, [float(i + 1), 1.0, 0.0, 0.0, 0.5, 0.0, 0.0, 0.0]) for i in range(9)],
        ["vec_id", "embedding"],
    )
    orig = store_mod.ParquetStateStore._commit_staged
    state = {"raced": False}

    def racing(self, table, staging, *, expect):
        # fire exactly once, on the rebuild's vectors OVERWRITE (the
        # ingest itself recurses here for its own commit)
        if table == "vectors" and not state["raced"]:
            state["raced"] = True
            ix.ingest(late, batch_id=2)  # lands first, mid-rebuild
        return orig(self, table, staging, expect=expect)

    mp = pytest.MonkeyPatch()
    try:
        mp.setattr(store_mod.ParquetStateStore, "_commit_staged", racing)
        ix.rebuild(df)
    finally:
        mp.undo()
    assert state["raced"]
    got = {r["vec_id"] for r in ix.vectors().select("vec_id").collect()}
    assert {2000 + i for i in range(9)} <= got  # late rows survived
    assert len(got) == df.count() + 9
    applied = set(ix.store.table_meta("vectors")["applied_batch_ids"])
    assert 2 in applied  # watermark survived
    n = ix.vectors().count()
    ix.ingest(late, batch_id=2)  # replay after the folded rebuild: no-op
    assert ix.vectors().count() == n
    # the folded rows were RE-ASSIGNED with the rebuild's quantizer: the
    # fresh handle's stored assignment matches a from-scratch assignment
    cents = ix.centroids_int()
    expect_cells = {
        r["vec_id"]: r["_cell"]
        for r in ix._assigned(late, cents, batch_id=2).select("vec_id", "_cell").collect()
    }
    stored_cells = {
        r["vec_id"]: r["_cell"]
        for r in ix.vectors().filter(F.col("vec_id") >= 2000).select("vec_id", "_cell").collect()
    }
    assert stored_cells == expect_cells
    # the drift BASELINE covers only the training corpus; the folded
    # batch gets its OWN history entry instead of depressing the
    # baseline mean (code-review r11)
    hist = ix.store.table_meta("vectors")["drift_history"]
    assert [e[0] for e in hist] == [1, 2]  # baseline bid first, then late
    assert hist[0][1] == 90  # training rows only
    assert hist[1][1] == 9  # the folded batch, separately sampled


def test_pq_tier_codes_and_adc_topk(spark, tmp_path):
    """r10 PQ storage tier: stored rows carry subspace codes (ingest
    assigns with the STORED codebooks — build-then-ingest equals
    one-shot, codes included), topk(mode='adc') scores probed cells by
    lookup table then re-ranks exactly (self at rank 1; strong overlap
    with the exact probe), and the PQ layout is meta-guarded."""
    import re

    df, rows = _corpus(spark, n=200, dim=8)
    ix = IvfVectorIndex(
        spark, str(tmp_path / "a"), n_cells=4, iterations=1, pq_m=4, pq_k=8
    )
    ix.build(df.filter(F.col("vec_id") < 150))
    ix.ingest(df.filter(F.col("vec_id") >= 150), batch_id=1)

    one = IvfVectorIndex(
        spark, str(tmp_path / "b"), n_cells=4, iterations=1, pq_m=4, pq_k=8
    )
    one.build(df.filter(F.col("vec_id") < 150))
    one.ingest(df.filter(F.col("vec_id") >= 150), batch_id=1)
    assert ix.codebooks_int() == one.codebooks_int()

    def content(i):
        return {
            (r["vec_id"], r["_cell"], tuple(r["_codes"]))
            for r in i.vectors().select("vec_id", "_cell", "_codes").collect()
        }

    assert content(ix) == content(one)

    q = rows[11][1]
    adc = ix.topk(q, 5, n_probe=2, mode="adc")
    plan = adc._sc._jvm.PythonSQLUtils.explainString(
        adc._jdf.queryExecution(), "formatted"
    )
    assert re.search(r"PartitionFilters: \[.*_cell#\d+ (IN|INSET)", plan), plan
    got = [r["vec_id"] for r in adc.collect()]
    assert got[0] == 11  # self: ADC distance ~0, exact re-rank confirms
    exact = {r["vec_id"] for r in ix.topk(q, 5, n_probe=2).collect()}
    assert len(exact & set(got)) >= 3

    # similarity values are EXACT (re-ranked), never ADC estimates
    sims = {r["vec_id"]: r["similarity"] for r in adc.collect()}
    assert abs(sims[11] - 1.0) < 1e-9

    # guards: adc without a PQ tier; layout immutability
    plain = IvfVectorIndex(spark, str(tmp_path / "c"), n_cells=4, iterations=1)
    plain.build(df.filter(F.col("vec_id") < 50))
    with pytest.raises(ValueError, match="pq_m"):
        plain.topk(q, 5, mode="adc")
    with pytest.raises(ValueError, match="immutable"):
        IvfVectorIndex(spark, str(tmp_path / "a"), n_cells=4, pq_m=2, pq_k=8)
    # reopening the PQ index with matching layout is fine
    IvfVectorIndex(spark, str(tmp_path / "a"), n_cells=4, pq_m=4, pq_k=8)


def test_similarity_join_production_skips_presentation_sort(spark, tmp_path):
    """r12 (VERDICT r11 item 1): the pair output is corpus-linear, so
    the production form must not end in a GLOBAL sort (ordered=False
    default); ordered=True keeps the oracle twin's deterministic order.
    Result SETS are identical either way."""
    df, rows = _corpus(spark, n=120, dim=8, seed=7)
    ix = IvfVectorIndex(spark, str(tmp_path / "ix"), n_cells=4, iterations=1)
    ix.build(df)
    incoming = spark.createDataFrame(
        [(r[0], r[1]) for r in rows if r[0] % 11 == 0], ["query_id", "embedding"]
    )
    prod = ix.similarity_join(incoming, threshold_micro=200_000, n_probe=2)
    plan = prod._sc._jvm.PythonSQLUtils.explainString(
        prod._jdf.queryExecution(), "formatted"
    )
    # \bSort\b: the plain Sort node, not SortMergeJoin/SortAggregate
    assert not re.search(r"\(\d+\) Sort\b", plan), plan
    ordered = ix.similarity_join(
        incoming, threshold_micro=200_000, n_probe=2, ordered=True
    )
    oplan = ordered._sc._jvm.PythonSQLUtils.explainString(
        ordered._jdf.queryExecution(), "formatted"
    )
    assert re.search(r"\(\d+\) Sort\b", oplan), oplan
    key = lambda r: (r["query_id"], r["vec_id"], r["cell"], r["cos_micro"])
    assert sorted(map(key, prod.collect())) == sorted(map(key, ordered.collect()))


def test_topk_batch_probe_cells_modes_agree(spark, tmp_path):
    """r12 (VERDICT r11 item 7): 'all' derives the PartitionFilter from
    the trained cell list (zero extra actions) and must rank identically
    to 'collect' — the cell join already restricts candidates, the
    filter is only a scan hint. 'auto' picks 'all' here (8*n_probe >=
    n_cells) and still shows a PartitionFilter in the plan."""
    import re as _re

    df, rows = _corpus(spark, n=140, dim=8, seed=3)
    ix = IvfVectorIndex(spark, str(tmp_path / "ix"), n_cells=4, iterations=2)
    ix.build(df)
    queries = spark.createDataFrame(
        [(i, rows[i][1]) for i in (2, 9, 33)], ["query_id", "embedding"]
    )
    out_auto = ix.topk_batch(queries, 5, n_probe=2)
    plan = out_auto._sc._jvm.PythonSQLUtils.explainString(
        out_auto._jdf.queryExecution(), "formatted"
    )
    assert _re.search(r"PartitionFilters: \[.*_cell#\d+ (IN|INSET)", plan), plan
    key = lambda r: (r["query_id"], r["rnk"], r["vec_id"], r["cos_micro"])
    got_auto = sorted(map(key, out_auto.collect()))
    got_collect = sorted(
        map(key, ix.topk_batch(queries, 5, n_probe=2, probe_cells="collect").collect())
    )
    got_all = sorted(
        map(key, ix.topk_batch(queries, 5, n_probe=2, probe_cells="all").collect())
    )
    assert got_auto == got_collect == got_all
    with pytest.raises(ValueError, match="probe_cells"):
        ix.topk_batch(queries, 5, probe_cells="bogus").collect()
