"""Integer-quantized PageRank (`operators/graph.py`) — the sf0.01
oracle replays all iterations bit-for-bit; these pin the SEMANTICS on
hand-checkable graphs (hub dominance, dangling redistribution, mass
conservation) and an exact pure-Python replay of the integer
recurrence."""

from __future__ import annotations

from automated_datastore_discovery_with_aws_glue_spark.operators.graph import SCALE, pagerank


def _ranks(spark, edge_rows, iterations=5):
    e = spark.createDataFrame(edge_rows, "src string, dst string")
    return {
        r["node"]: r["rank_mass"]
        for r in pagerank(e, iterations=iterations).collect()
    }


def _py_pagerank(edge_rows, iterations):
    """Exact integer replay of the documented recurrence."""
    edges = sorted(set(edge_rows))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    n = len(nodes)
    t = (15 * (SCALE // n)) // 100
    r = {v: SCALE // n for v in nodes}
    for _ in range(iterations):
        dang = sum(r[v] for v in nodes if v not in out)
        d_share = dang // n
        inflow = {}
        for s, d in edges:
            inflow[d] = inflow.get(d, 0) + r[s] // out[s]
        r = {v: t + (85 * (inflow.get(v, 0) + d_share)) // 100 for v in nodes}
    return r


def test_pagerank_matches_exact_integer_replay(spark):
    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"),
        ("e", "c"), ("c", "f"),  # f is dangling
    ]
    got = _ranks(spark, edges, iterations=4)
    assert got == _py_pagerank(edges, 4)


def test_pagerank_hub_dominates_and_mass_conserved(spark):
    """Star graph: every spoke points at the hub -> the hub holds the
    top rank; total mass stays within integer-division losses of
    SCALE (each div loses < 1 unit per node per step)."""
    edges = [(f"s{i}", "hub") for i in range(10)]
    got = _ranks(spark, edges)
    assert max(got, key=got.get) == "hub"
    spoke_ranks = {v for k, v in got.items() if k != "hub"}
    assert len(spoke_ranks) == 1  # symmetric spokes rank identically
    assert abs(sum(got.values()) - SCALE) / SCALE < 0.01


def test_pagerank_dangling_mass_is_redistributed(spark):
    """a -> b with b dangling: without redistribution b's mass would
    vanish and ranks would collapse toward the teleport floor; with it,
    b (receiving a's full outflow) outranks a."""
    got = _ranks(spark, [("a", "b")])
    assert got["b"] > got["a"]
    assert abs(sum(got.values()) - SCALE) / SCALE < 0.01


def test_pagerank_duplicate_edges_collapse(spark):
    """The edge list is a SET: repeating an edge must not double its
    contribution."""
    once = _ranks(spark, [("a", "b"), ("b", "a"), ("a", "c")])
    dup = _ranks(spark, [("a", "b")] * 5 + [("b", "a"), ("a", "c")])
    assert once == dup


def test_pagerank_empty_graph_returns_empty_typed_frame(spark):
    """No nodes: return an empty (node, rank_mass) frame instead of
    dividing SCALE by zero (and without paying extra actions)."""
    e = spark.createDataFrame([], "src string, dst string")
    out = pagerank(e, iterations=3)
    assert out.columns == ["node", "rank_mass"]
    assert dict(out.dtypes)["rank_mass"] == "bigint"
    assert out.count() == 0


def test_pagerank_checkpoint_storage_is_bounded_by_two_rounds(spark):
    """r15: intermediate rounds' localCheckpoint blocks are released as
    soon as the next round materializes, so the persistent-RDD footprint
    after the operator returns is ONE checkpoint (the last round's, which
    backs the returned plan) — flat in the iteration count, not O(k).
    Doubling iterations must not grow the retained checkpoint set."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.cache import (
        persistent_rdd_ids,
        release,
    )

    sc = spark.sparkContext
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]

    def retained(iterations: int) -> int:
        before = persistent_rdd_ids(sc)
        out = pagerank(spark.createDataFrame(edges, ["src", "dst"]), iterations=iterations)
        rows = {r["node"]: r["rank_mass"] for r in out.collect()}
        kept = len(persistent_rdd_ids(sc) - before)
        release(out)
        assert len(persistent_rdd_ids(sc) - before) == 0  # full cleanup
        assert rows  # the walk actually ran
        return kept

    k5, k10 = retained(5), retained(10)
    assert k5 == k10, f"checkpoint footprint grew with iterations: {k5} vs {k10}"


def test_pagerank_release_spares_foreign_checkpoints(spark, monkeypatch):
    """On a shared session another pipeline can localCheckpoint while
    PageRank's own checkpoint call runs. PageRank must release only its
    own checkpoint blocks: an unpersisted local checkpoint cannot be
    recomputed, so freeing a foreign one breaks the other pipeline
    (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.cache import release

    # the session's concrete DataFrame class (pyspark.sql.DataFrame is
    # its abstract base in Spark 4)
    frame_cls = type(spark.range(1))
    original = frame_cls.localCheckpoint
    foreign = []

    def checkpoint_beside_a_foreign_one(self, *args, **kwargs):
        out = original(self, *args, **kwargs)
        foreign.append(original(spark.range(len(foreign) + 3), eager=True))
        return out

    monkeypatch.setattr(frame_cls, "localCheckpoint", checkpoint_beside_a_foreign_one)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")], ["src", "dst"]
    )
    out = pagerank(edges, iterations=4)
    assert out.count() == 3
    release(out)
    monkeypatch.undo()

    assert len(foreign) == 4
    for i, f in enumerate(foreign):
        assert [r["id"] for r in f.collect()] == list(range(i + 3))
