"""Integer-quantized PageRank — bounded-iteration graph centrality as
DataFrame ops with BIT-PORTABLE arithmetic.

Public algorithm: Page et al. 1999 with the standard dangling-mass
redistribution. The engine twist is the house numerics rule: float
PageRank sums contributions in hash-aggregation order (never
reproducible across engines, barely across runs), so ranks here live in
INTEGER mass units (``SCALE = 10^12`` total mass) and every step is
integer arithmetic in one fixed written order —

    T      = (15 * (SCALE div N)) div 100          (teleport share)
    D_t    = dangling_mass_t div N                 (redistributed)
    r_t(v) = T + (85 * (inflow_t(v) + D_t)) div 100
    inflow_t(v) = sum over edges u->v of (r_{t-1}(u) div outdeg(u))

Integer sums are order-independent, so a DuckDB oracle replays every
iteration exactly (unrolled ``AS MATERIALIZED`` stages — the BPE
training pattern). Quantization error is ~1 mass unit per div, i.e.
1e-12 of total rank per step — far below any ranking decision.

Scale shape: per iteration ONE equi-join of edges to ranks (shuffle on
src), one hash aggregate to targets (map-side combinable), one
metadata-scale dangling aggregate (a single scalar, collected — the
same bounded per-round collect as BPE training). k is fixed and small;
the edge list never materializes pairs beyond the input graph.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

SCALE = 1_000_000_000_000


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
) -> DataFrame:
    """Rank every node of the directed graph ``edges`` (deduplicated
    internally): ``(node, rank_mass)`` with ``rank_mass`` the integer
    mass after ``iterations`` steps (sum over nodes ~ SCALE)."""
    # the deduplicated edge list feeds outdeg, the node set, AND every
    # iteration's inflow join — unpersisted it re-runs its upstream
    # (here a fact-fact join) ~k+2 times (measured 2.4x the whole
    # operator's wall-clock)
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .persist()
    )
    nodes_plain = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).persist()
    # the dangling set is FIXED across iterations (nodes with no out-
    # edges): decide it ONCE as a flag on the node table instead of
    # re-running a ranks⋈outdeg anti-join every round (r14: one join
    # per iteration removed, identical semantics)
    nodes = nodes_plain.join(
        outdeg.select(F.col("src").alias("node"), F.lit(True).alias("_out")),
        "node",
        "left",
    ).select("node", F.col("_out").isNull().alias("_dang")).persist()
    n = nodes.count()
    if n == 0:
        # empty graph: nothing to rank — return an empty, correctly
        # typed frame instead of dividing SCALE by zero below
        for c in (e, nodes, outdeg):
            c.unpersist()
        return nodes.select(
            "node", F.lit(None).cast("bigint").alias("rank_mass")
        )
    r0 = SCALE // n
    teleport = (15 * (SCALE // n)) // 100

    # edges ⋈ outdeg is iteration-invariant: hoist it out of the loop
    # (r14: was re-joined inside every round's inflow)
    e_deg = e.join(outdeg, "src").select("src", "dst", "deg").persist()

    ranks = nodes.withColumn("r", F.lit(r0).cast("bigint"))
    cached = [e, nodes, outdeg, e_deg]
    from automated_datastore_discovery_with_aws_glue_spark.operators.cache import (
        adopt,
        checkpoint_rdd_id,
        rdd_id_releaser,
    )

    sc = edges.sparkSession.sparkContext
    # the checkpointed frames must stay PYTHON-referenced until release:
    # dropping the wrapper lets the JVM ContextCleaner unpersist the
    # checkpoint blocks while later rounds still read them
    # (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). Rolling window (r15): once
    # round t's checkpoint has materialized, round t-1's blocks feed
    # NOTHING (round t+1 plans on top of t, the final frame on the last
    # round) — release them immediately, so peak checkpoint storage is
    # TWO rounds' node tables however many iterations run, and driver/
    # executor memory stays flat when iterations double. Each round's
    # blocks are released by the checkpoint RDD's own id, never by a diff
    # of the session-wide persistent set, which on a shared session can
    # hold another pipeline's checkpoint.
    cp_refs: list[DataFrame] = []
    for _ in range(iterations):
        # each round's ranks feed TWO branches (dangling + inflow).
        # localCheckpoint — not persist — so round t+1's logical plan
        # starts from an RDD leaf: with persist the analyzer/optimizer
        # re-walked a tree that DOUBLES per round (the r13 plan printed
        # 20k lines / 1312 Exchanges after 5 rounds; driver-side
        # planning dominated the query, guide §7.3). Eager: the lazy
        # form materializes rounds recursively inside the final job,
        # where block-manager cleanup of mid-chain rounds raced the
        # reads (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND); one small job per
        # round is the robust shape. The dangling mass stays a LAZY
        # 1-row frame (crossJoin) — no per-round collect.
        ranks = ranks.localCheckpoint(eager=True)
        cp_refs.append(ranks)
        if len(cp_refs) > 1:
            # the previous round's blocks were fully consumed by the
            # eager materialization above — free them now, keeping only
            # the newest checkpoint alive (its python ref stays in
            # cp_refs until the final releaser runs)
            rdd_id_releaser(sc, {checkpoint_rdd_id(cp_refs.pop(0))})()
        dang = ranks.filter(F.col("_dang")).agg(
            F.expr(f"coalesce(sum(r), 0) div {n}")
            .cast("bigint")
            .alias("_dshare")
        )
        inflow = (
            e_deg.join(ranks, e_deg["src"] == ranks["node"])
            .select(F.col("dst").alias("node"), F.expr("r div deg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(inflow, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                "_dang",
                (
                    F.lit(teleport)
                    + F.expr("(85 * (coalesce(inflow, 0) + _dshare)) div 100")
                ).cast("bigint").alias("r"),
            )
        )
    releaser = rdd_id_releaser(sc, {checkpoint_rdd_id(r) for r in cp_refs})

    def _release_cps(refs=cp_refs, rel=releaser) -> None:
        rel()
        refs.clear()

    return adopt(
        ranks.select("node", F.col("r").alias("rank_mass")),
        *cached,
        _release_cps,
    )


def pagerank_oracle_sql(
    edges_sql: str, *, iterations: int = 5, top_k: int | None = None
) -> str:
    """Unrolled DuckDB replay of :func:`pagerank` over the edge set
    produced by ``edges_sql`` (columns ``src, dst``; deduplicated
    here). Every stage materialized — DuckDB inlines twice-referenced
    CTEs and an unrolled iteration would otherwise explode."""
    stages = [
        f"""edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql})),
    nodes AS MATERIALIZED (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    outdeg AS MATERIALIZED (
        SELECT src, count(*) AS deg FROM edges GROUP BY src),
    nn AS MATERIALIZED (SELECT count(*) AS c FROM nodes),
    r0 AS MATERIALIZED (
        SELECT node, CAST({SCALE} // (SELECT c FROM nn) AS BIGINT) AS r
        FROM nodes)"""
    ]
    for i in range(1, iterations + 1):
        stages.append(
            f"""d{i} AS MATERIALIZED (
        SELECT coalesce(sum(r), 0) AS dang FROM r{i - 1}
        WHERE node NOT IN (SELECT src FROM outdeg)),
    r{i} AS MATERIALIZED (
        SELECT nodes.node,
               CAST((15 * ({SCALE} // nn.c)) // 100
                    + (85 * (coalesce(inf.s, 0)
                             + ((SELECT dang FROM d{i}) // nn.c))) // 100
                    AS BIGINT) AS r
        FROM nodes CROSS JOIN nn
        LEFT JOIN (SELECT e.dst AS node, sum(p.r // o.deg) AS s
                   FROM edges e
                   JOIN r{i - 1} p ON e.src = p.node
                   JOIN outdeg o ON o.src = e.src
                   GROUP BY e.dst) inf USING (node))"""
        )
    limit = ""
    order = "ORDER BY node"
    if top_k is not None:
        order = f"ORDER BY rank_mass DESC, node LIMIT {top_k}"
    return (
        "WITH "
        + ",\n    ".join(stages)
        + f"""
    SELECT node, r AS rank_mass FROM r{iterations} {order}"""
    )
