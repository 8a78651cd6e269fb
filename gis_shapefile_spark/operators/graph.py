"""Bounded-hop graph traversal over spatial proximity edges.

The reference has no graph surface (its nearest-feature answers come
from one R-tree descent, ``spatial_index.cpp:151-275``); the engine adds
the next question a road/mobility pipeline asks after proximity pairing:
*how far is everything from here along the network* — reachability and
shortest distance over the edge set that ``within_distance_self_join``
(or a road topology) already produces.

Execution model (the part that must survive 100 TB): Bellman-Ford
relaxation, NOT path enumeration. The frontier state is one row per
(root, node) with the best-known integer distance; each hop is one
equi-join of the state against the edge table on the node key plus a
min-aggregation — O(hops x |E|) work, two shuffles per hop, zero Python.
Lineage is cut with an eager localCheckpoint every iteration (the loop
would otherwise stack H joins into one exponential plan — the
``zonal_stats`` planning-blowup lesson applied to iteration). The DuckDB
oracle, by contrast, ENUMERATES walks with a recursive CTE — exponential
in the hop bound — which is exactly why the distributed form is the one
that scales and the recursive SQL is only the small-scale truth twin.

Determinism: edge weights are pre-integerized BIGINTs (floor(dist *
1e6) from the pair join); path distances are BIGINT sums and the
per-(root, node) reduction is an integer ``min`` — no float ever enters
the iteration, so Spark and DuckDB agree bit-for-bit regardless of
join order, partitioning, or accumulation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
    w_col: str = "w_u",
    root_col: str = "root",
) -> DataFrame:
    """Multi-source bounded-hop shortest paths (Bellman-Ford).

    ``edges``: directed (src, dst, w_u BIGINT >= 0) — symmetrize before
    calling for an undirected graph. ``sources``: one column
    ``root_col`` of start nodes. After ``max_hops`` relaxations the
    state holds, for every (root, node) pair connected by a walk of at
    most ``max_hops`` edges, the MINIMUM total weight over such walks
    (== the true shortest-path distance whenever the shortest path uses
    at most ``max_hops`` edges; roots reach themselves at distance 0).

    Returns (root, node, dist_u). Each iteration costs one join + one
    groupBy — the state is checkpointed eagerly so the loop's plan stays
    one hop deep and failed stages re-run from materialized frontiers,
    not from the start of the loop (the resumability contract of the
    checkpoint journal, applied in-memory).
    """
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    e = edges.select(
        F.col(src_col).alias("_es"),
        F.col(dst_col).alias("_ed"),
        F.col(w_col).cast("long").alias("_ew"),
    )
    state = sources.select(
        F.col(root_col).alias("root"),
        F.col(root_col).alias("node"),
        F.lit(0).cast("long").alias("dist_u"),
    )
    for _ in range(max_hops):
        relaxed = (
            state.join(e, state["node"] == e["_es"])
            .select(
                "root",
                F.col("_ed").alias("node"),
                (F.col("dist_u") + F.col("_ew")).alias("dist_u"),
            )
        )
        state = (
            state.unionByName(relaxed)
            .groupBy("root", "node")
            .agg(F.min("dist_u").alias("dist_u"))
            .localCheckpoint(eager=True)
        )
    return state


def reachable_counts(paths: DataFrame) -> DataFrame:
    """Rollup of a ``shortest_paths`` result: per root, how many nodes
    are reachable inside the hop bound, and the max and the sum of their
    shortest distances (``max_dist_u``, ``sum_dist_u``; the mean is
    ``sum_dist_u / n_reached``) — the coverage statistic a
    dispatch/geofence planner reads (integer-exact: sum/count/max over
    BIGINTs)."""
    return paths.groupBy("root").agg(
        F.count("*").cast("long").alias("n_reached"),
        F.max("dist_u").alias("max_dist_u"),
        F.sum("dist_u").alias("sum_dist_u"),
    )


PR_SCALE = 1_000_000
PR_BASE_U = 150_000  # floor(0.15 * PR_SCALE), exact


def pr_contrib_sql(r: str, deg: str) -> str:
    """One edge's damped rank contribution, floor-integerized — IDENTICAL
    text in both dialects (0.85 casts exactly; inputs are integers, so
    the double multiply/divide tree is bit-identical cross-engine and
    the BIGINT sum over in-edges is order-free)."""
    return (
        f"CAST(floor(CAST(0.85 AS DOUBLE) * CAST({r} AS DOUBLE) / "
        f"CAST({deg} AS DOUBLE)) AS BIGINT)"
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge table — importance
    scoring for the proximity/road graph (which nodes sit on everyone's
    path), the second member of the engine's Pregel-style family after
    ``shortest_paths`` and the same execution discipline: per iteration
    ONE rank-to-edges equi-join + ONE integer-sum groupBy + a left join
    back onto the node set, state eagerly checkpointed so the iterated
    plan never deepens.

    Determinism is the integerized-iteration canon: ranks live in BIGINT
    micro-units (start 1e6 per node), each edge's damped contribution is
    floor-integerized BEFORE the per-node sum (order-free integer adds),
    and the 0.15 base term is the exact integer 150000 — no float state
    ever crosses an iteration boundary, so a recursive SQL twin matches
    bit-for-bit. The naive-variant caveats are documented, not hidden:
    dangling nodes (out-degree 0) leak their mass, isolated nodes (no
    edges at all) are out of the node set, and the fixed iteration count
    is the convergence contract (production runs until an L1 epsilon —
    same loop, one extra aggregate per round).

    Output: (node, r_u) for every node with at least one in- or
    out-edge.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = edges.select(
        F.col(src_col).alias("_es"), F.col(dst_col).alias("_ed")
    )
    nodes = (
        e.select(F.col("_es").alias("node"))
        .unionByName(e.select(F.col("_ed").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = e.groupBy("_es").agg(F.count(F.lit(1)).cast("long").alias("_deg"))
    ed = e.join(deg, "_es").localCheckpoint(eager=True)
    ranks = nodes.withColumn("r_u", F.lit(PR_SCALE).cast("long"))
    for _ in range(iters):
        contrib = (
            ed.join(ranks, ed["_es"] == ranks["node"])
            .select(
                F.col("_ed").alias("node"),
                F.expr(pr_contrib_sql("r_u", "_deg")).alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_m"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (F.lit(PR_BASE_U).cast("long")
                 + F.coalesce(F.col("_m"), F.lit(0))).alias("r_u"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def pagerank_oracle_sql(edges_sql: str, iters: int = 3) -> str:
    """DuckDB twin: the same integerized recurrence unrolled as chained
    CTEs (r0..rN) — contribution text shared verbatim via
    ``pr_contrib_sql``."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    c = pr_contrib_sql("p.r_u", "d.outdeg")
    ctes = [
        f"e AS ({edges_sql})",
        "nodes AS (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e))",
        "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg "
        "FROM e GROUP BY src)",
        f"r0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) AS r_u FROM nodes)",
    ]
    for t in range(iters):
        ctes.append(
            f"r{t + 1} AS ("
            f"SELECT n.node, CAST({PR_BASE_U} + coalesce(s.m, 0) AS BIGINT)"
            f" AS r_u FROM nodes n LEFT JOIN ("
            f"SELECT e.dst AS node, sum({c}) AS m "
            f"FROM e JOIN deg d ON d.src = e.src "
            f"JOIN r{t} p ON p.node = e.src GROUP BY e.dst) s "
            f"ON s.node = n.node)"
        )
    return (
        "WITH " + ",\n        ".join(ctes)
        + f"\n        SELECT node, r_u FROM r{iters}"
    )


def triangle_counts(pairs: DataFrame, a_col: str = "id_1",
                    b_col: str = "id_2") -> DataFrame:
    """Per-node triangle participation + degree over an undirected edge
    set (each edge once, a < b — the ``within_distance_self_join``
    output contract). Triangles are the clustering-structure primitive:
    n_triangles / (degree choose 2) is the local clustering
    coefficient, and the global count separates clumped corpora from
    scattered ones.

    The scale trick is DEGREE ORIENTATION (the standard distributed
    formulation): orient every edge from its (degree, id)-lower toward
    its (degree, id)-higher endpoint — the orientation is acyclic and
    every triangle has exactly ONE source node with two out-edges, so
    the wedge join enumerates each triangle once, and a node's
    out-degree is bounded by O(sqrt(E)) REGARDLESS of in-degree: the
    celebrity node that would explode a naive neighbor join fans out
    only to its few higher-degree peers. Cost: one self-join of the
    oriented edges on source (wedges) + one equi-join back onto the
    oriented edge set to close each wedge — narrow integer keys
    throughout, zero Python.

    Returns (node, degree, n_triangles) for every node in the edge set
    (0 triangles included via the left join).
    """
    # normalize: accept edges in either order (self-loops dropped), so a
    # caller with unordered pairs loses nothing silently
    e = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).cast("long").alias("a"),
            F.greatest(F.col(a_col), F.col(b_col)).cast("long").alias("b"),
        )
        .where(F.col("a") < F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .localCheckpoint(eager=True)
    )
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("_db"))
    # orient low (degree, id) -> high (degree, id)
    lower_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    eo = (
        e.join(da, "a").join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
            F.when(lower_first, F.col("_da")).otherwise(F.col("_db")).alias("_ds"),
            F.when(lower_first, F.col("_db")).otherwise(F.col("_da")).alias("_dd"),
        )
        .localCheckpoint(eager=True)
    )
    l = eo.select(F.col("src"), F.col("dst").alias("v"),
                  F.col("_dd").alias("_dv"))
    r = eo.select(F.col("src"), F.col("dst").alias("w"),
                  F.col("_dd").alias("_dw"))
    # wedge (v, w) canonicalized by the SAME (degree, id) order, closed
    # against the oriented edge set
    v_first = (F.col("_dv") < F.col("_dw")) | (
        (F.col("_dv") == F.col("_dw")) & (F.col("v") < F.col("w"))
    )
    wedges = (
        l.join(r, "src")
        .where((F.col("v") != F.col("w")) & v_first)
        .select(
            F.col("src").alias("u"),
            F.col("v").alias("lo"), F.col("w").alias("hi"),
        )
    )
    closing = eo.select(F.col("src").alias("lo"), F.col("dst").alias("hi"))
    tris = wedges.join(closing, ["lo", "hi"]).select(
        F.col("u"), F.col("lo").alias("v"), F.col("hi").alias("w")
    )
    member = (
        tris.select(F.col("u").alias("node"))
        .unionByName(tris.select(F.col("v").alias("node")))
        .unionByName(tris.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return (
        deg.join(member, "node", "left")
        .select(
            "node", "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("long").alias("n_triangles"),
        )
    )
