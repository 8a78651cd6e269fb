"""Grid-based density clustering (DBSCAN on the cell lattice).

Finds spatial hotspots — dense urban clusters, crawl-burst regions, the
skewed cells the partitioner must salt — as connected components of
"core" grid cells (cells holding >= ``min_count`` points, 8-adjacent on
the lattice). This is the classic grid/DBSCAN hybrid (CLIQUE/STING
shape): density estimation is a cell histogram instead of per-point
ε-range queries, which is the only formulation that survives 10^12
points — the point table pays exactly ONE partial-agg shuffle (the same
cost as any keyed count), and every later stage (core filter, adjacency,
label propagation) runs on the BOUNDED occupied-cell table, never on
points.

The reference has no clustering; its spatial index exists to answer
point lookups (``spatial_index.cpp``). This operator exists for the
engine's own scale problem: the fixture's Zipfian urban cluster
(FIXTURES.md §2) is exactly what this surfaces, and the output feeds the
salting/AQE-skew decisions the join layer makes.

Plan shape:
  points --(groupBy cell: 1 shuffle, partial agg)--> hist
  hist --(filter n >= min_count)--> core            [bounded, checkpointed]
  core --(in-plan 8-neighbor explode)--> candidate edges
  candidate edges --(self equi-join on cell id)--> edges
  (core, edges) --> dedup.connected_components      [bounded iterations]

Adjacency is 8-neighborhood on the integer lattice (dx, dy ∈ {-1,0,1}):
the 3x3 block of ``cells.neighborhood_col`` minus the cell itself, all
integer SQL inside codegen. Out-of-range neighbors at the grid edge
(xi = -1 or 2^res) land on bit patterns no real cell at res <= 25 can
carry, so they simply never match — there is deliberately no wraparound
(the planar-parity contract, cells.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells as C


def hotspot_clusters(
    points: DataFrame,
    res: int,
    min_count: int,
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> DataFrame:
    """Label every core cell with its hotspot cluster.

    Returns (cell BIGINT, n_points BIGINT, cluster BIGINT) — one row per
    core cell (>= ``min_count`` points at ``res``); ``cluster`` is the
    MIN cell id reachable through 8-adjacent core cells (singleton cores
    label themselves), deterministic and engine-portable. Sub-threshold
    cells are noise, excluded entirely (DBSCAN border semantics on the
    grid: a sparse cell between two hotspots does not bridge them).

    ``res`` must be <= 25: the edge-neighbor no-match guarantee above
    needs one spare bit per axis.
    """
    if not 0 <= res <= 25:
        raise ValueError(f"res must be in [0, 25], got {res}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    from . import dedup as DD

    cell = F.expr(C.cell_sql(lng_col, lat_col, res, "spark"))
    hist = points.groupBy(cell.alias("cell")).agg(
        F.count(F.lit(1)).alias("n_points")
    )
    # the bounded occupied-cell table is referenced three ways below
    # (nodes, edge-source, edge-target); materialize it once instead of
    # re-running the point-table agg per reference (CLAUDE.md: Catalyst
    # collapses projections — same pattern as dedup_minhash / zonal_stats)
    core = hist.where(F.col("n_points") >= int(min_count)).localCheckpoint(
        eager=True
    )
    nb = core.select(
        "cell", F.explode(C.neighborhood_col("cell", res)).alias("_nb")
    ).where(F.col("_nb") != F.col("cell"))
    pairs = (
        nb.join(
            core.select(F.col("cell").alias("_nb")), "_nb"
        )  # neighbor is core too
        .select(
            F.least("cell", "_nb").alias("id_1"),
            F.greatest("cell", "_nb").alias("id_2"),
        )
        .distinct()
    )
    comp = DD.connected_components(
        core.select("cell"), pairs, id_col="cell"
    )
    return core.join(comp, "cell").select(
        "cell", "n_points", F.col("component").alias("cluster")
    )


def hotspot_cluster_sql(
    source_sql: str,
    res: int,
    min_count: int,
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> str:
    """DuckDB twin of ``hotspot_clusters`` for oracle checks: cell
    histogram + core filter in the same integer SQL, adjacency as a
    theta join on the demortoned axes (fine on the bounded core set),
    cluster labels as a recursive-CTE reachability closure."""
    cell = C.cell_sql(lng_col, lat_col, res, "duckdb")
    x = C.cell_axis_sql("cell", "x", "duckdb")
    y = C.cell_axis_sql("cell", "y", "duckdb")
    return f"""
        WITH RECURSIVE pts AS ({source_sql}),
        hist AS (
          SELECT {cell} AS cell, count(*)::BIGINT AS n_points
          FROM pts GROUP BY 1
        ),
        core AS (
          SELECT cell, n_points, {x} AS gx, {y} AS gy
          FROM hist WHERE n_points >= {int(min_count)}
        ),
        edges AS (
          SELECT a.cell AS src, b.cell AS dst
          FROM core a JOIN core b
            ON abs(a.gx - b.gx) <= 1 AND abs(a.gy - b.gy) <= 1
           AND a.cell <> b.cell
        ),
        reach(node, lbl) AS (
          SELECT cell, cell FROM core
          UNION
          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
        )
        SELECT c.cell, c.n_points, m.lbl AS cluster
        FROM core c
        JOIN (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node) m
          ON m.node = c.cell
    """


# ---------------------------------------------------------------------------
# Getis-Ord Gi* hotspot z-scores (spatial autocorrelation statistics)
# ---------------------------------------------------------------------------

def gi_z_u_sql() -> str:
    """The Gi* z-score as ONE SQL expression over exact-BIGINT inputs
    (n_cells, sum_x, sum_xx, nb_sum, nb_cnt) — identical text in both
    dialects, so the IEEE op tree matches bit-for-bit and the
    floor(z * 1e6) integerization is cross-engine deterministic.

    Gi* (Getis & Ord 1992/1995, binary 3x3 weights incl. self):

        z_i = (S_i - xbar * W_i)
              / (s * sqrt((N * W_i - W_i^2) / (N - 1)))

    with S_i = nb_sum (neighborhood count sum), W_i = nb_cnt (occupied
    neighbors incl. self), N = n_cells, xbar and s the frame mean/std.
    NULL when the denominator degenerates (N <= 1, all-equal counts, or
    W_i = N). The tiny-negative-variance guard (greatest with 0) keeps
    the all-equal case NULL instead of NaN in both engines."""
    xbar = "(CAST(sum_x AS DOUBLE) / CAST(n_cells AS DOUBLE))"
    s2 = (
        f"(CAST(sum_xx AS DOUBLE) / CAST(n_cells AS DOUBLE)"
        f" - {xbar} * {xbar})"
    )
    s = f"sqrt(greatest({s2}, CAST(0 AS DOUBLE)))"
    wvar = (
        "((CAST(n_cells AS DOUBLE) * CAST(nb_cnt AS DOUBLE)"
        " - CAST(nb_cnt AS DOUBLE) * CAST(nb_cnt AS DOUBLE))"
        " / CAST(n_cells - 1 AS DOUBLE))"
    )
    den = f"({s} * sqrt(greatest({wvar}, CAST(0 AS DOUBLE))))"
    num = f"(CAST(nb_sum AS DOUBLE) - {xbar} * CAST(nb_cnt AS DOUBLE))"
    return (
        f"CASE WHEN n_cells <= 1 OR {den} <= CAST(0 AS DOUBLE) THEN NULL "
        f"ELSE CAST(floor({num} / {den} * CAST(1000000 AS DOUBLE)) "
        f"AS BIGINT) END"
    )


def getis_ord_gi(
    points: DataFrame,
    res: int,
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> DataFrame:
    """Gi* hotspot z-score per occupied cell — the inferential twin of
    ``hotspot_clusters``: instead of a binary core threshold, every
    cell gets the classical Getis-Ord statistic ("is this cell's 3x3
    neighborhood count-sum high RELATIVE to the frame, and by how many
    standard errors"), the hot-spot-analysis tool every desktop GIS
    ships. Positive gi_u ~ clustering of high counts, negative ~ cold
    spots; |z| >= 1.96e6 (integerized) is the usual 95% call.

    Frame choice (documented): the statistic is computed over the
    OCCUPIED cells (the data-defined tessellation), not the enclosing
    canvas — empty cells are unobserved support, not zeros. The oracle
    recomputes the same frame.

    Scale shape: the point table pays its ONE partial-agg histogram
    shuffle; the 3x3 neighbor join (``cells.neighborhood_col``, same
    integer codegen as hotspot_clusters), the single-row frame stats,
    and the z projection all run on the BOUNDED occupied-cell table.
    The frame-stats row broadcasts; nothing driver-side.

    Output: (cell, n_points, nb_sum, nb_cnt, gi_u) — the exact integer
    inputs plus the integerized z, so an oracle mismatch localizes.
    """
    if not 0 <= res <= 25:
        raise ValueError(f"res must be in [0, 25], got {res}")
    cell = F.expr(C.cell_sql(lng_col, lat_col, res, "spark"))
    hist = (
        points.groupBy(cell.alias("cell"))
        .agg(F.count(F.lit(1)).alias("n_points"))
        .localCheckpoint(eager=True)  # referenced 3x below (CLAUDE.md)
    )
    nb = hist.select(
        "cell", F.explode(C.neighborhood_col("cell", res)).alias("_nb")
    )
    nbagg = (
        nb.join(
            hist.select(
                F.col("cell").alias("_nb"), F.col("n_points").alias("_nn")
            ),
            "_nb",
        )
        .groupBy("cell")
        .agg(
            F.sum("_nn").alias("nb_sum"),
            F.count(F.lit(1)).alias("nb_cnt"),
        )
    )
    glob = hist.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("n_points").alias("sum_x"),
        F.sum(F.col("n_points") * F.col("n_points")).alias("sum_xx"),
    )
    return (
        hist.join(nbagg, "cell")
        .crossJoin(F.broadcast(glob))
        .selectExpr(
            "cell", "n_points", "nb_sum",
            "CAST(nb_cnt AS BIGINT) AS nb_cnt",
            f"{gi_z_u_sql()} AS gi_u",
        )
    )


def getis_ord_sql(
    source_sql: str,
    res: int,
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> str:
    """DuckDB twin of ``getis_ord_gi``: identical integer cell SQL,
    3x3 neighborhood as a theta join on the demortoned axes (bounded
    occupied-cell set), identical z expression text."""
    cell = C.cell_sql(lng_col, lat_col, res, "duckdb")
    x = C.cell_axis_sql("cell", "x", "duckdb")
    y = C.cell_axis_sql("cell", "y", "duckdb")
    return f"""
        WITH pts AS ({source_sql}),
        hist AS (
          SELECT {cell} AS cell, count(*)::BIGINT AS n_points
          FROM pts GROUP BY 1
        ),
        axed AS (
          SELECT cell, n_points, {x} AS gx, {y} AS gy FROM hist
        ),
        nbagg AS (
          SELECT a.cell,
                 sum(b.n_points)::BIGINT AS nb_sum,
                 count(*)::BIGINT AS nb_cnt
          FROM axed a JOIN axed b
            ON abs(a.gx - b.gx) <= 1 AND abs(a.gy - b.gy) <= 1
          GROUP BY a.cell
        ),
        frame AS (
          SELECT count(*)::BIGINT AS n_cells,
                 sum(n_points)::BIGINT AS sum_x,
                 sum(n_points * n_points)::BIGINT AS sum_xx
          FROM hist
        )
        SELECT h.cell, h.n_points, nb.nb_sum, nb.nb_cnt,
               {gi_z_u_sql()} AS gi_u
        FROM hist h
        JOIN nbagg nb ON nb.cell = h.cell
        CROSS JOIN frame
    """


# ---------------------------------------------------------------------------
# Emerging hotspots: Mann-Kendall trend per cell over the space-time cube
# ---------------------------------------------------------------------------

def mk_z_u_sql() -> str:
    """Mann-Kendall z as ONE identical-text expression over exact
    BIGINT inputs (s_stat, var18 = 18*Var(S)): the continuity-corrected
    (S -/+ 1)/sqrt(Var), 0 at S = 0, NULL when the variance degenerates
    (constant series). floor(z * 1e6)."""
    sd = "sqrt(CAST(var18 AS DOUBLE) / CAST(18 AS DOUBLE))"
    up = f"(CAST(s_stat - 1 AS DOUBLE) / {sd})"
    dn = f"(CAST(s_stat + 1 AS DOUBLE) / {sd})"
    return (
        "CASE WHEN var18 <= 0 THEN NULL "
        "WHEN s_stat = 0 THEN CAST(0 AS BIGINT) "
        f"WHEN s_stat > 0 THEN CAST(floor({up} * CAST(1000000 AS DOUBLE))"
        " AS BIGINT) "
        f"ELSE CAST(floor({dn} * CAST(1000000 AS DOUBLE)) AS BIGINT) END"
    )


def emerging_hotspots(
    events: DataFrame,
    res: int,
    bucket_s: int = 86400,
    lng_col: str = "lng",
    lat_col: str = "lat",
    ts_col: str = "ts",
) -> DataFrame:
    """Space-time-cube trend analysis (the "Emerging Hot Spot" tool):
    per cell, the Mann-Kendall monotone-trend test over its time series
    of per-bucket counts — is activity in this cell RISING or FALLING
    across the observation window, beyond what ties/noise explain.
    Positive mk_z_u ~ intensifying (an emerging hotspot), negative ~
    cooling.

    Statistic (classical MK): S = sum over bucket pairs i < j of
    sign(x_j - x_i); Var(S) = [T(T-1)(2T+5) - sum_g t_g(t_g-1)(2t_g+5)]
    / 18 with the tie-group correction (essential on count data);
    z = (S -/+ 1)/sqrt(Var). S, T, and the tie term are exact BIGINTs;
    z is the single identical-text double expression.

    Series are DENSE: every occupied cell gets every bucket in the
    global [first, last] range, missing buckets count 0 — a cell active
    only on day 1 must TREND DOWN, which an observed-buckets-only
    series would miss.

    Scale shape: the event table pays ONE (cell, bucket) partial-agg
    shuffle; the dense series (occupied cells x T buckets, enumerated
    in-plan from the one-row global range), the O(T^2)-per-cell pair
    join (the classical statistic's documented cost — T is days/weeks,
    bounded), and the tie aggregation all run on the bounded cube.

    Output: (cell, n_obs, s_stat, var18, mk_z_u); n_obs = nonzero
    buckets.
    """
    if not 0 <= res <= 25:
        raise ValueError(f"res must be in [0, 25], got {res}")
    if bucket_s < 1:
        raise ValueError(f"bucket_s must be >= 1, got {bucket_s}")
    hb = (
        f"CAST(floor(CAST(__ep AS DOUBLE) / CAST({int(bucket_s)} AS DOUBLE))"
        f" AS BIGINT)"
    )
    hist = (
        events.withColumn("__ep", F.unix_timestamp(F.col(ts_col)))
        .groupBy(
            F.expr(C.cell_sql(lng_col, lat_col, res, "spark")).alias("cell"),
            F.expr(hb).alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("x"))
        .localCheckpoint(eager=True)  # cube referenced 4x below
    )
    rng = hist.agg(
        F.min("b").alias("b0"), F.max("b").alias("b1")
    )
    cells = hist.select("cell").distinct()
    dense = (
        cells.crossJoin(F.broadcast(rng))
        .withColumn("b", F.explode(F.expr("sequence(b0, b1)")))
        .select("cell", "b")
        .join(hist, ["cell", "b"], "left")
        .withColumn("x", F.coalesce("x", F.lit(0)))
        .localCheckpoint(eager=True)  # referenced 3x (pairs both sides, ties)
    )
    a = dense.selectExpr("cell", "b AS ba", "x AS xa")
    bb = dense.selectExpr("cell", "b AS bb", "x AS xb")
    s_tab = (
        a.join(bb, "cell")
        .where(F.col("ba") < F.col("bb"))
        .groupBy("cell")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN xb > xa THEN 1 WHEN xb < xa THEN -1 "
                    "ELSE 0 END"
                )
            ).alias("s_stat")
        )
    )
    ties = (
        dense.groupBy("cell", "x")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("cell")
        .agg(
            F.sum(F.expr("t * (t - 1) * (2 * t + 5)")).alias("tie18"),
            F.sum("t").alias("n_t"),
            F.sum(F.expr("CASE WHEN x > 0 THEN t ELSE 0 END")).alias("n_obs"),
        )
    )
    return (
        s_tab.join(ties, "cell")
        .selectExpr(
            "cell",
            "CAST(n_obs AS BIGINT) AS n_obs",
            "CAST(s_stat AS BIGINT) AS s_stat",
            "CAST(n_t * (n_t - 1) * (2 * n_t + 5) - tie18 AS BIGINT)"
            " AS var18",
        )
        .selectExpr(
            "cell", "n_obs", "s_stat", "var18",
            f"{mk_z_u_sql()} AS mk_z_u",
        )
    )


def emerging_hotspots_sql(
    source_sql: str,
    res: int,
    bucket_s: int = 86400,
) -> str:
    """DuckDB twin over a (lng, lat, ts) source: identical cell/bucket
    SQL, generate_series dense cube, identical pair/tie/z SQL."""
    cell = C.cell_sql("lng", "lat", res, "duckdb")
    hb = (
        f"CAST(floor(CAST(ep AS DOUBLE) / CAST({int(bucket_s)} AS DOUBLE))"
        f" AS BIGINT)"
    )
    return f"""
        WITH pts AS ({source_sql}),
        hist AS (
          SELECT {cell} AS cell, {hb} AS b, count(*)::BIGINT AS x
          FROM (SELECT lng, lat,
                       CAST(floor(epoch(ts)) AS BIGINT) AS ep
                FROM pts)
          GROUP BY 1, 2
        ),
        rng AS (SELECT min(b) AS b0, max(b) AS b1 FROM hist),
        dense AS (
          SELECT c.cell, g.b, coalesce(h.x, 0) AS x
          FROM (SELECT DISTINCT cell FROM hist) c
          CROSS JOIN (
            SELECT unnest(generate_series(b0, b1)) AS b FROM rng
          ) g
          LEFT JOIN hist h ON h.cell = c.cell AND h.b = g.b
        ),
        s_tab AS (
          SELECT a.cell,
                 CAST(sum(CASE WHEN b2.x > a.x THEN 1
                               WHEN b2.x < a.x THEN -1
                               ELSE 0 END) AS BIGINT) AS s_stat
          FROM dense a JOIN dense b2
            ON a.cell = b2.cell AND a.b < b2.b
          GROUP BY a.cell
        ),
        ties AS (
          SELECT cell,
                 CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18,
                 CAST(sum(t) AS BIGINT) AS n_t,
                 CAST(sum(CASE WHEN x > 0 THEN t ELSE 0 END) AS BIGINT)
                   AS n_obs
          FROM (
            SELECT cell, x, count(*)::BIGINT AS t
            FROM dense GROUP BY cell, x
          )
          GROUP BY cell
        ),
        scored AS (
          SELECT s.cell, t.n_obs, s.s_stat,
                 CAST(t.n_t * (t.n_t - 1) * (2 * t.n_t + 5) - t.tie18
                      AS BIGINT) AS var18
          FROM s_tab s JOIN ties t ON t.cell = s.cell
        )
        SELECT cell, n_obs, s_stat, var18, {mk_z_u_sql()} AS mk_z_u
        FROM scored
    """


# ---------------------------------------------------------------------------
# Ripley's K function (multi-scale point-pattern statistics)
# ---------------------------------------------------------------------------

def ripley_k(
    points: DataFrame,
    radii: tuple[float, ...],
    area: float,
    lng_col: str = "lng",
    lat_col: str = "lat",
    id_col: str = "point_id",
) -> DataFrame:
    """Ripley's K at a radius ladder — the classical multi-SCALE
    point-pattern statistic (is the pattern clustered, random, or
    dispersed, and AT WHICH scale): K(r) = A/(n(n-1)) * #{ordered pairs
    within r}, compared against the CSR expectation pi*r^2. Gi*/MK say
    where and when; K says at what scale — the remaining axis.

    One big-big pair join at max(radii) (the ``point_pairs`` 3x3
    neighbor-cell machinery — each unordered pair exactly once), then
    every radius is a CONDITIONAL SUM over the same pair table: one
    extra radius costs one counter, not one join. A single-row
    aggregate joins the point count; everything stays exact integers
    except the one identical-text double K expression.

    Naive (uncorrected) K, documented: no border correction — fine for
    engine-internal comparisons on a shared frame; Ripley's isotropic
    correction needs per-pair boundary arcs and is out of scope.

    Output per radius: (r_u, n_points, n_pairs, k_u, csr_u) with r_u =
    floor(r*1e6), k_u = floor(K*1e12), csr_u = floor(pi*r^2*1e12).
    """
    import math

    from . import spatial_join as SJ
    from ..functions.litsql import double_literal

    if not radii or any(r <= 0 for r in radii):
        raise ValueError(f"radii must be positive, got {radii}")
    if area <= 0:
        raise ValueError(f"area must be > 0, got {area}")
    rmax = max(radii)
    pairs = SJ.within_distance_self_join(
        points, distance=rmax, id_col=id_col,
        lng_col=lng_col, lat_col=lat_col,
    )
    aggs = [
        F.sum(
            F.expr(f"CASE WHEN dist_u <= {int(math.floor(r * 1e6))} "
                   f"THEN 1 ELSE 0 END")
        ).alias(f"_c{i}")
        for i, r in enumerate(radii)
    ]
    cnts = pairs.agg(*aggs)
    npts = points.agg(F.count(F.lit(1)).alias("n_points"))
    joined = cnts.crossJoin(npts)
    a_lit = double_literal(area)
    # one-row frame; checkpoint so the per-radius UNION arms re-read it
    # instead of re-executing the whole pair join per arm. Arms build
    # with the DataFrame API directly on the checkpointed frame — no
    # session-global temp view (a fixed view name races concurrent
    # invocations in one SparkSession and leaks into the caller's
    # catalog; round-4 advice).
    joined = joined.localCheckpoint(eager=True)
    out = None
    for i, r in enumerate(radii):
        k_expr = (
            f"CAST(floor(CAST(2 * coalesce(_c{i}, 0) AS DOUBLE) * {a_lit}"
            f" / (CAST(n_points AS DOUBLE)"
            f" * CAST(n_points - 1 AS DOUBLE))"
            f" * CAST(1000000000000 AS DOUBLE)) AS BIGINT)"
        )
        csr = int(math.floor(math.pi * r * r * 1e12))
        arm = joined.selectExpr(
            f"CAST({int(math.floor(r * 1e6))} AS BIGINT) AS r_u",
            "CAST(n_points AS BIGINT) AS n_points",
            f"CAST(2 * coalesce(_c{i}, 0) AS BIGINT) AS n_pairs",
            f"{k_expr} AS k_u",
            f"CAST({csr} AS BIGINT) AS csr_u",
        )
        out = arm if out is None else out.unionByName(arm)
    return out


def ripley_k_oracle_sql(
    source_sql: str,
    radii: tuple[float, ...],
    area: float,
) -> str:
    """DuckDB twin: brute pair join + the same conditional sums and the
    same K expression text per radius."""
    import math

    from ..functions.litsql import double_literal

    d2 = (
        "sqrt((a.lng - b.lng) * (a.lng - b.lng)"
        " + (a.lat - b.lat) * (a.lat - b.lat))"
    )
    rmax = max(radii)
    a_lit = double_literal(area)
    conds = ", ".join(
        f"CAST(sum(CASE WHEN dist_u <= {int(math.floor(r * 1e6))} "
        f"THEN 1 ELSE 0 END) AS BIGINT) AS _c{i}"
        for i, r in enumerate(radii)
    )
    arms = []
    for i, r in enumerate(radii):
        k_expr = (
            f"CAST(floor(CAST(2 * coalesce(_c{i}, 0) AS DOUBLE) * {a_lit}"
            f" / (CAST(n_points AS DOUBLE)"
            f" * CAST(n_points - 1 AS DOUBLE))"
            f" * CAST(1000000000000 AS DOUBLE)) AS BIGINT)"
        )
        csr = int(math.floor(math.pi * r * r * 1e12))
        arms.append(
            f"SELECT CAST({int(math.floor(r * 1e6))} AS BIGINT) AS r_u, "
            f"CAST(n_points AS BIGINT) AS n_points, "
            f"CAST(2 * coalesce(_c{i}, 0) AS BIGINT) AS n_pairs, "
            f"{k_expr} AS k_u, CAST({csr} AS BIGINT) AS csr_u "
            f"FROM joined"
        )
    union = " UNION ALL ".join(arms)
    return f"""
        WITH pts AS ({source_sql}),
        pairs AS (
          SELECT CAST(floor({d2} * 1000000.0) AS BIGINT) AS dist_u
          FROM pts a JOIN pts b ON a.point_id < b.point_id
          WHERE {d2} <= {double_literal(rmax)}
        ),
        cnts AS (SELECT {conds} FROM pairs),
        np AS (SELECT count(*)::BIGINT AS n_points FROM pts),
        joined AS (SELECT * FROM cnts CROSS JOIN np)
        {union}
    """


# ---------------------------------------------------------------------------
# G function (nearest-neighbor distance distribution)
# ---------------------------------------------------------------------------

def g_function(
    points: DataFrame,
    radii: tuple[float, ...],
    lng_col: str = "lng",
    lat_col: str = "lat",
    id_col: str = "point_id",
) -> DataFrame:
    """The G function — the empirical CDF of nearest-neighbor
    distances, G(r) = P(NN dist <= r) — the NEAREST-neighbor view of a
    point pattern where Ripley's K is the all-neighbors view (the two
    together separate "tight pairs" from "broad clumps"). CSR
    reference: 1 - exp(-lambda pi r^2).

    Exactness under blocking: "NN distance <= r" ⟺ "ANY neighbor
    within r", so the radius-bounded pair join at max(radii) decides
    every ladder point EXACTLY — no unbounded NN search, no censoring
    bias within the ladder. Per point: min pair distance from the
    union of both pair directions; per radius: a conditional count.
    Same one-join-many-counters economics as ``ripley_k``.

    Output per radius: (r_u, n_points, n_le, g_bp) — n_le = points
    whose NN distance is <= r, g_bp = floor(10000 * n_le / n_points)
    (exact integer basis points via the identical-text double floor).
    """
    import math

    from . import spatial_join as SJ

    if not radii or any(r <= 0 for r in radii):
        raise ValueError(f"radii must be positive, got {radii}")
    rmax = max(radii)
    pairs = SJ.within_distance_self_join(
        points, distance=rmax, id_col=id_col,
        lng_col=lng_col, lat_col=lat_col,
    )
    both = pairs.selectExpr("id_1 AS pid", "dist_u").unionByName(
        pairs.selectExpr("id_2 AS pid", "dist_u")
    )
    nn = both.groupBy("pid").agg(F.min("dist_u").alias("nn_u"))
    aggs = [
        F.sum(
            F.expr(f"CASE WHEN nn_u <= {int(math.floor(r * 1e6))} "
                   f"THEN 1 ELSE 0 END")
        ).alias(f"_g{i}")
        for i, r in enumerate(radii)
    ]
    cnts = nn.agg(*aggs)
    npts = points.agg(F.count(F.lit(1)).alias("n_points"))
    # DataFrame-API arms on the checkpointed one-row frame (no
    # session-global temp view — see ripley_k)
    joined = cnts.crossJoin(npts).localCheckpoint(eager=True)
    out = None
    for i, r in enumerate(radii):
        g_bp = (
            f"CAST(floor(CAST(10000 * coalesce(_g{i}, 0) AS DOUBLE)"
            f" / CAST(n_points AS DOUBLE)) AS BIGINT)"
        )
        arm = joined.selectExpr(
            f"CAST({int(math.floor(r * 1e6))} AS BIGINT) AS r_u",
            "CAST(n_points AS BIGINT) AS n_points",
            f"CAST(coalesce(_g{i}, 0) AS BIGINT) AS n_le",
            f"{g_bp} AS g_bp",
        )
        out = arm if out is None else out.unionByName(arm)
    return out


def g_function_oracle_sql(
    source_sql: str,
    radii: tuple[float, ...],
) -> str:
    """DuckDB twin: brute NN distance per point, same counters/floors."""
    import math

    from ..functions.litsql import double_literal

    d2 = (
        "sqrt((a.lng - b.lng) * (a.lng - b.lng)"
        " + (a.lat - b.lat) * (a.lat - b.lat))"
    )
    rmax = max(radii)
    conds = ", ".join(
        f"CAST(sum(CASE WHEN nn_u <= {int(math.floor(r * 1e6))} "
        f"THEN 1 ELSE 0 END) AS BIGINT) AS _g{i}"
        for i, r in enumerate(radii)
    )
    arms = []
    for i, r in enumerate(radii):
        g_bp = (
            f"CAST(floor(CAST(10000 * coalesce(_g{i}, 0) AS DOUBLE)"
            f" / CAST(n_points AS DOUBLE)) AS BIGINT)"
        )
        arms.append(
            f"SELECT CAST({int(math.floor(r * 1e6))} AS BIGINT) AS r_u, "
            f"CAST(n_points AS BIGINT) AS n_points, "
            f"CAST(coalesce(_g{i}, 0) AS BIGINT) AS n_le, "
            f"{g_bp} AS g_bp FROM joined"
        )
    union = " UNION ALL ".join(arms)
    return f"""
        WITH pts AS ({source_sql}),
        nn AS (
          SELECT a.point_id AS pid,
                 CAST(min(floor({d2} * 1000000.0)) AS BIGINT) AS nn_u
          FROM pts a JOIN pts b ON a.point_id <> b.point_id
          WHERE {d2} <= {double_literal(rmax)}
          GROUP BY a.point_id
        ),
        cnts AS (SELECT {conds} FROM nn),
        np AS (SELECT count(*)::BIGINT AS n_points FROM pts),
        joined AS (SELECT * FROM cnts CROSS JOIN np)
        {union}
    """


# ---------------------------------------------------------------------------
# Cross-K (bivariate colocation statistic)
# ---------------------------------------------------------------------------

def cross_k(
    left: DataFrame,
    right: DataFrame,
    radii: tuple[float, ...],
    area: float,
    left_id: str = "id_1",
    right_id: str = "id_2",
) -> DataFrame:
    """Bivariate (cross-type) Ripley K — the COLOCATION statistic: is
    point set B clustered AROUND point set A beyond what two
    independent CSR patterns explain (images around junctions, events
    around POIs). K_AB(r) = A/(n1 n2) * #{(a, b): d <= r}; CSR
    reference is the same pi r^2.

    One big-big CROSS pair join at max(radii)
    (``spatial_join.within_distance_cross_join`` — both sides large,
    each cross pair exactly once by construction), then the
    one-join-many-counters ladder. Counts exact BIGINTs, K the single
    identical-text double, naive/uncorrected like ``ripley_k``.

    Output per radius: (r_u, n_left, n_right, n_pairs, k_u, csr_u).
    Columns expected: ``left_id``/lng/lat on left, ``right_id``/lng/lat
    on right.
    """
    import math

    from . import spatial_join as SJ
    from ..functions.litsql import double_literal

    if not radii or any(r <= 0 for r in radii):
        raise ValueError(f"radii must be positive, got {radii}")
    if area <= 0:
        raise ValueError(f"area must be > 0, got {area}")
    rmax = max(radii)
    pairs = SJ.within_distance_cross_join(
        left, right, distance=rmax, left_id=left_id, right_id=right_id
    )
    aggs = [
        F.sum(
            F.expr(f"CASE WHEN dist_u <= {int(math.floor(r * 1e6))} "
                   f"THEN 1 ELSE 0 END")
        ).alias(f"_c{i}")
        for i, r in enumerate(radii)
    ]
    cnts = pairs.agg(*aggs)
    n1 = left.agg(F.count(F.lit(1)).alias("n_left"))
    n2 = right.agg(F.count(F.lit(1)).alias("n_right"))
    joined = (
        cnts.crossJoin(n1).crossJoin(n2).localCheckpoint(eager=True)
    )
    # DataFrame-API arms on the checkpointed one-row frame (no
    # session-global temp view — see ripley_k)
    a_lit = double_literal(area)
    out = None
    for i, r in enumerate(radii):
        k_expr = (
            f"CAST(floor(CAST(coalesce(_c{i}, 0) AS DOUBLE) * {a_lit}"
            f" / (CAST(n_left AS DOUBLE) * CAST(n_right AS DOUBLE))"
            f" * CAST(1000000000000 AS DOUBLE)) AS BIGINT)"
        )
        csr = int(math.floor(math.pi * r * r * 1e12))
        arm = joined.selectExpr(
            f"CAST({int(math.floor(r * 1e6))} AS BIGINT) AS r_u",
            "CAST(n_left AS BIGINT) AS n_left",
            "CAST(n_right AS BIGINT) AS n_right",
            f"CAST(coalesce(_c{i}, 0) AS BIGINT) AS n_pairs",
            f"{k_expr} AS k_u",
            f"CAST({csr} AS BIGINT) AS csr_u",
        )
        out = arm if out is None else out.unionByName(arm)
    return out


def cross_k_oracle_sql(
    left_sql: str,
    right_sql: str,
    radii: tuple[float, ...],
    area: float,
) -> str:
    """DuckDB twin: brute cross pairs + the same counters/K text.
    ``left_sql``/``right_sql`` must yield (id_1|id_2, lng, lat)."""
    import math

    from ..functions.litsql import double_literal

    d2 = (
        "sqrt((a.lng - b.lng) * (a.lng - b.lng)"
        " + (a.lat - b.lat) * (a.lat - b.lat))"
    )
    rmax = max(radii)
    a_lit = double_literal(area)
    conds = ", ".join(
        f"CAST(sum(CASE WHEN dist_u <= {int(math.floor(r * 1e6))} "
        f"THEN 1 ELSE 0 END) AS BIGINT) AS _c{i}"
        for i, r in enumerate(radii)
    )
    arms = []
    for i, r in enumerate(radii):
        k_expr = (
            f"CAST(floor(CAST(coalesce(_c{i}, 0) AS DOUBLE) * {a_lit}"
            f" / (CAST(n_left AS DOUBLE) * CAST(n_right AS DOUBLE))"
            f" * CAST(1000000000000 AS DOUBLE)) AS BIGINT)"
        )
        csr = int(math.floor(math.pi * r * r * 1e12))
        arms.append(
            f"SELECT CAST({int(math.floor(r * 1e6))} AS BIGINT) AS r_u, "
            f"CAST(n_left AS BIGINT) AS n_left, "
            f"CAST(n_right AS BIGINT) AS n_right, "
            f"CAST(coalesce(_c{i}, 0) AS BIGINT) AS n_pairs, "
            f"{k_expr} AS k_u, CAST({csr} AS BIGINT) AS csr_u "
            f"FROM joined"
        )
    union = " UNION ALL ".join(arms)
    return f"""
        WITH lft AS ({left_sql}),
        rgt AS ({right_sql}),
        pairs AS (
          SELECT CAST(floor({d2} * 1000000.0) AS BIGINT) AS dist_u
          FROM lft a JOIN rgt b ON {d2} <= {double_literal(rmax)}
        ),
        cnts AS (SELECT {conds} FROM pairs),
        nl AS (SELECT count(*)::BIGINT AS n_left FROM lft),
        nr AS (SELECT count(*)::BIGINT AS n_right FROM rgt),
        joined AS (SELECT * FROM cnts CROSS JOIN nl CROSS JOIN nr)
        {union}
    """
