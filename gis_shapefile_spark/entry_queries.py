"""Driver-contract queries: Spark implementations + DuckDB oracle SQL.

Every query here is designed for *bit-exact* cross-engine determinism:

* join keys / cells / hashes are integer math (identical in JVM and DuckDB);
* doubles appear only as single IEEE ops on identical inputs (x*x, sqrt,
  division) — never order-dependent float reductions;
* float aggregates are integerized (``floor(x * 10^k)`` sums) so the sum is
  an exact integer regardless of partition/accumulation order;
* every computed column is aliased identically in the Spark plan and the
  oracle SQL (the driver hashes values after sorting columns by name).

Spatial inputs are synthesized deterministically from the TPC-H-ish keys
(pure integer → rational arithmetic, no RNG), so the same SQL text defines
them in both engines. Polygon features for oracle-checked queries are exact
rectangles (``fixtures.make_grid_features``) whose reference ray-cast
semantics reduce to half-open box tests (left/bottom edge in, right/top
out) — plain ANSI SQL — while the engine still runs its general
cell-join + FULL/PARTIAL + ray-cast path. The general (jittered, holed)
polygons are covered by the pytest oracle suite instead.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import cells as C
from .functions.litsql import double_literal as dlit
from .sources import fixtures as FX

# ---------------------------------------------------------------------------
# deterministic point/box synthesis (same SQL text runs in Spark and DuckDB)
# ---------------------------------------------------------------------------

# lng in [-125, -66), lat in [24, 50) — the fixture CANVAS.
# Every term is CAST to DOUBLE explicitly: Spark parses bare decimal
# literals as DECIMAL (exact decimal arithmetic + one rounded cast) while
# DuckDB's `/` yields DOUBLE — without the casts the two engines round
# differently by 1 ulp, which floor(coord * 1e6)-style oracles expose.
def _dbl(expr: str) -> str:
    return f"CAST({expr} AS DOUBLE)"


POINT_LNG_SQL = (
    f"({_dbl('-125.0')} + {_dbl('(c_custkey * 2654435761) % 59000000')}"
    f" / {_dbl('1000000')})"
)
POINT_LAT_SQL = (
    f"({_dbl('24.0')} + {_dbl('(c_custkey * 40503) % 26000000')}"
    f" / {_dbl('1000000')})"
)

BOX_X0_SQL = (
    f"({_dbl('-125.0')} + {_dbl('(o_orderkey * 48271) % 54000000')}"
    f" / {_dbl('1000000')})"
)
BOX_Y0_SQL = (
    f"({_dbl('24.0')} + {_dbl('(o_orderkey * 16807) % 21000000')}"
    f" / {_dbl('1000000')})"
)
BOX_W_SQL = (
    f"({_dbl('0.5')} + {_dbl('(o_orderkey * 69621) % 8000000')}"
    f" / {_dbl('1000000')})"
)
BOX_H_SQL = (
    f"({_dbl('0.3')} + {_dbl('(o_orderkey * 75571) % 5000000')}"
    f" / {_dbl('1000000')})"
)


def _points_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select(
            F.col("c_custkey").alias("point_id"),
            F.expr(POINT_LNG_SQL).alias("lng"),
            F.expr(POINT_LAT_SQL).alias("lat"),
        )
    )


def _points_oracle_cte() -> str:
    return (
        f"SELECT c_custkey AS point_id, {POINT_LNG_SQL} AS lng, "
        f"{POINT_LAT_SQL} AS lat FROM customer"
    )


def _grid_values_sql() -> str:
    """The 51 grid rectangles as a VALUES list (record_number, x0, y0, x1, y1)."""
    grid = FX.make_grid_features()
    # CAST each coordinate literal to DOUBLE: DuckDB would otherwise parse
    # the 17-digit reprs as exact DECIMALs and compute (x0+x1)/2 etc. in
    # decimal arithmetic, diverging from the engine's IEEE doubles
    vals = ", ".join(
        f"({int(r.record_number)}, {dlit(r.minx)}, "
        f"{dlit(r.miny)}, {dlit(r.maxx)}, "
        f"{dlit(r.maxy)})"
        for _, r in grid.iterrows()
    )
    return f"(VALUES {vals}) AS g(record_number, x0, y0, x1, y1)"


# ---------------------------------------------------------------------------
# spatial queries
# ---------------------------------------------------------------------------

def q_pip_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: exact point-in-polygon join of synthesized points vs the grid."""
    from .operators import spatial_join as SJ

    pts = _points_df(spark, sf_dir)
    out = SJ.point_in_polygon_join(
        spark, pts, FX.make_grid_features(), res=8, point_id_col="point_id"
    )
    return out.select("point_id", F.col("record_number").cast("long").alias("record_number"))


def q_pip_grid_join_oracle() -> str:
    return f"""
        WITH pts AS ({_points_oracle_cte()})
        SELECT p.point_id, g.record_number::BIGINT AS record_number
        FROM pts p JOIN {_grid_values_sql()}
          ON p.lng >= g.x0 AND p.lng < g.x1 AND p.lat >= g.y0 AND p.lat < g.y1
    """


def q_pip_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial ANTI-join: points covered by NO state rectangle — the
    exclusion-zone curation predicate (drop images inside embargoed
    areas; find the uncovered remainder). The complement of
    ``pip_grid_join``: the rows of the left PIP join with no containing
    polygon — one scan, one broadcast join, no id shuffle. Coordinates
    integerize at 1e6 (the points are exact 1e-6-degree rationals, so
    the floor is clean)."""
    from .operators import spatial_join as SJ

    pts = _points_df(spark, sf_dir)
    out = SJ.point_in_polygon_anti_join(spark, pts, FX.make_grid_features(), res=8)
    return out.selectExpr(
        "CAST(point_id AS BIGINT) AS point_id",
        "CAST(floor(lng * 1000000.0) AS BIGINT) AS x_u",
        "CAST(floor(lat * 1000000.0) AS BIGINT) AS y_u",
    )


def q_pip_anti_oracle() -> str:
    return f"""
        WITH pts AS ({_points_oracle_cte()})
        SELECT point_id,
               CAST(floor(lng * 1000000.0) AS BIGINT) AS x_u,
               CAST(floor(lat * 1000000.0) AS BIGINT) AS y_u
        FROM pts p
        WHERE NOT EXISTS (
          SELECT 1 FROM {_grid_values_sql()}
          WHERE p.lng >= g.x0 AND p.lng < g.x1
            AND p.lat >= g.y0 AND p.lat < g.y1
        )
    """


ZONAL_RES = 8


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics (raster → vector rollup): res-8 cell histogram →
    cell CENTERS demorton'd in-plan (``cells.cell_center_sql``, zero
    Python) → PIP-assigned to the grid polygons → per-zone cell/point
    totals. The classic GIS zonal-stats shape: the expensive pass is one
    partial-agg over the point table; the polygon join touches only the
    (bounded) occupied-cell table."""
    from .operators import spatial_join as SJ

    pts = _points_df(spark, sf_dir)
    cells = pts.groupBy(
        F.expr(C.cell_sql("lng", "lat", ZONAL_RES, "spark")).alias("cell")
    ).agg(F.count(F.lit(1)).alias("n"))
    centers = cells.select(
        F.col("cell").alias("cell_id"),
        "n",
        F.expr(C.cell_center_sql("cell", "x", ZONAL_RES, "spark")).alias("lng"),
        F.expr(C.cell_center_sql("cell", "y", ZONAL_RES, "spark")).alias("lat"),
    )
    # Materialize before the join: Catalyst collapses projections, so the
    # join's cell_sql(lng, lat) would INLINE the demorton center
    # expressions ~32x each into the spread chain — a multiplicative
    # codegen blowup (measured 54 s of planning/codegen for 1,600 rows).
    # The occupied-cell table is bounded (<= 4^res), so the cut is cheap —
    # same pattern as dedup_minhash's candidate materialization.
    centers = centers.localCheckpoint(eager=True)
    hits = SJ.point_in_polygon_join(
        spark, centers, FX.make_grid_features(), res=ZONAL_RES,
        point_id_col="cell_id",
    )
    return hits.groupBy(
        F.col("record_number").cast("long").alias("record_number")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("n").cast("long").alias("n_points"),
    )


def q_zonal_stats_oracle() -> str:
    cell = C.cell_sql("lng", "lat", ZONAL_RES, "duckdb")
    cx = C.cell_center_sql("cell", "x", ZONAL_RES, "duckdb")
    cy = C.cell_center_sql("cell", "y", ZONAL_RES, "duckdb")
    return f"""
        WITH pts AS ({_points_oracle_cte()}),
        cells AS (
          SELECT {cell} AS cell, count(*) AS n FROM pts GROUP BY 1
        ),
        ctr AS (SELECT cell, n, {cx} AS clng, {cy} AS clat FROM cells)
        SELECT g.record_number::BIGINT AS record_number,
               count(*)::BIGINT AS n_cells,
               CAST(sum(c.n) AS BIGINT) AS n_points
        FROM ctr c JOIN {_grid_values_sql()}
          ON c.clng >= g.x0 AND c.clng < g.x1
         AND c.clat >= g.y0 AND c.clat < g.y1
        GROUP BY 1
    """


def q_within_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: all (point, rect-center) pairs with Euclidean distance <= 3.0.

    Distance integerized: floor(dist * 1e6) (sqrt/floor are IEEE-exact on
    identical inputs, so the value matches DuckDB bit-for-bit).
    """
    from .operators import spatial_join as SJ

    pts = _points_df(spark, sf_dir)
    out = SJ.within_distance_join(
        spark, pts, FX.make_grid_features(), distance=3.0
    )
    return out.select(
        "point_id",
        F.col("record_number").cast("long").alias("record_number"),
        F.floor(F.col("dist") * 1000000).cast("long").alias("dist_u"),
    )


def q_within_distance_oracle() -> str:
    return f"""
        WITH pts AS ({_points_oracle_cte()})
        SELECT p.point_id, g.record_number::BIGINT AS record_number,
               CAST(floor(sqrt((p.lng-(g.x0+g.x1)/2)*(p.lng-(g.x0+g.x1)/2)
                             + (p.lat-(g.y0+g.y1)/2)*(p.lat-(g.y0+g.y1)/2)) * 1000000) AS BIGINT) AS dist_u
        FROM pts p CROSS JOIN {_grid_values_sql()}
        WHERE sqrt((p.lng-(g.x0+g.x1)/2)*(p.lng-(g.x0+g.x1)/2)
                 + (p.lat-(g.y0+g.y1)/2)*(p.lat-(g.y0+g.y1)/2)) <= 3.0
    """


def q_knn3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: 3 nearest rect centers per point (cell-candidate scale path)."""
    from .operators import spatial_join as SJ

    pts = _points_df(spark, sf_dir)
    out = SJ.knn_join(
        spark, pts, FX.make_grid_features(), k=3, res=6, point_id_col="point_id"
    )
    return out.select(
        "point_id",
        F.col("knn_rank").cast("long").alias("knn_rank"),
        F.col("record_number").cast("long").alias("record_number"),
    )


def q_knn3_oracle() -> str:
    return f"""
        WITH pts AS ({_points_oracle_cte()}),
        scored AS (
          SELECT p.point_id, g.record_number,
                 sqrt((p.lng-(g.x0+g.x1)/2)*(p.lng-(g.x0+g.x1)/2)
                    + (p.lat-(g.y0+g.y1)/2)*(p.lat-(g.y0+g.y1)/2)) AS dist
          FROM pts p CROSS JOIN {_grid_values_sql()}
        )
        SELECT point_id,
               row_number() OVER (PARTITION BY point_id ORDER BY dist, record_number)::BIGINT AS knn_rank,
               record_number::BIGINT AS record_number
        FROM scored
        QUALIFY knn_rank <= 3
    """


def _road_segment_values_sql() -> str:
    """The exploded road-segment table as a VALUES literal (oracle side).
    Coordinates go through repr() (shortest round-trip decimal) + CAST to
    DOUBLE, the proven bit-identical serialization (_grid_values_sql)."""
    from .operators import lines as LN

    segs = LN.polyline_segments(FX.make_road_features())
    vals = ", ".join(
        f"({int(s.road_id)}, {int(s.seg_id)}, {dlit(s.ax)}, "
        f"{dlit(s.ay)}, {dlit(s.bx)}, "
        f"{dlit(s.by)})"
        for _, s in segs.iterrows()
    )
    return f"(VALUES {vals}) AS s(road_id, seg_id, ax, ay, bx, by)"


NEAREST_ROAD_RADIUS = 1.5


def q_nearest_road(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest road segment within 1.5° per point (engine addition: the
    reference decodes polylines but never queries them). Cell-cover
    broadcast equi-join + one dual-dialect dsq expression + integerized
    argmin — see operators/lines.py for the candidate guarantee."""
    from .operators import lines as LN

    pts = _points_df(spark, sf_dir)
    return LN.nearest_segment_join(
        spark, pts, FX.make_road_features(), radius=NEAREST_ROAD_RADIUS,
        point_id_col="point_id",
    )


ROAD_BUFFER_RADIUS = 0.25


def q_road_buffer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-buffer membership (curation predicate: images within 0.25° of
    any road): per point, in-range segment count + min integerized dsq.
    No window — partial agg + one exchange."""
    from .operators import lines as LN

    pts = _points_df(spark, sf_dir)
    return LN.within_distance_of_segments(
        spark, pts, FX.make_road_features(), radius=ROAD_BUFFER_RADIUS,
        point_id_col="point_id",
    )


def q_road_buffer_oracle() -> str:
    from .operators import lines as LN

    dsq_u = LN.dsq_u_sql("p.lng", "p.lat", "s.ax", "s.ay", "s.bx", "s.by")
    r2u = LN.radius2_u(ROAD_BUFFER_RADIUS)
    return f"""
        WITH pts AS ({_points_oracle_cte()}),
        scored AS (
          SELECT p.point_id, {dsq_u} AS dsq_u
          FROM pts p CROSS JOIN {_road_segment_values_sql()}
        )
        SELECT point_id, count(*) AS n_segments, min(dsq_u) AS min_dsq_u
        FROM scored WHERE dsq_u <= {r2u}
        GROUP BY point_id
    """


def q_nearest_road_big(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planet-scale-road-table formulation: covering cells enumerated
    IN the plan (sequence-explode + integer pack), shuffled cell join —
    no driver-side segment work. Row-identical to nearest_road; both are
    value-checked against the same oracle SQL."""
    from .operators import lines as LN

    pts = _points_df(spark, sf_dir)
    segs = spark.createDataFrame(
        LN.polyline_segments(FX.make_road_features())
    )
    res = C.resolution_for_bbox(
        2 * NEAREST_ROAD_RADIUS, 2 * NEAREST_ROAD_RADIUS, max_cells=64
    )
    return LN.nearest_segment_join_big(
        pts, segs, radius=NEAREST_ROAD_RADIUS, res=res,
        point_id_col="point_id",
    )


def q_nearest_road_oracle() -> str:
    from .operators import lines as LN

    dsq_u = LN.dsq_u_sql("p.lng", "p.lat", "s.ax", "s.ay", "s.bx", "s.by")
    r2u = LN.radius2_u(NEAREST_ROAD_RADIUS)
    return f"""
        WITH pts AS ({_points_oracle_cte()}),
        scored AS (
          SELECT p.point_id, s.road_id, s.seg_id, {dsq_u} AS dsq_u
          FROM pts p CROSS JOIN {_road_segment_values_sql()}
        )
        SELECT point_id,
               row_number() OVER (PARTITION BY point_id
                                  ORDER BY dsq_u, road_id, seg_id)::BIGINT AS nn_rank,
               road_id::BIGINT AS road_id, seg_id::BIGINT AS seg_id, dsq_u
        FROM scored
        WHERE dsq_u <= {r2u}
        QUALIFY nn_rank <= 1
    """


q_nearest_road_big_oracle = q_nearest_road_oracle


def q_bbox_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: query boxes (from orders keys) x grid rects whose bboxes intersect."""
    from .operators import spatial_join as SJ

    boxes = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("query_id"),
        F.expr(BOX_X0_SQL).alias("qminx"),
        F.expr(BOX_Y0_SQL).alias("qminy"),
        F.expr(f"{BOX_X0_SQL} + {BOX_W_SQL}").alias("qmaxx"),
        F.expr(f"{BOX_Y0_SQL} + {BOX_H_SQL}").alias("qmaxy"),
    )
    out = SJ.bbox_join(spark, boxes, FX.make_grid_features(), res=6)
    return out.select(
        "query_id", F.col("record_number").cast("long").alias("record_number")
    )


def q_bbox_join_oracle() -> str:
    return f"""
        WITH boxes AS (
          SELECT o_orderkey AS query_id,
                 {BOX_X0_SQL} AS qminx, {BOX_Y0_SQL} AS qminy,
                 {BOX_X0_SQL} + {BOX_W_SQL} AS qmaxx,
                 {BOX_Y0_SQL} + {BOX_H_SQL} AS qmaxy
          FROM orders)
        SELECT b.query_id, g.record_number::BIGINT AS record_number
        FROM boxes b CROSS JOIN {_grid_values_sql()}
        WHERE NOT (g.x0 > b.qmaxx OR g.x1 < b.qminx OR g.y0 > b.qmaxy OR g.y1 < b.qminy)
    """


# ---------------------------------------------------------------------------
# geocoder scalar semantics (F1/F2 normalize+tokenize) on relational data
# ---------------------------------------------------------------------------

def q_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 normalize (geocoder.cpp:113-133): upper, [,.]→space, collapse, trim."""
    return spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey",
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.upper(F.col("c_name")), "[,.]", " "),
                "\\s+",
                " ",
            )
        ).alias("norm_name"),
    )


def q_normalize_oracle() -> str:
    return """
        SELECT c_custkey,
               trim(regexp_replace(regexp_replace(upper(c_name), '[,.]', ' ', 'g'),
                                   '\\s+', ' ', 'g')) AS norm_name
        FROM customer
    """


def q_top1_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/W1 shape (geocoder.cpp:231-236): argmax per group via window."""
    from pyspark.sql.window import Window

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("lang", "doc_id", "n_chars")
    )


def q_top1_per_group_oracle() -> str:
    return """
        SELECT lang, doc_id, n_chars FROM (
          SELECT lang, doc_id, n_chars,
                 row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn
          FROM documents) WHERE rn = 1
    """


# ---------------------------------------------------------------------------
# geocoder queries (F1/F9/F11 cascade + full forward pipeline)
# ---------------------------------------------------------------------------

def _normalize_sql(x: str, dialect: str) -> str:
    g = ", 'g'" if dialect == "duckdb" else ""
    return (
        f"trim(regexp_replace(regexp_replace(upper({x}), '[,.]', ' '{g}), "
        f"'\\\\s+', ' '{g}))"
    )


def _state_table_pdf() -> "pd.DataFrame":
    """(idx, name, norm, abbrev) — name matches the grid fixture's NAME_1
    (record_number = idx + 1), norm is the reference-normalized form."""
    from .functions.text import STATE_ABBREV_UPPER

    inv = {v: k for k, v in STATE_ABBREV_UPPER.items()}
    names = FX.STATE_NAMES  # sorted title-case, same order as the grid
    return pd.DataFrame(
        {
            "idx": range(len(names)),
            "name": names,
            "norm": [n.upper() for n in names],
            "abbrev": [inv[n.upper()] for n in names],
        }
    )


def _state_table_values(alias: str = "sn") -> str:
    t = _state_table_pdf()
    vals = ", ".join(
        f"({r['idx']}, '{r['name']}', '{r['norm']}', '{r['abbrev']}')"
        for _, r in t.iterrows()
    )
    return f"(VALUES {vals}) AS {alias}(idx, name, norm, abbrev)"


# query/input mangles (identical SQL text both dialects):
# 0 = raw title-case name, 1 = lowercased, 2 = typo (2nd char -> 'X'),
# 3 = 2-letter abbreviation
_MANGLE_SQL = (
    "CASE {k} % 4 "
    "WHEN 0 THEN {n} "
    "WHEN 1 THEN lower({n}) "
    "WHEN 2 THEN concat(substring({n}, 1, 1), 'X', substring({n}, 3, length({n}))) "
    "ELSE {a} END"
)


def q_state_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 confidence cascade (geocoder.cpp:432-461) incl. the F9
    positional-similarity kernel, over mangled (input, candidate) state
    pairs; confidence integerized (floor(c * 1e9))."""
    from .functions.text import state_confidence

    ndf = spark.createDataFrame(_state_table_pdf())
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey")
    mangle = _MANGLE_SQL.format(k="c_custkey", n="n1", a="a1")
    pairs = (
        cust.join(
            F.broadcast(ndf.selectExpr("idx AS i1", "name AS n1", "abbrev AS a1")),
            F.expr("c_custkey % 51") == F.col("i1"),
        )
        .join(
            F.broadcast(ndf.selectExpr("idx AS i2", "name AS n2")),
            F.expr("(c_custkey * 7) % 51") == F.col("i2"),
        )
        .select(
            F.col("c_custkey").alias("pair_id"),
            F.expr(mangle).alias("input_state"),
            F.col("n2").alias("candidate_state"),
        )
    )
    return pairs.select(
        "pair_id",
        F.floor(state_confidence("input_state", "candidate_state") * 1000000000)
        .cast("long")
        .alias("conf_u"),
    )


def q_state_confidence_oracle() -> str:
    from .functions.text import positional_similarity_sql

    mangle = _MANGLE_SQL.format(k="c_custkey", n="n1.name", a="n1.abbrev")
    sim = positional_similarity_sql("p.ni", "p.nc", "duckdb")
    return f"""
        WITH raw AS (
          SELECT c_custkey AS pair_id,
                 {mangle} AS input_state,
                 n2.name AS candidate_state
          FROM customer
          JOIN {_state_table_values('n1')} ON n1.idx = c_custkey % 51
          JOIN {_state_table_values('n2')} ON n2.idx = (c_custkey * 7) % 51
        ), p AS (
          SELECT pair_id, input_state, candidate_state,
                 {_normalize_sql('input_state', 'duckdb')} AS ni,
                 {_normalize_sql('candidate_state', 'duckdb')} AS nc
          FROM raw
        )
        SELECT p.pair_id,
               CAST(floor(1000000000 * (
                 CASE
                   WHEN length(p.input_state) = 0 OR length(p.candidate_state) = 0 THEN 0.0
                   WHEN p.input_state = p.candidate_state THEN 1.0
                   WHEN p.ni = p.nc THEN 1.0
                   WHEN length(p.input_state) = 2 AND ab.norm = p.nc THEN 1.0
                   ELSE {sim}
                 END)) AS BIGINT) AS conf_u
        FROM p
        LEFT JOIN {_state_table_values('ab')} ON ab.abbrev = p.ni
    """


def q_http_requests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14 counterpart (reference server/main.cpp:87-228): the HTTP
    plumbing as a REQUEST-TABLE query. Deterministic '/geocode?...' /
    '/reverse?...' request strings are built per customer, then parsed
    with the engine's dual-dialect urlDecode + extractParameter + route
    kernels (functions/http.py) — the batch form of the reference's
    request loop; the downstream geocode itself is the already-covered
    geocode_forward / reverse_geocode."""
    from .functions import http as H

    ndf = spark.createDataFrame(_state_table_pdf())
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey")
    req = cust.join(
        F.broadcast(ndf), F.expr("c_custkey % 51") == F.col("idx")
    ).select(
        F.col("c_custkey").alias("request_id"),
        F.expr(
            "CASE WHEN c_custkey % 2 = 0 THEN "
            "concat('/geocode?address=', replace(name, ' ', '+'), "
            "'%2C+USA&format=json') "
            "ELSE concat('/reverse?lat=', CAST(c_custkey % 180 - 90 AS STRING), "
            "'&lng=', CAST(c_custkey % 360 - 180 AS STRING)) END"
        ).alias("request"),
    )
    qs = H.query_string_sql("request", "spark")
    addr = H.url_decode_sql(H.extract_param_sql(qs, "address", "spark"), "spark")
    lat = H.extract_param_sql(qs, "lat", "spark")
    lng = H.extract_param_sql(qs, "lng", "spark")
    ep = H.route_sql("request", "spark")
    return req.select(
        "request_id",
        F.expr(ep).alias("endpoint"),
        F.expr(addr).alias("address"),
        F.expr(f"CASE WHEN {ep} = 'reverse' THEN CAST({lat} AS BIGINT) END").alias("lat_i"),
        F.expr(f"CASE WHEN {ep} = 'reverse' THEN CAST({lng} AS BIGINT) END").alias("lng_i"),
    )


def q_http_requests_oracle() -> str:
    from .functions import http as H

    qs = H.query_string_sql("request", "duckdb")
    addr = H.url_decode_sql(H.extract_param_sql(qs, "address", "duckdb"), "duckdb")
    lat = H.extract_param_sql(qs, "lat", "duckdb")
    lng = H.extract_param_sql(qs, "lng", "duckdb")
    ep = H.route_sql("request", "duckdb")
    return f"""
        WITH req AS (
          SELECT c_custkey AS request_id,
                 CASE WHEN c_custkey % 2 = 0 THEN
                   '/geocode?address=' || replace(n1.name, ' ', '+')
                     || '%2C+USA&format=json'
                 ELSE '/reverse?lat=' || CAST(c_custkey % 180 - 90 AS VARCHAR)
                   || '&lng=' || CAST(c_custkey % 360 - 180 AS VARCHAR) END
                   AS request
          FROM customer
          JOIN {_state_table_values('n1')} ON n1.idx = c_custkey % 51
        )
        SELECT request_id,
               {ep} AS endpoint,
               {addr} AS address,
               CASE WHEN {ep} = 'reverse' THEN CAST({lat} AS BIGINT) END AS lat_i,
               CASE WHEN {ep} = 'reverse' THEN CAST({lng} AS BIGINT) END AS lng_i
        FROM req
    """


def q_geocode_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full forward-geocode pipeline (J4: parse → 3-key probe → broadcast
    equi-join → F11 score → 0.3 filter → W1 top-1) over mangled state-name
    queries against the grid features."""
    from .operators import geocode as GC

    ndf = spark.createDataFrame(_state_table_pdf())
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey")
    mangle = _MANGLE_SQL.format(k="c_custkey", n="name", a="abbrev")
    queries = cust.join(
        F.broadcast(ndf), F.expr("c_custkey % 51") == F.col("idx")
    ).select(
        F.col("c_custkey").alias("query_id"),
        F.expr(mangle).alias("address"),
    )
    out = GC.forward_geocode(spark, queries, FX.make_grid_features())
    return out.select(
        "query_id",
        F.col("record_number").cast("long").alias("record_number"),
        F.floor(F.col("confidence") * 1000000000).cast("long").alias("conf_u"),
        "match_type",
    )


def q_geocode_forward_oracle() -> str:
    """Reference probe semantics in SQL. For these single-term queries
    parse() leaves state='' (multi-word) or state=<abbrev> (2-letter), so
    the search term is the raw query string either way; index keys per
    feature = {raw name, normalized name, abbrev}; probes = {term,
    norm(term), expand(norm(term)) if len=2}; matches here always score
    1.0 ('exact') via the cascade (typo'd queries match no key and emit
    no row). Top-1 by (confidence desc, record_number)."""
    mangle = _MANGLE_SQL.format(k="c_custkey", n="n1.name", a="n1.abbrev")
    return f"""
        WITH queries AS (
          SELECT c_custkey AS query_id, {mangle} AS term
          FROM customer
          JOIN {_state_table_values('n1')} ON n1.idx = c_custkey % 51
        ), probes AS (
          SELECT q.query_id, q.term,
                 {_normalize_sql('q.term', 'duckdb')} AS norm_term,
                 exp.norm AS expanded
          FROM queries q
          LEFT JOIN {_state_table_values('exp')}
            ON length(q.term) = 2 AND exp.abbrev = {_normalize_sql('q.term', 'duckdb')}
        ), cand AS (
          SELECT p.query_id, sn.idx + 1 AS record_number
          FROM probes p
          JOIN {_state_table_values()}
            ON p.term IN (sn.name, sn.norm, sn.abbrev)
            OR p.norm_term IN (sn.name, sn.norm, sn.abbrev)
            OR p.expanded IN (sn.name, sn.norm)
        )
        SELECT query_id, record_number::BIGINT AS record_number,
               1000000000::BIGINT AS conf_u, 'exact' AS match_type
        FROM cand
        QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY record_number) = 1
    """


# ---------------------------------------------------------------------------
# relational plumbing (integerized TPC-H shapes)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape with order-independent integer sums (cents)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.floor(F.col("l_quantity") * 100).cast("long")).alias("sum_qty_c"),
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias("sum_price_c"),
            F.sum(
                F.floor(
                    F.floor(F.col("l_extendedprice") * 100)
                    * F.floor((1 - F.col("l_discount")) * 10000)
                ).cast("long")
            ).alias("sum_disc_price_u"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_pricing_summary_oracle() -> str:
    return """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
               CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c,
               CAST(sum(CAST(floor(floor(l_extendedprice * 100) * floor((1 - l_discount) * 10000)) AS BIGINT)) AS BIGINT) AS sum_disc_price_u,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """


# ---------------------------------------------------------------------------
# J1 reference-parity first-hit mode (spatial_index.cpp:356-380)
# ---------------------------------------------------------------------------

# Points planted within ±1e-4 of the grid's INTERNAL vertical edges, so the
# reference's ε-box always hits BOTH adjacent rectangles — the first-hit
# choice is genuinely order-dependent on every row. Identical SQL text in
# both engines (edge x uses the same non-terminating 59/9 pitch as the
# features; offsets are exact 1e-5 rationals).
EDGE_PT_LNG_SQL = (
    f"({_dbl('-125.0')} + {_dbl('(c_custkey % 8) + 1')} * "
    f"({_dbl('59.0')} / {_dbl('9.0')}) + "
    f"{_dbl('(c_custkey % 21) - 10')} * {_dbl('0.00001')})"
)
EDGE_PT_LAT_SQL = (
    f"({_dbl('24.0')} + ({_dbl('(c_custkey % 5)')} + {_dbl('0.5')}) * "
    f"({_dbl('26.0')} / {_dbl('6.0')}))"
)


def q_pip_first_hit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 engine-compat mode: per edge-planted point, the record the
    REFERENCE's R-tree traversal returns first (min DFS-leaf rank among
    ε-box bbox hits — operators/ref_parity.py). Every point has exactly
    two candidates, so this oracle-checks the order-dependent semantics
    end-to-end, not just on unambiguous interiors."""
    from .operators import ref_parity as RP

    pts = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("point_id"),
        F.expr(EDGE_PT_LNG_SQL).alias("lng"),
        F.expr(EDGE_PT_LAT_SQL).alias("lat"),
    )
    out = RP.point_in_polygon_join_first_hit(
        spark, pts, FX.make_grid_features(), res=6, point_id_col="point_id",
    )
    return out.select(
        "point_id", F.col("record_number").cast("long").alias("record_number")
    )


def q_pip_first_hit_oracle() -> str:
    """min_by(record_number, dfs_rank) over the ε-box bbox-intersect join;
    dfs_rank comes from the shared R-tree build emulation (a deterministic
    input, like the ann_ivf centroids)."""
    from .operators import ref_parity as RP

    dim = RP.first_hit_dimension(FX.make_grid_features())
    vals = ", ".join(
        f"({int(t.record_number)}, {int(t.dfs_rank)}, "
        f"{dlit(t.minx)}, {dlit(t.miny)}, "
        f"{dlit(t.maxx)}, {dlit(t.maxy)})"
        for t in dim.itertuples(index=False)
    )
    return f"""
        WITH pts AS (
          SELECT c_custkey AS point_id, {EDGE_PT_LNG_SQL} AS lng,
                 {EDGE_PT_LAT_SQL} AS lat
          FROM customer
        )
        SELECT p.point_id,
               CAST(min_by(d.record_number, d.dfs_rank) AS BIGINT)
                 AS record_number
        FROM pts p
        JOIN (VALUES {vals})
             AS d(record_number, dfs_rank, minx, miny, maxx, maxy)
          ON p.lng + CAST(0.0001 AS DOUBLE) >= d.minx
         AND p.lng - CAST(0.0001 AS DOUBLE) <= d.maxx
         AND p.lat + CAST(0.0001 AS DOUBLE) >= d.miny
         AND p.lat - CAST(0.0001 AS DOUBLE) <= d.maxy
        GROUP BY p.point_id
    """


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# raster -> vector polygonize (inverse of rasterize_*; north rule's
# raster<->vector materialization closed in both directions)
# ---------------------------------------------------------------------------

_RASTER_N = 32  # 32x32 density grid over the fixture canvas
_PX_SQL = (
    f"least({_RASTER_N - 1}, greatest(0, CAST(floor((lng - {_dbl('-125.0')})"
    f" / {_dbl('59.0')} * {_RASTER_N}) AS BIGINT)))"
)
_PY_SQL = (
    f"least({_RASTER_N - 1}, greatest(0, CAST(floor((lat - {_dbl('24.0')})"
    f" / {_dbl('26.0')} * {_RASTER_N}) AS BIGINT)))"
)
_VAL_SQL = "CASE WHEN cnt >= 3 THEN 2 WHEN cnt >= 2 THEN 1 ELSE 0 END"


def q_vectorize_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster -> vector: density-classed point raster polygonized into
    axis-aligned rectangles (``operators.tiling.vectorize_raster``, the
    two-pass gaps-and-islands merge). Integer-exact end-to-end: the only
    float op is the shared floor-quantization of the synthesized coords."""
    from .operators import tiling as TL

    raster = (
        _points_df(spark, sf_dir)
        .groupBy(
            F.expr(_PX_SQL).alias("px"), F.expr(_PY_SQL).alias("py")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("px", "py", F.expr(_VAL_SQL).alias("val"))
    )
    return TL.vectorize_raster(raster)


def q_vectorize_raster_oracle() -> str:
    return f"""
        WITH pts AS ({_points_oracle_cte()}),
        raster AS (
            SELECT {_PX_SQL} AS px, {_PY_SQL} AS py, count(*) AS cnt
            FROM pts GROUP BY 1, 2
        ),
        cells AS (SELECT px, py, {_VAL_SQL} AS val FROM raster),
        runs AS (
            SELECT py, val, min(px) AS x0, max(px) AS x1
            FROM (SELECT px, py, val,
                         px - row_number() OVER (PARTITION BY py, val ORDER BY px) AS grp
                  FROM cells) t
            GROUP BY py, val, grp
        ),
        rects AS (
            SELECT val, x0, x1, min(py) AS y0, max(py) AS y1
            FROM (SELECT py, val, x0, x1,
                         py - row_number() OVER (PARTITION BY val, x0, x1 ORDER BY py) AS vgrp
                  FROM runs) r
            GROUP BY val, x0, x1, vgrp
        )
        SELECT val, x0, y0, x1, y1,
               (x1 - x0 + 1) * (y1 - y0 + 1) AS n_cells
        FROM rects
    """


# ---------------------------------------------------------------------------
# polygon measures (area / perimeter over the flattened-ring wire format)
# ---------------------------------------------------------------------------


@functools.lru_cache(maxsize=1)
def _ring_rows() -> list[tuple]:
    """(record_number, ring_idx, xs, ys) per ring of every LIVE fixture
    polygon — the deleted-DBF record is excluded, matching every reader-
    based query's semantics (51 rows = the 51 state polygons). Cached:
    the fixture jitter + repr serialization runs once per process."""
    feats = FX.make_features()
    rows = []
    for _, r in feats.iterrows():
        if r["shape_type"] != 5 or len(r["ring_sizes"]) == 0 or r["deleted"]:
            continue
        off = 0
        for ri, sz in enumerate(r["ring_sizes"]):
            rows.append(
                (
                    int(r["record_number"]),
                    ri,
                    [float(v) for v in r["xs"][off : off + sz]],
                    [float(v) for v in r["ys"][off : off + sz]],
                )
            )
            off += sz
    return rows


def _ring_values_sql() -> str:
    """The ring table as a VALUES list with DOUBLE[] literals (oracle side).

    Array elements go through repr() (shortest round-trip decimal) and the
    whole list is CAST to DOUBLE[], so DuckDB materializes bit-identical
    doubles to the Arrow values Spark gets from createDataFrame."""
    vals = ", ".join(
        f"({rn}, {ri}, CAST([{', '.join(dlit(v) for v in xs)}] AS DOUBLE[]), "
        f"CAST([{', '.join(dlit(v) for v in ys)}] AS DOUBLE[]))"
        for rn, ri, xs, ys in _ring_rows()
    )
    return f"(VALUES {vals}) AS r(record_number, ring_idx, xs, ys)"


def q_polygon_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feature area / perimeter / ring census over the jittered+holed
    state polygons — higher-order-function shoelace on the flattened-array
    wire format (``functions/geometry.py::ring_area2_sql``), no UDFs.
    Area uses POSITIONAL ring roles (shell minus holes), the same
    convention as the PIP kernel. All measures integerized per edge."""
    from .functions import geometry as G

    rings = spark.createDataFrame(
        _ring_rows(),
        "record_number long, ring_idx int, xs array<double>, ys array<double>",
    )
    per_ring = rings.select(
        "record_number",
        "ring_idx",
        F.expr(G.ring_area2_sql("xs", "ys", "spark")).alias("a2"),
        F.expr(G.ring_perim_sql("xs", "ys", "spark")).alias("pu"),
        F.expr(G.ring_centroid_num_sql("xs", "ys", "x", "spark")).alias("cxn"),
        F.expr(G.ring_centroid_num_sql("xs", "ys", "y", "spark")).alias("cyn"),
        F.size("xs").alias("nv"),
    )
    shell = F.when(F.col("ring_idx") == 0, F.col("a2")).otherwise(F.lit(0))
    shell_cx = F.when(F.col("ring_idx") == 0, F.col("cxn")).otherwise(F.lit(0))
    shell_cy = F.when(F.col("ring_idx") == 0, F.col("cyn")).otherwise(F.lit(0))
    return (
        per_ring.groupBy("record_number")
        .agg(
            F.sum(
                F.when(F.col("ring_idx") == 0, F.col("a2")).otherwise(-F.col("a2"))
            ).alias("area2_u"),
            F.sum("pu").alias("perim_u"),
            F.count(F.lit(1)).cast("long").alias("n_rings"),
            F.sum("nv").alias("n_verts"),
            F.sum(shell).alias("_sa2"),
            F.sum(shell_cx).alias("_scx"),
            F.sum(shell_cy).alias("_scy"),
        )
        .select(
            "record_number",
            "area2_u",
            "perim_u",
            "n_rings",
            "n_verts",
            # exact shell centroid in microdegrees (the reference only has
            # the bbox-center approximation); zero-area shells pin to 0
            F.when(F.col("_sa2") == 0, F.lit(0))
            .otherwise(F.floor(F.col("_scx") * 1000000 / (3 * F.col("_sa2"))))
            .cast("long")
            .alias("cx_u"),
            F.when(F.col("_sa2") == 0, F.lit(0))
            .otherwise(F.floor(F.col("_scy") * 1000000 / (3 * F.col("_sa2"))))
            .cast("long")
            .alias("cy_u"),
        )
    )


VECTOR_OUTLINE_ZOOMS = [4, 6, 8]


def q_vector_outline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zoom-dependent vector-tile outlines: one-pass Visvalingam
    effective-area filter (operators/simplify.py) over the long vertex
    table of the jittered+holed state polygons, at the one-pixel-square
    tolerance of web-mercator zooms 4/6/8. Window SQL only — the shape
    that thins billions of stored footprints before tile encode."""
    from .operators import simplify as SIM

    rings = spark.createDataFrame(
        _ring_rows(),
        "record_number long, ring_idx int, xs array<double>, ys array<double>",
    )
    verts = rings.select(
        "record_number",
        "ring_idx",
        F.posexplode(F.arrays_zip("xs", "ys")).alias("pos", "v"),
    ).select(
        "record_number",
        "ring_idx",
        (F.col("pos") + 1).alias("idx"),
        F.col("v.xs").alias("x"),
        F.col("v.ys").alias("y"),
    )
    zooms = spark.createDataFrame(
        SIM.zoom_tolerances(VECTOR_OUTLINE_ZOOMS), "z int, tol2_u long"
    )
    out = SIM.simplify_vw(
        verts.crossJoin(F.broadcast(zooms)),
        tol2_u=None,
        group_cols=("z", "record_number", "ring_idx"),
        tol_col="tol2_u",
    )
    iu = "CAST(1000000 AS DOUBLE)"
    return out.select(
        F.col("z").cast("long").alias("z"),
        "record_number",
        F.col("ring_idx").cast("long").alias("ring_idx"),
        "pt_idx",
        F.expr(f"CAST(floor(x * {iu}) AS BIGINT)").alias("x_u"),
        F.expr(f"CAST(floor(y * {iu}) AS BIGINT)").alias("y_u"),
    )


def q_vector_outline_oracle() -> str:
    from .operators import simplify as SIM

    zvals = ", ".join(
        f"({z}, {tol})" for z, tol in SIM.zoom_tolerances(VECTOR_OUTLINE_ZOOMS)
    )
    area = SIM.eff_area2_u_term("xp", "yp", "x", "y", "xn", "yn")
    iu = "CAST(1000000 AS DOUBLE)"
    return f"""
        WITH verts AS (
          SELECT record_number, ring_idx,
                 generate_subscripts(xs, 1) AS idx,
                 unnest(xs) AS x, unnest(ys) AS y
          FROM {_ring_values_sql()}
        ),
        vz AS (
          SELECT v.*, z.z, z.tol2_u
          FROM verts v CROSS JOIN (VALUES {zvals}) z(z, tol2_u)
        ),
        nb AS (
          SELECT *, lag(x) OVER w AS xp, lag(y) OVER w AS yp,
                 lead(x) OVER w AS xn, lead(y) OVER w AS yn
          FROM vz
          WINDOW w AS (PARTITION BY z, record_number, ring_idx ORDER BY idx)
        ),
        kept AS (
          SELECT * FROM nb
          WHERE xp IS NULL OR xn IS NULL OR {area} >= tol2_u
        )
        SELECT z::BIGINT AS z, record_number::BIGINT AS record_number,
               ring_idx::BIGINT AS ring_idx,
               row_number() OVER (PARTITION BY z, record_number, ring_idx
                                  ORDER BY idx)::BIGINT AS pt_idx,
               CAST(floor(x * {iu}) AS BIGINT) AS x_u,
               CAST(floor(y * {iu}) AS BIGINT) AS y_u
        FROM kept
    """


def q_polygon_stats_oracle() -> str:
    from .functions import geometry as G

    a2 = G.ring_area2_sql("xs", "ys", "duckdb")
    pu = G.ring_perim_sql("xs", "ys", "duckdb")
    cxn = G.ring_centroid_num_sql("xs", "ys", "x", "duckdb")
    cyn = G.ring_centroid_num_sql("xs", "ys", "y", "duckdb")
    return f"""
        WITH agg AS (
            SELECT record_number,
                   CAST(sum(CASE WHEN ring_idx = 0 THEN a2 ELSE -a2 END)
                        AS BIGINT) AS area2_u,
                   CAST(sum(pu) AS BIGINT) AS perim_u,
                   count(*)::BIGINT AS n_rings,
                   CAST(sum(nv) AS BIGINT) AS n_verts,
                   CAST(sum(CASE WHEN ring_idx = 0 THEN a2 ELSE 0 END)
                        AS BIGINT) AS _sa2,
                   CAST(sum(CASE WHEN ring_idx = 0 THEN cxn ELSE 0 END)
                        AS BIGINT) AS _scx,
                   CAST(sum(CASE WHEN ring_idx = 0 THEN cyn ELSE 0 END)
                        AS BIGINT) AS _scy
            FROM (
                SELECT record_number, ring_idx, {a2} AS a2, {pu} AS pu,
                       {cxn} AS cxn, {cyn} AS cyn, len(xs) AS nv
                FROM {_ring_values_sql()}
            ) t
            GROUP BY record_number
        )
        SELECT record_number::BIGINT AS record_number, area2_u, perim_u,
               n_rings, n_verts,
               CAST(CASE WHEN _sa2 = 0 THEN 0
                    ELSE floor(_scx * 1000000 / (3 * _sa2)) END AS BIGINT)
                   AS cx_u,
               CAST(CASE WHEN _sa2 = 0 THEN 0
                    ELSE floor(_scy * 1000000 / (3 * _sa2)) END AS BIGINT)
                   AS cy_u
        FROM agg
    """


def q_geo_polygon_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic polygon measures over the jittered+holed state rings:
    TRUE km^2 area (Chamberlain-Duquette spherical formula — the planar
    shoelace in deg^2 distorts by cos(lat) across the CONUS band) and
    great-circle perimeter km, both per-edge integerized, positional
    shell-minus-holes."""
    from .functions import geodesy as GD

    rings = spark.createDataFrame(
        _ring_rows(),
        "record_number long, ring_idx int, xs array<double>, ys array<double>",
    )
    per_ring = rings.select(
        "record_number",
        "ring_idx",
        F.expr(GD.ring_area_sph_sql("xs", "ys", "spark")).alias("ga"),
        F.expr(GD.ring_perim_geo_sql("xs", "ys", "spark")).alias("gp"),
    )
    return per_ring.groupBy("record_number").agg(
        F.sum(
            F.when(F.col("ring_idx") == 0, F.col("ga")).otherwise(-F.col("ga"))
        ).alias("garea_u"),
        F.sum("gp").alias("gperim_u"),
        F.count(F.lit(1)).cast("long").alias("n_rings"),
    )


def q_geo_polygon_area_oracle() -> str:
    from .functions import geodesy as GD

    ga = GD.ring_area_sph_sql("xs", "ys", "duckdb")
    gp = GD.ring_perim_geo_sql("xs", "ys", "duckdb")
    return f"""
        SELECT record_number::BIGINT AS record_number,
               CAST(sum(CASE WHEN ring_idx = 0 THEN ga ELSE -ga END)
                    AS BIGINT) AS garea_u,
               CAST(sum(gp) AS BIGINT) AS gperim_u,
               count(*)::BIGINT AS n_rings
        FROM (
            SELECT record_number, ring_idx, {ga} AS ga, {gp} AS gp
            FROM {_ring_values_sql()}
        ) t
        GROUP BY record_number
    """


_PROFILE_NUM = {"o_orderkey": 0, "o_custkey": 0, "o_totalprice": 2}
_PROFILE_STR = ("o_orderpriority", "o_orderstatus")


def q_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column statistics over orders (row/null/NDV counts,
    integerized min/max; LENGTH min/max for strings) — one aggregate
    pass, long-format output, the stats layer a lakehouse maintains."""
    from .operators import profiling as PF

    return PF.table_profile(
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        numeric_cols=_PROFILE_NUM,
        string_cols=_PROFILE_STR,
    )


def q_table_stats_oracle() -> str:
    arms = []
    for c, scale in _PROFILE_NUM.items():
        m = 10 ** scale
        arms.append(f"""
          SELECT '{c}' AS col, count(*) AS n_rows,
                 CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_nulls,
                 CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
                 CAST(floor(min({c}) * {m}) AS BIGINT) AS min_u,
                 CAST(floor(max({c}) * {m}) AS BIGINT) AS max_u
          FROM orders""")
    for c in _PROFILE_STR:
        arms.append(f"""
          SELECT '{c}' AS col, count(*) AS n_rows,
                 CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_nulls,
                 CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
                 CAST(min(length({c})) AS BIGINT) AS min_u,
                 CAST(max(length({c})) AS BIGINT) AS max_u
          FROM orders""")
    return "\nUNION ALL".join(arms)


# ---------------------------------------------------------------------------
# key-skew profiling (the measurement behind the salting policy)
# ---------------------------------------------------------------------------


def q_cell_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter profile of the res-6 tile keys: which cells are hot
    and by how many multiples of the mean (``operators.profiling``) —
    the data that decides AQE-vs-salting for the spatial joins."""
    from .operators import profiling as PR

    cells = _points_df(spark, sf_dir).select(
        F.expr(C.cell_sql("lng", "lat", 6, "spark")).alias("cell")
    )
    return PR.key_skew_profile(cells, ["cell"], top_k=20)


def q_cell_skew_oracle() -> str:
    cell = C.cell_sql("lng", "lat", 6, "duckdb")
    return f"""
        WITH pts AS ({_points_oracle_cte()}),
        counts AS (
            SELECT {cell} AS cell, count(*) AS n_rows FROM pts GROUP BY 1
        ),
        tot AS (
            SELECT CAST(sum(n_rows) AS BIGINT) AS _total,
                   count(*) AS _n_keys
            FROM counts
        ),
        ranked AS (
            SELECT cell, n_rows,
                   row_number() OVER (ORDER BY n_rows DESC, cell) AS rank
            FROM counts
        )
        SELECT rank::BIGINT AS rank, cell, n_rows::BIGINT AS n_rows,
               CAST(floor(n_rows * 1000000 / _total) AS BIGINT) AS share_ppm,
               CAST(floor(n_rows * _n_keys * 100 / _total) AS BIGINT)
                   AS skew_x100
        FROM ranked CROSS JOIN tot WHERE rank <= 20
    """


# ---------------------------------------------------------------------------
# MERGE INTO-style upsert (Iceberg-style table maintenance)
# ---------------------------------------------------------------------------


def _orders_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )


def _orders_merged(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(base, merged): the shared MERGE scenario — keys %13 update
    (priority -> 'MERGED'), %17 delete (tombstones win on overlap), a
    shifted copy of the %13 slice inserts as new keys."""
    from .plans import merge as MG

    base = _orders_base(spark, sf_dir)
    k = F.col("o_orderkey")
    upd = base.where((k % 13 == 0) | (k % 17 == 0)).select(
        k.alias("o_orderkey"),
        F.when(k % 17 == 0, F.col("o_orderpriority"))
        .otherwise(F.lit("MERGED"))
        .alias("o_orderpriority"),
        "o_totalprice",
        (k % 17 == 0).alias("_del"),
    )
    ins = base.where(k % 13 == 0).select(
        (k + 1000000000).alias("o_orderkey"),
        F.lit("INSERTED").alias("o_orderpriority"),
        "o_totalprice",
        F.lit(False).alias("_del"),
    )
    merged = MG.merge_upsert(
        base, upd.unionByName(ins), ["o_orderkey"], delete_col="_del"
    )
    return base, merged


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE semantics over orders (``plans/merge.py``); the result is
    aggregated per priority so the oracle hash covers all three MERGE
    arms (update/insert/delete) at once."""
    _, merged = _orders_merged(spark, sf_dir)
    return merged.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
            "total_cents"
        ),
    )


_MERGE_CTES = """base AS (
            SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        ),
        upd AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 17 = 0 THEN o_orderpriority
                        ELSE 'MERGED' END AS o_orderpriority,
                   o_totalprice,
                   (o_orderkey % 17 = 0) AS _del
            FROM base WHERE o_orderkey % 13 = 0 OR o_orderkey % 17 = 0
            UNION ALL
            SELECT o_orderkey + 1000000000, 'INSERTED', o_totalprice, FALSE
            FROM base WHERE o_orderkey % 13 = 0
        ),
        merged AS (
            SELECT b.o_orderkey, b.o_orderpriority, b.o_totalprice
            FROM base b
            WHERE NOT EXISTS (SELECT 1 FROM upd u
                              WHERE u.o_orderkey = b.o_orderkey)
            UNION ALL
            SELECT o_orderkey, o_orderpriority, o_totalprice
            FROM upd WHERE NOT _del
        )"""


def q_merge_upsert_oracle() -> str:
    return f"""
        WITH {_MERGE_CTES}
        SELECT o_orderpriority,
               count(*)::BIGINT AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM merged GROUP BY o_orderpriority
    """


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between the pre- and post-MERGE snapshots of orders
    (``plans/merge.py::snapshot_diff``): one full-outer key join +
    null-safe column comparison classifies every churned key as
    insert/update/delete; unchanged keys never leave the join."""
    from .plans import merge as MG

    base, merged = _orders_merged(spark, sf_dir)
    return MG.snapshot_diff(base, merged, ["o_orderkey"]).select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"), "change_type"
    )


def q_snapshot_diff_oracle() -> str:
    # keys are non-null in both snapshots, so side-presence can be read
    # off the joined keys directly (the operator's marker columns handle
    # the general nullable-compare-column case)
    return f"""
        WITH {_MERGE_CTES}
        SELECT coalesce(b.o_orderkey, m.o_orderkey)::BIGINT AS o_orderkey,
               CASE WHEN b.o_orderkey IS NULL THEN 'insert'
                    WHEN m.o_orderkey IS NULL THEN 'delete'
                    WHEN b.o_orderpriority IS DISTINCT FROM m.o_orderpriority
                      OR b.o_totalprice IS DISTINCT FROM m.o_totalprice
                    THEN 'update' END AS change_type
        FROM base b FULL OUTER JOIN merged m ON b.o_orderkey = m.o_orderkey
        WHERE (CASE WHEN b.o_orderkey IS NULL THEN 'insert'
                    WHEN m.o_orderkey IS NULL THEN 'delete'
                    WHEN b.o_orderpriority IS DISTINCT FROM m.o_orderpriority
                      OR b.o_totalprice IS DISTINCT FROM m.o_totalprice
                    THEN 'update' END) IS NOT NULL
    """


# ---------------------------------------------------------------------------
# geodesic (great-circle km) joins — the metric twins of the planar joins
# ---------------------------------------------------------------------------

GEO_WITHIN_KM = 200.0


def _grid_centers_cte() -> str:
    """Feature bbox centers from the VALUES grid — same (minx+maxx)/2.0
    IEEE op the engine's pandas dimension build performs."""
    return (
        f"SELECT record_number, (x0 + x1) / 2.0 AS cx, (y0 + y1) / 2.0 AS cy "
        f"FROM {_grid_values_sql()}"
    )


def q_geo_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest grid feature per point by GREAT-CIRCLE km (haversine on the
    mean sphere) — the geodesic twin of the planar reverse-geocode
    fallback. Broadcast-scored over the dimension, top-1 window, distance
    meter-integerized."""
    from .operators import geodesic as GEO

    out = GEO.geodesic_nearest(
        spark, _points_df(spark, sf_dir), FX.make_grid_features()
    )
    return out.select(
        "point_id", F.col("record_number").cast("long").alias("record_number"),
        "gdist_m",
    )


def q_geo_nearest_oracle() -> str:
    from .functions import geodesy as GD

    hav = GD.haversine_m_u_sql("lng", "lat", "cx", "cy", "duckdb")
    return f"""
        WITH pts AS ({_points_oracle_cte()}),
        ctr AS ({_grid_centers_cte()}),
        scored AS (
          SELECT p.point_id, c.record_number, c.cx, c.cy, p.lng, p.lat
          FROM pts p CROSS JOIN ctr c
        ),
        dist AS (
          SELECT point_id, record_number, {hav} AS gdist_m FROM scored
        ),
        ranked AS (
          SELECT point_id, record_number, gdist_m,
                 row_number() OVER (
                   PARTITION BY point_id ORDER BY gdist_m, record_number
                 ) AS rk
          FROM dist
        )
        SELECT point_id, record_number::BIGINT AS record_number, gdist_m
        FROM ranked WHERE rk = 1
    """


def q_geo_within_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All (point, feature) pairs within GEO_WITHIN_KM great-circle km of
    the feature's bbox center: conservative degree-radius cell cover (a
    provable superset of the km disc at each feature's latitude band) →
    broadcast cell equi-join → exact haversine refine. The km version of
    ``within_distance``."""
    from .operators import geodesic as GEO

    out = GEO.geodesic_within_km(
        spark, _points_df(spark, sf_dir), FX.make_grid_features(),
        km=GEO_WITHIN_KM,
    )
    return out.select(
        "point_id", F.col("record_number").cast("long").alias("record_number"),
        "gdist_m",
    )


def q_geo_within_km_oracle() -> str:
    from .functions import geodesy as GD

    hav = GD.haversine_m_u_sql("lng", "lat", "cx", "cy", "duckdb")
    return f"""
        WITH pts AS ({_points_oracle_cte()}),
        ctr AS ({_grid_centers_cte()}),
        scored AS (
          SELECT p.point_id, c.record_number, c.cx, c.cy, p.lng, p.lat
          FROM pts p CROSS JOIN ctr c
        )
        SELECT point_id, record_number::BIGINT AS record_number,
               {hav} AS gdist_m
        FROM scored
        WHERE {hav} <= {int(GEO_WITHIN_KM * 1000)}
    """


# ---------------------------------------------------------------------------
# raster kernel smoothing (KDE heatmap)
# ---------------------------------------------------------------------------

SMOOTH_RES = 8
SMOOTH_RADIUS = 2
# ascending density thresholds for the contour-band query, chosen from
# the sf0.01 density distribution (max 166, median 65): bands of ~1172 /
# 644 / 134 cells
CONTOUR_THRESHOLDS = (40, 80, 140)


def q_raster_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KDE-style smoothed density raster: res-8 cell histogram (the point
    table's ONE shuffle) → integer tent-kernel spread over the bounded
    occupied-cell table → per-cell exact BIGINT density."""
    from .operators import raster as R

    return R.smooth_density(
        _points_df(spark, sf_dir), res=SMOOTH_RES, radius=SMOOTH_RADIUS,
        kernel="tent",
    )


def q_raster_smooth_oracle() -> str:
    from .operators import raster as R

    return R.smooth_density_oracle_sql(
        _points_oracle_cte(), res=SMOOTH_RES, radius=SMOOTH_RADIUS,
        kernel="tent",
    )


def q_density_contours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filled contour bands (isobands) over the smoothed density: KDE
    raster -> CASE-sum level classification -> run-merge polygonization.
    The full cartographic raster -> vector composition in one plan."""
    from .operators import raster as R

    return R.density_contours(
        _points_df(spark, sf_dir), res=SMOOTH_RES,
        thresholds=CONTOUR_THRESHOLDS, radius=SMOOTH_RADIUS, kernel="tent",
    )


def q_density_contours_oracle() -> str:
    from .operators import raster as R

    return R.density_contours_oracle_sql(
        _points_oracle_cte(), res=SMOOTH_RES,
        thresholds=CONTOUR_THRESHOLDS, radius=SMOOTH_RADIUS, kernel="tent",
    )


ADAPTIVE_MAX_RES = 9
ADAPTIVE_CAP = 25

# 1.0 deg: the fixture's point synthesis is a low-discrepancy lattice
# whose MIN pairwise distance is 0.566 deg — 0.5 returns zero pairs;
# 1.0 yields 3161, an informative candidate set
PAIR_DIST = 1.0

KNN_SELF_K = 3
KNN_SELF_RADIUS = 2.0

GEO_PAIR_KM = 90.0

GEO_KNN_K = 3
GEO_KNN_KM = 150.0


def q_geo_knn_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic radius-bounded kNN self-join: each point's 3 nearest
    corpus points within 150 great-circle km."""
    from .operators import geodesic as GEO

    return GEO.geodesic_knn_self(
        _points_df(spark, sf_dir), k=GEO_KNN_K, km=GEO_KNN_KM
    )


def q_geo_knn_self_oracle() -> str:
    from .functions import geodesy as GD

    hav = GD.haversine_m_u_sql("a.lng", "a.lat", "b.lng", "b.lat", "duckdb")
    return f"""
        WITH pts AS ({_points_oracle_cte()}),
        cand AS (
          SELECT a.point_id, b.point_id AS neighbor_id, {hav} AS gdist_m
          FROM pts a JOIN pts b ON a.point_id <> b.point_id
          WHERE {hav} <= {int(round(GEO_KNN_KM * 1000))}
        ),
        ranked AS (
          SELECT point_id, neighbor_id, gdist_m,
                 row_number() OVER (
                   PARTITION BY point_id ORDER BY gdist_m, neighbor_id
                 ) AS nn_rank
          FROM cand
        )
        SELECT point_id, neighbor_id, nn_rank, gdist_m
        FROM ranked WHERE nn_rank <= {GEO_KNN_K}
    """


def q_geo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic big-big self-join: all unordered point pairs within 90
    great-circle km. Resolution derives from the MEASURED latitude band
    edge (one narrow max(abs(lat)) aggregate) so the 3x3-neighbor cover
    stays a provable superset under the cos(lat) longitude shrink."""
    from .operators import geodesic as GEO

    return GEO.geodesic_pairs_within_km(
        _points_df(spark, sf_dir), km=GEO_PAIR_KM
    )


def q_geo_pairs_oracle() -> str:
    from .functions import geodesy as GD

    hav = GD.haversine_m_u_sql("a.lng", "a.lat", "b.lng", "b.lat", "duckdb")
    return f"""
        WITH pts AS ({_points_oracle_cte()})
        SELECT a.point_id AS id_1, b.point_id AS id_2, {hav} AS gdist_m
        FROM pts a JOIN pts b ON a.point_id < b.point_id
        WHERE {hav} <= {int(round(GEO_PAIR_KM * 1000))}
    """


def q_knn_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-bounded kNN SELF-join: each point's 3 nearest OTHER points
    within 2.0 deg — pair join mirrored to both directions + per-point
    top-k window (map-side WindowGroupLimit partial top-k)."""
    from .operators import spatial_join as SJ

    return SJ.knn_self_join(
        _points_df(spark, sf_dir), k=KNN_SELF_K, radius=KNN_SELF_RADIUS
    )


def q_knn_self_oracle() -> str:
    d2 = (
        "sqrt((a.lng - b.lng) * (a.lng - b.lng)"
        " + (a.lat - b.lat) * (a.lat - b.lat))"
    )
    return f"""
        WITH pts AS ({_points_oracle_cte()}),
        cand AS (
          SELECT a.point_id, b.point_id AS neighbor_id,
                 CAST(floor({d2} * 1000000.0) AS BIGINT) AS dist_u
          FROM pts a JOIN pts b ON a.point_id <> b.point_id
          WHERE {d2} <= {KNN_SELF_RADIUS}
        ),
        ranked AS (
          SELECT point_id, neighbor_id, dist_u,
                 row_number() OVER (
                   PARTITION BY point_id ORDER BY dist_u, neighbor_id
                 ) AS nn_rank
          FROM cand
        )
        SELECT point_id, neighbor_id, nn_rank, dist_u
        FROM ranked WHERE nn_rank <= {KNN_SELF_K}
    """


def q_point_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LARGE x LARGE spatial self-join: all unordered point pairs within
    PAIR_DIST Euclidean degrees (GPS-proximity candidate pairs). 3x3
    neighbor-cell equi-join + exact refine; each pair exactly once."""
    from .operators import spatial_join as SJ

    return SJ.within_distance_self_join(
        _points_df(spark, sf_dir), distance=PAIR_DIST
    )


def q_point_pairs_oracle() -> str:
    d2 = (
        "sqrt((a.lng - b.lng) * (a.lng - b.lng)"
        " + (a.lat - b.lat) * (a.lat - b.lat))"
    )
    return f"""
        WITH pts AS ({_points_oracle_cte()})
        SELECT a.point_id AS id_1, b.point_id AS id_2,
               CAST(floor({d2} * 1000000.0) AS BIGINT) AS dist_u
        FROM pts a JOIN pts b ON a.point_id < b.point_id
        WHERE {d2} <= {PAIR_DIST}
    """


SP_HOPS = 6
SP_ROOTS = 3


def q_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source bounded-hop shortest paths over the proximity graph:
    the ``point_pairs`` big-big self-join becomes the EDGE table
    (symmetrized, weight = the same floor(dist * 1e6) BIGINT) and a
    Pregel-style Bellman-Ford loop relaxes 6 hops from 3 root points —
    reachability + network distance, the question a mobility pipeline
    asks right after proximity pairing. The engine is O(hops x |E|)
    (one join + one integer-min groupBy per hop, state checkpointed so
    the plan never deepens); the oracle ENUMERATES walks with a
    recursive CTE — exponential in the hop bound and only viable at
    gate scale, which is precisely the scale argument for the
    relaxation form. All-integer arithmetic end to end: no float enters
    the iteration, so engines agree bit-for-bit."""
    from .operators import graph as GR
    from .operators import spatial_join as SJ

    pts = _points_df(spark, sf_dir)
    pairs = SJ.within_distance_self_join(pts, distance=PAIR_DIST)
    fwd = pairs.select(
        F.col("id_1").alias("src"), F.col("id_2").alias("dst"),
        F.col("dist_u").alias("w_u"),
    )
    rev = pairs.select(
        F.col("id_2").alias("src"), F.col("id_1").alias("dst"),
        F.col("dist_u").alias("w_u"),
    )
    sources = pts.where(F.col("point_id") <= SP_ROOTS).select(
        F.col("point_id").alias("root")
    )
    out = GR.shortest_paths(fwd.unionByName(rev), sources, max_hops=SP_HOPS)
    return out.select(
        F.col("root").cast("long").alias("root"),
        F.col("node").cast("long").alias("node"),
        F.col("dist_u").alias("dist_u"),
    )


def q_shortest_path_oracle() -> str:
    """DuckDB twin: the SAME edge predicate/weight text as the
    ``point_pairs`` oracle (both directions via ``<>``), then a
    recursive CTE that enumerates hop-bounded walks and takes the
    integer min per (root, node) — equivalent to ``max_hops``
    Bellman-Ford relaxations because iteration h covers exactly the
    walks of <= h edges."""
    d2 = (
        "sqrt((a.lng - b.lng) * (a.lng - b.lng)"
        " + (a.lat - b.lat) * (a.lat - b.lat))"
    )
    return f"""
        WITH RECURSIVE pts AS ({_points_oracle_cte()}),
        edges AS (
          SELECT a.point_id AS src, b.point_id AS dst,
                 CAST(floor({d2} * 1000000.0) AS BIGINT) AS w_u
          FROM pts a JOIN pts b ON a.point_id <> b.point_id
          WHERE {d2} <= {PAIR_DIST}
        ),
        walk AS (
          SELECT point_id AS root, point_id AS node,
                 CAST(0 AS BIGINT) AS dist_u, 0 AS hop
          FROM pts WHERE point_id <= {SP_ROOTS}
          UNION
          SELECT w.root, e.dst AS node, w.dist_u + e.w_u AS dist_u,
                 w.hop + 1 AS hop
          FROM walk w JOIN edges e ON e.src = w.node
          WHERE w.hop < {SP_HOPS}
        )
        SELECT root::BIGINT AS root, node::BIGINT AS node,
               min(dist_u) AS dist_u
        FROM walk GROUP BY root, node
    """


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation + degree over the proximity
    graph — the clustering-structure primitive (local clustering
    coefficient numerator; clumped vs scattered corpora). The engine
    uses DEGREE ORIENTATION (each triangle enumerated exactly once from
    its one doubly-out-oriented node; out-degree bounded O(sqrt(E))
    even at celebrity nodes — the standard distributed formulation);
    the oracle brute-forces the 3-way canonical join, viable only at
    gate scale."""
    from .operators import graph as GR
    from .operators import spatial_join as SJ

    pts = _points_df(spark, sf_dir)
    pairs = SJ.within_distance_self_join(pts, distance=PAIR_DIST)
    return GR.triangle_counts(pairs).select(
        F.col("node").cast("long").alias("node"), "degree", "n_triangles"
    )


def q_triangles_oracle() -> str:
    d2 = (
        "sqrt((a.lng - b.lng) * (a.lng - b.lng)"
        " + (a.lat - b.lat) * (a.lat - b.lat))"
    )
    return f"""
        WITH pts AS ({_points_oracle_cte()}),
        e AS (
          SELECT a.point_id AS a, b.point_id AS b
          FROM pts a JOIN pts b ON a.point_id < b.point_id
          WHERE {d2} <= {PAIR_DIST}
        ),
        deg AS (
          SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
            SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
          GROUP BY node
        ),
        tri AS (
          SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM e e1
          JOIN e e2 ON e2.a = e1.b
          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        member AS (
          SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
            SELECT x AS node FROM tri UNION ALL
            SELECT y AS node FROM tri UNION ALL
            SELECT z AS node FROM tri)
          GROUP BY node
        )
        SELECT d.node::BIGINT AS node, d.degree,
               CAST(coalesce(m.n_triangles, 0) AS BIGINT) AS n_triangles
        FROM deg d LEFT JOIN member m ON m.node = d.node
    """


ISO_BAND_U = 500_000  # 0.5 deg of network distance per band, in µdeg


def q_isochrone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isochrone / service-area bands: the ``shortest_path`` distance
    field bucketed into 0.5-degree network-distance rings per root —
    the coverage product a dispatch planner draws (how much sits within
    one band, two bands, ... of each depot). One extra integer band
    projection + rollup over the Bellman-Ford state; the band is the
    canonical double-floor of two exact integers."""
    from .operators import graph as GR
    from .operators import spatial_join as SJ

    pts = _points_df(spark, sf_dir)
    pairs = SJ.within_distance_self_join(pts, distance=PAIR_DIST)
    fwd = pairs.select(
        F.col("id_1").alias("src"), F.col("id_2").alias("dst"),
        F.col("dist_u").alias("w_u"),
    )
    rev = pairs.select(
        F.col("id_2").alias("src"), F.col("id_1").alias("dst"),
        F.col("dist_u").alias("w_u"),
    )
    sources = pts.where(F.col("point_id") <= SP_ROOTS).select(
        F.col("point_id").alias("root")
    )
    paths = GR.shortest_paths(
        fwd.unionByName(rev), sources, max_hops=SP_HOPS
    )
    return (
        paths.selectExpr(
            "root", "dist_u",
            f"CAST(floor(CAST(dist_u AS DOUBLE) / "
            f"CAST({ISO_BAND_U} AS DOUBLE)) AS BIGINT) AS band",
        )
        .groupBy("root", "band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.max("dist_u").alias("max_dist_u"),
        )
        .selectExpr(
            "CAST(root AS BIGINT) AS root", "band", "n_nodes", "max_dist_u"
        )
    )


def q_isochrone_oracle() -> str:
    """DuckDB twin: the shortest_path walk-enumeration CTE + the same
    band floor and rollup."""
    d2 = (
        "sqrt((a.lng - b.lng) * (a.lng - b.lng)"
        " + (a.lat - b.lat) * (a.lat - b.lat))"
    )
    return f"""
        WITH RECURSIVE pts AS ({_points_oracle_cte()}),
        edges AS (
          SELECT a.point_id AS src, b.point_id AS dst,
                 CAST(floor({d2} * 1000000.0) AS BIGINT) AS w_u
          FROM pts a JOIN pts b ON a.point_id <> b.point_id
          WHERE {d2} <= {PAIR_DIST}
        ),
        walk AS (
          SELECT point_id AS root, point_id AS node,
                 CAST(0 AS BIGINT) AS dist_u, 0 AS hop
          FROM pts WHERE point_id <= {SP_ROOTS}
          UNION
          SELECT w.root, e.dst AS node, w.dist_u + e.w_u AS dist_u,
                 w.hop + 1 AS hop
          FROM walk w JOIN edges e ON e.src = w.node
          WHERE w.hop < {SP_HOPS}
        ),
        best AS (
          SELECT root, node, min(dist_u) AS dist_u
          FROM walk GROUP BY root, node
        )
        SELECT root::BIGINT AS root,
               CAST(floor(CAST(dist_u AS DOUBLE) /
                 CAST({ISO_BAND_U} AS DOUBLE)) AS BIGINT) AS band,
               CAST(count(*) AS BIGINT) AS n_nodes,
               max(dist_u) AS max_dist_u
        FROM best
        GROUP BY root, band
    """


PR_ITERS = 3


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank importance over the proximity graph (3 damped
    iterations): the second Pregel-style consumer of the ``point_pairs``
    edge table after ``shortest_path`` — which points sit in everyone's
    neighborhood. Integerized-iteration canon: BIGINT micro-unit ranks,
    per-edge contributions floor-integerized BEFORE the order-free
    integer sum, exact 150000 base term — no float state crosses an
    iteration, so the unrolled-CTE SQL twin matches bit-for-bit. The
    engine's loop is one join + one groupBy per iteration over
    checkpointed state (O(iters x E)); the oracle pays the same
    recurrence as 3 chained CTEs."""
    from .operators import graph as GR
    from .operators import spatial_join as SJ

    pts = _points_df(spark, sf_dir)
    pairs = SJ.within_distance_self_join(pts, distance=PAIR_DIST)
    fwd = pairs.select(F.col("id_1").alias("src"), F.col("id_2").alias("dst"))
    rev = pairs.select(F.col("id_2").alias("src"), F.col("id_1").alias("dst"))
    out = GR.pagerank(fwd.unionByName(rev), iters=PR_ITERS)
    return out.select(
        F.col("node").cast("long").alias("node"), "r_u"
    )


def q_pagerank_oracle() -> str:
    from .operators import graph as GR

    d2 = (
        "sqrt((a.lng - b.lng) * (a.lng - b.lng)"
        " + (a.lat - b.lat) * (a.lat - b.lat))"
    )
    edges = f"""
        SELECT a.point_id AS src, b.point_id AS dst
        FROM ({_points_oracle_cte()}) a
        JOIN ({_points_oracle_cte()}) b ON a.point_id <> b.point_id
        WHERE {d2} <= {PAIR_DIST}
    """
    return GR.pagerank_oracle_sql(edges, iters=PR_ITERS)


def q_adaptive_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quadtree binning: the multi-resolution leaf cover where
    every leaf cell holds <= ADAPTIVE_CAP points (coarse over sparse
    regions, fine inside dense clusters) — computed from the histogram
    pyramid alone, one point-table shuffle, no iteration."""
    from .operators import tiling as TI

    return TI.adaptive_grid(
        _points_df(spark, sf_dir), max_res=ADAPTIVE_MAX_RES, cap=ADAPTIVE_CAP
    )


def q_adaptive_grid_oracle() -> str:
    from .operators import tiling as TI

    return TI.adaptive_grid_oracle_sql(
        _points_oracle_cte(), max_res=ADAPTIVE_MAX_RES, cap=ADAPTIVE_CAP
    )


ROAD_CROSSING_RES = 5


def q_road_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Road-network crossing detection (segment x segment overlay): all
    intersecting segment pairs from different roads via the PBSM
    cell-blocked self-join — in-plan bbox covers, reference-point dedup
    (each pair refined in exactly ONE cell, no DISTINCT pass), and an
    exact-BIGINT four-orientation refine shared verbatim with the
    oracle. Proper crossings also report the junction point at 1 µdeg
    (one textually-identical double expression). The fixture's 40
    canvas-spanning roads yield a few hundred crossings."""
    from .operators import lines as LN

    segs = spark.createDataFrame(
        LN.polyline_segments(FX.make_road_features())
    )
    return LN.segment_self_intersections(segs, res=ROAD_CROSSING_RES)


def q_road_crossings_oracle() -> str:
    from .operators import lines as LN

    return LN.segment_intersections_oracle_sql(_road_segment_values_sql())


LINE_FRACS = (25, 50, 75)


def q_line_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear referencing (ST_LineInterpolatePoint): the point at 25/50/
    75% of each road's length — mileposting, label placement, probe
    positioning. One road-keyed window pass builds the µdeg-integerized
    cumulative-length walk (BIGINT running sums — a float cumsum would
    hang determinism on window-evaluation order), the fraction set
    explodes in-plan, and the covering segment is the first whose span
    reaches the target. At 10^8 roads: scan + one window shuffle, no
    pairwise work."""
    from .operators import lines as LN

    segs = LN.polyline_segments(FX.make_road_features())
    return LN.line_interpolate(
        spark.createDataFrame(segs), fracs=LINE_FRACS
    )


def q_line_interpolate_oracle() -> str:
    from .operators import lines as LN

    return LN.line_interpolate_oracle_sql(
        _road_segment_values_sql(), fracs=LINE_FRACS
    )


BORDER_RES = 5


def _state_edge_values_sql() -> str:
    """Boundary edges of the 51 state polygons (shell + hole rings) as a
    VALUES literal — same serialization contract as the road segments."""
    from .operators import lines as LN

    feats = FX.make_features()
    feats = feats[(feats.shape_type == 5) & (~feats.deleted)]
    segs = LN.polygon_ring_segments(feats)
    vals = ", ".join(
        f"({int(s.road_id)}, {int(s.seg_id)}, {dlit(s.ax)}, "
        f"{dlit(s.ay)}, {dlit(s.bx)}, "
        f"{dlit(s.by)})"
        for _, s in segs.iterrows()
    )
    return f"(VALUES {vals}) AS s(road_id, seg_id, ax, ay, bx, by)"


def q_border_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Border-crossing analytics (polyline x polygon-boundary overlay):
    how many times does each road cross each state's boundary — the
    route x admin-region join behind toll/border/jurisdiction
    attribution. Two-table PBSM intersection join (in-plan bbox covers
    both sides, scan-side reference-point dedup, exact BIGINT
    orientation refine) aggregated per (road, state); crossing a hole
    ring counts, as holes are boundary."""
    from .operators import lines as LN

    segs_r = spark.createDataFrame(
        LN.polyline_segments(FX.make_road_features())
    )
    feats = FX.make_features()
    feats = feats[(feats.shape_type == 5) & (~feats.deleted)]
    segs_s = spark.createDataFrame(LN.polygon_ring_segments(feats))
    pairs = LN.segment_intersections_join(segs_r, segs_s, res=BORDER_RES)
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_cross"),
            F.sum("proper_i").alias("n_proper"),
        )
        .selectExpr(
            "id_a AS road_id", "id_b AS record_number",
            "n_cross", "CAST(n_proper AS BIGINT) AS n_proper",
        )
    )


def q_border_crossings_oracle() -> str:
    from .operators import lines as LN

    u_cols = ",\n                 ".join(LN.seg_int_u_exprs())
    d_cols = ",\n                 ".join(LN.seg_int_d_exprs())
    return f"""
        WITH roads AS MATERIALIZED (
          SELECT * FROM {_road_segment_values_sql()}
        ),
        states AS MATERIALIZED (
          SELECT * FROM {_state_edge_values_sql()}
        ),
        cand AS (
          SELECT a.road_id AS id_a, a.seg_id AS seg_a,
                 b.road_id AS id_b, b.seg_id AS seg_b,
                 a.ax AS ax1, a.ay AS ay1, a.bx AS bx1, a.by AS by1,
                 b.ax AS ax2, b.ay AS ay2, b.bx AS bx2, b.by AS by2
          FROM roads a CROSS JOIN states b
        ),
        boxed AS (
          SELECT * FROM cand WHERE {LN.SEG_BBOX_OVERLAP_SQL}
        ),
        ints AS (
          SELECT id_a, seg_a, id_b, seg_b,
                 {u_cols}
          FROM boxed
        ),
        oriented AS (
          SELECT id_a, seg_a, id_b, seg_b,
                 x1a, y1a, x1b, y1b, x2a, y2a, x2b, y2b,
                 {d_cols}
          FROM ints
        ),
        hits AS (
          SELECT id_a, id_b,
                 CASE WHEN {LN.SEG_PROPER_SQL} THEN 1 ELSE 0 END AS pr
          FROM oriented
          WHERE {LN.SEG_INTERSECTS_SQL}
        )
        SELECT CAST(id_a AS BIGINT) AS road_id,
               CAST(id_b AS BIGINT) AS record_number,
               count(*)::BIGINT AS n_cross,
               CAST(sum(pr) AS BIGINT) AS n_proper
        FROM hits GROUP BY id_a, id_b
    """


IDW_RES = 7


def q_idw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDW (Shepard) surface interpolation: a synthetic per-point sensor
    value (exact integer hash of point_id) interpolated onto the res-7
    grid — samples key by their own cell (the one 10^12-row shuffle),
    the bounded in-plan target grid broadcast-explodes its 3x3
    neighborhood, exact-integer dsq refine at one lat-cell radius, and
    exactly two textually-identical double divides (weight and final
    estimate) — operators/raster.py::idw_surface."""
    from .operators import raster as RA

    pts = _points_df(spark, sf_dir).withColumn(
        "v_u", F.expr("(point_id * 48271) % 100000")
    )
    return RA.idw_surface(spark, pts, res=IDW_RES)


def q_idw_oracle() -> str:
    from .operators import raster as RA

    src = (
        f"SELECT lng, lat, (point_id * 48271) % 100000 AS v_u\n"
        f"          FROM ({_points_oracle_cte()})"
    )
    return RA.idw_oracle_sql(src, res=IDW_RES)


RIPLEY_RADII = (0.25, 0.5, 1.0)
# CONUS canvas area in deg^2 (fixtures.CANVAS: 59 x 26)
RIPLEY_AREA = 59.0 * 26.0


def q_ripley_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ripley's K at three radii over the image points — the multi-SCALE
    point-pattern statistic (clustered vs CSR vs dispersed, and at
    which scale): ONE big-big pair join at max(r), every radius a
    conditional sum over the same pair table; naive/uncorrected K
    documented (operators/clustering.py::ripley_k)."""
    from .operators.clustering import ripley_k

    return ripley_k(
        _points_df(spark, sf_dir), radii=RIPLEY_RADII, area=RIPLEY_AREA
    )


def q_ripley_k_oracle() -> str:
    from .operators.clustering import ripley_k_oracle_sql

    return ripley_k_oracle_sql(
        _points_oracle_cte(), radii=RIPLEY_RADII, area=RIPLEY_AREA
    )


G_RADII = (0.1, 0.25, 0.5)


def q_g_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G function (NN-distance CDF) at three radii — the
    nearest-neighbor companion to ripley_k: NN <= r iff ANY neighbor
    within r, so the radius-bounded pair join decides the ladder
    EXACTLY (operators/clustering.py::g_function)."""
    from .operators.clustering import g_function

    return g_function(_points_df(spark, sf_dir), radii=G_RADII)


def q_g_function_oracle() -> str:
    from .operators.clustering import g_function_oracle_sql

    return g_function_oracle_sql(_points_oracle_cte(), radii=G_RADII)


# the synthetic points sit on an effective hash lattice with MINIMUM
# pair distance ~0.566 deg (measured) — a 0.5 radius predicts nothing
IDW_CV_RADIUS = 1.5


def q_idw_loocv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out cross-validation of the IDW interpolator: every
    sample predicted from its in-radius neighbors with the idw_surface
    weights, absolute errors rolled to one row — the geostatistics
    accuracy check (operators/raster.py::idw_loocv). Note the weight
    granularity: built from the pair join's µdeg-floored DISTANCE
    (dist_u^2), identical in both engines."""
    from .operators import raster as RA

    pts = _points_df(spark, sf_dir).withColumn(
        "v_u", F.expr("(point_id * 48271) % 100000")
    )
    return RA.idw_loocv(pts, radius=IDW_CV_RADIUS)


def q_idw_loocv_oracle() -> str:
    from .operators import raster as RA

    src = (
        f"SELECT point_id, lng, lat, (point_id * 48271) % 100000 AS v_u\n"
        f"          FROM ({_points_oracle_cte()})"
    )
    return RA.idw_loocv_oracle_sql(src, radius=IDW_CV_RADIUS)
