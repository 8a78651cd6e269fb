"""Point-to-polyline operators (nearest road / within-distance-of-line).

The reference decodes polyline geometry (``src/shapefile_reader.cpp``
PolyLine branch) but its spatial index only ever queries bbox centers —
nearest-LINE lookup is an engine addition the tiling/geocoding pipeline
needs (snap an image point to the nearest road segment).

Design (same shape as ``spatial_join.within_distance_join``):

* the line table is dimension-scale — explode polylines to SEGMENTS on
  the driver (``polyline_segments``), pad each segment bbox by the search
  radius, cover with cells, broadcast the (cell, segment) table;
* the point side (10^12 rows) computes its cell key and equi-joins —
  pure codegen, zero Python, no shuffle of the point table beyond the
  broadcast hash join;
* point→segment distance is ONE dual-dialect arithmetic expression
  (``point_segment_dsq_sql``): clamp the projection parameter t to
  [0, 1] with greatest/least, then squared distance to the clamped
  foot. The same text runs in Spark (whole-stage codegen) and DuckDB
  (the oracle), so the IEEE op tree is identical and the integerized
  ``floor(dsq * 1e12)`` matches bit-for-bit;
* the radius filter and the argmin both use the INTEGERIZED value, so a
  1-ulp boundary disagreement cannot change the output row set;
* top-1 per point = row_number over (dsq_u, road_id, seg_id) — the
  deterministic tie-break.

Candidate guarantee: a point within ``radius`` of a segment lies inside
that segment's radius-padded bbox, hence its cell is one of the covering
cells — the equi-join can only ADD candidates (pruned by the dsq filter),
never lose the true nearest-within-radius.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import cells as C

_SCALE12 = "CAST(1000000000000 AS DOUBLE)"  # 1e-12 deg^2 integerization


def polyline_segments(roads_pdf: pd.DataFrame) -> pd.DataFrame:
    """Explode polyline rows (xs, ys, part_sizes) into one row per segment.

    seg_id numbers segments consecutively within a road, skipping across
    part boundaries (a two-part road with sizes [4, 4] yields segments
    0-2 and 3-5 — no segment bridges the gap). Zero-length segments are
    dropped (their dsq expression would divide by zero; they add no
    distance information a neighboring segment endpoint doesn't carry).
    """
    rows = []
    for _, r in roads_pdf.iterrows():
        xs = np.asarray(r["xs"], np.float64)
        ys = np.asarray(r["ys"], np.float64)
        offs = np.concatenate([[0], np.cumsum(r["part_sizes"])]).astype(int)
        seg = 0
        for p in range(len(r["part_sizes"])):
            for k in range(offs[p], offs[p + 1] - 1):
                ax, ay, bx, by = xs[k], ys[k], xs[k + 1], ys[k + 1]
                if ax == bx and ay == by:
                    continue
                rows.append(
                    (int(r["road_id"]), seg, float(ax), float(ay),
                     float(bx), float(by))
                )
                seg += 1
    return pd.DataFrame(
        rows, columns=["road_id", "seg_id", "ax", "ay", "bx", "by"]
    )


def point_segment_dsq_sql(
    px: str, py: str, ax: str, ay: str, bx: str, by: str
) -> str:
    """Squared point→segment distance as ONE ANSI expression (both dialects).

    t = clamp(dot(p-a, b-a) / |b-a|^2, 0, 1); dsq = |p - (a + t*(b-a))|^2.
    Callers must guarantee non-degenerate segments (|b-a| > 0) — enforced
    by ``polyline_segments``. The text is shared verbatim between Spark
    and DuckDB so the IEEE op tree is identical (CLAUDE.md determinism
    rule); inputs must already be DOUBLE columns.
    """
    l2 = f"(({bx}-{ax})*({bx}-{ax}) + ({by}-{ay})*({by}-{ay}))"
    dot = f"(({px}-{ax})*({bx}-{ax}) + ({py}-{ay})*({by}-{ay}))"
    t = f"greatest(CAST(0 AS DOUBLE), least(CAST(1 AS DOUBLE), {dot} / {l2}))"
    qx = f"({ax} + {t} * ({bx}-{ax}))"
    qy = f"({ay} + {t} * ({by}-{ay}))"
    return f"(({px}-{qx})*({px}-{qx}) + ({py}-{qy})*({py}-{qy}))"


def point_segment_dsq_np(px, py, ax, ay, bx, by):
    """Vectorized numpy twin of ``point_segment_dsq_sql`` (same op order)."""
    px, py = np.asarray(px, np.float64), np.asarray(py, np.float64)
    l2 = (bx - ax) * (bx - ax) + (by - ay) * (by - ay)
    dot = (px - ax) * (bx - ax) + (py - ay) * (by - ay)
    t = np.maximum(0.0, np.minimum(1.0, dot / l2))
    qx = ax + t * (bx - ax)
    qy = ay + t * (by - ay)
    return (px - qx) * (px - qx) + (py - qy) * (py - qy)


def dsq_u_sql(px: str, py: str, ax: str, ay: str, bx: str, by: str) -> str:
    dsq = point_segment_dsq_sql(px, py, ax, ay, bx, by)
    return f"CAST(floor({dsq} * {_SCALE12}) AS BIGINT)"


def radius2_u(radius: float) -> int:
    """The integerized radius^2 threshold (exact Python int, both engines
    compare against the same literal)."""
    return int(np.floor(radius * radius * 1e12))


def segment_cell_cover(
    segments_pdf: pd.DataFrame, radius: float, res: int
) -> pd.DataFrame:
    """(cell, road_id, seg_id, ax, ay, bx, by): covering cells of each
    segment's radius-padded bbox. Driver-side, dimension-scale; the
    explode factor is bounded by res choice (long segments cover
    O(len/cell + 2) × O(2) cells — overcount is pruned by the dsq
    filter, never a correctness issue)."""
    rows = []
    # itertuples + hoisted scalars: the inner loop runs once per covered
    # CELL (thousands per segment at buffer radii), and pandas row
    # attribute access inside it cost 2.1M Series.__getattr__ calls /
    # ~25 s of DRIVER time at sf0.01 (profiled round 4); plain tuples
    # make the same enumeration sub-second
    for s in segments_pdf.itertuples(index=False):
        ax, ay = float(s.ax), float(s.ay)
        bx, by = float(s.bx), float(s.by)
        rid, sid = int(s.road_id), int(s.seg_id)
        cover = C.cover_bbox(
            min(ax, bx) - radius, min(ay, by) - radius,
            max(ax, bx) + radius, max(ay, by) + radius, res,
        )
        rows.extend(
            (int(c), rid, sid, ax, ay, bx, by) for c in cover
        )
    return pd.DataFrame(
        rows,
        columns=["cell", "road_id", "seg_id", "ax", "ay", "bx", "by"],
    )


def _score_and_topk(
    joined: DataFrame,
    radius: float,
    k: int,
    lng_col: str,
    lat_col: str,
    point_id_col: str,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Shared tail of both join variants: integerized dsq + radius filter
    + windowed top-k (map-side WindowGroupLimit before the one exchange).
    ``carry_cols`` pass through from the point side (e.g. a device key
    for map-matching rollups); names that collide with the output or
    internal columns are rejected up front (an ambiguous-reference
    analysis error — or a silently wrong selection — otherwise)."""
    reserved = {
        point_id_col, "road_id", "seg_id", "dsq_u", "nn_rank", "cell",
        "ax", "ay", "bx", "by",
    }
    clash = [c for c in carry_cols if c in reserved]
    if clash:
        raise ValueError(
            f"carry_cols {clash} collide with reserved output/internal "
            f"columns {sorted(reserved)}; alias them on the point side first"
        )
    scored = joined.withColumn(
        "dsq_u",
        F.expr(dsq_u_sql(lng_col, lat_col, "ax", "ay", "bx", "by")),
    ).where(F.col("dsq_u") <= F.lit(radius2_u(radius)))
    w = Window.partitionBy(point_id_col).orderBy("dsq_u", "road_id", "seg_id")
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .where(F.col("nn_rank") <= k)
        .select(
            point_id_col,
            *carry_cols,
            F.col("nn_rank").cast("long").alias("nn_rank"),
            F.col("road_id").cast("long").alias("road_id"),
            F.col("seg_id").cast("long").alias("seg_id"),
            "dsq_u",
        )
    )


def within_distance_of_segments(
    spark: SparkSession,
    points: DataFrame,
    roads_pdf: pd.DataFrame,
    radius: float,
    res: int | None = None,
    lng_col: str = "lng",
    lat_col: str = "lat",
    point_id_col: str = "point_id",
) -> DataFrame:
    """Line-buffer membership: one row per point with ANY segment within
    ``radius`` (the curation predicate "keep/drop images near a road"),
    with the count of in-range segments and the min integerized dsq.

    Same broadcast cell-cover candidates as ``nearest_segment_join`` but
    NO window — a partial-aggregable groupBy, so the plan is scan →
    broadcast join → filter → partial agg → one exchange.
    """
    segs = polyline_segments(roads_pdf)
    if res is None:
        res = C.resolution_for_bbox(2 * radius, 2 * radius, max_cells=64)
    dim = spark.createDataFrame(segment_cell_cover(segs, radius, res))
    pts = points.withColumn("__cell", C.cell_col(lng_col, lat_col, res))
    scored = (
        pts.join(F.broadcast(dim), pts["__cell"] == dim["cell"], "inner")
        .drop("cell", "__cell")
        .withColumn(
            "dsq_u",
            F.expr(dsq_u_sql(lng_col, lat_col, "ax", "ay", "bx", "by")),
        )
        .where(F.col("dsq_u") <= F.lit(radius2_u(radius)))
    )
    return scored.groupBy(point_id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.min("dsq_u").alias("min_dsq_u"),
    )


def nearest_segment_join(
    spark: SparkSession,
    points: DataFrame,
    roads_pdf: pd.DataFrame,
    radius: float,
    res: int | None = None,
    k: int = 1,
    lng_col: str = "lng",
    lat_col: str = "lat",
    point_id_col: str = "point_id",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """k nearest road segments within ``radius`` of each point —
    DIMENSION-SCALE road sets (city/state networks, <= millions of
    covering rows): segments explode on the driver and broadcast.

    Output: point_id, nn_rank (1..k), road_id, seg_id, dsq_u. Points with
    no segment within ``radius`` produce no rows (the reference's
    spatial-index miss semantics — callers wanting a fallback union the
    anti-join side). For planet-scale road tables use
    ``nearest_segment_join_big`` (identical output, no driver work).
    """
    segs = polyline_segments(roads_pdf)
    if res is None:
        res = C.resolution_for_bbox(2 * radius, 2 * radius, max_cells=64)
    dim = spark.createDataFrame(segment_cell_cover(segs, radius, res))
    pts = points.withColumn("__cell", C.cell_col(lng_col, lat_col, res))
    joined = pts.join(
        F.broadcast(dim), pts["__cell"] == dim["cell"], "inner"
    ).drop("cell", "__cell")
    return _score_and_topk(joined, radius, k, lng_col, lat_col,
                           point_id_col, carry_cols)


def segment_cover_df(
    segments: DataFrame, radius: float, res: int
) -> DataFrame:
    """Distributed twin of ``segment_cell_cover``: covering cells of each
    segment's radius-padded bbox enumerated IN the plan — two
    sequence-explodes over the clamped axis-index ranges, then the
    integer pack (``cells.pack_xy_sql``). Pure codegen; cover fan-out is
    the caller's res policy, exactly like the numpy path (value-parity
    tested)."""
    from ..functions.litsql import double_literal

    r = double_literal(radius)
    x0 = f"(least(ax, bx) - {r})"
    x1 = f"(greatest(ax, bx) + {r})"
    y0 = f"(least(ay, by) - {r})"
    y1 = f"(greatest(ay, by) + {r})"
    xi0 = C.axis_index_sql(x0, 180.0, 360.0, res, "spark")
    xi1 = C.axis_index_sql(x1, 180.0, 360.0, res, "spark")
    yi0 = C.axis_index_sql(y0, 90.0, 180.0, res, "spark")
    yi1 = C.axis_index_sql(y1, 90.0, 180.0, res, "spark")
    return (
        segments.withColumn("__xi", F.explode(F.expr(f"sequence({xi0}, {xi1})")))
        .withColumn("__yi", F.explode(F.expr(f"sequence({yi0}, {yi1})")))
        .withColumn("cell", F.expr(C.pack_xy_sql("__xi", "__yi", res, "spark")))
        .drop("__xi", "__yi")
    )


def nearest_segment_join_big(
    points: DataFrame,
    segments: DataFrame,
    radius: float,
    res: int,
    k: int = 1,
    lng_col: str = "lng",
    lat_col: str = "lat",
    point_id_col: str = "point_id",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """k nearest segments within ``radius`` — PLANET-SCALE road tables
    (OSM: ~10^8 segments), where a driver-side explode/broadcast is the
    scale-killer. The covering-cell table is built in the plan
    (``segment_cover_df``) and the point↔cover join shuffles on the cell
    key (AQE picks broadcast anyway when the road side is small, so this
    variant strictly dominates except for the res-policy default).
    Output is row-identical to ``nearest_segment_join`` (both oracle-
    checked against the same SQL)."""
    cov = segment_cover_df(
        segments.select("road_id", "seg_id", "ax", "ay", "bx", "by"),
        radius,
        res,
    )
    pts = points.withColumn("__cell", C.cell_col(lng_col, lat_col, res))
    joined = pts.join(cov, pts["__cell"] == cov["cell"], "inner").drop(
        "cell", "__cell"
    )
    return _score_and_topk(joined, radius, k, lng_col, lat_col,
                           point_id_col, carry_cols)


# ---------------------------------------------------------------------------
# Segment x segment intersection (road-network overlay / crossings)
# ---------------------------------------------------------------------------

_UDEG = "CAST(1000000 AS DOUBLE)"
_HALF = "CAST(0.5 AS DOUBLE)"

# Integer-exact segment-intersection SQL, shared verbatim by the Spark
# plan and the DuckDB oracle. Coordinates quantize to exact BIGINT
# micro-degrees first (the fixture's coordinates ARE 1e-6-degree
# rationals, so round-half-up recovers the intended integers; for
# arbitrary inputs this is a documented 1 µdeg snap — the same
# quantization OSM itself stores). Every orientation test is then pure
# BIGINT arithmetic: deltas are bounded by the candidate pairing (two
# bbox-overlapping segments) at <= ~6e7 µdeg, so cross products stay
# under ~4e15 — exact in int64 AND exactly representable as doubles
# (< 2^53) where the intersection-point expression casts them.


def seg_u_sql(coord: str) -> str:
    """Quantize a degree coordinate to exact BIGINT micro-degrees
    (round-half-up; identical text in both dialects)."""
    return f"CAST(floor({coord} * {_UDEG} + {_HALF}) AS BIGINT)"


# column names produced by the integerize layer (both engines)
_SEG_U_COLS = {
    "x1a": "ax1", "y1a": "ay1", "x1b": "bx1", "y1b": "by1",
    "x2a": "ax2", "y2a": "ay2", "x2b": "bx2", "y2b": "by2",
}


def seg_int_u_exprs() -> list[str]:
    """The integerize layer: 8 micro-degree BIGINT columns."""
    return [f"{seg_u_sql(src)} AS {dst}" for dst, src in _SEG_U_COLS.items()]


def seg_int_d_exprs() -> list[str]:
    """The orientation layer: r = B1-A1, s = B2-A2, and the four cross
    products d1..d4 (all exact BIGINT)."""
    return [
        "(x1b - x1a) AS rx", "(y1b - y1a) AS ry",
        "(x2b - x2a) AS sx", "(y2b - y2a) AS sy",
        "((x1b - x1a) * (y2a - y1a) - (y1b - y1a) * (x2a - x1a)) AS d1",
        "((x1b - x1a) * (y2b - y1a) - (y1b - y1a) * (x2b - x1a)) AS d2",
        "((x2b - x2a) * (y1a - y2a) - (y2b - y2a) * (x1a - x2a)) AS d3",
        "((x2b - x2a) * (y1b - y2a) - (y2b - y2a) * (x1b - x2a)) AS d4",
    ]


SEG_PROPER_SQL = (
    "(((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))"
    " AND ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0)))"
)

# collinear / endpoint-touch arm: a zero cross product certifies
# collinearity of the third point with the segment, after which the
# on-segment test is a pure bbox membership (BETWEEN on BIGINTs)
SEG_TOUCH_SQL = (
    "((d1 = 0 AND x2a BETWEEN least(x1a, x1b) AND greatest(x1a, x1b)"
    "  AND y2a BETWEEN least(y1a, y1b) AND greatest(y1a, y1b))"
    " OR (d2 = 0 AND x2b BETWEEN least(x1a, x1b) AND greatest(x1a, x1b)"
    "  AND y2b BETWEEN least(y1a, y1b) AND greatest(y1a, y1b))"
    " OR (d3 = 0 AND x1a BETWEEN least(x2a, x2b) AND greatest(x2a, x2b)"
    "  AND y1a BETWEEN least(y2a, y2b) AND greatest(y2a, y2b))"
    " OR (d4 = 0 AND x1b BETWEEN least(x2a, x2b) AND greatest(x2a, x2b)"
    "  AND y1b BETWEEN least(y2a, y2b) AND greatest(y2a, y2b)))"
)

SEG_INTERSECTS_SQL = f"({SEG_PROPER_SQL} OR {SEG_TOUCH_SQL})"


def seg_ixy_u_sql(axis: str) -> str:
    """Micro-degree intersection coordinate for PROPER crossings (NULL
    for collinear/endpoint touches, which have no unique point).

    X = A1 + t*r with t = cross(C-A, s) / cross(r, s). Numerator,
    denominator, and r are exact BIGINTs below 2^53, so the CASTs are
    exact and the one double divide+multiply evaluates from identical
    inputs through identical expression TEXT in both engines — the
    litsql IEEE rule."""
    a0, rr = ("x1a", "rx") if axis == "x" else ("y1a", "ry")
    t_num = "((x2a - x1a) * sy - (y2a - y1a) * sx)"
    den = "(rx * sy - ry * sx)"
    return (
        f"CASE WHEN {SEG_PROPER_SQL} THEN "
        f"CAST(floor(CAST({a0} AS DOUBLE) + CAST({t_num} AS DOUBLE)"
        f" / CAST({den} AS DOUBLE) * CAST({rr} AS DOUBLE)) AS BIGINT)"
        f" END"
    )


SEG_BBOX_OVERLAP_SQL = (
    "(least(ax1, bx1) <= greatest(ax2, bx2)"
    " AND least(ax2, bx2) <= greatest(ax1, bx1)"
    " AND least(ay1, by1) <= greatest(ay2, by2)"
    " AND least(ay2, by2) <= greatest(ay1, by1))"
)


def segment_self_intersections(
    segments: DataFrame, res: int
) -> DataFrame:
    """All intersecting segment pairs from DIFFERENT roads — the
    road-network overlay/crossing detector (missing-junction QA, grade-
    separation inference, network conflation), and the engine's first
    LARGE x LARGE line-line join.

    The reference only ever runs point probes against its R-tree
    (``src/spatial/spatial_index.cpp``); line-line overlay is an engine
    addition in the family of ``nearest_segment_join_big``.

    Plan (PBSM — Patel & DeWitt's partition-based spatial merge):

    * both sides enumerate covering cells of their segment bbox IN the
      plan (``segment_cover_df`` with radius 0 — sequence-explode +
      integer pack, pure codegen);
    * one shuffled cell equi-join with ``road_1 < road_2`` — never a
      cross join; fan-out is the cover factor (O(1) cells for
      OSM-length segments at res 12-14, bounded by res policy);
    * duplicate elimination is PBSM's REFERENCE-POINT rule, evaluated
      scan-side with zero extra shuffle: a candidate pair survives only
      in the one cell containing (max of the two bbox minima) — that
      point lies in both bboxes whenever they overlap, so exactly one
      of the shared cover cells keeps the pair and no post-join
      DISTINCT pass is needed;
    * the refine is the classical four-orientation test in EXACT BIGINT
      micro-degree arithmetic (proper crossings + collinear/endpoint
      touches), shared verbatim with the DuckDB oracle; proper
      crossings also report the junction point at 1 µdeg.

    Output: (road_1, seg_1, road_2, seg_2, proper_i, ix_u, iy_u) with
    road_1 < road_2, one row per intersecting segment pair. Intra-road
    adjacency (consecutive segments share endpoints by construction) is
    out of scope by the road_1 < road_2 guard.
    """
    cov = segment_cover_df(
        segments.select("road_id", "seg_id", "ax", "ay", "bx", "by"),
        0.0, res,
    )
    a = cov.select(
        F.col("road_id").alias("road_1"), F.col("seg_id").alias("seg_1"),
        F.col("ax").alias("ax1"), F.col("ay").alias("ay1"),
        F.col("bx").alias("bx1"), F.col("by").alias("by1"),
        "cell",
    )
    b = cov.select(
        F.col("road_id").alias("road_2"), F.col("seg_id").alias("seg_2"),
        F.col("ax").alias("ax2"), F.col("ay").alias("ay2"),
        F.col("bx").alias("bx2"), F.col("by").alias("by2"),
        "cell",
    )
    ref_xi = C.axis_index_sql(
        "greatest(least(ax1, bx1), least(ax2, bx2))", 180.0, 360.0, res,
        "spark",
    )
    ref_yi = C.axis_index_sql(
        "greatest(least(ay1, by1), least(ay2, by2))", 90.0, 180.0, res,
        "spark",
    )
    ref_cell = C.pack_xy_sql(ref_xi, ref_yi, res, "spark")
    return (
        a.join(b, "cell")
        .where(F.col("road_1") < F.col("road_2"))
        .where(F.expr(SEG_BBOX_OVERLAP_SQL))
        .where(F.expr(f"cell = {ref_cell}"))
        .selectExpr(
            "road_1", "seg_1", "road_2", "seg_2",
            "ax1", "ay1", "bx1", "by1", "ax2", "ay2", "bx2", "by2",
        )
        .selectExpr(
            "road_1", "seg_1", "road_2", "seg_2", *seg_int_u_exprs()
        )
        .selectExpr(
            "road_1", "seg_1", "road_2", "seg_2",
            "x1a", "y1a", "x1b", "y1b", "x2a", "y2a", "x2b", "y2b",
            *seg_int_d_exprs(),
        )
        .where(F.expr(SEG_INTERSECTS_SQL))
        .selectExpr(
            "CAST(road_1 AS BIGINT) AS road_1",
            "CAST(seg_1 AS BIGINT) AS seg_1",
            "CAST(road_2 AS BIGINT) AS road_2",
            "CAST(seg_2 AS BIGINT) AS seg_2",
            f"CAST(CASE WHEN {SEG_PROPER_SQL} THEN 1 ELSE 0 END"
            " AS BIGINT) AS proper_i",
            f"{seg_ixy_u_sql('x')} AS ix_u",
            f"{seg_ixy_u_sql('y')} AS iy_u",
        )
    )


def segment_intersections_oracle_sql(segment_values_sql: str) -> str:
    """Brute-force DuckDB twin: cross join over the VALUES segment table
    (dimension-scale at the gate), identical bbox prefilter text,
    identical integerize/orientation/refine SQL.

    ``AS MATERIALIZED`` is load-bearing: DuckDB 1.x hits an INTERNAL
    assertion ("Operation requires a flat vector") when the inlined
    VALUES list self-joins under the least/greatest bbox predicate;
    materializing the CTE flattens the vectors first. Oracle-side-only
    syntax — the Spark plan never sees this SQL."""
    u_cols = ",\n                 ".join(seg_int_u_exprs())
    d_cols = ",\n                 ".join(seg_int_d_exprs())
    return f"""
        WITH segs AS MATERIALIZED (SELECT * FROM {segment_values_sql}),
        cand AS (
          SELECT a.road_id AS road_1, a.seg_id AS seg_1,
                 b.road_id AS road_2, b.seg_id AS seg_2,
                 a.ax AS ax1, a.ay AS ay1, a.bx AS bx1, a.by AS by1,
                 b.ax AS ax2, b.ay AS ay2, b.bx AS bx2, b.by AS by2
          FROM segs a JOIN segs b ON a.road_id < b.road_id
        ),
        boxed AS (
          SELECT * FROM cand WHERE {SEG_BBOX_OVERLAP_SQL}
        ),
        ints AS (
          SELECT road_1, seg_1, road_2, seg_2,
                 {u_cols}
          FROM boxed
        ),
        oriented AS (
          SELECT road_1, seg_1, road_2, seg_2,
                 x1a, y1a, x1b, y1b, x2a, y2a, x2b, y2b,
                 {d_cols}
          FROM ints
        )
        SELECT CAST(road_1 AS BIGINT) AS road_1,
               CAST(seg_1 AS BIGINT) AS seg_1,
               CAST(road_2 AS BIGINT) AS road_2,
               CAST(seg_2 AS BIGINT) AS seg_2,
               CAST(CASE WHEN {SEG_PROPER_SQL} THEN 1 ELSE 0 END
                    AS BIGINT) AS proper_i,
               {seg_ixy_u_sql('x')} AS ix_u,
               {seg_ixy_u_sql('y')} AS iy_u
        FROM oriented
        WHERE {SEG_INTERSECTS_SQL}
    """


def polygon_ring_segments(features_pdf: pd.DataFrame,
                          id_col: str = "record_number") -> pd.DataFrame:
    """Explode polygon rings (xs, ys, ring_sizes — closed rings, last
    vertex == first) into one row per boundary EDGE, shell and hole
    rings alike (a hole boundary is part of the polygon boundary).
    Output schema matches ``polyline_segments`` (road_id, seg_id, ax,
    ay, bx, by) so every segment operator consumes either geometry."""
    rows = []
    for r in features_pdf.itertuples(index=False):
        xs = np.asarray(r.xs, np.float64)
        ys = np.asarray(r.ys, np.float64)
        offs = np.concatenate(
            [[0], np.cumsum(np.asarray(r.ring_sizes, int))]
        ).astype(int)
        rid = int(getattr(r, id_col))
        seg = 0
        for p in range(len(r.ring_sizes)):
            for k in range(offs[p], offs[p + 1] - 1):
                ax, ay, bx, by = xs[k], ys[k], xs[k + 1], ys[k + 1]
                if ax == bx and ay == by:
                    continue
                rows.append((rid, seg, float(ax), float(ay),
                             float(bx), float(by)))
                seg += 1
    return pd.DataFrame(
        rows, columns=["road_id", "seg_id", "ax", "ay", "bx", "by"]
    )


def segment_intersections_join(
    segs_a: DataFrame, segs_b: DataFrame, res: int
) -> DataFrame:
    """Two-table variant of ``segment_self_intersections``: all
    intersecting (segment-of-A, segment-of-B) pairs — polyline x
    polygon-boundary overlay (border crossings, route x admin-region
    analytics), line-network conflation between two sources. Same PBSM
    shape: both tables enumerate bbox covers in-plan, one shuffled cell
    equi-join, scan-side reference-point dedup, exact BIGINT
    four-orientation refine (shared verbatim with the oracle twin).

    Output: (id_a, seg_a, id_b, seg_b, proper_i, ix_u, iy_u) — one row
    per intersecting pair, ids from each side's ``road_id`` namespace.
    """
    cov_a = segment_cover_df(
        segs_a.select("road_id", "seg_id", "ax", "ay", "bx", "by"), 0.0, res
    ).select(
        F.col("road_id").alias("id_a"), F.col("seg_id").alias("seg_a"),
        F.col("ax").alias("ax1"), F.col("ay").alias("ay1"),
        F.col("bx").alias("bx1"), F.col("by").alias("by1"),
        "cell",
    )
    cov_b = segment_cover_df(
        segs_b.select("road_id", "seg_id", "ax", "ay", "bx", "by"), 0.0, res
    ).select(
        F.col("road_id").alias("id_b"), F.col("seg_id").alias("seg_b"),
        F.col("ax").alias("ax2"), F.col("ay").alias("ay2"),
        F.col("bx").alias("bx2"), F.col("by").alias("by2"),
        "cell",
    )
    ref_xi = C.axis_index_sql(
        "greatest(least(ax1, bx1), least(ax2, bx2))", 180.0, 360.0, res,
        "spark",
    )
    ref_yi = C.axis_index_sql(
        "greatest(least(ay1, by1), least(ay2, by2))", 90.0, 180.0, res,
        "spark",
    )
    ref_cell = C.pack_xy_sql(ref_xi, ref_yi, res, "spark")
    return (
        cov_a.join(cov_b, "cell")
        .where(F.expr(SEG_BBOX_OVERLAP_SQL))
        .where(F.expr(f"cell = {ref_cell}"))
        .selectExpr(
            "id_a", "seg_a", "id_b", "seg_b", *seg_int_u_exprs()
        )
        .selectExpr(
            "id_a", "seg_a", "id_b", "seg_b",
            "x1a", "y1a", "x1b", "y1b", "x2a", "y2a", "x2b", "y2b",
            *seg_int_d_exprs(),
        )
        .where(F.expr(SEG_INTERSECTS_SQL))
        .selectExpr(
            "CAST(id_a AS BIGINT) AS id_a",
            "CAST(seg_a AS BIGINT) AS seg_a",
            "CAST(id_b AS BIGINT) AS id_b",
            "CAST(seg_b AS BIGINT) AS seg_b",
            f"CAST(CASE WHEN {SEG_PROPER_SQL} THEN 1 ELSE 0 END"
            " AS BIGINT) AS proper_i",
            f"{seg_ixy_u_sql('x')} AS ix_u",
            f"{seg_ixy_u_sql('y')} AS iy_u",
        )
    )


# ---------------------------------------------------------------------------
# Linear referencing (ST_LineInterpolatePoint): the point at fraction f
# along a polyline's length — route mileposting, label placement, probe
# positioning. Lengths integerize to µdeg BEFORE the running sum so the
# cumulative walk is order-free BIGINT math (a float cumsum would hang
# cross-engine determinism on window-aggregation ORDER — DuckDB's
# segment-tree windows may pair-sum where Spark folds left); position
# granularity is therefore 1 µdeg of arc length, documented (the
# idw_loocv weight-granularity class).
# ---------------------------------------------------------------------------

def seg_len_u_sql() -> str:
    """Segment length floor-integerized at 1e6 — identical text in both
    dialects over (ax, ay, bx, by)."""
    d = "sqrt((bx - ax) * (bx - ax) + (by - ay) * (by - ay))"
    return f"CAST(floor({d} * 1000000.0) AS BIGINT)"


def _interp_target_u_sql(total: str, pct: str) -> str:
    """floor(total_u * pct / 100) as the canonical double-floor tree
    (total_u * pct < 2^53 by contract: µdeg lengths x percent)."""
    return (
        f"CAST(floor(CAST({total} AS DOUBLE) * CAST({pct} AS DOUBLE) / "
        f"CAST(100 AS DOUBLE)) AS BIGINT)"
    )


def _interp_xy_u_sql(a: str, b: str, target: str, cum0: str,
                     ln: str) -> str:
    """Interpolated coordinate floor-integerized at 1e6: a + t*(b-a)
    with t = (target - cum0) / len — every input an exact integer or a
    VALUES-literal double, one identical IEEE tree."""
    t = f"(CAST({target} - {cum0} AS DOUBLE) / CAST({ln} AS DOUBLE))"
    return (
        f"CAST(floor(({a} + {t} * ({b} - {a})) * 1000000.0) AS BIGINT)"
    )


def _check_fracs(fracs: tuple[int, ...]) -> None:
    """Fractions are distinct integer percents in (0, 100]; a float like
    25.5 is rejected, never truncated."""
    if not fracs or any(p != int(p) or not 0 < p <= 100 for p in fracs):
        raise ValueError(f"fracs must be integer percents in (0, 100]: {fracs}")
    if len(set(int(p) for p in fracs)) != len(fracs):
        raise ValueError(f"fracs must be distinct: {fracs}")


def line_interpolate(segments: DataFrame, fracs: tuple[int, ...]) -> DataFrame:
    """Locate the point at ``pct``% of each road's length, for each pct
    in ``fracs`` (integer percents — exactness by construction).

    Plan: one window pass per road (seg_id order) builds the BIGINT
    cumulative-length walk, each road's fraction targets come from an
    in-plan literal explode (fractions are a tiny fixed set — query-side
    work, no join), and the covering segment is the FIRST whose
    cumulative span reaches the target (row_number over (road, pct)).
    At 10^8 roads this is scan + one road-keyed window shuffle — no
    pairwise anything. Zero-µdeg segments are excluded from candidacy
    (their interpolation would divide by zero) but still contribute
    their (zero) length to the walk.

    Output: (road_id, pct, x_u, y_u), one row per road x fraction. A road
    whose segments are all zero-length (``total_u = 0``) has no segment
    that can host a milepost and emits no rows.
    """
    _check_fracs(fracs)
    segs = segments.selectExpr(
        "road_id", "seg_id", "ax", "ay", "bx", "by",
        f"{seg_len_u_sql()} AS len_u",
    )
    w = (
        Window.partitionBy("road_id")
        .orderBy("seg_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("road_id")
    cum = (
        segs.withColumn("cum_end", F.sum("len_u").over(w))
        .withColumn("cum0", F.col("cum_end") - F.col("len_u"))
        .withColumn("total_u", F.sum("len_u").over(wt))
    )
    pcts = ", ".join(str(int(p)) for p in fracs)
    exploded = cum.selectExpr(
        "*", f"explode(array({pcts})) AS pct"
    ).selectExpr(
        "*", f"{_interp_target_u_sql('total_u', 'pct')} AS target_u"
    )
    wr = Window.partitionBy("road_id", "pct").orderBy("seg_id")
    hit = (
        exploded.where(
            "len_u > 0 AND cum0 <= target_u AND cum_end >= target_u"
        )
        .withColumn("__rn", F.row_number().over(wr))
        .where(F.col("__rn") == 1)
    )
    return hit.selectExpr(
        "CAST(road_id AS BIGINT) AS road_id",
        "CAST(pct AS BIGINT) AS pct",
        f"{_interp_xy_u_sql('ax', 'bx', 'target_u', 'cum0', 'len_u')} AS x_u",
        f"{_interp_xy_u_sql('ay', 'by', 'target_u', 'cum0', 'len_u')} AS y_u",
    )


def line_interpolate_oracle_sql(segment_values_sql: str,
                                fracs: tuple[int, ...]) -> str:
    """DuckDB twin: identical length/target/interpolation text over the
    VALUES segment table; the window sums run over BIGINTs so engine
    window-evaluation order cannot matter."""
    _check_fracs(fracs)
    pcts = ", ".join(f"({int(p)})" for p in fracs)
    return f"""
        WITH segs AS MATERIALIZED (
          SELECT road_id, seg_id, ax, ay, bx, by, {seg_len_u_sql()} AS len_u
          FROM {segment_values_sql}
        ),
        cum AS (
          SELECT *,
                 CAST(sum(len_u) OVER (PARTITION BY road_id ORDER BY seg_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_end,
                 CAST(sum(len_u) OVER (PARTITION BY road_id)
                   AS BIGINT) AS total_u
          FROM segs
        ),
        ex AS (
          SELECT c.*, c.cum_end - c.len_u AS cum0, p.pct,
                 {_interp_target_u_sql('c.total_u', 'p.pct')} AS target_u
          FROM cum c CROSS JOIN (VALUES {pcts}) AS p(pct)
        ),
        hit AS (
          SELECT * FROM ex
          WHERE len_u > 0 AND cum0 <= target_u AND cum_end >= target_u
          QUALIFY row_number() OVER (
            PARTITION BY road_id, pct ORDER BY seg_id) = 1
        )
        SELECT CAST(road_id AS BIGINT) AS road_id,
               CAST(pct AS BIGINT) AS pct,
               {_interp_xy_u_sql('ax', 'bx', 'target_u', 'cum0', 'len_u')} AS x_u,
               {_interp_xy_u_sql('ay', 'by', 'target_u', 'cum0', 'len_u')} AS y_u
        FROM hit
    """
