"""Raster kernel smoothing (KDE-style density heatmaps on the cell grid).

Turns a point table into a SMOOTHED density raster: cell histogram →
each occupied cell spreads its count into its (2r+1)^2 neighborhood with
integer kernel weights → sum per target cell. This is the grid-KDE every
heatmap layer runs before tile rendering (``operators/render.py``
consumes exactly this shape), and the reason it survives 10^12 points is
the same argument as ``hotspot_clusters``/``zonal_stats``: the point
table pays exactly ONE partial-agg shuffle (the histogram), and the
kernel spread fans out only the BOUNDED occupied-cell table by a
constant (2r+1)^2 — never the points.

Kernels are INTEGER-weighted so the smoothed density is an exact BIGINT
in both engines (no float hashing anywhere):

- ``tent``: w(dx, dy) = (r+1-|dx|) * (r+1-|dy|) — the separable
  triangular kernel (iterated-box/linear B-spline), the standard cheap
  KDE approximation.
- ``box``:  w = 1 — plain (2r+1)^2 box blur.

Edge semantics: truncation. Offsets falling off the grid are dropped
(no wraparound, no renormalization) — the provably-no-alias argument
from ``clustering.py`` does not even arise because out-of-range target
indices are filtered EXPLICITLY before packing, in both dialects.

Scale note: the spread is an explode over the occupied-cell table, so
its cost is (occupied cells) x (2r+1)^2 rows into one more partial-agg
shuffle. For large radii a separable two-pass formulation (spread x,
aggregate, spread y) drops the fan-out to 2(2r+1) at the price of a
second bounded shuffle — worth it only for r >~ 8; this implements the
one-pass form and documents the crossover rather than guessing at it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells as C

_KERNELS = ("tent", "box")


def kernel_weights(radius: int, kernel: str = "tent") -> list[tuple[int, int, int]]:
    """(dx, dy, weight) triples of the integer kernel, dy-major order."""
    if kernel not in _KERNELS:
        raise ValueError(f"kernel must be one of {_KERNELS}, got {kernel!r}")
    if not 1 <= radius <= 8:
        raise ValueError(f"radius must be in [1, 8], got {radius}")
    out = []
    for dy in range(-radius, radius + 1):
        for dx in range(-radius, radius + 1):
            w = (
                (radius + 1 - abs(dx)) * (radius + 1 - abs(dy))
                if kernel == "tent"
                else 1
            )
            out.append((dx, dy, w))
    return out


def _offsets_expr(radius: int, kernel: str) -> str:
    offs = ", ".join(
        f"struct({dx} as dx, {dy} as dy, {w} as w)"
        for dx, dy, w in kernel_weights(radius, kernel)
    )
    return f"explode(array({offs}))"


def smooth_density(
    points: DataFrame,
    res: int,
    radius: int = 2,
    kernel: str = "tent",
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> DataFrame:
    """Smoothed point-density raster at cell resolution ``res``.

    Returns (cell BIGINT, xi BIGINT, yi BIGINT, density BIGINT) — one row
    per cell receiving any kernel mass (occupied cells dilated by
    ``radius``); ``density`` = sum over contributing cells of
    n_points * kernel weight, exact integer.
    """
    if not 0 <= res <= C.MAX_RES:
        raise ValueError(f"res must be in [0, {C.MAX_RES}], got {res}")
    n_axis = 1 << res
    cell = F.expr(C.cell_sql(lng_col, lat_col, res, "spark"))
    hist = points.groupBy(cell.alias("cell")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # bounded occupied-cell table, referenced through a demorton + spread
    # chain — materialize so Catalyst cannot inline the histogram agg
    # into the multiplied projection (CLAUDE.md: projection collapse)
    hist = hist.localCheckpoint(eager=True)
    ax = hist.select(
        "n",
        F.expr(C.cell_axis_sql("cell", "x", "spark")).alias("_x"),
        F.expr(C.cell_axis_sql("cell", "y", "spark")).alias("_y"),
    )
    spread = (
        ax.select("n", "_x", "_y", F.expr(_offsets_expr(radius, kernel)).alias("_o"))
        .select(
            "n",
            F.col("_o.w").alias("_w"),
            (F.col("_x") + F.col("_o.dx")).alias("xi"),
            (F.col("_y") + F.col("_o.dy")).alias("yi"),
        )
        .where(
            (F.col("xi") >= 0)
            & (F.col("xi") < n_axis)
            & (F.col("yi") >= 0)
            & (F.col("yi") < n_axis)
        )
    )
    return (
        spread.groupBy(
            F.expr(C.pack_xy_sql("xi", "yi", res, "spark")).alias("cell"),
            "xi",
            "yi",
        )
        .agg(F.sum(F.col("n") * F.col("_w")).alias("density"))
        .select("cell", "xi", "yi", "density")
    )


def smooth_density_oracle_sql(
    pts_cte: str,
    res: int,
    radius: int = 2,
    kernel: str = "tent",
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> str:
    """DuckDB twin of ``smooth_density`` over a points CTE body (columns
    ``lng_col``/``lat_col``) — same integer pipeline, VALUES offsets."""
    n_axis = 1 << res
    offs = ", ".join(
        f"({dx}, {dy}, {w})" for dx, dy, w in kernel_weights(radius, kernel)
    )
    cell = C.cell_sql(lng_col, lat_col, res, "duckdb")
    ax_x = C.cell_axis_sql("cell", "x", "duckdb")
    ax_y = C.cell_axis_sql("cell", "y", "duckdb")
    pack = C.pack_xy_sql("xi", "yi", res, "duckdb")
    return f"""
        WITH pts AS ({pts_cte}),
        hist AS (
          SELECT {cell} AS cell, count(*) AS n FROM pts GROUP BY 1
        ),
        ax AS (SELECT n, {ax_x} AS x, {ax_y} AS y FROM hist),
        spread AS (
          SELECT n, o.w AS w, ax.x + o.dx AS xi, ax.y + o.dy AS yi
          FROM ax CROSS JOIN (VALUES {offs}) AS o(dx, dy, w)
          WHERE ax.x + o.dx >= 0 AND ax.x + o.dx < {n_axis}
            AND ax.y + o.dy >= 0 AND ax.y + o.dy < {n_axis}
        )
        SELECT {pack} AS cell, xi, yi,
               CAST(sum(n * w) AS BIGINT) AS density
        FROM spread GROUP BY 1, 2, 3
    """


def density_contours(
    points: DataFrame,
    res: int,
    thresholds: tuple[int, ...],
    radius: int = 2,
    kernel: str = "tent",
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> DataFrame:
    """Filled contour bands (isobands) of the smoothed point density —
    the classic cartographic raster -> vector composition: KDE raster
    (``smooth_density``) -> integer level classification (level = number
    of ``thresholds`` at or below the cell's density; level-0 background
    cells are dropped) -> run-merge polygonization
    (``tiling.vectorize_raster``) into axis-aligned rectangles per
    level.

    Output: (level BIGINT, x0, y0, x1, y1, n_cells) — the vectorize
    contract with ``level`` as the region value. Every stage after the
    point-table histogram runs on bounded cell/run tables; the whole
    composition is the smoother's shuffles plus vectorize's two
    narrow-key exchanges, no Python anywhere.
    """
    if not thresholds or list(thresholds) != sorted(thresholds):
        raise ValueError(
            f"thresholds must be a non-empty ascending sequence, got {thresholds}"
        )
    from .tiling import vectorize_raster

    sm = smooth_density(points, res, radius, kernel, lng_col, lat_col)
    level = sum(
        (F.col("density") >= int(t)).cast("long") for t in thresholds
    ).alias("level")
    bands = sm.select("xi", "yi", level).where(F.col("level") >= 1)
    return vectorize_raster(bands, x_col="xi", y_col="yi", value_col="level")


def density_contours_oracle_sql(
    pts_cte: str,
    res: int,
    thresholds: tuple[int, ...],
    radius: int = 2,
    kernel: str = "tent",
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> str:
    """DuckDB twin: the smoother's oracle SQL + the same CASE-sum level
    classification + the identical two-pass gaps-and-islands run merge."""
    sm = smooth_density_oracle_sql(
        pts_cte, res, radius, kernel, lng_col, lat_col
    )
    lvl = " + ".join(
        f"CASE WHEN density >= {int(t)} THEN 1 ELSE 0 END" for t in thresholds
    )
    return f"""
        WITH sm AS ({sm}),
        band AS (
          SELECT xi, yi, CAST({lvl} AS BIGINT) AS level FROM sm
        ),
        lv AS (SELECT * FROM band WHERE level >= 1),
        runs AS (
          SELECT yi, level, xi,
                 xi - row_number() OVER (
                   PARTITION BY yi, level ORDER BY xi
                 ) AS grp
          FROM lv
        ),
        r2 AS (
          SELECT yi, level, grp, min(xi) AS x0, max(xi) AS x1
          FROM runs GROUP BY 1, 2, 3
        ),
        v AS (
          SELECT level, x0, x1, yi,
                 yi - row_number() OVER (
                   PARTITION BY level, x0, x1 ORDER BY yi
                 ) AS vgrp
          FROM r2
        )
        SELECT level, x0, min(yi) AS y0, x1, max(yi) AS y1,
               (x1 - x0 + 1) * (max(yi) - min(yi) + 1) AS n_cells
        FROM v GROUP BY level, x0, x1, vgrp
    """


# ---------------------------------------------------------------------------
# Inverse-distance-weighted (IDW) surface interpolation
# ---------------------------------------------------------------------------

IDW_WSCALE = 10 ** 15   # < 2^53: exactly representable, so the one
IDW_WCAP = 10 ** 9      # double divide sees exact operands
IDW_MAX_RES = 7         # grid-center µdeg stay exact integers (see below)


def _idw_steps(res: int) -> tuple[int, int]:
    """Integer µdeg cell steps at ``res``. Valid while 360e6 and 180e6
    are divisible by 2^(res+1) — true through res 7 (x step 2 812 500,
    y step 1 406 250 µdeg), which keeps every cell-CENTER coordinate an
    exact BIGINT micro-degree in both engines with no float rounding in
    the grid at all."""
    if not 0 <= res <= IDW_MAX_RES:
        raise ValueError(f"res must be in [0, {IDW_MAX_RES}], got {res}")
    return 360_000_000 >> res, 180_000_000 >> res


def idw_surface(
    spark,
    samples: DataFrame,
    res: int,
    value_col: str = "v_u",
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> DataFrame:
    """Shepard inverse-distance-weighted interpolation of a scattered
    sample field onto the ``res`` grid — the geostatistics staple
    (sensor fields, air quality, signal strength) between the cell
    HISTOGRAM (which needs no values) and kriging (which needs a model).

    Estimate per cell center c: sum(w_i v_i) / sum(w_i) over samples
    within one lat-cell radius, w = 1/d^2. The relational shape is the
    cell-blocked kernel join: samples key by their OWN cell (the sample
    table's one shuffle at 10^12 rows), the bounded target-grid side
    explodes its 3x3 neighborhood and broadcasts, and the radius
    (one lat-cell step) guarantees the block join loses no in-range
    pair. Cells with no sample in range emit nothing (unobserved
    support, like the Gi* frame choice).

    Determinism: sample coords and cell centers integerize to exact
    µdeg BIGINTs (centers are exact by the res <= 7 constraint), so
    dsq_u is exact; the weight floor(WSCALE / max(dsq_u, 1)) capped at
    WCAP and the final floor(sum_wv / sum_w) are the only two float
    ops, each a single textually-identical double divide on operands
    both engines hold bit-identically. Sums are BIGINT (order-free);
    overflow sizing (corrected per round-4 advice — the earlier claim
    of "1000x headroom at values < 1e6" was wrong: 1e9 * 1e6 * 9e3 =
    9e18 sits AT the int64 limit 9.22e18): with WCAP = 1e9, sum_wv is
    bounded by WCAP * max|v| * n_in_range, so ~9e3 cap-weighted
    in-range samples need values < 1e3 for ~1000x headroom; at
    values ~ 1e6 the bound is ~1x and dense near-center clusters can
    silently overflow the BIGINT sum — size WCAP / value scale / res
    per deployment so WCAP * max|v| * samples_per_cell << 9.2e18.

    Output: (cell, n_samples, sum_w, sum_wv, idw_u).
    """
    xstep, ystep = _idw_steps(res)
    r2_u = ystep * ystep  # radius = one lat cell (the smaller step)
    # target grid enumerated IN-PLAN over the canvas of the sample bbox
    # (bounded dimension side); centers as exact integer µdeg
    bb = samples.agg(
        F.min(lng_col).alias("x0"), F.max(lng_col).alias("x1"),
        F.min(lat_col).alias("y0"), F.max(lat_col).alias("y1"),
    )
    xi0 = C.axis_index_sql("x0", 180.0, 360.0, res, "spark")
    xi1 = C.axis_index_sql("x1", 180.0, 360.0, res, "spark")
    yi0 = C.axis_index_sql("y0", 90.0, 180.0, res, "spark")
    yi1 = C.axis_index_sql("y1", 90.0, 180.0, res, "spark")
    targets = (
        bb.withColumn("_xi", F.explode(F.expr(f"sequence({xi0}, {xi1})")))
        .withColumn("_yi", F.explode(F.expr(f"sequence({yi0}, {yi1})")))
        .selectExpr(
            f"{C.pack_xy_sql('_xi', '_yi', res, 'spark')} AS cell",
            f"CAST(-180000000 + _xi * {xstep} + {xstep // 2} AS BIGINT)"
            " AS cx_u",
            f"CAST(-90000000 + _yi * {ystep} + {ystep // 2} AS BIGINT)"
            " AS cy_u",
        )
    )
    tcells = targets.select(
        "cell", "cx_u", "cy_u",
        F.explode(C.neighborhood_col("cell", res)).alias("scell"),
    )
    smp = samples.selectExpr(
        f"{C.cell_sql(lng_col, lat_col, res, 'spark')} AS scell",
        f"CAST(floor({lng_col} * CAST(1000000 AS DOUBLE)) AS BIGINT) AS sx_u",
        f"CAST(floor({lat_col} * CAST(1000000 AS DOUBLE)) AS BIGINT) AS sy_u",
        f"CAST({value_col} AS BIGINT) AS v",
    )
    dsq = "((sx_u - cx_u) * (sx_u - cx_u) + (sy_u - cy_u) * (sy_u - cy_u))"
    w = (
        f"least(CAST({IDW_WCAP} AS BIGINT), "
        f"CAST(floor(CAST({IDW_WSCALE} AS DOUBLE)"
        f" / CAST(greatest({dsq}, 1) AS DOUBLE)) AS BIGINT))"
    )
    return (
        smp.join(F.broadcast(tcells), "scell")
        .where(F.expr(f"{dsq} <= {r2_u}"))
        .selectExpr("cell", f"{w} AS w_u", "v")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum("w_u").alias("sum_w"),
            F.sum(F.expr("w_u * v")).alias("sum_wv"),
        )
        .selectExpr(
            "cell", "n_samples", "sum_w", "sum_wv",
            "CAST(floor(CAST(sum_wv AS DOUBLE) / CAST(sum_w AS DOUBLE))"
            " AS BIGINT) AS idw_u",
        )
    )


def idw_oracle_sql(
    source_sql: str,
    res: int,
    value_col: str = "v_u",
) -> str:
    """DuckDB twin: target grid from generate_series over the sample
    bbox, brute target x sample pairs (bounded at gate scale), the same
    two textually-identical double divides."""
    xstep, ystep = _idw_steps(res)
    r2_u = ystep * ystep
    xi0 = C.axis_index_sql("x0", 180.0, 360.0, res, "duckdb")
    xi1 = C.axis_index_sql("x1", 180.0, 360.0, res, "duckdb")
    yi0 = C.axis_index_sql("y0", 90.0, 180.0, res, "duckdb")
    yi1 = C.axis_index_sql("y1", 90.0, 180.0, res, "duckdb")
    dsq = "((sx_u - cx_u) * (sx_u - cx_u) + (sy_u - cy_u) * (sy_u - cy_u))"
    w = (
        f"least(CAST({IDW_WCAP} AS BIGINT), "
        f"CAST(floor(CAST({IDW_WSCALE} AS DOUBLE)"
        f" / CAST(greatest({dsq}, 1) AS DOUBLE)) AS BIGINT))"
    )
    return f"""
        WITH pts AS ({source_sql}),
        bb AS (
          SELECT min(lng) AS x0, max(lng) AS x1,
                 min(lat) AS y0, max(lat) AS y1
          FROM pts
        ),
        xs AS (
          SELECT unnest(generate_series({xi0}, {xi1})) AS xi FROM bb
        ),
        ys AS (
          SELECT unnest(generate_series({yi0}, {yi1})) AS yi FROM bb
        ),
        targets AS (
          SELECT {C.pack_xy_sql('xi', 'yi', res, 'duckdb')} AS cell,
                 CAST(-180000000 + xi * {xstep} + {xstep // 2} AS BIGINT)
                   AS cx_u,
                 CAST(-90000000 + yi * {ystep} + {ystep // 2} AS BIGINT)
                   AS cy_u
          FROM xs CROSS JOIN ys
        ),
        smp AS (
          SELECT CAST(floor(lng * CAST(1000000 AS DOUBLE)) AS BIGINT)
                   AS sx_u,
                 CAST(floor(lat * CAST(1000000 AS DOUBLE)) AS BIGINT)
                   AS sy_u,
                 CAST({value_col} AS BIGINT) AS v
          FROM pts
        ),
        scored AS (
          SELECT t.cell, {w} AS w_u, s.v
          FROM targets t JOIN smp s ON {dsq} <= {r2_u}
        ),
        agg AS (
          SELECT cell, count(*)::BIGINT AS n_samples,
                 CAST(sum(w_u) AS BIGINT) AS sum_w,
                 CAST(sum(w_u * v) AS BIGINT) AS sum_wv
          FROM scored GROUP BY cell
        )
        SELECT cell, n_samples, sum_w, sum_wv,
               CAST(floor(CAST(sum_wv AS DOUBLE) / CAST(sum_w AS DOUBLE))
                    AS BIGINT) AS idw_u
        FROM agg
    """


def idw_loocv(
    samples: DataFrame,
    radius: float,
    value_col: str = "v_u",
    id_col: str = "point_id",
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> DataFrame:
    """Leave-one-out cross-validation of the IDW interpolator — the
    standard geostatistics accuracy check (does the surface actually
    predict?): every sample is predicted from its NEIGHBORS within
    ``radius`` (itself excluded by construction) with the same capped
    1/d^2 weights as ``idw_surface``, and the absolute errors roll up
    to one row.

    Plan: ONE big-big pair self-join (the ``point_pairs`` machinery),
    mirrored to both directions, then two id-keyed joins attach the
    neighbor's value and the target's own value — bounded standard
    shuffles on the pair table. Weights and error sums are exact
    BIGINTs; the per-target prediction floor(sum_wv / sum_w) is the one
    identical-text double divide (same operand-exactness argument as
    ``idw_surface``).

    Output: ONE row (n_samples, n_pred, sum_abs_err, max_abs_err) —
    n_pred counts samples with at least one in-radius neighbor;
    isolated samples are unpredicted, not zero-error.
    """
    from . import spatial_join as SJ

    pairs = SJ.within_distance_self_join(
        samples, distance=radius, id_col=id_col,
        lng_col=lng_col, lat_col=lat_col,
    ).localCheckpoint(eager=True)  # mirrored below: without this the
    # union's two branches re-execute the whole pair join (the
    # dedup_minhash 3x-derivation class, CLAUDE.md)
    both = pairs.selectExpr(
        "id_1 AS tgt", "id_2 AS nb", "dist_u"
    ).unionByName(pairs.selectExpr("id_2 AS tgt", "id_1 AS nb", "dist_u"))
    vals = samples.selectExpr(
        f"{id_col} AS nb", f"CAST({value_col} AS BIGINT) AS nb_v"
    )
    w = (
        f"least(CAST({IDW_WCAP} AS BIGINT), "
        f"CAST(floor(CAST({IDW_WSCALE} AS DOUBLE)"
        f" / CAST(greatest(dist_u * dist_u, 1) AS DOUBLE)) AS BIGINT))"
    )
    pred = (
        both.join(vals, "nb")
        .selectExpr("tgt", f"{w} AS w_u", "nb_v")
        .groupBy("tgt")
        .agg(
            F.sum("w_u").alias("sum_w"),
            F.sum(F.expr("w_u * nb_v")).alias("sum_wv"),
        )
        .selectExpr(
            "tgt",
            "CAST(floor(CAST(sum_wv AS DOUBLE) / CAST(sum_w AS DOUBLE))"
            " AS BIGINT) AS v_hat",
        )
    )
    tv = samples.selectExpr(
        f"{id_col} AS tgt", f"CAST({value_col} AS BIGINT) AS v_true"
    )
    err = pred.join(tv, "tgt").selectExpr(
        "abs(v_hat - v_true) AS abs_err"
    )
    n_all = samples.agg(F.count(F.lit(1)).alias("n_samples"))
    return (
        err.agg(
            F.count(F.lit(1)).alias("n_pred"),
            F.sum("abs_err").alias("sum_abs_err"),
            F.max("abs_err").alias("max_abs_err"),
        )
        .crossJoin(F.broadcast(n_all))
        .selectExpr(
            "CAST(n_samples AS BIGINT) AS n_samples",
            "CAST(n_pred AS BIGINT) AS n_pred",
            "CAST(sum_abs_err AS BIGINT) AS sum_abs_err",
            "CAST(max_abs_err AS BIGINT) AS max_abs_err",
        )
    )


def idw_loocv_oracle_sql(
    source_sql: str,
    radius: float,
    value_col: str = "v_u",
) -> str:
    """DuckDB twin: brute pair join + the same weight/prediction/error
    SQL. ``source_sql`` must yield (point_id, lng, lat, value_col)."""
    from ..functions.litsql import double_literal

    d2 = (
        "sqrt((a.lng - b.lng) * (a.lng - b.lng)"
        " + (a.lat - b.lat) * (a.lat - b.lat))"
    )
    w = (
        f"least(CAST({IDW_WCAP} AS BIGINT), "
        f"CAST(floor(CAST({IDW_WSCALE} AS DOUBLE)"
        f" / CAST(greatest(dist_u * dist_u, 1) AS DOUBLE)) AS BIGINT))"
    )
    return f"""
        WITH pts AS ({source_sql}),
        both_dirs AS (
          SELECT a.point_id AS tgt,
                 CAST(b.{value_col} AS BIGINT) AS nb_v,
                 CAST(floor({d2} * 1000000.0) AS BIGINT) AS dist_u
          FROM pts a JOIN pts b ON a.point_id <> b.point_id
          WHERE {d2} <= {double_literal(radius)}
        ),
        pred AS (
          SELECT tgt,
                 CAST(floor(
                   CAST(sum({w} * nb_v) AS DOUBLE)
                   / CAST(sum({w}) AS DOUBLE)
                 ) AS BIGINT) AS v_hat
          FROM both_dirs GROUP BY tgt
        ),
        err AS (
          SELECT abs(p.v_hat - CAST(t.{value_col} AS BIGINT)) AS abs_err
          FROM pred p JOIN pts t ON t.point_id = p.tgt
        )
        SELECT (SELECT count(*)::BIGINT FROM pts) AS n_samples,
               count(*)::BIGINT AS n_pred,
               CAST(sum(abs_err) AS BIGINT) AS sum_abs_err,
               CAST(max(abs_err) AS BIGINT) AS max_abs_err
        FROM err
    """
