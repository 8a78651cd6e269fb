"""Geodesic (great-circle km) spatial joins — the metric twins of the
planar-parity joins in ``spatial_join.py``.

Reference parity pins the planar operators to Euclidean-degrees
(``geocoder.cpp:463-468``); these run the same candidate machinery with
the REAL metric: nearest-feature and within-radius in kilometres on the
mean sphere (``functions/geodesy.py``). Same scale shape as their planar
twins — dimension-scale feature side broadcasts, the point table pays
one cell equi-join, refine is a native column predicate (zero Python on
the point side).

Candidate correctness: a km disc is NOT a degree square, so the
within-km join builds each feature's covering cells from the
CONSERVATIVE degree radius (``geodesy.cover_radius_deg`` at the
feature's own band edge) — a provable superset of the disc — and the
haversine refine makes the final predicate exact. The nearest join is
broadcast-scored over all features (the reference-parity kNN contract:
features are dimension-scale), so it needs no cover at all.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import cells as C
from ..functions import geodesy as GD
from .spatial_join import _cell_pairs, _check_k, _indexed


_DIM_SCHEMA = "record_number long, cx double, cy double"


def _centers_dim(spark: SparkSession, features_pdf: pd.DataFrame) -> DataFrame:
    feats = _indexed(features_pdf)
    # explicit schema: an all-null-shape feature table filters to zero
    # rows and createDataFrame cannot infer a schema from an empty frame
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "record_number": feats["record_number"].astype(np.int64),
                "cx": ((feats["minx"] + feats["maxx"]) / 2.0).astype(np.float64),
                "cy": ((feats["miny"] + feats["maxy"]) / 2.0).astype(np.float64),
            }
        ),
        schema=_DIM_SCHEMA,
    )


def geodesic_nearest(
    spark: SparkSession,
    points: DataFrame,
    features_pdf: pd.DataFrame,
    lng_col: str = "lng",
    lat_col: str = "lat",
    point_id_col: str = "point_id",
) -> DataFrame:
    """Nearest feature center per point by great-circle km.

    Output: (point_id, record_number, gdist_m) — distance
    meter-integerized (BIGINT). Ties break to the lower record_number
    (deterministic, engine-portable). Broadcast-scored: every (point,
    feature) pair is a broadcast-join row, top-1 by window — exactly the
    kNN-bruteforce shape, correct because the feature side is
    dimension-scale by the same contract.
    """
    dim = _centers_dim(spark, features_pdf)
    gdist = F.expr(
        GD.haversine_m_u_sql(lng_col, lat_col, "cx", "cy", "spark")
    ).alias("gdist_m")
    scored = (
        points.select(point_id_col, lng_col, lat_col)
        .crossJoin(F.broadcast(dim))
        .select(point_id_col, "record_number", gdist)
    )
    w = Window.partitionBy(point_id_col).orderBy("gdist_m", "record_number")
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )


def geodesic_within_km(
    spark: SparkSession,
    points: DataFrame,
    features_pdf: pd.DataFrame,
    km: float,
    res: int | None = None,
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> DataFrame:
    """All (point, feature-center) pairs within ``km`` great-circle km.

    Plan: per-feature covering cells from the conservative degree radius
    at the feature's own latitude band edge (driver-side over the
    dimension, like ``within_distance_join``) → broadcast → point cell
    equi-join → exact haversine refine as a native column predicate.
    Output keeps the point columns + (record_number, gdist_m).
    """
    if km <= 0:
        raise ValueError(f"km must be > 0, got {km}")
    feats = _indexed(features_pdf).copy()
    feats["cx"] = (feats["minx"] + feats["maxx"]) / 2.0
    feats["cy"] = (feats["miny"] + feats["maxy"]) / 2.0
    # the refine keeps floor(d_km * 1e3) <= round(km * 1e3) meters — the
    # threshold integer is ROUNDED (int() would truncate binary-float km
    # one meter short: 0.29 * 1000 == 289.99999999999994) — and the
    # cover radius pads by that same meter so it stays a superset of the
    # integerized predicate, not just of the exact km disc
    thresh_m = int(round(km * 1000))
    km_pad = (thresh_m + 1) / 1000.0
    lat_pad = km_pad / GD.KM_PER_DEG_LAT
    band = np.abs(feats["cy"].to_numpy()) + lat_pad
    # PLANAR-CANVAS CONTRACT (same no-wraparound stance as the cell
    # index and the self-join): the degree-square cover cannot express a
    # disc that crosses the antimeridian or a pole — the haversine
    # refine WRAPS there while cover_bbox CLAMPS, which would silently
    # drop qualifying cross-meridian / trans-polar pairs. Refuse loudly
    # instead of returning a wrong subset.
    if (band >= 90.0).any():
        raise ValueError(
            "geodesic_within_km: a feature's km disc reaches a pole "
            "(|lat| + radius >= 90); the planar cell canvas cannot "
            "cover trans-polar discs"
        )
    deg_r = np.array([GD.cover_radius_deg(km_pad, b) for b in band])
    if len(feats) and (
        (feats["cx"].to_numpy() - deg_r < -180.0).any()
        or (feats["cx"].to_numpy() + deg_r > 180.0).any()
    ):
        raise ValueError(
            "geodesic_within_km: a feature's km disc crosses the "
            "antimeridian; the planar cell canvas does not wrap"
        )
    if res is None:
        if len(feats) == 0:
            res = 0
        else:
            d = float(deg_r.max())
            res = C.resolution_for_bbox(2 * d, 2 * d, max_cells=64)
    rows = []
    for (_, r), dr in zip(feats.iterrows(), deg_r):
        for c in C.cover_bbox(
            r.cx - dr, r.cy - dr, r.cx + dr, r.cy + dr, res
        ):
            rows.append((int(c), int(r.record_number), float(r.cx), float(r.cy)))
    dim = spark.createDataFrame(
        pd.DataFrame(rows, columns=["cell", "record_number", "cx", "cy"]),
        schema="cell long, record_number long, cx double, cy double",
    )
    pts = points.withColumn("__cell", C.cell_col(lng_col, lat_col, res))
    gdist_m = F.expr(
        GD.haversine_m_u_sql(lng_col, lat_col, "cx", "cy", "spark")
    ).alias("gdist_m")
    return (
        pts.join(F.broadcast(dim), pts["__cell"] == dim["cell"], "inner")
        .drop("cell", "__cell")
        .select("*", gdist_m)
        .where(F.col("gdist_m") <= F.lit(thresh_m))
        .drop("cx", "cy")
    )


def geodesic_pairs_within_km(
    points: DataFrame,
    km: float,
    max_abs_lat: float | None = None,
    res: int | None = None,
    id_col: str = "point_id",
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> DataFrame:
    """All unordered point pairs within ``km`` great-circle km — the
    geodesic member of the big-big self-join pair
    (``spatial_join.within_distance_self_join`` is the planar twin).

    Plan: ``spatial_join._cell_pairs`` (the 3x3 cell-neighborhood
    equi-join) on (points, points), then (id_1 < id_2) and the exact
    haversine refine. The 3x3 candidate argument needs one cell to
    dominate the km radius on BOTH axes, and the longitude axis shrinks
    by cos(lat) — so the resolution comes from the corpus' latitude
    band edge:
    ``max_abs_lat=None`` (default) MEASURES it with one narrow
    max(abs(lat)) aggregate (the auto_salt_buckets pattern: derive the
    knob from data); pass the band explicitly to skip that pass at
    corpus scale. Points outside an explicitly-passed band would break
    the cover guarantee, so the measured path is the safe default.

    Antimeridian: same planar-canvas contract as the planar self-join's
    pinned test — cells do not wrap, so cross-meridian pairs are out of
    contract by the canvas (not silently *approximated*: the refine
    only sees candidates the cover admits).

    Output: (id_1, id_2, gdist_m) with id_1 < id_2, meter-integerized.
    """
    if km <= 0:
        raise ValueError(f"km must be > 0, got {km}")
    thresh_m = int(round(km * 1000))
    km_pad = (thresh_m + 1) / 1000.0
    if max_abs_lat is None:
        max_abs_lat = float(
            points.agg(F.max(F.abs(F.col(lat_col)))).first()[0] or 0.0
        )
    lat_r = km_pad / GD.KM_PER_DEG_LAT
    band = max_abs_lat + lat_r
    if band >= 90.0:
        raise ValueError(
            "geodesic_pairs_within_km: the km disc of a band-edge point "
            "reaches a pole; the planar cell canvas cannot cover "
            "trans-polar discs"
        )
    side = (points, id_col, lng_col, lat_col)
    gdist = F.expr(
        GD.haversine_m_u_sql("_lng1", "_lat1", "_lng2", "_lat2", "spark")
    )
    return (
        _cell_pairs(side, side, lat_r, GD.cover_radius_deg(km_pad, band), res)
        .where(F.col("id_1") < F.col("id_2"))
        .withColumn("gdist_m", gdist)
        .where(F.col("gdist_m") <= F.lit(thresh_m))
        .select("id_1", "id_2", "gdist_m")
    )


def geodesic_knn_self(
    points: DataFrame,
    k: int,
    km: float,
    max_abs_lat: float | None = None,
    res: int | None = None,
    id_col: str = "point_id",
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> DataFrame:
    """k nearest corpus points per point by GREAT-CIRCLE meters, bounded
    by ``km`` — the geodesic member of the kNN-self pair
    (``spatial_join.knn_self_join`` is the planar twin; same mirror +
    top-k window over the pair join, same radius-bound contract that
    keeps the big-big formulation exact).

    Output: (id_col, neighbor_id, nn_rank, gdist_m).
    """
    _check_k(k)
    pairs = geodesic_pairs_within_km(
        points, km, max_abs_lat, res, id_col, lng_col, lat_col
    )
    fwd = pairs.select(
        F.col("id_1").alias(id_col),
        F.col("id_2").alias("neighbor_id"),
        "gdist_m",
    )
    rev = pairs.select(
        F.col("id_2").alias(id_col),
        F.col("id_1").alias("neighbor_id"),
        "gdist_m",
    )
    w = Window.partitionBy(id_col).orderBy("gdist_m", "neighbor_id")
    return (
        fwd.unionByName(rev)
        .withColumn("nn_rank", F.row_number().over(w))
        .where(F.col("nn_rank") <= k)
        .select(id_col, "neighbor_id", "nn_rank", "gdist_m")
    )
