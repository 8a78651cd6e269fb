"""SURVEY §5 parity contract for J1's reference first-hit mode.

The reference's ``SpatialIndex::pointInPolygon`` (spatial_index.cpp:
356-380) returns the FIRST R-tree candidate whose bbox intersects an
ε-box (±1e-4) around the point — the exact containment test is commented
out. These tests assert, per the SURVEY §5 parity caveat:

(a) the engine's candidate set equals the oracle's bbox-candidate set,
(b) the engine-compat join (``point_in_polygon_join_first_hit``)
    returns the same record as the oracle's insertion-order traversal
    emulation,

plus the structural theorem the distributed plan relies on (first
traversal hit == minimum DFS-leaf rank among intersecting records) and
agreement with the default exact mode on fixtures where both semantics
coincide (bbox == polygon, interior points).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from gis_shapefile_spark.operators import ref_parity as RP
from gis_shapefile_spark.operators import spatial_join as SJ
from gis_shapefile_spark.sources import fixtures as FX


def _overlapping_features(n: int = 60, seed: int = 7) -> pd.DataFrame:
    """n OVERLAPPING axis-aligned rectangles (as degenerate 5-pt rings):
    overlap makes first-hit genuinely order-dependent, and n > 16 forces
    R-tree node splits so DFS order differs from insertion order."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        x0 = rng.uniform(-10, 8)
        y0 = rng.uniform(-10, 8)
        w = rng.uniform(1, 4)
        h = rng.uniform(1, 4)
        x1, y1 = x0 + w, y0 + h
        rows.append(
            dict(
                record_number=i + 1,
                shape_type=5,
                xs=[x0, x1, x1, x0, x0],
                ys=[y0, y0, y1, y1, y0],
                ring_sizes=[5],
                minx=x0, miny=y0, maxx=x1, maxy=y1,
                deleted=False,
                NAME_1=f"r{i}",
            )
        )
    return pd.DataFrame(rows)


def _query_points(n: int = 400, seed: int = 11) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        {
            "point_id": np.arange(n, dtype=np.int64),
            "lng": rng.uniform(-11, 13, n),
            "lat": rng.uniform(-11, 13, n),
        }
    )


def test_first_hit_equals_min_dfs_rank():
    """The reduction the Spark plan uses: DFS pruning preserves order, so
    the traversal's first hit is the min-DFS-rank intersecting record."""
    feats = _overlapping_features()
    tree, recs = RP.build_reference_rtree(feats)
    order = tree.dfs_leaf_order()
    assert sorted(order) == list(range(len(recs)))  # every record ranked once
    rank = {idx: r for r, idx in enumerate(order)}
    pts = _query_points()
    bx = feats[["minx", "miny", "maxx", "maxy"]].to_numpy()
    for t in pts.itertuples(index=False):
        qb = (t.lng - RP.EPS, t.lat - RP.EPS, t.lng + RP.EPS, t.lat + RP.EPS)
        hits = [
            i
            for i in range(len(bx))
            if not (
                qb[0] > bx[i, 2] or qb[2] < bx[i, 0]
                or qb[1] > bx[i, 3] or qb[3] < bx[i, 1]
            )
        ]
        # (a) oracle candidate set == brute-force bbox-intersect set
        assert set(tree.query(qb)) == set(hits)
        first = tree.first_hit(t.lng, t.lat)
        if hits:
            assert first == min(hits, key=lambda i: rank[i])
        else:
            assert first is None


def test_dfs_order_differs_from_insertion_order():
    """Sanity: with n > max_entries the split machinery actually reorders
    traversal — otherwise min(record_number) would accidentally pass."""
    tree, recs = RP.build_reference_rtree(_overlapping_features())
    assert tree.dfs_leaf_order() != list(range(len(recs)))


def test_ref_first_hit_mode_matches_oracle(spark):
    """(b) engine-compat mode == oracle first-hit emulation, per point."""
    feats = _overlapping_features()
    pts_pdf = _query_points()
    tree, recs = RP.build_reference_rtree(feats)
    expected = {}
    for t in pts_pdf.itertuples(index=False):
        idx = tree.first_hit(t.lng, t.lat)
        if idx is not None:
            expected[int(t.point_id)] = recs[idx]

    out = RP.point_in_polygon_join_first_hit(
        spark,
        spark.createDataFrame(pts_pdf),
        feats,
        res=6,
        point_id_col="point_id",
    )
    got = {int(r["point_id"]): int(r["record_number"]) for r in out.collect()}
    assert got == expected
    # order-dependence was actually exercised: some first hit is NOT the
    # min record_number among that point's bbox candidates
    bx = feats[["minx", "miny", "maxx", "maxy"]].to_numpy()
    diverged = 0
    for t in pts_pdf.itertuples(index=False):
        qb = (t.lng - RP.EPS, t.lat - RP.EPS, t.lng + RP.EPS, t.lat + RP.EPS)
        hits = [
            i + 1
            for i in range(len(bx))
            if not (
                qb[0] > bx[i, 2] or qb[2] < bx[i, 0]
                or qb[1] > bx[i, 3] or qb[3] < bx[i, 1]
            )
        ]
        if hits and expected.get(int(t.point_id)) != min(hits):
            diverged += 1
    assert diverged > 0


def test_ref_mode_agrees_with_exact_on_unambiguous_fixture(spark):
    """On the exact-rectangle grid (bbox == polygon, disjoint), interior
    points have a unique ε-candidate, so compat and exact modes agree —
    the SURVEY's golden-case condition."""
    feats = FX.make_grid_features()
    rng = np.random.default_rng(3)
    cx0, cy0, cx1, cy1 = FX.CANVAS
    n = 300
    pts_pdf = pd.DataFrame(
        {
            "point_id": np.arange(n, dtype=np.int64),
            "lng": rng.uniform(cx0 + 0.01, cx1 - 0.01, n),
            "lat": rng.uniform(cy0 + 0.01, cy1 - 0.01, n),
        }
    )
    pts = spark.createDataFrame(pts_pdf)
    compat = RP.point_in_polygon_join_first_hit(
        spark, pts, feats, res=6, point_id_col="point_id"
    )
    exact = SJ.point_in_polygon_join(
        spark, pts, feats, res=6, point_id_col="point_id"
    ).select("point_id", "record_number")
    c = {(int(r["point_id"]), int(r["record_number"])) for r in compat.collect()}
    e = {(int(r["point_id"]), int(r["record_number"])) for r in exact.collect()}
    # compat ⊇ exact: every exact containment is a bbox hit; and on this
    # fixture any point ε-near a shared edge may bbox-hit two rects, so
    # compare on the points exact matched (interior, unique candidate)
    e_pts = {p for p, _ in e}
    assert {(p, r) for p, r in c if p in e_pts and _unique_candidate(feats, pts_pdf, p)} == {
        (p, r) for p, r in e if _unique_candidate(feats, pts_pdf, p)
    }


def _unique_candidate(feats: pd.DataFrame, pts: pd.DataFrame, point_id: int) -> bool:
    row = pts[pts["point_id"] == point_id].iloc[0]
    qb = (row.lng - RP.EPS, row.lat - RP.EPS, row.lng + RP.EPS, row.lat + RP.EPS)
    bx = feats[["minx", "miny", "maxx", "maxy"]].to_numpy()
    hits = (
        ~(
            (qb[0] > bx[:, 2]) | (qb[2] < bx[:, 0])
            | (qb[1] > bx[:, 3]) | (qb[3] < bx[:, 1])
        )
    ).sum()
    return hits == 1
