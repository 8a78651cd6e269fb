"""Point-to-polyline nearest-segment join vs a brute-force numpy oracle.

The oracle is an independent all-pairs scan (no cell cover, no SQL), so
cover-guarantee bugs and dsq-expression bugs can't self-validate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from gis_shapefile_spark.operators import lines as LN
from gis_shapefile_spark.sources import fixtures as FX


def _brute_nearest(lng, lat, segs: pd.DataFrame, radius: float):
    """(road_id, seg_id, dsq_u) of the nearest segment within radius, or
    None — argmin with the operator's (dsq_u, road_id, seg_id) tie-break,
    computed via the integerized value like both engines."""
    best = None
    for _, s in segs.iterrows():
        dsq = float(
            LN.point_segment_dsq_np(lng, lat, s.ax, s.ay, s.bx, s.by)
        )
        dsq_u = int(np.floor(dsq * 1e12))
        if dsq_u > LN.radius2_u(radius):
            continue
        key = (dsq_u, int(s.road_id), int(s.seg_id))
        if best is None or key < best:
            best = key
    return best


def test_point_segment_dsq_np_matches_geometry():
    rng = np.random.default_rng(7)
    for _ in range(200):
        ax, ay, bx, by = rng.uniform(-10, 10, 4)
        if ax == bx and ay == by:
            continue
        px, py = rng.uniform(-12, 12, 2)
        # reference computation: dense sample of the segment
        t = np.linspace(0.0, 1.0, 20001)
        qx, qy = ax + t * (bx - ax), ay + t * (by - ay)
        ref = np.min((px - qx) ** 2 + (py - qy) ** 2)
        got = float(LN.point_segment_dsq_np(px, py, ax, ay, bx, by))
        assert got <= ref + 1e-12  # closed form is the true minimum
        assert got >= ref - 1e-6  # and the dense sample approaches it


def test_polyline_segments_parts_and_degenerates():
    roads = pd.DataFrame(
        [
            # two parts of 3 vertices: segments 0-1 and 2-3, no bridge
            dict(road_id=1, xs=[0, 1, 2, 5, 6, 7], ys=[0, 0, 0, 0, 0, 0],
                 part_sizes=[3, 3]),
            # zero-length segment in the middle is dropped
            dict(road_id=2, xs=[0, 1, 1, 2], ys=[0, 0, 0, 0],
                 part_sizes=[4]),
        ]
    )
    segs = LN.polyline_segments(roads)
    r1 = segs[segs.road_id == 1]
    assert len(r1) == 4
    # no segment bridges the (2,0)->(5,0) gap
    assert not ((r1.ax == 2) & (r1.bx == 5)).any()
    r2 = segs[segs.road_id == 2]
    assert len(r2) == 2  # (0,1) and (1,2); the (1,1) pair dropped
    assert list(r2.seg_id) == [0, 1]


def test_road_fixture_spreads_over_canvas():
    roads = FX.make_road_features()
    cx0, cy0, cx1, cy1 = FX.CANVAS
    assert roads.miny.min() >= cy0 and roads.maxy.max() <= cy1
    # starts spread over the full latitude range (the small-multiplier
    # hash degeneracy this fixture once had clustered them at the south
    # edge)
    start_ys = [r["ys"][0] for _, r in roads.iterrows()]
    assert max(start_ys) - min(start_ys) > (cy1 - cy0) * 0.8
    # multi-part roads exist
    assert (roads.part_sizes.map(len) > 1).any()


def test_nearest_segment_join_matches_bruteforce(spark):
    roads = FX.make_road_features(n_roads=12, n_pts=6)
    segs = LN.polyline_segments(roads)
    rng = np.random.default_rng(11)
    n = 300
    pts = pd.DataFrame(
        dict(
            point_id=np.arange(n),
            lng=rng.uniform(-125, -66, n),
            lat=rng.uniform(24, 50, n),
        )
    )
    radius = 2.0
    got = (
        LN.nearest_segment_join(
            spark, spark.createDataFrame(pts), roads, radius=radius
        )
        .toPandas()
        .set_index("point_id")
        .sort_index()
    )
    expected = {}
    for _, p in pts.iterrows():
        best = _brute_nearest(p.lng, p.lat, segs, radius)
        if best is not None:
            expected[int(p.point_id)] = best
    assert set(got.index) == set(expected)
    for pid, (dsq_u, road_id, seg_id) in expected.items():
        row = got.loc[pid]
        assert (int(row.dsq_u), int(row.road_id), int(row.seg_id)) == (
            dsq_u, road_id, seg_id,
        ), pid


def test_nearest_segment_join_k3_ranks(spark):
    roads = FX.make_road_features(n_roads=8, n_pts=5)
    segs = LN.polyline_segments(roads)
    pts = pd.DataFrame(
        dict(point_id=[0, 1], lng=[-100.0, -80.0], lat=[35.0, 40.0])
    )
    radius = 30.0  # everything in range: rank purely by distance
    got = LN.nearest_segment_join(
        spark, spark.createDataFrame(pts), roads, radius=radius, k=3, res=4
    ).toPandas()
    for pid in (0, 1):
        sub = got[got.point_id == pid].sort_values("nn_rank")
        assert list(sub.nn_rank) == [1, 2, 3]
        # ranks are the 3 smallest integerized distances with tie-break
        p = pts[pts.point_id == pid].iloc[0]
        keys = sorted(
            (
                int(np.floor(float(LN.point_segment_dsq_np(
                    p.lng, p.lat, s.ax, s.ay, s.bx, s.by)) * 1e12)),
                int(s.road_id), int(s.seg_id),
            )
            for _, s in segs.iterrows()
        )[:3]
        gotk = [
            (int(r.dsq_u), int(r.road_id), int(r.seg_id))
            for _, r in sub.iterrows()
        ]
        assert gotk == keys


def test_segment_cover_df_matches_numpy(spark):
    roads = FX.make_road_features(n_roads=10, n_pts=5)
    segs = LN.polyline_segments(roads)
    res, radius = 6, 1.25
    got = (
        LN.segment_cover_df(spark.createDataFrame(segs), radius, res)
        .select("road_id", "seg_id", "cell")
        .toPandas()
    )
    want = LN.segment_cell_cover(segs, radius, res)[
        ["road_id", "seg_id", "cell"]
    ]
    gset = set(map(tuple, got.itertuples(index=False)))
    wset = set(map(tuple, want.itertuples(index=False)))
    assert gset == wset
    assert len(got) == len(want)  # no duplicate cover rows either


def test_nearest_segment_join_big_equals_broadcast(spark):
    import pandas as pd

    from gis_shapefile_spark.functions import cells as C

    roads = FX.make_road_features(n_roads=12, n_pts=6)
    rng = np.random.default_rng(17)
    n = 250
    pts = spark.createDataFrame(
        pd.DataFrame(
            dict(
                point_id=np.arange(n),
                lng=rng.uniform(-125, -66, n),
                lat=rng.uniform(24, 50, n),
            )
        )
    )
    radius, k = 2.0, 2
    res = C.resolution_for_bbox(2 * radius, 2 * radius, max_cells=64)
    a = (
        LN.nearest_segment_join(spark, pts, roads, radius=radius, k=k)
        .toPandas()
        .sort_values(["point_id", "nn_rank"])
        .reset_index(drop=True)
    )
    b = (
        LN.nearest_segment_join_big(
            pts,
            spark.createDataFrame(LN.polyline_segments(roads)),
            radius=radius,
            res=res,
            k=k,
        )
        .toPandas()
        .sort_values(["point_id", "nn_rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)
    assert len(a) > 0


def test_carry_cols_pass_through(spark):
    roads = FX.make_road_features(n_roads=6, n_pts=5)
    pts = pd.DataFrame(
        dict(
            point_id=[1, 2, 3],
            device=["a", "a", "b"],
            lng=[-100.0, -99.0, -80.0],
            lat=[35.0, 36.0, 40.0],
        )
    )
    out = LN.nearest_segment_join(
        spark, spark.createDataFrame(pts), roads, radius=30.0,
        carry_cols=("device",),
    ).toPandas().sort_values("point_id")
    assert list(out.columns) == [
        "point_id", "device", "nn_rank", "road_id", "seg_id", "dsq_u"
    ]
    assert list(out.device) == ["a", "a", "b"]


def test_within_distance_of_segments_matches_bruteforce(spark):
    roads = FX.make_road_features(n_roads=10, n_pts=5)
    segs = LN.polyline_segments(roads)
    rng = np.random.default_rng(23)
    n = 200
    pts = pd.DataFrame(
        dict(
            point_id=np.arange(n),
            lng=rng.uniform(-125, -66, n),
            lat=rng.uniform(24, 50, n),
        )
    )
    radius = 1.5
    got = (
        LN.within_distance_of_segments(
            spark, spark.createDataFrame(pts), roads, radius=radius
        )
        .toPandas()
        .set_index("point_id")
        .sort_index()
    )
    r2u = LN.radius2_u(radius)
    expected = {}
    for _, p in pts.iterrows():
        dsqs = [
            int(np.floor(float(LN.point_segment_dsq_np(
                p.lng, p.lat, s.ax, s.ay, s.bx, s.by)) * 1e12))
            for _, s in segs.iterrows()
        ]
        hits = [d for d in dsqs if d <= r2u]
        if hits:
            expected[int(p.point_id)] = (len(hits), min(hits))
    assert set(got.index) == set(expected)
    for pid, (n_seg, mn) in expected.items():
        assert (int(got.loc[pid].n_segments), int(got.loc[pid].min_dsq_u)) \
            == (n_seg, mn), pid


# ---------------------------------------------------------------------------
# segment x segment intersections (road crossings)
# ---------------------------------------------------------------------------

def _useg(v):
    return int(np.floor(v * 1e6 + 0.5))


def _brute_intersections(segs_pdf):
    """Pure-python integer oracle: exact four-orientation test + collinear
    bbox arm over every cross-road pair."""
    rows = []
    recs = [
        (int(s.road_id), int(s.seg_id),
         _useg(s.ax), _useg(s.ay), _useg(s.bx), _useg(s.by))
        for s in segs_pdf.itertuples(index=False)
    ]
    for i, (r1, s1, x1a, y1a, x1b, y1b) in enumerate(recs):
        for (r2, s2, x2a, y2a, x2b, y2b) in recs:
            if r1 >= r2:
                continue
            rx, ry = x1b - x1a, y1b - y1a
            sx, sy = x2b - x2a, y2b - y2a
            d1 = rx * (y2a - y1a) - ry * (x2a - x1a)
            d2 = rx * (y2b - y1a) - ry * (x2b - x1a)
            d3 = sx * (y1a - y2a) - sy * (x1a - x2a)
            d4 = sx * (y1b - y2a) - sy * (x1b - x2a)
            proper = ((d1 > 0 > d2) or (d1 < 0 < d2)) and \
                     ((d3 > 0 > d4) or (d3 < 0 < d4))

            def onseg(px, py, qx, qy, rx_, ry_):
                return (min(px, qx) <= rx_ <= max(px, qx)
                        and min(py, qy) <= ry_ <= max(py, qy))

            touch = (
                (d1 == 0 and onseg(x1a, y1a, x1b, y1b, x2a, y2a))
                or (d2 == 0 and onseg(x1a, y1a, x1b, y1b, x2b, y2b))
                or (d3 == 0 and onseg(x2a, y2a, x2b, y2b, x1a, y1a))
                or (d4 == 0 and onseg(x2a, y2a, x2b, y2b, x1b, y1b))
            )
            if not (proper or touch):
                continue
            ix = iy = None
            if proper:
                den = rx * sy - ry * sx
                tn = (x2a - x1a) * sy - (y2a - y1a) * sx
                ix = int(np.floor(float(x1a) + float(tn) / float(den)
                                  * float(rx)))
                iy = int(np.floor(float(y1a) + float(tn) / float(den)
                                  * float(ry)))
            rows.append((r1, s1, r2, s2, 1 if proper else 0, ix, iy))
    return rows


def test_segment_intersections_match_bruteforce(spark):
    roads = FX.make_road_features()
    segs_pdf = LN.polyline_segments(roads)
    got = (
        LN.segment_self_intersections(spark.createDataFrame(segs_pdf), res=5)
        .toPandas()
    )
    got_set = {
        (int(r.road_1), int(r.seg_1), int(r.road_2), int(r.seg_2),
         int(r.proper_i),
         None if pd.isna(r.ix_u) else int(r.ix_u),
         None if pd.isna(r.iy_u) else int(r.iy_u))
        for r in got.itertuples(index=False)
    }
    exp = set(_brute_intersections(segs_pdf))
    assert got_set == exp
    assert len(got) == len(got_set)  # PBSM dedup: exactly once per pair
    # fixture exercises both arms
    assert any(p == 1 for (_, _, _, _, p, _, _) in exp)
    assert any(p == 0 for (_, _, _, _, p, _, _) in exp)


def test_segment_intersections_edge_cases(spark):
    """Hand-built geometries: proper cross, T-touch, endpoint-endpoint
    touch, collinear overlap, collinear disjoint, parallel offset."""
    segs = pd.DataFrame(
        [
            # road 1: horizontal baseline y=10 for x in [0, 2]
            (1, 0, 0.0, 10.0, 2.0, 10.0),
            # road 2: proper cross at (1, 10)
            (2, 0, 1.0, 9.0, 1.0, 11.0),
            # road 3: T-touch — endpoint lands ON road 1's interior
            (3, 0, 1.5, 10.0, 1.5, 12.0),
            # road 4: endpoint-endpoint touch at (2, 10)
            (4, 0, 2.0, 10.0, 3.0, 12.0),
            # road 5: collinear overlap with road 1 on [1.2, 2.5]
            (5, 0, 1.2, 10.0, 2.5, 10.0),
            # road 6: collinear but disjoint (x in [3.5, 4])
            (6, 0, 3.5, 10.0, 4.0, 10.0),
            # road 7: parallel to road 1 at y=10.5 (no contact with 1,
            # but properly crosses the two vertical roads 2 and 3)
            (7, 0, 0.0, 10.5, 2.0, 10.5),
        ],
        columns=["road_id", "seg_id", "ax", "ay", "bx", "by"],
    )
    got = (
        LN.segment_self_intersections(spark.createDataFrame(segs), res=6)
        .toPandas()
    )
    pairs = {
        (int(r.road_1), int(r.road_2)): int(r.proper_i)
        for r in got.itertuples(index=False)
    }
    exp_pairs = {
        (1, 2): 1,   # proper cross
        (1, 3): 0,   # T-touch (d=0 arm)
        (1, 4): 0,   # endpoint touch
        (1, 5): 0,   # collinear overlap
        (2, 7): 1,   # vertical road 2 crosses y=10.5 line
        (3, 5): 0,   # road 3's base (1.5,10) lies on road 5's span
        (3, 7): 1,   # vertical road 3 crosses y=10.5 line
        (4, 5): 0,   # (2,10) lies on road 5's span [1.2,2.5] -> touch
    }
    assert pairs == exp_pairs
    # the proper crossing reports the exact junction
    r12 = got[(got.road_1 == 1) & (got.road_2 == 2)].iloc[0]
    assert (int(r12.ix_u), int(r12.iy_u)) == (1_000_000, 10_000_000)
    # brute oracle agrees on the same micro-fixture
    assert {
        (int(r.road_1), int(r.seg_1), int(r.road_2), int(r.seg_2),
         int(r.proper_i),
         None if pd.isna(r.ix_u) else int(r.ix_u),
         None if pd.isna(r.iy_u) else int(r.iy_u))
        for r in got.itertuples(index=False)
    } == set(_brute_intersections(segs))


def _brute_pair_intersections(segs_a, segs_b):
    """Pure-python integer oracle for the two-table join."""
    rows = []
    recs_a = [
        (int(s.road_id), int(s.seg_id),
         _useg(s.ax), _useg(s.ay), _useg(s.bx), _useg(s.by))
        for s in segs_a.itertuples(index=False)
    ]
    recs_b = [
        (int(s.road_id), int(s.seg_id),
         _useg(s.ax), _useg(s.ay), _useg(s.bx), _useg(s.by))
        for s in segs_b.itertuples(index=False)
    ]
    for (r1, s1, x1a, y1a, x1b, y1b) in recs_a:
        for (r2, s2, x2a, y2a, x2b, y2b) in recs_b:
            rx, ry = x1b - x1a, y1b - y1a
            sx, sy = x2b - x2a, y2b - y2a
            d1 = rx * (y2a - y1a) - ry * (x2a - x1a)
            d2 = rx * (y2b - y1a) - ry * (x2b - x1a)
            d3 = sx * (y1a - y2a) - sy * (x1a - x2a)
            d4 = sx * (y1b - y2a) - sy * (x1b - x2a)
            proper = ((d1 > 0 > d2) or (d1 < 0 < d2)) and \
                     ((d3 > 0 > d4) or (d3 < 0 < d4))

            def onseg(px, py, qx, qy, rx_, ry_):
                return (min(px, qx) <= rx_ <= max(px, qx)
                        and min(py, qy) <= ry_ <= max(py, qy))

            touch = (
                (d1 == 0 and onseg(x1a, y1a, x1b, y1b, x2a, y2a))
                or (d2 == 0 and onseg(x1a, y1a, x1b, y1b, x2b, y2b))
                or (d3 == 0 and onseg(x2a, y2a, x2b, y2b, x1a, y1a))
                or (d4 == 0 and onseg(x2a, y2a, x2b, y2b, x1b, y1b))
            )
            if proper or touch:
                rows.append((r1, s1, r2, s2, 1 if proper else 0))
    return rows


def test_segment_pair_join_matches_bruteforce(spark):
    """Roads x state-boundary edges == brute force, including hole-ring
    edges; even-crossing parity holds for canvas-spanning roads."""
    roads = LN.polyline_segments(FX.make_road_features())
    feats = FX.make_features()
    feats = feats[(feats.shape_type == 5) & (~feats.deleted)]
    states = LN.polygon_ring_segments(feats)
    # hole rings contribute edges (every 5th state has a second ring)
    multi = feats[feats.ring_sizes.map(len) > 1]
    assert len(multi) > 0
    got = (
        LN.segment_intersections_join(
            spark.createDataFrame(roads), spark.createDataFrame(states),
            res=5,
        )
        .toPandas()
    )
    got_set = {
        (int(r.id_a), int(r.seg_a), int(r.id_b), int(r.seg_b),
         int(r.proper_i))
        for r in got.itertuples(index=False)
    }
    exp = set(_brute_pair_intersections(roads, states))
    assert got_set == exp
    assert len(got) == len(got_set)  # exactly-once per pair
    assert len(exp) > 100  # canvas-spanning roads hit many boundaries


def test_segment_pair_join_in_out_crossing(spark):
    """A horizontal line through a closed square crosses its boundary
    exactly twice (in and out), both proper, at the known x positions."""
    line = pd.DataFrame(
        [(1, 0, -10.0, 5.0, 10.0, 5.0)],
        columns=["road_id", "seg_id", "ax", "ay", "bx", "by"],
    )
    square = pd.DataFrame(
        dict(
            record_number=[7],
            shape_type=[5],
            deleted=[False],
            xs=[[-2.0, 2.0, 2.0, -2.0, -2.0]],
            ys=[[3.0, 3.0, 7.0, 7.0, 3.0]],
            ring_sizes=[[5]],
        )
    )
    edges = LN.polygon_ring_segments(square)
    assert len(edges) == 4
    got = (
        LN.segment_intersections_join(
            spark.createDataFrame(line), spark.createDataFrame(edges), res=6
        )
        .toPandas()
        .sort_values("ix_u")
        .reset_index(drop=True)
    )
    assert len(got) == 2
    assert list(got.proper_i) == [1, 1]
    assert [int(v) for v in got.ix_u] == [-2_000_000, 2_000_000]
    assert [int(v) for v in got.iy_u] == [5_000_000, 5_000_000]


# ---------------------------------------------------------------------------
# line_interpolate (linear referencing)
# ---------------------------------------------------------------------------

def _li_twin(segs, fracs):
    """Integer-walk python twin of line_interpolate: same floor trees."""
    import math
    from collections import defaultdict

    by_road = defaultdict(list)
    for r in segs:
        by_road[r[0]].append(r)
    out = {}
    for road, rows in by_road.items():
        rows.sort(key=lambda r: r[1])
        lens = [
            math.floor(
                math.sqrt((bx - ax) ** 2 + (by - ay) ** 2) * 1000000.0
            )
            for _, _, ax, ay, bx, by in rows
        ]
        total = sum(lens)
        for pct in fracs:
            target = math.floor(total * pct / 100.0)
            cum0 = 0
            for (rid, sid, ax, ay, bx, by), ln in zip(rows, lens):
                if ln > 0 and cum0 <= target <= cum0 + ln:
                    t = (target - cum0) / ln
                    out[(road, pct)] = (
                        math.floor((ax + t * (bx - ax)) * 1000000.0),
                        math.floor((ay + t * (by - ay)) * 1000000.0),
                    )
                    break
                cum0 += ln
    return out


def test_line_interpolate_micro_exact(spark):
    """L-shaped 2-segment road: exact milepost positions at 25/50/75%,
    the 50% target landing exactly on the segment boundary resolves to
    the FIRST covering segment (t = 1.0, same point either way)."""
    segs = [(1, 0, 0.0, 0.0, 1.0, 0.0), (1, 1, 1.0, 0.0, 1.0, 1.0)]
    df = spark.createDataFrame(
        segs, "road_id long, seg_id long, ax double, ay double, "
        "bx double, by double"
    )
    got = {
        (r.road_id, r.pct): (r.x_u, r.y_u)
        for r in LN.line_interpolate(df, fracs=(25, 50, 75)).collect()
    }
    assert got == {
        (1, 25): (500000, 0),
        (1, 50): (1000000, 0),
        (1, 75): (1000000, 500000),
    }
    assert got == _li_twin(segs, (25, 50, 75))


def test_line_interpolate_skips_subudeg_segments(spark):
    """A segment shorter than 1 µdeg (len_u = 0) cannot host a milepost
    (division by zero) but stays in the walk; the target lands on the
    next real segment."""
    segs = [
        (7, 0, 0.0, 0.0, 1.0, 0.0),
        (7, 1, 1.0, 0.0, 1.0 + 4e-7, 0.0),   # len_u = 0
        (7, 2, 1.0 + 4e-7, 0.0, 2.0 + 4e-7, 0.0),
    ]
    df = spark.createDataFrame(
        segs, "road_id long, seg_id long, ax double, ay double, "
        "bx double, by double"
    )
    got = {
        (r.road_id, r.pct): (r.x_u, r.y_u)
        for r in LN.line_interpolate(df, fracs=(50, 100)).collect()
    }
    assert got == _li_twin(segs, (50, 100))
    assert got[(7, 50)][1] == 0 and abs(got[(7, 50)][0] - 1000000) <= 1
    assert got[(7, 100)][0] == 2000000  # 100% = the far endpoint (floored)


def test_line_interpolate_matches_twin_on_road_fixture(spark):
    """All 40 fixture roads (incl. the two-part ones — the walk is
    length-contiguous across part gaps, documented) x 3 fractions ==
    the integer-walk twin exactly."""
    segs_pdf = LN.polyline_segments(FX.make_road_features())
    segs = [tuple(r) for r in segs_pdf.itertuples(index=False)]
    df = spark.createDataFrame(segs_pdf)
    got = {
        (r.road_id, r.pct): (r.x_u, r.y_u)
        for r in LN.line_interpolate(df, fracs=(25, 50, 75)).collect()
    }
    exp = _li_twin(segs, (25, 50, 75))
    assert got == exp and len(got) == 120


def test_line_interpolate_rejects_bad_fracs(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        LN.line_interpolate(None, fracs=())
    with _pytest.raises(ValueError):
        LN.line_interpolate(None, fracs=(0,))
    with _pytest.raises(ValueError):
        LN.line_interpolate_oracle_sql("s", fracs=(101,))


def test_line_interpolate_rejects_float_fracs_and_skips_zero_length_roads(spark):
    """A non-integer fraction is rejected, never truncated; a road whose
    segments are all zero-length emits no rows (documented)."""
    import pytest as _pytest

    with _pytest.raises(ValueError):
        LN.line_interpolate(None, fracs=(25.5,))
    with _pytest.raises(ValueError):
        LN.line_interpolate_oracle_sql("s", fracs=(50, 99.9))
    segs = [(1, 0, 0.0, 0.0, 1.0, 0.0), (2, 0, 3.0, 3.0, 3.0, 3.0)]
    df = spark.createDataFrame(
        segs, "road_id long, seg_id long, ax double, ay double, "
        "bx double, by double"
    )
    got = {(r.road_id, r.pct) for r in LN.line_interpolate(df, fracs=(50.0,)).collect()}
    assert got == {(1, 50)}
