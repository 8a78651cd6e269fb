"""Spatial join row-set parity vs an independent oracle.

The oracle here is a direct per-point transliteration of the reference C++
(geometry.cpp:82-119, spatial_index.cpp:91-149) — deliberately NOT sharing
the engine's vectorized kernel, so kernel bugs can't self-validate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from gis_shapefile_spark.operators import geodesic as GE
from gis_shapefile_spark.operators import spatial_join as SJ
from gis_shapefile_spark.sources import fixtures as FX
from gis_shapefile_spark.functions import geometry as G


# --- oracle: straight transliteration of the reference ----------------------

def _ring_contains(rx, ry, px, py) -> bool:  # geometry.cpp:87-103
    inside = False
    j = len(rx) - 1
    for i in range(len(rx)):
        if ((ry[i] > py) != (ry[j] > py)) and (
            px < (rx[j] - rx[i]) * (py - ry[i]) / (ry[j] - ry[i]) + rx[i]
        ):
            inside = not inside
        j = i
    return inside


def _polygon_contains(rxs, rys, px, py) -> bool:  # geometry.cpp:106-118
    if not rxs:
        return False
    if not _ring_contains(rxs[0], rys[0], px, py):
        return False
    for k in range(1, len(rxs)):
        if _ring_contains(rxs[k], rys[k], px, py):
            return False
    return True


def _rings(row):
    xs = np.asarray(row["xs"])
    ys = np.asarray(row["ys"])
    offs = np.concatenate([[0], np.cumsum(row["ring_sizes"])]).astype(int)
    return (
        [xs[offs[i]: offs[i + 1]] for i in range(len(row["ring_sizes"]))],
        [ys[offs[i]: offs[i + 1]] for i in range(len(row["ring_sizes"]))],
    )


@pytest.fixture(scope="module")
def features():
    return FX.make_features()


@pytest.fixture(scope="module")
def points_pdf():
    rng = np.random.default_rng(7)
    n = 3000
    lng = rng.uniform(-126, -64, n)
    lat = rng.uniform(23, 51, n)
    return pd.DataFrame(
        {"image_id": [f"p{i:05d}" for i in range(n)], "lng": lng, "lat": lat}
    )


def oracle_pip_pairs(features, points_pdf):
    pairs = set()
    polys = [
        (int(r["record_number"]), *_rings(r))
        for _, r in features.iterrows()
        if r["shape_type"] == 5 and len(r["ring_sizes"]) > 0
    ]
    for _, p in points_pdf.iterrows():
        hits = [rec for rec, rxs, rys in polys if _polygon_contains(rxs, rys, p.lng, p.lat)]
        if hits:
            pairs.add((p.image_id, min(hits)))  # engine tie-break: min record
    return pairs


def test_vectorized_kernel_matches_transliteration(features, points_pdf):
    px = points_pdf["lng"].to_numpy()
    py = points_pdf["lat"].to_numpy()
    for _, r in features.iterrows():
        if r["shape_type"] != 5 or len(r["ring_sizes"]) == 0:
            continue
        rxs, rys = _rings(r)
        fast = G.polygon_contains_points(rxs, rys, px, py)
        slow = np.array(
            [_polygon_contains(rxs, rys, x, y) for x, y in zip(px, py)]
        )
        np.testing.assert_array_equal(fast, slow)


def test_pip_join_matches_oracle(spark, features, points_pdf):
    points = spark.createDataFrame(points_pdf)
    got = SJ.point_in_polygon_join(
        spark, points, features, res=8, point_id_col="image_id"
    )
    got_pairs = {(r.image_id, r.record_number) for r in got.collect()}
    assert got_pairs == oracle_pip_pairs(features, points_pdf)


def test_pip_join_salted_same_result(spark, features, points_pdf):
    points = spark.createDataFrame(points_pdf)
    plain = SJ.point_in_polygon_join(spark, points, features, res=8)
    salted = SJ.point_in_polygon_join(spark, points, features, res=8, salt_buckets=4)
    a = {(r.image_id, r.record_number) for r in plain.collect()}
    b = {(r.image_id, r.record_number) for r in salted.collect()}
    assert a == b


def _skewed_points(spark, n=4000, hot_frac=0.5):
    """n points, hot_frac of them inside one cell (a planted urban cell),
    the rest spread across the canvas."""
    import pandas as pd

    n_hot = int(n * hot_frac)
    rng = np.random.RandomState(3)
    hot_lng = -100.0 + rng.rand(n_hot) * 0.01
    hot_lat = 39.0 + rng.rand(n_hot) * 0.01
    cold_lng = -120.0 + rng.rand(n - n_hot) * 50.0
    cold_lat = 25.0 + rng.rand(n - n_hot) * 20.0
    pdf = pd.DataFrame(
        {
            "image_id": [f"p{i:06d}" for i in range(n)],
            "lng": np.concatenate([hot_lng, cold_lng]),
            "lat": np.concatenate([hot_lat, cold_lat]),
        }
    )
    return spark.createDataFrame(pdf)


def test_auto_salt_buckets_measures_skew(spark):
    """The adaptive salt factor follows the MEASURED hot-cell share:
    ~uniform points -> 0 (no cell exceeds an average shuffle partition,
    keep the cheap unsalted plan); a 50%-hot-cell table -> ceil(f*P)
    capped, > 1."""
    uniform = _skewed_points(spark, n=4000, hot_frac=0.0)
    assert SJ.auto_salt_buckets(spark, uniform, res=8) == 0
    skewed = _skewed_points(spark, n=4000, hot_frac=0.5)
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    s = SJ.auto_salt_buckets(spark, skewed, res=8)
    import math

    # f is 0.5 plus the few cold points that land in the hot cell, so
    # ceil(f*P) is P/2 or one above
    assert s in (math.ceil(0.5 * p), math.ceil(0.5 * p) + 1)
    # clamp respected
    assert SJ.auto_salt_buckets(spark, skewed, res=8, max_buckets=2) == 2
    # sampled profile steers the same knob
    s2 = SJ.auto_salt_buckets(
        spark, skewed, res=8, sample_fraction=0.5
    )
    assert s2 >= 2


def test_pip_join_auto_salt_same_result(spark, features, points_pdf):
    """salt_buckets='auto' must resolve the knob from data and return
    identical rows to the broadcast path."""
    points = spark.createDataFrame(points_pdf)
    plain = SJ.point_in_polygon_join(spark, points, features, res=8)
    auto = SJ.point_in_polygon_join(
        spark, points, features, res=8, salt_buckets="auto"
    )
    a = {(r.image_id, r.record_number) for r in plain.collect()}
    b = {(r.image_id, r.record_number) for r in auto.collect()}
    assert a == b


def test_within_distance_matches_oracle(spark, features, points_pdf):
    d = 2.5
    points = spark.createDataFrame(points_pdf)
    got = SJ.within_distance_join(spark, points, features, distance=d)
    got_pairs = {(r.image_id, r.record_number) for r in got.collect()}

    feats = features[features["shape_type"] == 5]
    cx = ((feats["minx"] + feats["maxx"]) / 2).to_numpy()
    cy = ((feats["miny"] + feats["maxy"]) / 2).to_numpy()
    recs = feats["record_number"].to_numpy()
    want = set()
    for _, p in points_pdf.iterrows():
        dist = np.sqrt((p.lng - cx) ** 2 + (p.lat - cy) ** 2)
        for rec in recs[dist <= d]:
            want.add((p.image_id, int(rec)))
    assert got_pairs == want


def test_knn_bruteforce_matches_oracle(spark, features, points_pdf):
    k = 3
    sub = points_pdf.head(500)
    points = spark.createDataFrame(sub)
    got = SJ.knn_join_bruteforce(spark, points, features, k=k)
    got_map = {}
    for r in got.collect():
        got_map.setdefault(r.image_id, []).append((r.knn_rank, r.record_number))

    feats = features[features["shape_type"] == 5]
    cx = ((feats["minx"] + feats["maxx"]) / 2).to_numpy()
    cy = ((feats["miny"] + feats["maxy"]) / 2).to_numpy()
    recs = feats["record_number"].to_numpy()
    for _, p in sub.iterrows():
        dist = np.sqrt((p.lng - cx) ** 2 + (p.lat - cy) ** 2)
        order = np.lexsort((recs, dist))[:k]  # spatial_index.cpp:110-120
        want = [int(recs[i]) for i in order]
        gotk = [rec for _, rec in sorted(got_map[p.image_id])]
        assert gotk == want, p.image_id


def test_knn_cell_candidates_equals_bruteforce(spark, features, points_pdf):
    k = 4
    points = spark.createDataFrame(points_pdf.head(800))
    brute = SJ.knn_join_bruteforce(spark, points, features, k=k)
    fast = SJ.knn_join(spark, points, features, k=k, res=6)
    a = {(r.image_id, r.knn_rank, r.record_number) for r in brute.collect()}
    b = {(r.image_id, r.knn_rank, r.record_number) for r in fast.collect()}
    assert a == b


def test_bbox_join_matches_oracle(spark, features):
    rng = np.random.default_rng(11)
    nq = 200
    qx = rng.uniform(-130, -60, nq)
    qy = rng.uniform(20, 52, nq)
    qw = rng.uniform(0.1, 15, nq)
    qh = rng.uniform(0.1, 10, nq)
    qpdf = pd.DataFrame(
        {
            "query_id": np.arange(nq),
            "qminx": qx, "qminy": qy, "qmaxx": qx + qw, "qmaxy": qy + qh,
        }
    )
    queries = spark.createDataFrame(qpdf)
    got = SJ.bbox_join(spark, queries, features, res=6)
    got_pairs = {(r.query_id, r.record_number) for r in got.collect()}

    feats = features[features["shape_type"] == 5]
    want = set()
    for _, q in qpdf.iterrows():
        for _, f in feats.iterrows():
            if not (
                f.minx > q.qmaxx or f.maxx < q.qminx
                or f.miny > q.qmaxy or f.maxy < q.qminy
            ):
                want.add((int(q.query_id), int(f.record_number)))
    assert got_pairs == want


def test_knn_indexes_all_geometry_types(spark):
    """Reference parity: the R-tree indexes every record's bbox regardless
    of type (spatial_index.cpp:295-306), so a Point feature competes in kNN
    alongside polygons; null-shape rows (no bounds) are skipped."""
    feats = pd.DataFrame(
        {
            "record_number": [1, 2, 3],
            "shape_type": [5, 1, 0],  # polygon, point, null shape
            "xs": [[0.0, 4.0, 4.0, 0.0], [10.0], []],
            "ys": [[0.0, 0.0, 4.0, 4.0], [10.0], []],
            "ring_sizes": [[4], [1], []],
            "minx": [0.0, 10.0, np.nan],
            "miny": [0.0, 10.0, np.nan],
            "maxx": [4.0, 10.0, np.nan],
            "maxy": [4.0, 10.0, np.nan],
        }
    )
    pts = spark.createDataFrame(
        pd.DataFrame({"image_id": [0], "lng": [9.0], "lat": [9.0]})
    )
    got = SJ.knn_join_bruteforce(spark, pts, feats, k=2).collect()
    # nearest = point feature (dist sqrt(2)), then polygon center (2,2)
    assert [(r.record_number, r.knn_rank) for r in
            sorted(got, key=lambda r: r.knn_rank)] == [(2, 1), (1, 2)]


def test_knn_ring_expansion_matches_bruteforce(spark):
    """Cell-candidate kNN (the cell-ring expansion done once per occupied
    cell) == brute force on the 51-state fixture (both rank by exact
    center distance; the candidate lists only prune)."""
    feats = FX.make_features()
    rng = np.random.RandomState(11)
    pts_pdf = pd.DataFrame({
        "image_id": range(300),
        "lng": rng.uniform(-124, -67, 300),
        "lat": rng.uniform(25, 49, 300),
    })
    pts = spark.createDataFrame(pts_pdf)
    ring = SJ.knn_join(spark, pts, feats, k=3, res=6)
    brute = SJ.knn_join_bruteforce(spark, pts, feats, k=3)
    key = lambda df: sorted(
        (r.image_id, r.knn_rank, r.record_number) for r in df.collect()
    )
    assert key(ring) == key(brute)


@pytest.mark.parametrize("join", [
    lambda spark, pts, feats: SJ.knn_join(spark, pts, feats, k=3, res=6),
    lambda spark, pts, feats: SJ.knn_join_bruteforce(spark, pts, feats, k=3),
    lambda spark, pts, feats: SJ.within_distance_join(spark, pts, feats, distance=2.0),
    lambda spark, pts, feats: SJ.bbox_join(
        spark,
        pts.selectExpr("image_id AS query_id", "lng AS qminx", "lat AS qminy",
                       "lng + 1 AS qmaxx", "lat + 1 AS qmaxy"),
        feats,
    ),
    lambda spark, pts, feats: SJ.point_in_polygon_join(
        spark, pts, feats, res=6, attrs=["NAME_1"]),
], ids=["knn_join", "knn_join_bruteforce", "within_distance_join", "bbox_join",
        "point_in_polygon_join"])
def test_empty_feature_set_joins_to_zero_rows(spark, join):
    """No features, no matches: every dimension join returns an empty
    frame instead of failing to infer the dimension's schema."""
    feats = FX.make_features().iloc[:0]
    pts = spark.createDataFrame(pd.DataFrame({
        "image_id": [0, 1], "lng": [-100.0, -90.0], "lat": [40.0, 35.0],
    }))
    assert join(spark, pts, feats).count() == 0


def test_simplify_ring_properties():
    """DP simplification: survivors are a subsequence, dropped vertices lie
    within epsilon of the simplified outline, straight runs collapse."""
    # square with collinear midpoints -> collapses to the 4 corners + ends
    x = np.array([0, 1, 2, 2, 2, 1, 0, 0, 0.0])
    y = np.array([0, 0, 0, 1, 2, 2, 2, 1, 0.0])
    sx, sy = G.simplify_ring(x, y, epsilon=1e-9)
    assert len(sx) <= 6 and sx[0] == x[0] and sx[-1] == x[-1]
    # jittered circle: epsilon bounds the max deviation
    t = np.linspace(0, 2 * np.pi, 200)
    rng = np.random.RandomState(3)
    cx = np.cos(t) + rng.uniform(-0.003, 0.003, 200)
    cy = np.sin(t) + rng.uniform(-0.003, 0.003, 200)
    sx, sy = G.simplify_ring(cx, cy, epsilon=0.05)
    assert 3 <= len(sx) < 200
    # every original vertex is within ~epsilon of the simplified polyline
    def dist_to_polyline(px, py):
        best = np.inf
        for i in range(len(sx) - 1):
            ax, ay, bx, by = sx[i], sy[i], sx[i + 1], sy[i + 1]
            L2 = (bx - ax) ** 2 + (by - ay) ** 2
            tt = 0 if L2 == 0 else np.clip(((px - ax) * (bx - ax) + (py - ay) * (by - ay)) / L2, 0, 1)
            best = min(best, np.hypot(px - (ax + tt * (bx - ax)), py - (ay + tt * (by - ay))))
        return best
    worst = max(dist_to_polyline(cx[i], cy[i]) for i in range(0, 200, 7))
    assert worst <= 0.06


def test_simplify_features_cuts_edges_preserves_interior(spark):
    """Simplified states: fewer vertices, and interior PIP verdicts agree
    with the full-resolution polygons away from the boundary band."""
    feats = FX.make_features()
    simp = G.simplify_features(feats, epsilon=0.01)
    n0 = sum(len(r) for r in feats[feats.shape_type == 5]["xs"])
    n1 = sum(len(r) for r in simp[simp.shape_type == 5]["xs"])
    assert n1 < n0
    rng = np.random.RandomState(7)
    pts_pdf = pd.DataFrame({
        "image_id": range(500),
        "lng": rng.uniform(-124, -67, 500),
        "lat": rng.uniform(25, 49, 500),
    })
    pts = spark.createDataFrame(pts_pdf)
    a = {(r.image_id, r.record_number) for r in SJ.point_in_polygon_join(
        spark, pts, feats, res=8, dedup_first=False).collect()}
    b = {(r.image_id, r.record_number) for r in SJ.point_in_polygon_join(
        spark, pts, simp, res=8, dedup_first=False).collect()}
    # epsilon=0.01 deg boundary band: the symmetric difference stays tiny
    assert len(a ^ b) <= max(2, len(a) // 20)


def test_knn_ring_expansion_sparse_features(spark):
    """Sparse dimension (candidate lists reach far beyond a cell's own
    ring, rectangular-cell geometry stressed): cell-candidate kNN must
    still equal brute force."""
    rng = np.random.RandomState(23)
    feats = pd.DataFrame({
        "record_number": range(10),
        "shape_type": [5] * 10,
        "xs": [[0.0]] * 10, "ys": [[0.0]] * 10, "ring_sizes": [[1]] * 10,
    })
    cx = rng.uniform(-120, -70, 10)
    cy = rng.uniform(26, 48, 10)
    feats["minx"] = cx - 0.01; feats["maxx"] = cx + 0.01
    feats["miny"] = cy - 0.01; feats["maxy"] = cy + 0.01
    pts = spark.createDataFrame(pd.DataFrame({
        "image_id": range(200),
        "lng": rng.uniform(-124, -67, 200),
        "lat": rng.uniform(25, 49, 200),
    }))
    ring = SJ.knn_join(spark, pts, feats, k=3, res=7)
    brute = SJ.knn_join_bruteforce(spark, pts, feats, k=3)
    key = lambda df: sorted(
        (r.image_id, r.knn_rank, r.record_number) for r in df.collect()
    )
    assert key(ring) == key(brute)


def test_knn_res_guard_bounds_driver_and_stays_exact(spark, features, points_pdf):
    """VERDICT r1 #5: at fine res with scattered points, the occupied-cell
    guard must auto-downgrade the resolution (driver stays bounded) while
    the join output stays exactly equal to brute force."""
    k = 3
    pts = spark.createDataFrame(points_pdf.head(600))
    brute = SJ.knn_join_bruteforce(spark, pts, features, k=k)
    # budget of 64 cells forces several downgrade steps from res 10
    guarded = SJ.knn_join(
        spark, pts, features, k=k, res=10, max_occupied_cells=64
    )
    a = {(r.image_id, r.knn_rank, r.record_number) for r in brute.collect()}
    b = {(r.image_id, r.knn_rank, r.record_number) for r in guarded.collect()}
    assert a == b
    # and the guard itself reports a bounded cell set at a coarser res
    eff_res, occ = SJ._occupied_cells_bounded(pts, "lng", "lat", 10, 64)
    assert eff_res < 10
    assert len(occ) <= 64 * 2  # approx sketch slack


# ---------------------------------------------------------------------------
# LARGE x LARGE within-distance self-join
# ---------------------------------------------------------------------------

def _pair_brute(pdf, d):
    xy = pdf[["lng", "lat"]].to_numpy()
    ids = pdf["point_id"].to_numpy()
    out = set()
    for i in range(len(ids)):
        dx = xy[:, 0] - xy[i, 0]
        dy = xy[:, 1] - xy[i, 1]
        close = np.sqrt(dx * dx + dy * dy) <= d
        for j in np.nonzero(close)[0]:
            if ids[i] < ids[j]:
                out.add((int(ids[i]), int(ids[j])))
    return out


def test_self_join_matches_bruteforce(spark):
    rng = np.random.default_rng(61)
    pdf = pd.DataFrame(
        {
            "point_id": np.arange(400, dtype=np.int64),
            "lng": rng.uniform(-125, -66, 400),
            "lat": rng.uniform(24, 50, 400),
        }
    )
    for d in (0.7, 2.5):
        out = SJ.within_distance_self_join(
            spark.createDataFrame(pdf), distance=d
        ).toPandas()
        got = list(zip(out["id_1"], out["id_2"]))
        assert len(got) == len(set(got)), "pair emitted more than once"
        assert set((int(a), int(b)) for a, b in got) == _pair_brute(pdf, d)
        # dist_u integerization matches the brute distance
        for r in out.itertuples():
            a = pdf.loc[pdf.point_id == r.id_1].iloc[0]
            b = pdf.loc[pdf.point_id == r.id_2].iloc[0]
            dd = np.sqrt((a.lng - b.lng) ** 2 + (a.lat - b.lat) ** 2)
            assert r.dist_u == int(np.floor(dd * 1e6))


def test_self_join_grid_edges_no_wraparound(spark):
    """Points hugging opposite grid edges must never pair through the
    neighbor offsets wrapping the morton space."""
    pdf = pd.DataFrame(
        {
            "point_id": [1, 2, 3, 4],
            "lng": [-179.9, 179.9, -179.9, -179.8],
            "lat": [0.0, 0.0, 0.1, 0.05],
        }
    )
    out = SJ.within_distance_self_join(
        spark.createDataFrame(pdf), distance=1.0
    ).toPandas()
    got = set(zip(out["id_1"], out["id_2"]))
    # 1-3, 1-4, 3-4 are genuinely close; 2 is across the antimeridian
    # (planar-parity contract: NOT adjacent)
    assert got == {(1, 3), (1, 4), (3, 4)}


def test_self_join_forces_sort_merge(spark):
    """Round-4 verdict item 4: the pair join carries its own no-broadcast
    (merge) hint, so AQE's compressed-size heuristic can never convert
    it to the measured-3x-slower broadcast hash join at mid scale (8.9
    vs 2.8 s at 2M points, BENCH/BASELINE.md). Assert the executed plan:
    the _nb equi-join is a SortMergeJoin, not BroadcastHashJoin."""
    rng = np.random.default_rng(73)
    pdf = pd.DataFrame(
        {
            "point_id": np.arange(500, dtype=np.int64),
            "lng": rng.uniform(-125, -66, 500),
            "lat": rng.uniform(24, 50, 500),
        }
    )
    out = SJ.within_distance_self_join(spark.createDataFrame(pdf), distance=1.0)
    out.collect()  # materialize so AQE's FINAL plan is the one inspected
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    # geodesic twin carries the same hint
    gout = GE.geodesic_pairs_within_km(spark.createDataFrame(pdf), km=50.0)
    gout.collect()
    gplan = gout._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in gplan
    assert "BroadcastHashJoin" not in gplan
    # and so does the cross join (same candidate builder)
    half = spark.createDataFrame(pdf.rename(columns={"point_id": "id_1"}))
    cout = SJ.within_distance_cross_join(
        half, half.withColumnRenamed("id_1", "id_2"), distance=1.0
    )
    cout.collect()
    cplan = cout._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in cplan
    assert "BroadcastHashJoin" not in cplan


def test_topk_windows_plan_map_side_group_limit(spark, features, points_pdf):
    """The per-key top-k windows of knn_join, cosine_topk and
    nearest_segment_join run a map-side partial top-k (WindowGroupLimit)
    before their one exchange. A conf or version drift that drops it
    brings back full-shuffle windows, so pin it in the executed plans."""
    from pyspark.sql import functions as F

    from gis_shapefile_spark.operators import lines as LN
    from gis_shapefile_spark.operators import similarity as SIM

    pts = spark.createDataFrame(points_pdf.head(400))
    rng = np.random.default_rng(5)
    vecs = spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(40),
        "embedding": [r.tolist() for r in rng.standard_normal((40, 8))],
    }))
    queries = vecs.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    outs = {
        "knn_join": SJ.knn_join(spark, pts, features, k=3, res=6),
        "cosine_topk": SIM.cosine_topk(vecs, queries, k=4),
        "nearest_segment_join": LN.nearest_segment_join(
            spark, pts, FX.make_road_features(n_roads=6, n_pts=5),
            radius=2.0, k=2, point_id_col="image_id",
        ),
    }
    for name, out in outs.items():
        out.collect()  # materialize so AQE's FINAL plan is the one inspected
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan, name


def test_self_join_validation(spark):
    with pytest.raises(ValueError):
        SJ.within_distance_self_join(None, distance=0.0)
    with pytest.raises(ValueError):
        SJ.within_distance_self_join(None, distance=5.0, res=12)


def test_knn_self_join_matches_bruteforce(spark):
    rng = np.random.default_rng(67)
    pdf = pd.DataFrame(
        {
            "point_id": np.arange(200, dtype=np.int64),
            "lng": rng.uniform(-110, -100, 200),
            "lat": rng.uniform(30, 40, 200),
        }
    )
    k, radius = 3, 1.5
    out = SJ.knn_self_join(
        spark.createDataFrame(pdf), k=k, radius=radius
    ).toPandas()
    xy = pdf[["lng", "lat"]].to_numpy()
    want = set()
    for i in range(len(pdf)):
        d = np.sqrt(((xy - xy[i]) ** 2).sum(axis=1))
        du = np.floor(d * 1e6).astype(np.int64)
        cand = [
            (int(du[j]), j) for j in range(len(pdf))
            if j != i and d[j] <= radius
        ]
        for rank, (dd, j) in enumerate(sorted(cand)[:k], start=1):
            want.add((i, j, rank, dd))
    got = {
        (int(r.point_id), int(r.neighbor_id), int(r.nn_rank), int(r.dist_u))
        for r in out.itertuples()
    }
    assert got == want
    # isolated points emit nothing; ranks dense from 1
    per = out.groupby("point_id")["nn_rank"].agg(["min", "max", "count"])
    assert (per["min"] == 1).all()
    assert (per["max"] == per["count"]).all()


@pytest.mark.parametrize("k", [-1, 0, 2.5, True], ids=["neg", "zero", "float", "bool"])
@pytest.mark.parametrize("knn", [
    lambda k: SJ.knn_join(None, None, None, k=k),
    lambda k: SJ.knn_join_bruteforce(None, None, None, k=k),
    lambda k: SJ.knn_self_join(None, k=k, radius=1.0),
    lambda k: GE.geodesic_knn_self(None, k=k, km=1.0),
], ids=["knn_join", "knn_join_bruteforce", "knn_self_join", "geodesic_knn_self"])
def test_knn_operators_validate_k(knn, k):
    """k must be an integer >= 1, checked before any input is touched:
    k=-1 used to return no rows from knn_join (a negative numpy column
    index) and k=2.5 a numpy IndexError there and the top 2 elsewhere."""
    with pytest.raises(ValueError, match="k must be an integer"):
        knn(k)


def test_within_distance_cross_join_matches_bruteforce(spark):
    """Big-big CROSS join == numpy brute force: every (left, right)
    pair within d exactly once, across cell boundaries."""
    import numpy as np
    import pandas as pd

    from gis_shapefile_spark.operators import spatial_join as SJ

    rng = np.random.default_rng(31)
    nl, nr = 300, 400
    left = pd.DataFrame(
        dict(id_1=np.arange(nl),
             lng=rng.uniform(-100, -90, nl),
             lat=rng.uniform(30, 38, nr)[:nl])
    )
    right = pd.DataFrame(
        dict(id_2=np.arange(nr),
             lng=rng.uniform(-100, -90, nr),
             lat=rng.uniform(30, 38, nr))
    )
    d = 0.8
    got = SJ.within_distance_cross_join(
        spark.createDataFrame(left), spark.createDataFrame(right),
        distance=d,
    ).toPandas()
    dx = left.lng.values[:, None] - right.lng.values[None, :]
    dy = left.lat.values[:, None] - right.lat.values[None, :]
    dist = np.sqrt(dx * dx + dy * dy)
    li, ri = np.where(dist <= d)
    exp = {
        (int(a), int(b), int(np.floor(dist[a, b] * 1e6)))
        for a, b in zip(li, ri)
    }
    got_set = {
        (int(r.id_1), int(r.id_2), int(r.dist_u))
        for r in got.itertuples(index=False)
    }
    assert got_set == exp
    assert len(got) == len(got_set)  # exactly once, no dedup pass
    assert len(exp) > 1000  # dense enough to cross many cell borders


def test_pip_anti_join_is_exact_complement(spark, features, points_pdf):
    """The anti join returns EXACTLY the points the reference-oracle
    transliteration places in no polygon — matched ∪ anti == all ids,
    disjoint, original columns preserved."""
    points = spark.createDataFrame(points_pdf)
    anti = SJ.point_in_polygon_anti_join(spark, points, features, res=8)
    assert anti.columns == list(points_pdf.columns)
    anti_ids = {r.image_id for r in anti.collect()}
    oracle_in = {pid for pid, _ in oracle_pip_pairs(features, points_pdf)}
    all_ids = set(points_pdf["image_id"])
    assert anti_ids == all_ids - oracle_in
    assert anti_ids and oracle_in  # both sides non-trivial on the fixture


# --- one polygon index per (session, features content, res) ----------------

def test_index_shared_by_content_equal_frames(spark):
    """Two frames with equal content, built apart, share one index."""
    a, b = FX.make_features(), FX.make_features()
    assert a is not b
    assert SJ._index(spark, a, 8) is SJ._index(spark, b, 8)
    prebuilt = SJ.PolygonIndex(spark, a, 8)
    assert SJ._index(spark, prebuilt, 8) is prebuilt


def test_index_rebuilt_on_edit_res_and_session(spark):
    feats = FX.make_features()
    first = SJ._index(spark, feats, 8)
    assert SJ._index(spark, feats, 7) is not first
    assert SJ._index(spark, feats, 7).res == 7
    feats.loc[feats.index[0], "num_attr"] = -1.5
    edited = SJ._index(spark, feats, 8)
    assert edited is not first
    # the first index kept its own copy of the frame
    assert first.features_pdf["num_attr"].iloc[0] != -1.5
    assert edited.features_pdf["num_attr"].iloc[0] == -1.5
    other = spark.newSession()
    theirs = SJ._index(other, feats, 8)
    assert theirs is not edited and theirs.spark is other
    # seeing the other session's entry drops it: one session's entries only
    mine = SJ._index(spark, feats, 8)
    assert mine is not theirs and mine is not edited and mine.spark is spark


def test_pip_attrs_follow_an_in_place_edit(spark, features, points_pdf):
    """After the caller edits its frame in place, the joined attributes
    are the caller's new values, not those of the index built before."""
    feats = features.copy()
    points = spark.createDataFrame(points_pdf)

    def names():
        got = SJ.point_in_polygon_join(spark, points, feats, res=8, attrs=["NAME_1"])
        return {(r.record_number, r.NAME_1) for r in got.collect()}

    want = dict(zip(feats["record_number"], feats["NAME_1"]))
    before = names()
    assert before and all(want[rec] == name for rec, name in before)
    hit = next(iter(before))[0]
    feats.loc[feats["record_number"] == hit, "NAME_1"] = "Edited"
    after = names()
    assert {rec for rec, _ in after} == {rec for rec, _ in before}
    assert all(name == ("Edited" if rec == hit else want[rec]) for rec, name in after)


# --- sub-cell masks + SQL ray-cast: exactness and plan shape ----------------

EX_RES = 8
SUB_W = 360.0 / (1 << (EX_RES + 3))  # sub-cell width at res+3
SUB_H = 180.0 / (1 << (EX_RES + 3))


def _poly(rec, rings):
    xs = [x for r in rings for x, _ in r]
    ys = [y for r in rings for _, y in r]
    return dict(record_number=rec, shape_type=5, xs=xs, ys=ys,
                ring_sizes=[len(r) for r in rings], minx=min(xs), miny=min(ys),
                maxx=max(xs), maxy=max(ys), deleted=False)


def _box(x0, y0, x1, y1):
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]


def _grid_x(k):
    return k * SUB_W - 180.0


def _grid_y(k):
    return k * SUB_H - 90.0


@pytest.fixture(scope="module")
def exact_case():
    """Polygons that stress the refine, and points on its hard cases.

    * 1: a shell with 70 holes, all crossing one res-8 cell's y-band;
    * 2: overlaps polygon 1, vertices on sub-cell grid corners;
    * 3: a concave polygon with vertices and edges on sub-cell borders.
    """
    y_hole = 31.7  # the res-8 row 31.640625 .. 32.34375
    holes = [_box(-99.9 + 0.12 * i, y_hole, -99.9 + 0.12 * i + 0.05, y_hole + 0.03)
             for i in range(70)]
    p1 = _poly(1, [_box(-100.0, 30.0, -90.0, 35.0)] + holes)
    gx = [_grid_x(k) for k in (440, 470, 500)]
    gy = [_grid_y(k) for k in (1370, 1390, 1415)]
    p2 = _poly(2, [[(gx[0], gy[0]), (gx[2], gy[0]), (gx[2], gy[2]), (gx[1], gy[1]),
                    (gx[0], gy[2]), (gx[0], gy[0])]])
    p3 = _poly(3, [[(gx[1], gy[0]), (gx[2], gy[1]), (gx[1], gy[2]), (gx[0], gy[1]),
                    (gx[1], gy[0])],
                   _box(_grid_x(468), _grid_y(1388), _grid_x(472), _grid_y(1392))])
    feats = pd.DataFrame([p1, p2, p3])

    rng = np.random.default_rng(11)
    xs, ys = [rng.uniform(-101, -84, 3000)], [rng.uniform(29, 36, 3000)]
    kx = rng.integers(425, 515, 600)
    ky = rng.integers(1360, 1425, 600)
    xs += [_grid_x(kx), rng.uniform(-101, -84, 600), _grid_x(kx)]   # sub-cell borders
    ys += [rng.uniform(29, 36, 600), _grid_y(ky), _grid_y(ky)]      # and grid corners
    for r in (p1, p2, p3):
        vx, vy = np.asarray(r["xs"]), np.asarray(r["ys"])
        xs += [vx, (vx + np.roll(vx, 1)) / 2]                         # vertices, edges
        ys += [vy, (vy + np.roll(vy, 1)) / 2]
    for h in holes:
        xs.append(np.array([(h[0][0] + h[1][0]) / 2]))                # hole centers
        ys.append(np.array([(h[0][1] + h[2][1]) / 2]))
    lng, lat = np.concatenate(xs), np.concatenate(ys)
    pts = pd.DataFrame({"image_id": np.arange(len(lng)), "lng": lng, "lat": lat})

    want = set()
    for _, r in feats.iterrows():
        rx, ry = _rings(r)
        hit = G.polygon_contains_points(rx, ry, lng, lat)
        want |= {(int(i), int(r["record_number"])) for i in np.flatnonzero(hit)}
    return feats, pts, want


def test_pip_refine_exact_on_borders_holes_and_overlaps(spark, exact_case):
    """Broadcast and salted paths return exactly the numpy kernel's
    (point, polygon) matches, on sub-cell borders, vertices and edges, in
    holes, in overlaps, and with 70 holes crossing one cell's band. The
    first hit is the smallest containing polygon on both paths, and the
    left form returns every point once, with that polygon or NULL."""
    feats, pts_pdf, want = exact_case
    index = SJ.PolygonIndex(spark, feats, EX_RES)
    dim = SJ.prepare_polygon_cells(feats, EX_RES)
    assert dim["holes"].map(len).max() >= 64
    assert (dim["part_mask"] != 0).any() and (dim["full_mask"] == -1).any()
    ids = {rec for _, rec in want}
    assert ids == {1, 2, 3}
    assert len({pid for pid, rec in want if rec == 2} & {pid for pid, rec in want if rec == 1})

    pts = spark.createDataFrame(pts_pdf)
    best: dict[int, int] = {}
    for pid, rec in want:
        best[pid] = min(rec, best.get(pid, rec))
    for salt in (0, 3):
        got = SJ.point_in_polygon_join(spark, pts, index, res=EX_RES,
                                       salt_buckets=salt, dedup_first=False)
        assert {(r.image_id, r.record_number) for r in got.collect()} == want, salt
        first = SJ.point_in_polygon_join(spark, pts, index, res=EX_RES,
                                         salt_buckets=salt).collect()
        assert len(first) == len(best), salt
        assert {(r.image_id, r.record_number) for r in first} == set(best.items()), salt
    left = SJ.point_in_polygon_left_join(spark, pts, index, res=EX_RES).collect()
    assert sorted(r.image_id for r in left) == sorted(pts_pdf["image_id"])
    assert {(r.image_id, r.record_number) for r in left} == {
        (int(pid), best.get(int(pid))) for pid in pts_pdf["image_id"]}


def test_pip_first_hit_is_per_row_for_duplicate_ids(spark, features):
    """Rows that share a point id keep one first-hit row each, whatever
    the partitioning and on both join paths: two id-1 rows at different
    locations inside polygon 1, plus an id-2 row inside polygon 2."""
    f = features[features["shape_type"] == 5]
    inside = []
    for _, r in f.head(2).iterrows():
        rx, ry = _rings(r)
        gx, gy = np.meshgrid(np.linspace(r["minx"], r["maxx"], 40),
                             np.linspace(r["miny"], r["maxy"], 40))
        hit = G.polygon_contains_points(rx, ry, gx.ravel(), gy.ravel())
        k = np.flatnonzero(hit)
        inside.append((int(r["record_number"]), gx.ravel()[k], gy.ravel()[k]))
    (rec1, x1, y1), (rec2, x2, y2) = inside
    pdf = pd.DataFrame({"image_id": [1, 1, 2],
                        "lng": [x1[0], x1[-1], x2[0]], "lat": [y1[0], y1[-1], y2[0]]})
    assert (pdf.loc[0, "lng"], pdf.loc[0, "lat"]) != (pdf.loc[1, "lng"], pdf.loc[1, "lat"])
    first = []
    for x, y in zip(pdf["lng"], pdf["lat"]):
        first.append(min(int(r["record_number"]) for _, r in f.iterrows()
                         if G.polygon_contains_points(*_rings(r), [x], [y])[0]))
    assert first[:2] == [rec1, rec1] and first[2] == rec2
    want = sorted(zip(pdf["image_id"], pdf["lng"], pdf["lat"], first))
    index = SJ.PolygonIndex(spark, features, 8)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in (1, 7, 64):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            pts = spark.createDataFrame(pdf)
            for salt in (0, 3):
                got = SJ.point_in_polygon_join(spark, pts, index, res=8, salt_buckets=salt)
                rows = sorted((r.image_id, r.lng, r.lat, r.record_number)
                              for r in got.collect())
                assert rows == want, (parts, salt)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "PythonUDF")


def _executed_plan(df) -> str:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.finalPhysicalPlan()
    return plan.toString()


def test_pip_plan_has_no_python_and_scans_points_once(spark, exact_case, tmp_path):
    feats, pts_pdf, _ = exact_case
    index = SJ.PolygonIndex(spark, feats, EX_RES)
    path = str(tmp_path / "pts")
    spark.createDataFrame(pts_pdf).write.parquet(path)
    pts = spark.read.parquet(path)
    plan = _executed_plan(SJ.point_in_polygon_join(spark, pts, index, res=EX_RES))
    assert not [n for n in PYTHON_NODES if n in plan], plan
    assert plan.count("FileScan parquet") == 1, plan
    # dedup_first (the default) takes the first hit per row: no window
    # and no shuffle on the broadcast path
    assert "Exchange hashpartitioning" not in plan and "Window" not in plan, plan
    salted = _executed_plan(SJ.point_in_polygon_join(
        spark, pts, index, res=EX_RES, salt_buckets=3))
    assert not [n for n in PYTHON_NODES if n in salted], salted
    assert "Window" not in salted, salted
    anti = _executed_plan(SJ.point_in_polygon_anti_join(spark, pts, index, res=EX_RES))
    assert anti.count("FileScan parquet") == 1, anti
    assert "Exchange hashpartitioning" not in anti, anti
    # the ray-cast (one aggregate for the shell, one for the holes) is
    # planned once per form, also under a filter on record_number
    for df in (
        SJ.point_in_polygon_join(spark, pts, index, res=EX_RES),
        SJ.point_in_polygon_join(spark, pts, index, res=EX_RES, dedup_first=False),
        SJ.point_in_polygon_left_join(spark, pts, index, res=EX_RES)
        .where("record_number IS NOT NULL"),
    ):
        once = _executed_plan(df)
        assert once.count("aggregate(") == 2, once
    streamed = _executed_plan(SJ.point_in_polygon_join(
        spark, pts, index, res=EX_RES, dedup_first=False))
    assert not [n for n in PYTHON_NODES if n in streamed], streamed
