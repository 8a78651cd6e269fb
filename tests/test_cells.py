"""Cell index parity: Spark SQL == DuckDB SQL == numpy, bit-for-bit."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gis_shapefile_spark.functions import cells as C

RNG = np.random.default_rng(42)
N = 2000
LNG = RNG.uniform(-180, 180, N)
LAT = RNG.uniform(-90, 90, N)


@pytest.mark.parametrize("res", [0, 1, 4, 8, 12, 20, 26])
def test_numpy_vs_duckdb(res):
    pdf = pd.DataFrame({"lng": LNG, "lat": LAT})
    sql = C.cell_sql("lng", "lat", res, "duckdb")
    got = duckdb.sql(f"SELECT {sql} AS cell FROM pdf").df()["cell"].to_numpy()
    want = C.cell_of_numpy(LNG, LAT, res)
    np.testing.assert_array_equal(got, want)


@pytest.mark.parametrize("res", [0, 8, 26])
def test_numpy_vs_spark(spark, res):
    pdf = pd.DataFrame({"lng": LNG, "lat": LAT})
    df = spark.createDataFrame(pdf)
    got = np.array(
        [r.cell for r in df.select(C.cell_col("lng", "lat", res).alias("cell")).collect()]
    )
    want = C.cell_of_numpy(LNG, LAT, res)
    np.testing.assert_array_equal(got, want)


def test_pack_unpack_roundtrip():
    for res in (0, 3, 13, 26):
        cells = C.cell_of_numpy(LNG, LAT, res)
        r, xi, yi = C.cell_xy(cells)
        assert (r == res).all()
        np.testing.assert_array_equal(C.pack_xy(xi, yi, res), cells)


def test_cell_bounds_contain_point():
    res = 9
    cells = C.cell_of_numpy(LNG, LAT, res)
    minx, miny, maxx, maxy = C.cell_bounds(cells)
    assert (LNG >= minx - 1e-9).all() and (LNG <= maxx + 1e-9).all()
    assert (LAT >= miny - 1e-9).all() and (LAT <= maxy + 1e-9).all()


def test_parent_is_ancestor():
    res, pres = 12, 7
    cells = C.cell_of_numpy(LNG, LAT, res)
    parents = C.cell_of_numpy(LNG, LAT, pres)
    pdf = pd.DataFrame({"cell": cells})
    sql = C.parent_sql("cell", res, pres, "duckdb")
    got = duckdb.sql(f"SELECT {sql} AS p FROM pdf").df()["p"].to_numpy()
    np.testing.assert_array_equal(got, parents)


def test_cover_bbox_contains_interior_cells():
    res = 8
    cover = set(C.cover_bbox(-100.0, 30.0, -90.0, 40.0, res).tolist())
    inside_lng = RNG.uniform(-100, -90, 200)
    inside_lat = RNG.uniform(30, 40, 200)
    pts = C.cell_of_numpy(inside_lng, inside_lat, res)
    assert set(pts.tolist()) <= cover


def test_neighbors_ring():
    c = int(C.cell_of_numpy([-95.0], [35.0], 10)[0])
    ring1 = C.neighbors(c, 1)
    assert len(ring1) == 8
    _, xi, yi = C.cell_xy(np.asarray([c]))
    for nb in ring1:
        _, nx, ny = C.cell_xy(np.asarray([nb]))
        assert max(abs(int(nx[0]) - int(xi[0])), abs(int(ny[0]) - int(yi[0]))) == 1


def _is_real_cell(key: int) -> bool:
    res = key >> C.RES_SHIFT
    return 0 <= res <= C.MAX_RES and key & ((1 << C.RES_SHIFT) - 1) < 4 ** res


@pytest.mark.parametrize("res", [0, 1, 25])
def test_neighborhood_col_matches_numpy_neighbors(spark, res):
    """neighborhood_col == cells.neighbors(cell) | {cell} on the grid's
    corners, edge midpoints and random interior cells: nine distinct
    keys, the in-range ones exactly the numpy set, and every off-grid
    one equal to no real cell at any resolution (no wraparound)."""
    n = 1 << res
    rng = np.random.default_rng(res)
    edge = sorted({0, n // 2, n - 1})
    xy = [(x, y) for x in edge for y in edge]
    if n > 2:
        xy += [tuple(v) for v in rng.integers(1, n - 1, (20, 2)).tolist()]
    cells = C.pack_xy(np.array([x for x, _ in xy]), np.array([y for _, y in xy]), res)
    df = spark.createDataFrame(pd.DataFrame({"cell": cells}), "cell bigint")
    rows = df.select("cell", C.neighborhood_col("cell", res).alias("nb")).collect()
    assert len(rows) == len(xy)
    for r in rows:
        keys = set(r.nb)
        assert len(r.nb) == 9 and len(keys) == 9, r
        want = set(C.neighbors(r.cell, 1).tolist()) | {r.cell}
        real = {k for k in keys if _is_real_cell(k)}
        assert real == want, r.cell
    with pytest.raises(ValueError):
        C.neighborhood_col("cell", 26)


@given(
    lng=st.floats(-180, 180, allow_nan=False),
    lat=st.floats(-90, 90, allow_nan=False),
    res=st.integers(0, 26),
)
@settings(max_examples=200, deadline=None)
def test_property_duckdb_matches_numpy(lng, lat, res):
    want = int(C.cell_of_numpy([lng], [lat], res)[0])
    sql = C.cell_sql(
        f"cast({lng!r} as double)", f"cast({lat!r} as double)", res, "duckdb"
    )
    got = duckdb.sql(f"SELECT {sql} AS c").fetchone()[0]
    assert got == want


def test_resolution_policy_bounds_cover():
    for w, h in [(360, 180), (50, 30), (1, 1), (0.01, 0.02)]:
        r = C.resolution_for_bbox(w, h, max_cells=256)
        cover = C.cover_bbox(-w / 2, -h / 2, w / 2, h / 2, r)
        assert len(cover) <= 256


def test_tile_pyramid_fold_equals_direct(spark):
    """Child-level folding == direct per-level grouping (associativity)."""
    from pyspark.sql import functions as F
    from gis_shapefile_spark.operators import tiling as TI

    pts = spark.range(5000).select(
        (F.lit(-120.0) + ((F.col("id") * 7919) % 40000) / 1000.0).alias("lng"),
        (F.lit(25.0) + ((F.col("id") * 104729) % 20000) / 1000.0).alias("lat"),
    )
    pyr = TI.tile_pyramid(pts, [8, 5]).collect()
    got = {(r.res, r.cell): (r.n_points, r.minx, r.maxx, r.miny, r.maxy) for r in pyr}
    for res in (8, 5):
        direct = TI.tile_stats(pts, res).collect()
        exp = {(res, r.cell): (r.n_points, r.minx, r.maxx, r.miny, r.maxy) for r in direct}
        assert {k: v for k, v in got.items() if k[0] == res} == exp


def test_tile_pyramid_reuses_base_exchange(spark):
    """Plan-shape regression: AQE exchange reuse dedupes the base level —
    the points are scanned/shuffled once, not once per pyramid level."""
    import re
    from pyspark.sql import functions as F
    from gis_shapefile_spark.operators import tiling as TI

    pts = spark.range(20000).select(
        (F.lit(-120.0) + ((F.col("id") * 7919) % 40000) / 1000.0).alias("lng"),
        (F.lit(25.0) + ((F.col("id") * 104729) % 20000) / 1000.0).alias("lat"),
    )
    out = TI.tile_pyramid(pts, [8, 6, 4])
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"ReusedExchange", plan)) >= 2


def test_ring_measures_known_square_with_hole(spark):
    """Shoelace/perimeter SQL on a hand-computable figure: a 10x10 CCW
    square shell with a 2x2 hole. area2_u = shell - hole by positional
    role; perimeter sums both boundaries. Exact integers at 1e-6 scale."""
    from pyspark.sql import functions as F
    from gis_shapefile_spark.functions import geometry as G

    shell_x = [0.0, 10.0, 10.0, 0.0, 0.0]
    shell_y = [0.0, 0.0, 10.0, 10.0, 0.0]
    hole_x = [4.0, 6.0, 6.0, 4.0, 4.0]
    hole_y = [4.0, 4.0, 6.0, 6.0, 4.0]
    df = spark.createDataFrame(
        [(1, 0, shell_x, shell_y), (1, 1, hole_x, hole_y)],
        "record_number long, ring_idx int, xs array<double>, ys array<double>",
    )
    per_ring = df.select(
        "ring_idx",
        F.expr(G.ring_area2_sql("xs", "ys", "spark")).alias("a2"),
        F.expr(G.ring_perim_sql("xs", "ys", "spark")).alias("pu"),
    ).collect()
    vals = {r.ring_idx: r for r in per_ring}
    assert vals[0].a2 == 200_000_000  # 2 * 100 * 1e6 (CCW positive)
    assert vals[1].a2 == 8_000_000  # 2 * 4 * 1e6
    assert vals[0].pu == 40_000_000
    assert vals[1].pu == 8_000_000

    # shell centroid: numerator / (3 * area2) = (5, 5) exactly
    cen = df.where("ring_idx = 0").select(
        F.expr(G.ring_centroid_num_sql("xs", "ys", "x", "spark")).alias("cxn"),
        F.expr(G.ring_centroid_num_sql("xs", "ys", "y", "spark")).alias("cyn"),
        F.expr(G.ring_area2_sql("xs", "ys", "spark")).alias("a2"),
    ).collect()[0]
    assert cen.cxn / (3 * cen.a2) == 5.0 and cen.cyn / (3 * cen.a2) == 5.0

    # positional combine (shell minus hole): 2*(100-4)*1e6
    combined = (
        df.select(
            F.when(F.col("ring_idx") == 0, F.expr(G.ring_area2_sql("xs", "ys", "spark")))
            .otherwise(-F.expr(G.ring_area2_sql("xs", "ys", "spark")))
            .alias("signed")
        )
        .groupBy()
        .sum("signed")
        .collect()[0][0]
    )
    assert combined == 192_000_000

    # DuckDB dialect computes the identical shell value
    import duckdb

    got = duckdb.sql(
        f"SELECT {G.ring_area2_sql('xs', 'ys', 'duckdb')} AS a2 "
        f"FROM (VALUES (CAST([0.0,10.0,10.0,0.0,0.0] AS DOUBLE[]),"
        f" CAST([0.0,0.0,10.0,10.0,0.0] AS DOUBLE[]))) t(xs, ys)"
    ).fetchone()[0]
    assert got == 200_000_000

    # degenerate rings sum to 0 in BOTH dialects (the sequence(1,0) guard)
    for xs_lit, ys_lit in (("[]", "[]"), ("[1.0]", "[2.0]")):
        d = duckdb.sql(
            f"SELECT {G.ring_area2_sql('xs', 'ys', 'duckdb')} AS a2 FROM "
            f"(VALUES (CAST({xs_lit} AS DOUBLE[]), CAST({ys_lit} AS DOUBLE[]))) t(xs, ys)"
        ).fetchone()[0]
        assert d == 0
    degen = spark.createDataFrame(
        [(0, [], []), (1, [1.0], [2.0])],
        "i int, xs array<double>, ys array<double>",
    ).select(
        F.expr(G.ring_area2_sql("xs", "ys", "spark")).alias("a2"),
        F.expr(G.ring_perim_sql("xs", "ys", "spark")).alias("pu"),
    ).collect()
    assert all(r.a2 == 0 and r.pu == 0 for r in degen)


def _pyr_dict(rows):
    return {
        (r.res, r.cell): (r.n_points, r.minx, r.maxx, r.miny, r.maxy)
        for r in rows
    }


def test_tile_pyramid_delta_append_equals_full_rebuild(spark):
    """Incremental append maintenance: stored pyramid + delta batch,
    applied via merge_upsert, equals the pyramid rebuilt from scratch on
    the full point set — and the delta output is churn-bounded (only
    keys the batch touches)."""
    from pyspark.sql import functions as F

    from gis_shapefile_spark.operators import tiling as TI
    from gis_shapefile_spark.plans.merge import merge_upsert

    def mkpts(lo, n):
        return spark.range(lo, lo + n).select(
            (F.lit(-120.0) + ((F.col("id") * 7919) % 40000) / 1000.0).alias("lng"),
            (F.lit(25.0) + ((F.col("id") * 104729) % 20000) / 1000.0).alias("lat"),
        )

    old, new = mkpts(0, 4000), mkpts(4000, 300)
    stored = TI.tile_pyramid(old, [8, 5]).localCheckpoint()
    out = TI.tile_pyramid_delta(stored, new, [8, 5]).localCheckpoint()
    # churn-bounded: no more rows than the batch's touched keys
    delta_keys = {
        (r.res, r.cell) for r in TI.tile_pyramid(new, [8, 5]).collect()
    }
    assert {(r.res, r.cell) for r in out.collect()} == delta_keys

    applied = merge_upsert(stored, out, ["res", "cell"])
    full = TI.tile_pyramid(old.unionByName(new), [8, 5])
    assert _pyr_dict(applied.collect()) == _pyr_dict(full.collect())


def test_tile_pyramid_update_repairs_removals(spark):
    """Exact repair after arbitrary churn: remove points (emptying some
    tiles entirely) and add others, repair only the touched base cells,
    apply with tombstones — result equals a from-scratch rebuild on the
    surviving point set, including the disappearance of emptied tiles
    and their emptied ancestors."""
    from pyspark.sql import functions as F

    from gis_shapefile_spark.functions import cells as C
    from gis_shapefile_spark.operators import tiling as TI
    from gis_shapefile_spark.plans.merge import merge_upsert

    pts = spark.range(4000).select(
        F.col("id"),
        (F.lit(-120.0) + ((F.col("id") * 7919) % 40000) / 1000.0).alias("lng"),
        (F.lit(25.0) + ((F.col("id") * 104729) % 20000) / 1000.0).alias("lat"),
    ).localCheckpoint()
    stored = TI.tile_pyramid(pts, [8, 5]).localCheckpoint()

    # churn: drop every id % 7 == 0 AND nuke one whole base cell
    base = TI.assign_cells(pts, 8)
    nuke_cell = base.groupBy("cell").count().orderBy("count", "cell").first().cell
    survivors = base.where(
        (F.col("id") % 7 != 0) & (F.col("cell") != nuke_cell)
    ).drop("cell").localCheckpoint()

    touched = sorted(
        r.cell
        for r in base.where((F.col("id") % 7 == 0) | (F.col("cell") == nuke_cell))
        .select("cell").distinct().collect()
    )
    out = TI.tile_pyramid_update(survivors, stored, touched, [8, 5])
    applied = merge_upsert(stored, out, ["res", "cell"], delete_col="deleted")
    full = TI.tile_pyramid(survivors, [8, 5])
    assert _pyr_dict(applied.collect()) == _pyr_dict(full.collect())
    # the nuked tile is tombstoned, not zeroed
    assert {(8, nuke_cell)} <= {
        (r.res, r.cell) for r in out.where("deleted").collect()
    }
    # update output is churn-bounded: at most touched x levels + parents
    assert out.count() <= 2 * len(touched) + 2


@pytest.mark.parametrize("res", [0, 1, 5, 8, 12, 26])
def test_demorton_roundtrip_three_way(spark, res):
    """cell_axis_sql / cell_center_sql invert cell_sql identically in
    Spark, DuckDB, and the numpy twin (cell_xy / cell_bounds)."""
    rng = np.random.default_rng(res + 3)
    lng = np.concatenate([rng.uniform(-180, 180, 40), [-180.0, 179.999999]])
    lat = np.concatenate([rng.uniform(-90, 90, 40), [-90.0, 89.999999]])
    cells = C.cell_of_numpy(lng, lat, res)
    _, xi, yi = C.cell_xy(cells)
    minx, miny, maxx, maxy = C.cell_bounds(cells)
    cx, cy = (minx + maxx) / 2.0, (miny + maxy) / 2.0

    pdf = pd.DataFrame({"i": range(len(cells)), "cell": cells})
    exprs = {
        "xi": C.cell_axis_sql("cell", "x", "spark"),
        "yi": C.cell_axis_sql("cell", "y", "spark"),
        "cx": C.cell_center_sql("cell", "x", res, "spark"),
        "cy": C.cell_center_sql("cell", "y", res, "spark"),
    }
    sp = (
        spark.createDataFrame(pdf)
        .selectExpr("i", *[f"{e} AS {k}" for k, e in exprs.items()])
        .toPandas()
        .set_index("i")
        .sort_index()
    )
    con = duckdb.connect()
    con.register("t", pdf)
    dexprs = {
        "xi": C.cell_axis_sql("cell", "x", "duckdb"),
        "yi": C.cell_axis_sql("cell", "y", "duckdb"),
        "cx": C.cell_center_sql("cell", "x", res, "duckdb"),
        "cy": C.cell_center_sql("cell", "y", res, "duckdb"),
    }
    du = con.sql(
        "SELECT i, " + ", ".join(f"{e} AS {k}" for k, e in dexprs.items())
        + " FROM t"
    ).df().set_index("i").sort_index()
    assert (sp.xi.to_numpy() == xi).all() and (du.xi.to_numpy() == xi).all()
    assert (sp.yi.to_numpy() == yi).all() and (du.yi.to_numpy() == yi).all()
    # centers: bit-identical across engines, and equal to the numpy
    # bounds midpoint (same (idx + 0.5) * ext / n arithmetic)
    assert (sp.cx.to_numpy() == du.cx.to_numpy()).all()
    assert (sp.cy.to_numpy() == du.cy.to_numpy()).all()
    np.testing.assert_allclose(sp.cx.to_numpy(), cx, rtol=0, atol=1e-12)
    np.testing.assert_allclose(sp.cy.to_numpy(), cy, rtol=0, atol=1e-12)
    # centers fall inside their own cell
    assert ((sp.cx.to_numpy() >= minx) & (sp.cx.to_numpy() < maxx)).all()
    assert ((sp.cy.to_numpy() >= miny) & (sp.cy.to_numpy() < maxy)).all()


@pytest.mark.parametrize("dialect", ["spark", "duckdb"])
@pytest.mark.parametrize("res", [0, 8, 11, 26])
def test_key_sql_grows_linearly_with_bits(res, dialect):
    """A key quotes its input once per bit, not once per step of a
    doubling chain: a chain puts 32 copies of each quantize expression
    into ``cell_sql`` and of the morton into ``cell_axis_sql``, and
    planning a key costs in proportion to its text."""
    key = C.cell_sql("lng_in", "lat_in", res, dialect)
    for coord in ("lng_in", "lat_in"):
        axis = key.count(f"floor((({coord})")
        assert 1 <= axis <= max(res, 1), (coord, axis)
    assert key.count("floor(") <= 2 * max(res, 1)
    for axis in ("x", "y"):
        assert C.cell_axis_sql("cell_in", axis, dialect).count("cell_in") <= C.MAX_RES


def _parent_probe_points(res: int) -> tuple[np.ndarray, np.ndarray]:
    """Random points, points on (and one ulp off) cell and sub-cell
    borders at res+3, and points at and beyond the ±180/±90 clamp."""
    rng = np.random.default_rng(res)
    fine = 1 << (res + 3)
    bx = rng.integers(0, fine + 1, 300) * (360.0 / fine) - 180.0
    by = rng.integers(0, fine + 1, 300) * (180.0 / fine) - 90.0
    lng = np.concatenate([
        rng.uniform(-180, 180, 300), bx, np.nextafter(bx, -np.inf),
        np.nextafter(bx, np.inf), [-180.0, 180.0, -180.5, 181.0, 0.0, 1e6, -1e6],
    ])
    lat = np.concatenate([
        rng.uniform(-90, 90, 300), by, np.nextafter(by, np.inf),
        np.nextafter(by, -np.inf), [-90.0, 90.0, 90.5, -91.0, 0.0, -1e6, 1e6],
    ])
    return lng, lat


@pytest.mark.parametrize("res", [0, 5, 8, 10, 23])
def test_parent_of_subcell_key_is_cell_key(spark, res):
    """parent(cell(res+3)) == cell(res) bit for bit, in numpy and in
    Spark: the PIP join keys a point once at res+3 and derives its join
    cell from that key."""
    lng, lat = _parent_probe_points(res)
    fine = C.cell_of_numpy(lng, lat, res + 3)
    parent = (res << C.RES_SHIFT) | ((fine & C.MORTON_MASK) >> 6)
    np.testing.assert_array_equal(parent, C.cell_of_numpy(lng, lat, res))

    df = spark.createDataFrame(pd.DataFrame({"lng": lng, "lat": lat}))
    rows = df.select(
        C.parent_col(C.cell_col("lng", "lat", res + 3), res + 3, res).alias("p"),
        C.cell_col("lng", "lat", res).alias("c"),
    ).collect()
    assert all(r.p == r.c for r in rows)
    np.testing.assert_array_equal([r.c for r in rows], C.cell_of_numpy(lng, lat, res))


@settings(max_examples=200, deadline=None)
@given(
    st.floats(-200, 200, allow_nan=False),
    st.floats(-100, 100, allow_nan=False),
    st.integers(0, C.MAX_RES - 3),
)
def test_property_parent_of_subcell_key(lng, lat, res):
    fine = C.cell_of_numpy([lng], [lat], res + 3)
    parent = (res << C.RES_SHIFT) | ((fine & C.MORTON_MASK) >> 6)
    np.testing.assert_array_equal(parent, C.cell_of_numpy([lng], [lat], res))
