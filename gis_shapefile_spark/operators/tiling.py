"""Raster <-> vector tiling over the image point table.

The reference has no tiling at all (its only aggregate is the R-tree
bounds fold, ``src/spatial/spatial_index.cpp:240-275``); this module is
the engine's raster<->vector leg mandated by the north rule:

* ``tile_stats``        — raster side: per-cell aggregates (counts,
  bounds, payload bytes) — a single groupBy with map-side partial agg;
* ``rasterize_points``  — vector->raster: per-tile density grids
  (``applyInPandas`` per cell, numpy 2-D histogram, zlib-packed);
* ``rasterize_polygons``— vector->raster for the feature table: per-tile
  coverage masks from the exact ray-cast kernel on pixel centers;
* ``vectorize_raster``  — raster->vector (polygonize): contiguous
  same-value cell regions merged into axis-aligned rectangles via a
  two-pass gaps-and-islands plan (row runs, then vertical run merge);
* ``image_tiling_pipeline`` — the flagship composition: decode + phash
  verify -> left first-hit PIP -> per-(state, tile) stats, one scan.

Scale notes: every stage keys by the packed cell id, so the shuffle is a
single hash partitioning on cell; the planted urban hot cell (FIXTURES.md)
is handled by AQE skew splitting plus the PIP join's explicit salting.
Tile payloads are bounded (tile_px^2 * 4 bytes before compression), so a
1000-executor run is memory-safe regardless of points-per-cell skew —
the histogram is accumulated streaming per Arrow batch, never a
collect of raw points.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cells as C
from ..functions import geometry as G


def assign_cells(
    points: DataFrame, res: int, lng_col: str = "lng", lat_col: str = "lat"
) -> DataFrame:
    """Append the packed quadkey ``cell`` column (pure JVM bit math)."""
    return points.withColumn("cell", C.cell_col(lng_col, lat_col, res))


def tile_stats(
    points: DataFrame,
    res: int,
    lng_col: str = "lng",
    lat_col: str = "lat",
    extra_aggs: list | None = None,
) -> DataFrame:
    """Per-cell tile statistics: count + exact point bounds (+ caller aggs).

    One shuffle; min/max/count all combine map-side so the exchange moves
    one row per (partition, cell).
    """
    return (
        assign_cells(points, res, lng_col, lat_col)
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min(lng_col).alias("minx"),
            F.max(lng_col).alias("maxx"),
            F.min(lat_col).alias("miny"),
            F.max(lat_col).alias("maxy"),
            *(extra_aggs or []),
        )
    )


def tile_pyramid(
    points: DataFrame,
    resolutions: list[int],
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> DataFrame:
    """Multi-resolution tile rollup: stats at ``max(resolutions)`` from the
    points, every coarser level folded FROM THE CHILD LEVEL's aggregates
    (count/min/max are associative), never rescanning the points.

    At 10^12 points this is the difference between one full scan + L tiny
    rollups (each input bounded by 4^res tiles) and L full scans. The
    static plan shows the base subtree once per union branch, but AQE's
    exchange reuse dedupes it at runtime (asserted in tests — the executed
    plan contains ReusedExchange nodes and the points shuffle runs once).
    Output: one row per (res, cell) across all levels.
    """
    rs = sorted(set(resolutions), reverse=True)
    base = tile_stats(points, rs[0], lng_col, lat_col)
    levels = [base.select(F.lit(rs[0]).alias("res"), "*")]
    cur = base
    for r in rs[1:]:
        child_res = rs[len(levels) - 1]
        cur = (
            cur.groupBy(C.parent_col(F.col("cell"), child_res, r).alias("cell"))
            .agg(*_pyr_aggs())
        )
        levels.append(cur.select(F.lit(r).alias("res"), "*"))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


_PYR_KEYS = ["res", "cell"]


def _pyr_aggs() -> list:
    # built lazily: Column construction needs an active SparkContext,
    # which must not be a requirement for merely importing this module
    return [
        F.sum("n_points").alias("n_points"),
        F.min("minx").alias("minx"),
        F.max("maxx").alias("maxx"),
        F.min("miny").alias("miny"),
        F.max("maxy").alias("maxy"),
    ]


def tile_pyramid_delta(
    pyramid: DataFrame,
    new_points: DataFrame,
    resolutions: list[int],
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> DataFrame:
    """Incremental APPEND-ONLY pyramid maintenance: fold a new point
    batch into an existing ``tile_pyramid`` output without rescanning
    the corpus — at 10^12 images a crawl batch touches ~0.01% of tiles
    and must cost O(batch), not O(corpus).

    count/min/max are all associative, so the delta pyramid of just the
    new points combines row-wise with the stored rows of the SAME keys:
    the stored pyramid is only read via a left-semi join on the delta's
    (res, cell) keys (churn-bounded; partition-pruned when the pyramid
    is stored cell-partitioned, `plans/layout.py`). Returns ONLY the
    rows that changed or appeared — apply them with
    ``plans.merge.merge_upsert(stored, out, ["res", "cell"])``.
    """
    # the batch pyramid is referenced twice (key probe + combine) and is
    # batch-scale tiny — materialize it once instead of re-deriving the
    # whole batch scan per reference (same pattern as near_duplicate_pairs)
    delta = tile_pyramid(new_points, resolutions, lng_col, lat_col).localCheckpoint()
    touched = pyramid.join(
        delta.select(*_PYR_KEYS).distinct(), _PYR_KEYS, "left_semi"
    )
    return (
        touched.unionByName(delta)
        .groupBy(*_PYR_KEYS)
        .agg(*_pyr_aggs())
    )


def tile_pyramid_update(
    points: DataFrame,
    pyramid: DataFrame,
    touched_cells: list[int],
    resolutions: list[int],
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> DataFrame:
    """Exact pyramid REPAIR after arbitrary churn (removals included):
    given the post-MERGE point table and the base-resolution cells the
    batch touched (churn-bounded, metadata scale — the same driver-side
    list the partitioned MERGE already collects), recompute those base
    tiles from a cell-pruned point scan, then repair each coarser level
    by re-folding ONLY the affected parents from their stored child
    rows with the repaired children substituted. min/max are not
    reversible under deletion, so "subtract the removed points" is not
    an option; re-folding the bounded child sets is — every level's
    input is |touched parents| x 4 stored rows plus the repairs, never
    a point rescan.

    Returns one row per (res, cell) to upsert, with ``deleted = true``
    (and null stats) for tiles that lost their last point — apply with
    ``merge_upsert(stored, out, ["res","cell"], delete_col="deleted")``.

    With the pyramid stored cell-partitioned by a coarse parent
    (`plans/layout.py`), the child-row semi-joins prune at the source;
    with the POINT table cell-partitioned, the base rescan prunes too.
    """
    rs = sorted(set(resolutions), reverse=True)
    base_res = rs[0]
    if not touched_cells:
        raise ValueError("touched_cells must be non-empty (metadata-scale list)")

    spark = points.sparkSession
    touched_df = spark.createDataFrame(
        [(int(c),) for c in touched_cells], "cell long"
    )

    # exact base-tile repair from the cell-pruned point scan
    pts = assign_cells(points, base_res, lng_col, lat_col).join(
        F.broadcast(touched_df), "cell", "left_semi"
    )
    # churn-bounded and referenced three times (output union, gone-probe,
    # next level's children): materialize once so the pruned point scan
    # runs once, and each level's plan doesn't re-derive all finer levels
    repaired = tile_stats(pts, base_res, lng_col, lat_col).localCheckpoint()

    out_levels = []
    child_updates = repaired  # rows that now exist at the child level
    child_touched = touched_df  # keys whose child rows changed (or vanished)
    child_res = base_res
    # deletion rows: touched keys that produced no repaired row
    gone = child_touched.join(repaired, "cell", "left_anti")
    out_levels.append(
        repaired.select(F.lit(base_res).alias("res"), "*",
                        F.lit(False).alias("deleted"))
        .unionByName(
            gone.select(
                F.lit(base_res).alias("res"), "cell",
                F.lit(None).cast("long").alias("n_points"),
                *[F.lit(None).cast("double").alias(c)
                  for c in ("minx", "maxx", "miny", "maxy")],
                F.lit(True).alias("deleted"),
            )
        )
    )
    for r in rs[1:]:
        parents = (
            child_touched.select(
                C.parent_col(F.col("cell"), child_res, r).alias("cell")
            ).distinct()
        )
        # stored children of the affected parents, minus the keys we
        # replaced, plus the replacements — the exact new child set
        stored_children = (
            pyramid.where(F.col("res") == child_res)
            .withColumn("_p", C.parent_col(F.col("cell"), child_res, r))
            .join(F.broadcast(parents.withColumnRenamed("cell", "_p")),
                  "_p", "left_semi")
            .drop("_p")
            .join(F.broadcast(child_touched), "cell", "left_anti")
            .select("cell", "n_points", "minx", "maxx", "miny", "maxy")
        )
        children = stored_children.unionByName(
            child_updates.select("cell", "n_points", "minx", "maxx",
                                 "miny", "maxy")
        )
        folded = (
            children.groupBy(
                C.parent_col(F.col("cell"), child_res, r).alias("cell")
            ).agg(*_pyr_aggs())
        ).localCheckpoint()  # parents-scale; cuts cross-level re-derivation
        gone_parents = parents.join(folded, "cell", "left_anti")
        out_levels.append(
            folded.select(F.lit(r).alias("res"), "*",
                          F.lit(False).alias("deleted"))
            .unionByName(
                gone_parents.select(
                    F.lit(r).alias("res"), "cell",
                    F.lit(None).cast("long").alias("n_points"),
                    *[F.lit(None).cast("double").alias(c)
                      for c in ("minx", "maxx", "miny", "maxy")],
                    F.lit(True).alias("deleted"),
                )
            )
        )
        child_updates, child_touched, child_res = folded, parents, r
    out = out_levels[0]
    for lv in out_levels[1:]:
        out = out.unionByName(lv)
    return out


def rasterize_points(
    points: DataFrame,
    res: int,
    tile_px: int = 32,
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> DataFrame:
    """Vector->raster: per-cell ``tile_px x tile_px`` density grid.

    applyInPandas per cell: histogram point positions inside the cell's
    extent onto the pixel grid (uint32), zlib-pack row-major bytes.
    Output: (cell, n_points, tile_w, tile_h, density: binary).
    """
    schema = "cell long, n_points long, tile_w int, tile_h int, density binary"

    def fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        (cell,) = key
        minx, miny, maxx, maxy = (
            float(v[0]) for v in C.cell_bounds(np.asarray([cell]))
        )
        xs = pdf[lng_col].to_numpy(np.float64)
        ys = pdf[lat_col].to_numpy(np.float64)
        xi = np.clip(
            ((xs - minx) / (maxx - minx) * tile_px).astype(np.int64), 0, tile_px - 1
        )
        yi = np.clip(
            ((ys - miny) / (maxy - miny) * tile_px).astype(np.int64), 0, tile_px - 1
        )
        grid = np.zeros((tile_px, tile_px), dtype=np.uint32)
        np.add.at(grid, (yi, xi), 1)
        return pd.DataFrame(
            {
                "cell": [cell],
                "n_points": [len(pdf)],
                "tile_w": [tile_px],
                "tile_h": [tile_px],
                "density": [zlib.compress(grid.tobytes(), 1)],
            }
        )

    return (
        assign_cells(points, res, lng_col, lat_col)
        .groupBy("cell")
        .applyInPandas(fn, schema)
    )


def rasterize_polygons(
    spark: SparkSession,
    features_pdf: pd.DataFrame,
    res: int,
    tile_px: int = 32,
    max_cells_per_feature: int = 512,
    simplify_eps: float | None = None,
) -> DataFrame:
    """Vector->raster for polygons: per-(cell, feature) coverage masks.

    For every covering cell of every polygon, test the ``tile_px^2`` pixel
    centers with the exact ray-cast kernel (``functions/geometry.py``,
    mirrors geometry.cpp:82-119 incl. holes) and emit a packed bitmask.
    Runs distributed over an exploded (feature, cell) task table so a
    continent-sized polygon parallelizes across executors.
    ``simplify_eps`` Douglas-Peucker-thins ring outlines first (pixel-
    size/2 is visually lossless and cuts ray-cast edge counts).
    Output: (cell, record_number, coverage_px, mask: binary).
    """
    if simplify_eps is not None:
        features_pdf = G.simplify_features(features_pdf, simplify_eps)
    feats = features_pdf[features_pdf["shape_type"] == 5]
    tasks = []
    for _, r in feats.iterrows():
        cov = C.cover_bbox(r["minx"], r["miny"], r["maxx"], r["maxy"], res)
        if len(cov) > max_cells_per_feature:
            raise ValueError(
                f"feature {r['record_number']} covers {len(cov)} cells at res "
                f"{res}; lower res (resolution_for_bbox) or raise the cap"
            )
        for cell in cov:
            tasks.append(
                (
                    int(cell),
                    int(r["record_number"]),
                    list(map(float, r["xs"])),
                    list(map(float, r["ys"])),
                    [int(s) for s in r["ring_sizes"]],
                )
            )
    # explicit schema: with no shape_type-5 features (or all-empty
    # covers) the task list is empty and inference would raise "can not
    # infer schema from empty dataset" — the empty case must degrade to
    # an empty result frame (round-4 advice)
    tasks_df = spark.createDataFrame(
        pd.DataFrame(
            tasks, columns=["cell", "record_number", "xs", "ys", "ring_sizes"]
        ),
        schema="cell long, record_number long, xs array<double>, "
               "ys array<double>, ring_sizes array<int>",
    ).repartition("cell")

    schema = "cell long, record_number long, coverage_px long, mask binary"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, t in pdf.iterrows():
                minx, miny, maxx, maxy = (
                    float(v[0]) for v in C.cell_bounds(np.asarray([t["cell"]]))
                )
                px = (np.arange(tile_px) + 0.5) / tile_px * (maxx - minx) + minx
                py = (np.arange(tile_px) + 0.5) / tile_px * (maxy - miny) + miny
                gx, gy = np.meshgrid(px, py)
                sizes = [int(s) for s in t["ring_sizes"]]
                offs = np.cumsum([0] + sizes)
                xs_all = np.asarray(t["xs"], dtype=np.float64)
                ys_all = np.asarray(t["ys"], dtype=np.float64)
                rings_x = [xs_all[offs[i]: offs[i + 1]] for i in range(len(sizes))]
                rings_y = [ys_all[offs[i]: offs[i + 1]] for i in range(len(sizes))]
                inside = G.polygon_contains_points(
                    rings_x, rings_y, gx.ravel(), gy.ravel()
                ).reshape(tile_px, tile_px)
                rows.append(
                    (
                        int(t["cell"]),
                        int(t["record_number"]),
                        int(inside.sum()),
                        zlib.compress(np.packbits(inside).tobytes(), 1),
                    )
                )
            if rows:
                yield pd.DataFrame(
                    rows, columns=["cell", "record_number", "coverage_px", "mask"]
                )

    return tasks_df.mapInPandas(fn, schema)


def image_tiling_pipeline(
    spark: SparkSession,
    images: DataFrame,
    features_pdf: pd.DataFrame,
    res: int = 8,
    verify: bool = True,
) -> DataFrame:
    """Flagship composition over the input_hint table: decode + phash
    verify -> exact first-hit PIP to features -> per-(state, cell) tile
    rollup, in ONE scan of the image table.

    Output: (record_number, cell, n_images, n_bytes, n_phash_ok);
    ``record_number`` is NULL for images inside no feature.

    The decode (``multimodal.verify_enrich``: the same ``phash_ok`` as
    ``verify_invariants(reencode=False)``) carries ``lng, lat, n_bytes``
    through, and the left PIP join carries every
    row on, so nothing joins back by ``image_id``: the only exchange is
    the rollup's, over (record_number, cell) partial aggregates. No
    re-encode/PSNR leg: this rollup consumes only ``phash_ok``, and for
    jpeg rows that leg costs ~3x the decode itself (PSNR idempotence is
    covered where ``psnr_u`` is consumed: tests/test_jpeg.py,
    test_multimodal_tiling.py).

    Do NOT repartition the image side for "more decode parallelism":
    shuffling binary payloads costs ~10x the decode itself (measured:
    20k images 1.1 s source-split parallelism vs 9.9 s after
    repartition(32)). Decode parallelism comes from source splits
    (files / row groups), which at production scale are plentiful.
    """
    from . import multimodal as MM
    from . import spatial_join as SJ

    if verify:
        pts = MM.verify_enrich(images)
    else:
        pts = images.select(
            "lng", "lat", F.octet_length("bytes").cast("long").alias("n_bytes"),
            F.lit(None).cast("boolean").alias("phash_ok"),
        )
    tagged = SJ.point_in_polygon_left_join(spark, pts, features_pdf, res=res)
    return tile_rollup(assign_cells(tagged, res))


def tile_rollup(tile_events: DataFrame) -> DataFrame:
    """Per-(state, tile) rollup of (record_number, cell, n_bytes, phash_ok)
    rows: (record_number, cell, n_images, n_bytes, n_phash_ok). The batch
    flagship and the streaming leg (``streaming/image_stream.py``, where
    it is the one stateful operator) share it.

    State is keyed by (record_number, cell) — bounded by the tile
    universe (dimension x 4^res), independent of the image count, so a
    streaming state store stays small at any ingest volume.
    """
    return tile_events.groupBy("record_number", "cell").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("n_bytes").alias("n_bytes"),
        F.sum(F.col("phash_ok").cast("long")).alias("n_phash_ok"),
    )


def vectorize_raster(
    raster: DataFrame,
    x_col: str = "px",
    y_col: str = "py",
    value_col: str = "val",
) -> DataFrame:
    """Raster -> vector (polygonize): merge contiguous same-value cells
    into axis-aligned rectangles. The inverse leg of ``rasterize_*`` —
    together they close the north rule's raster<->vector materialization.

    Two-pass gaps-and-islands, all JVM-side (no UDFs):

    1. row runs: within each (y, value), consecutive x cells collapse to
       one run via the classic ``x - row_number()`` island key;
    2. vertical merge: runs with identical (value, x0, x1) on consecutive
       y rows collapse the same way on ``y - row_number()``.

    Output: one row per rectangle ``(value, x0, y0, x1, y1, n_cells)``.
    The decomposition is the standard run-merge polygonization: it exactly
    tiles the input cells (disjoint cover — property-tested), and is
    deterministic because x is unique within (y, value) and y is unique
    within (value, x0, x1).

    Scale shape: two exchanges, both on narrow keys. Each window
    partitioning is immediately reused by the following groupBy on a
    superset of the sort prefix, and min/max/count combine map-side. No
    step ever materializes a per-region cell list, so region size is
    unbounded (a 10^6-cell ocean rectangle is still one output row).
    The worst-case skew key is one raster ROW of one value — bounded by
    raster width, not region area.
    """
    from pyspark.sql import Window

    w_row = Window.partitionBy(y_col, value_col).orderBy(x_col)
    runs = (
        raster.withColumn("grp", F.col(x_col) - F.row_number().over(w_row))
        .groupBy(y_col, value_col, "grp")
        .agg(F.min(x_col).alias("x0"), F.max(x_col).alias("x1"))
    )
    w_col = Window.partitionBy(value_col, "x0", "x1").orderBy(y_col)
    return (
        runs.withColumn("vgrp", F.col(y_col) - F.row_number().over(w_col))
        .groupBy(value_col, "x0", "x1", "vgrp")
        .agg(F.min(y_col).alias("y0"), F.max(y_col).alias("y1"))
        .select(
            value_col,
            "x0",
            "y0",
            "x1",
            "y1",
            ((F.col("x1") - F.col("x0") + 1) * (F.col("y1") - F.col("y0") + 1)).alias(
                "n_cells"
            ),
        )
    )


def hull_per_cell(
    points: DataFrame,
    res: int,
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> DataFrame:
    """Convex hull of the points in each cell — the coverage-footprint
    aggregate (engine addition; the reference's only spatial aggregate is
    the bbox fold): per tile, the exact polygon hull instead of the bbox
    overestimate, e.g. for coverage maps and footprint joins.

    Andrew's monotone chain per cell (numpy, O(n log n) in the cell's
    point count) inside ``applyInPandas`` — one shuffle on the cell key,
    per-task memory bounded by the largest cell (the same bound every
    per-cell aggregate here lives with; AQE skew-split applies). Output:
    (cell, n_points, hull_xs, hull_ys, hull_area2_u) with hull vertices
    counter-clockwise, first vertex NOT repeated; degenerate cells
    (1-2 points / collinear) emit their points with area 0.
    """
    schema = (
        "cell long, n_points long, hull_xs array<double>, "
        "hull_ys array<double>, hull_area2_u long"
    )

    def fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        (cell,) = key
        pts = np.unique(
            np.column_stack(
                [pdf[lng_col].to_numpy(np.float64), pdf[lat_col].to_numpy(np.float64)]
            ),
            axis=0,
        )  # sorted lexicographically by (x, y) — the chain's required order
        n = len(pts)
        if n <= 2:
            hull = pts
        else:
            def half(chain_pts):
                # explicit 2-D determinant (np.cross on 2-vectors is
                # deprecated since NumPy 1.25, removed in 2.x)
                out = []
                for p in chain_pts:
                    while len(out) >= 2:
                        a = out[-1] - out[-2]
                        b = p - out[-2]
                        if a[0] * b[1] - a[1] * b[0] > 0:
                            break
                        out.pop()
                    out.append(p)
                return out

            lower = half(pts)
            upper = half(pts[::-1])
            hull = np.array(lower[:-1] + upper[:-1])
        hx, hy = hull[:, 0], hull[:, 1]
        # shoelace over the closed hull (wrap via roll), 1e-6-integerized
        # per edge exactly like functions/geometry.py::ring_area2_sql
        if len(hull) >= 3:
            x2, y2 = np.roll(hx, -1), np.roll(hy, -1)
            a2 = int(np.sum(np.floor((hx * y2 - x2 * hy) * 1e6)))
        else:
            a2 = 0
        return pd.DataFrame(
            {
                "cell": [cell],
                "n_points": [len(pdf)],
                "hull_xs": [hx.tolist()],
                "hull_ys": [hy.tolist()],
                "hull_area2_u": [a2],
            }
        )

    return (
        assign_cells(points, res, lng_col, lat_col)
        .groupBy("cell")
        .applyInPandas(fn, schema)
    )


def adaptive_grid(
    points: DataFrame,
    max_res: int,
    cap: int,
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> DataFrame:
    """Adaptive quadtree binning: the multi-resolution cell cover where
    every leaf holds <= ``cap`` points — coarse cells over sparse ocean,
    fine cells inside dense urban clusters. This is the density-adaptive
    partitioning that complements the skew machinery (``hotspot_clusters``
    finds the hot cells, ``auto_salt_buckets`` splits their reducers;
    this emits a LAYOUT whose every bucket is bounded by construction —
    the shape behind adaptive tiling/bulk-load partitioning).

    No iteration over data: because an ancestor's count is always >= any
    descendant's (supersets), "this cell was reached by subdivision"
    reduces to "its immediate parent is overfull" — so leaves are
    computable per level from the histogram pyramid alone:

      leaf at res r >= 1  iff  n(parent) > cap AND (n <= cap OR r = max_res)
      leaf at res 0       iff  n(root cell) <= cap

    (res-``max_res`` cells with n > cap are forced leaves at max depth.)
    The point table pays exactly ONE shuffle (the finest histogram);
    every coarser level folds from the child level like ``tile_pyramid``
    and the per-level parent joins run on bounded (<= 4^r) broadcast
    tables. Leaves are disjoint and cover every point by construction
    (property-tested).

    Returns (res BIGINT, cell BIGINT, n_points BIGINT), one row per leaf.
    """
    if not 1 <= max_res <= C.MAX_RES:
        raise ValueError(f"max_res must be in [1, {C.MAX_RES}], got {max_res}")
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    cell = F.expr(C.cell_sql(lng_col, lat_col, max_res, "spark"))
    hist = points.groupBy(cell.alias("cell")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # the histogram pyramid is referenced twice per level (as the level
    # and as the parent of the level below) — materialize each bounded
    # level once so Catalyst cannot re-derive the whole fold chain (and,
    # for the finest level, the point-table shuffle) per reference
    hists = {max_res: hist.localCheckpoint(eager=True)}
    for r in range(max_res - 1, -1, -1):
        hists[r] = (
            hists[r + 1]
            .groupBy(C.parent_col(F.col("cell"), r + 1, r).alias("cell"))
            .agg(F.sum("n").alias("n"))
            .localCheckpoint(eager=True)
        )
    leaves = hists[0].where(F.col("n") <= cap).select(
        F.lit(0).cast("long").alias("res"), "cell",
        F.col("n").cast("long").alias("n_points"),
    )
    for r in range(1, max_res + 1):
        over = hists[r - 1].where(F.col("n") > cap).select(
            F.col("cell").alias("_pcell")
        )
        lv = hists[r].join(
            F.broadcast(over),
            C.parent_col(F.col("cell"), r, r - 1) == F.col("_pcell"),
        )
        if r < max_res:
            lv = lv.where(F.col("n") <= cap)
        leaves = leaves.unionByName(
            lv.select(
                F.lit(r).cast("long").alias("res"), "cell",
                F.col("n").cast("long").alias("n_points"),
            )
        )
    return leaves


def adaptive_grid_oracle_sql(
    pts_cte: str,
    max_res: int,
    cap: int,
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> str:
    """DuckDB twin of ``adaptive_grid``: the same histogram pyramid +
    per-level leaf conditions, all dual-dialect integer SQL."""
    cell = C.cell_sql(lng_col, lat_col, max_res, "duckdb")
    ctes = [f"pts AS ({pts_cte})",
            f"h{max_res} AS (SELECT {cell} AS cell, count(*) AS n FROM pts GROUP BY 1)"]
    for r in range(max_res - 1, -1, -1):
        par = C.parent_sql("cell", r + 1, r, "duckdb")
        ctes.append(
            f"h{r} AS (SELECT {par} AS cell, sum(n) AS n FROM h{r + 1} GROUP BY 1)"
        )
    arms = [
        f"SELECT CAST(0 AS BIGINT) AS res, cell, CAST(n AS BIGINT) AS n_points "
        f"FROM h0 WHERE n <= {cap}"
    ]
    for r in range(1, max_res + 1):
        par = C.parent_sql("c.cell", r, r - 1, "duckdb")
        extra = f" AND c.n <= {cap}" if r < max_res else ""
        arms.append(
            f"SELECT CAST({r} AS BIGINT) AS res, c.cell, "
            f"CAST(c.n AS BIGINT) AS n_points "
            f"FROM h{r} c JOIN h{r - 1} p ON {par} = p.cell "
            f"WHERE p.n > {cap}{extra}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(arms)


# ---------------------------------------------------------------------------
# Vector-tile clipping (Sutherland-Hodgman against tile boxes)
# ---------------------------------------------------------------------------

def clip_ring_to_box(xs, ys, minx, miny, maxx, maxy):
    """Sutherland-Hodgman clip of one CLOSED ring (last vertex == first)
    against an axis-aligned box; returns the clipped CLOSED ring (or
    empty arrays). Output may contain coincident boundary-run edges for
    non-convex subjects — the classical S-H degeneracy — but its
    shoelace area is still EXACTLY the subject∩box area, which is what
    the tile pipeline consumes."""
    xs = np.asarray(xs, np.float64)
    ys = np.asarray(ys, np.float64)
    if len(xs) >= 2 and xs[0] == xs[-1] and ys[0] == ys[-1]:
        xs, ys = xs[:-1], ys[:-1]  # open form
    pts = list(zip(xs.tolist(), ys.tolist()))

    def clip_half(pts, inside, intersect):
        out = []
        n = len(pts)
        for i in range(n):
            cur, prv = pts[i], pts[i - 1]
            cin, pin = inside(cur), inside(prv)
            if cin:
                if not pin:
                    out.append(intersect(prv, cur))
                out.append(cur)
            elif pin:
                out.append(intersect(prv, cur))
        return out

    def ix_at_x(x0):
        def f(p, q):
            t = (x0 - p[0]) / (q[0] - p[0])
            return (x0, p[1] + t * (q[1] - p[1]))
        return f

    def ix_at_y(y0):
        def f(p, q):
            t = (y0 - p[1]) / (q[1] - p[1])
            return (p[0] + t * (q[0] - p[0]), y0)
        return f

    pts = clip_half(pts, lambda p: p[0] >= minx, ix_at_x(minx))
    if pts:
        pts = clip_half(pts, lambda p: p[0] <= maxx, ix_at_x(maxx))
    if pts:
        pts = clip_half(pts, lambda p: p[1] >= miny, ix_at_y(miny))
    if pts:
        pts = clip_half(pts, lambda p: p[1] <= maxy, ix_at_y(maxy))
    if len(pts) < 3:
        return np.empty(0), np.empty(0)
    cx = np.array([p[0] for p in pts] + [pts[0][0]])
    cy = np.array([p[1] for p in pts] + [pts[0][1]])
    return cx, cy


def _shoelace2(xs, ys):
    if len(xs) < 4:
        return 0.0
    return float(
        np.sum(xs[:-1] * ys[1:] - xs[1:] * ys[:-1])
    )


def clip_polygons_to_tiles(
    spark: SparkSession,
    features_pdf: pd.DataFrame,
    res: int,
    max_cells_per_feature: int = 512,
) -> DataFrame:
    """The vector-TILE cut: every polygon clipped to each covering tile
    box — the stage between outline simplification (``simplify_vw`` /
    ``vector_outline``) and tile encode that an MVT-style pipeline
    needs (a client fetching tile z/x/y must receive geometry CLOSED at
    the tile boundary, not the whole continent's ring).

    Same distributed shape as ``rasterize_polygons``: the bounded
    dimension side explodes to (feature, covering-cell) tasks,
    repartitioned by cell so a continent-sized polygon clips in
    parallel across executors; the clip itself is Sutherland-Hodgman
    per ring (shell and holes keep their positional roles) inside an
    Arrow-batched ``mapInPandas`` — vertices per ring are bounded, the
    batch is the vector unit. Not SQL-expressible (the clip is a
    sequential 4-pass edge traversal), so this operator is
    pytest-vouched by its conservation law: tile boxes partition the
    plane, so the SUM of clipped areas over a polygon's tiles equals
    the polygon's area exactly (S-H's boundary-run degeneracies cancel
    in the shoelace) — checked to float tolerance per feature, plus
    containment and empty-tile emptiness.

    Output: (cell, record_number, n_rings, xs, ys, ring_sizes, area2)
    — one row per (tile, feature) with a NON-EMPTY clip; ``area2`` is
    the shoelace 2A of shell minus holes in the clipped frame.
    """
    feats = features_pdf[features_pdf["shape_type"] == 5]
    tasks = []
    for _, r in feats.iterrows():
        cov = C.cover_bbox(r["minx"], r["miny"], r["maxx"], r["maxy"], res)
        if len(cov) > max_cells_per_feature:
            raise ValueError(
                f"feature {r['record_number']} covers {len(cov)} cells at "
                f"res {res}; lower res or raise the cap"
            )
        for cell in cov:
            tasks.append(
                (
                    int(cell),
                    int(r["record_number"]),
                    list(map(float, r["xs"])),
                    list(map(float, r["ys"])),
                    [int(s) for s in r["ring_sizes"]],
                )
            )
    # explicit schema: with no shape_type-5 features (or all-empty
    # covers) the task list is empty and inference would raise "can not
    # infer schema from empty dataset" — the empty case must degrade to
    # an empty result frame (round-4 advice)
    tasks_df = spark.createDataFrame(
        pd.DataFrame(
            tasks, columns=["cell", "record_number", "xs", "ys", "ring_sizes"]
        ),
        schema="cell long, record_number long, xs array<double>, "
               "ys array<double>, ring_sizes array<int>",
    ).repartition("cell")

    schema = (
        "cell long, record_number long, n_rings long, xs array<double>, "
        "ys array<double>, ring_sizes array<int>, area2 double"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, t in pdf.iterrows():
                minx, miny, maxx, maxy = (
                    float(v[0]) for v in C.cell_bounds(np.asarray([t["cell"]]))
                )
                sizes = [int(s) for s in t["ring_sizes"]]
                offs = np.cumsum([0] + sizes)
                xs_all = np.asarray(t["xs"], np.float64)
                ys_all = np.asarray(t["ys"], np.float64)
                # shell first: if the shell misses the box entirely, the
                # holes cannot intersect it either (holes ⊆ shell)
                sx, sy = clip_ring_to_box(
                    xs_all[offs[0]: offs[1]], ys_all[offs[0]: offs[1]],
                    minx, miny, maxx, maxy,
                )
                if len(sx) == 0:
                    continue
                out_x, out_y = sx.tolist(), sy.tolist()
                out_sizes = [len(sx)]
                area2 = abs(_shoelace2(sx, sy))
                for i in range(1, len(sizes)):
                    cx, cy = clip_ring_to_box(
                        xs_all[offs[i]: offs[i + 1]],
                        ys_all[offs[i]: offs[i + 1]],
                        minx, miny, maxx, maxy,
                    )
                    if len(cx) == 0:
                        continue
                    area2 -= abs(_shoelace2(cx, cy))
                    out_x.extend(cx.tolist())
                    out_y.extend(cy.tolist())
                    out_sizes.append(len(cx))
                rows.append(
                    (
                        int(t["cell"]),
                        int(t["record_number"]),
                        len(out_sizes),
                        out_x,
                        out_y,
                        out_sizes,
                        area2,
                    )
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "cell", "record_number", "n_rings", "xs", "ys",
                        "ring_sizes", "area2",
                    ],
                )

    return tasks_df.mapInPandas(fn, schema)
