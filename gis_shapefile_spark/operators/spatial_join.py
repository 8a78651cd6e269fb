"""Spatial joins: point-in-polygon, within-distance, kNN, bbox query sets.

Re-expresses the reference's R-tree query paths as Catalyst-planned joins
(SURVEY.md §2.3):

* J1 point-in-polygon lookup  — ``src/spatial/spatial_index.cpp:356-380``
* J2 kNN                      — ``src/spatial/spatial_index.cpp:91-121``
* J3 within-distance          — ``src/spatial/spatial_index.cpp:123-149``
* J5 bbox query               — ``src/spatial/spatial_index.cpp:64-89``

Scale design (10^12-point table, dimension-scale polygon side):

* The point side is NEVER exploded and NEVER touches Python; its cell key
  is a pure integer expression inside whole-stage codegen.
* All covering/cell enumeration happens on the polygon side (driver numpy —
  thousands of rows), which then broadcasts. When the dimension outgrows
  broadcast, ``salt_buckets > 0`` replicates dimension rows per salt bucket
  and keys points by ``pmod(xxhash64(point_id), S)`` so one hot urban cell
  spreads over S shuffle partitions (AQE skew-join is the backstop).
* Cells fully interior to a polygon are classified FULL at prep time: points
  landing there match with no exact test. Each boundary (PARTIAL) cell
  carries a FULL/PARTIAL/EMPTY classification of its 64 sub-cells at
  res+3 and the ring edges of its y-band. A point keys at res+3 once: the
  parent is the join cell, the low bits the sub-cell.
* The dimension has ONE row per cell: ``polys`` lists every polygon of the
  cell in ``record_number`` order, so the build side has unique keys and
  the join emits one row per point. The refine is one predicate per
  (point, polygon): the point's sub-cell is FULL, or PARTIAL and the exact
  ray-cast (a Spark SQL ``aggregate`` over the band edges) says inside.
  All hits explode the cell's polygons and filter the rows; the first hit
  is the first element of ``filter`` over the sorted array, so the
  tie-break needs no window and no shuffle, and the left form (every
  point, NULL when outside) is the same element under ``explode_outer``.
  One scan, one join, no Python.
"""

from __future__ import annotations

import hashlib
import math
import pickle
import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import cells as C
from ..functions import geometry as G

DEFAULT_RES = 8


# ---------------------------------------------------------------------------
# polygon-side prep (driver numpy; dimension-scale)
# ---------------------------------------------------------------------------

def _rings_of_row(row) -> tuple[list[np.ndarray], list[np.ndarray]]:
    xs = np.asarray(row["xs"], np.float64)
    ys = np.asarray(row["ys"], np.float64)
    sizes = np.asarray(row["ring_sizes"], np.int64)
    offs = np.concatenate([[0], np.cumsum(sizes)])
    rx = [xs[offs[i]: offs[i + 1]] for i in range(len(sizes))]
    ry = [ys[offs[i]: offs[i + 1]] for i in range(len(sizes))]
    return rx, ry


SUB_LEVELS = 3  # sub-cells at res + 3: 8 x 8 = 64 per cell, one BIGINT mask each
_N_SUB = 4 ** SUB_LEVELS
_PAD = 1e-9  # degrees: boxes and bands widen by this, far above quantization error
_BLOCK = 1 << 21  # elements per (edges x boxes) block in the prep kernels

_EDGE = "struct<x1:double,y1:double,x2:double,y2:double>"
_POLY_COLS = ["record_number", "full_mask", "part_mask", "shell", "holes"]
DIM_DDL = (
    "cell bigint, polys array<struct<record_number:bigint, full_mask:bigint, "
    f"part_mask:bigint, shell:array<{_EDGE}>, holes:array<array<{_EDGE}>>>>"
)
_DIM_COLS = ["cell", "record_number", "is_full", "full_mask", "part_mask", "shell", "holes"]

# Every dimension gets an explicit schema: an empty feature set must give
# an empty join, and Spark cannot infer a schema from an empty frame.
_CENTER_DDL = "cell bigint, record_number bigint, cx double, cy double"
_BOX_DDL = ("cell bigint, record_number bigint, "
            "minx double, miny double, maxx double, maxy double")
_DDL_BY_KIND = {"i": "bigint", "u": "bigint", "f": "double", "b": "boolean",
                "M": "timestamp"}


def _attr_ddl(pdf: pd.DataFrame, attrs: list[str] | None) -> str:
    """DDL suffix for carried feature attributes, typed by pandas dtype;
    anything not numeric, boolean or datetime carries as string."""
    return "".join(
        f", `{a}` {_DDL_BY_KIND.get(pdf[a].dtype.kind, 'string')}" for a in attrs or []
    )


def _edge_table(rx, ry) -> dict[str, np.ndarray]:
    """Every ring edge of one polygon: vertex i ``(x1, y1)``, the previous
    vertex ``(x2, y2)`` (the ray-cast's pairing), and the owning ring."""
    x1, y1 = np.concatenate(rx), np.concatenate(ry)
    x2 = np.concatenate([np.roll(x, 1) for x in rx])
    y2 = np.concatenate([np.roll(y, 1) for y in ry])
    ring = np.repeat(np.arange(len(rx)), [len(x) for x in rx])
    return {"ring": ring, "x1": x1, "y1": y1, "x2": x2, "y2": y2,
            "ex0": np.minimum(x1, x2), "ex1": np.maximum(x1, x2),
            "ey0": np.minimum(y1, y2), "ey1": np.maximum(y1, y2)}


def _classify_boxes(rx, ry, edges, x0, y0, x1, y1) -> tuple[np.ndarray, np.ndarray]:
    """(full, keep) for closed boxes.

    FULL: all four corners inside and no ring-edge bbox overlapping the
    box. Kept: FULL, or a corner inside, or an overlapping edge; the rest
    is EMPTY. Sound because a boundary entering a box implies an edge whose
    own bbox meets it, so a box no edge bbox meets is wholly inside or
    wholly outside. The overlap test widens each box by ``_PAD``: that
    covers a point which quantizes into a box while lying an ulp outside
    it, and keeps every tested corner ``_PAD`` away from any edge. Only
    boxes no edge enters test their corners.
    """
    n = len(x0)
    hit = np.zeros(n, dtype=bool)
    step = max(1, _BLOCK // max(len(edges["ex0"]), 1))
    ex0, ex1 = edges["ex0"][:, None], edges["ex1"][:, None]
    ey0, ey1 = edges["ey0"][:, None], edges["ey1"][:, None]
    for i in range(0, n, step):
        b = slice(i, i + step)
        hit[b] = ((ex0 <= x1[None, b] + _PAD) & (ex1 >= x0[None, b] - _PAD)
                  & (ey0 <= y1[None, b] + _PAD) & (ey1 >= y0[None, b] - _PAD)).any(axis=0)
    idx = np.flatnonzero(~hit)
    cx = np.concatenate([x0[idx], x1[idx], x1[idx], x0[idx]])
    cy = np.concatenate([y0[idx], y0[idx], y1[idx], y1[idx]])
    corner_in = np.zeros(len(cx), dtype=bool)
    for i in range(0, len(cx), step):
        b = slice(i, i + step)
        corner_in[b] = G.polygon_contains_points(rx, ry, cx[b], cy[b])
    corner_in = corner_in.reshape(4, len(idx))
    full = np.zeros(n, dtype=bool)
    full[idx] = corner_in.all(axis=0)
    keep = hit.copy()
    keep[idx] = corner_in.any(axis=0)
    return full, keep


def _sub_masks(rx, ry, edges, cells: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """(full_mask, part_mask) of each cell: bit ``s`` is set when sub-cell
    ``s`` — the low 6 bits of the point's res+3 morton key — is FULL,
    resp. PARTIAL. EMPTY sub-cells set neither bit."""
    sub = np.arange(_N_SUB, dtype=np.int64)
    morton = (cells & C.MORTON_MASK)[:, None] << (2 * SUB_LEVELS)
    fine = ((res + SUB_LEVELS) << C.RES_SHIFT) | morton | sub[None, :]
    full, keep = _classify_boxes(rx, ry, edges, *C.cell_bounds(fine.ravel()))
    bits = np.uint64(1) << sub.astype(np.uint64)

    def mask(flags: np.ndarray) -> np.ndarray:
        return (flags.reshape(-1, _N_SUB) * bits).sum(axis=1, dtype=np.uint64).view(np.int64)

    return mask(full), mask(keep & ~full)


def _band_edges(edges, y0: float, y1: float) -> tuple[list, list]:
    """(shell, holes) edge lists whose y-span meets the widened band
    ``[y0, y1]``. Exact for any point in the band: an edge whose y-span
    misses it cannot straddle the point's y. Holes with no edge in the
    band are dropped (their parity is even)."""
    band = (edges["ey0"] <= y1 + _PAD) & (edges["ey1"] >= y0 - _PAD)
    rows = np.stack([edges[k][band] for k in ("x1", "y1", "x2", "y2")], axis=1).tolist()
    rings = edges["ring"][band]
    per_ring: dict[int, list] = {}
    for r, e in zip(rings.tolist(), rows):
        per_ring.setdefault(r, []).append(tuple(e))
    return per_ring.pop(0, []), [per_ring[r] for r in sorted(per_ring)]


def prepare_polygon_cells(
    features_pdf: pd.DataFrame, res: int = DEFAULT_RES
) -> pd.DataFrame:
    """Explode each polygon into covering cells at ``res``: the join dimension.

    Returns a pandas frame, one row per (cell, polygon):

    * ``cell, record_number, is_full`` — covering = every cell whose extent
      intersects the polygon bbox AND is FULL, has a corner inside or is
      entered by an edge (``_classify_boxes``); disjoint cells are pruned so
      the dimension stays tight.
    * ``full_mask, part_mask`` — the 64 sub-cells at res+3 classified the
      same way (``_sub_masks``); a FULL cell has every sub-cell FULL.
    * ``shell, holes`` — for a PARTIAL cell, the ring edges that can decide
      a point in the cell's y-band (``_band_edges``); empty for FULL cells.
    """
    if res + SUB_LEVELS > C.MAX_RES:
        raise ValueError(f"res must be <= {C.MAX_RES - SUB_LEVELS} (sub-cells at res + {SUB_LEVELS})")
    parts = []
    for _, row in features_pdf.iterrows():
        if row["shape_type"] != 5 or len(row["ring_sizes"]) == 0:
            continue
        rx, ry = _rings_of_row(row)
        edges = _edge_table(rx, ry)
        cover = C.cover_bbox(row["minx"], row["miny"], row["maxx"], row["maxy"], res)
        full, keep = _classify_boxes(rx, ry, edges, *C.cell_bounds(cover))
        cells, full = cover[keep], full[keep]
        full_mask = np.full(len(cells), -1, dtype=np.int64)
        part_mask = np.zeros(len(cells), dtype=np.int64)
        shell: list = [[]] * len(cells)
        holes: list = [[]] * len(cells)
        partial = np.flatnonzero(~full)
        if len(partial):
            full_mask[partial], part_mask[partial] = _sub_masks(
                rx, ry, edges, cells[partial], res)
            _, y0, _, y1 = C.cell_bounds(cells[partial])
            bands = {}
            for i, lo, hi in zip(partial.tolist(), y0.tolist(), y1.tolist()):
                if lo not in bands:
                    bands[lo] = _band_edges(edges, lo, hi)
                shell[i], holes[i] = bands[lo]
        parts.append(pd.DataFrame({
            "cell": cells, "record_number": np.int64(row["record_number"]),
            "is_full": full, "full_mask": full_mask, "part_mask": part_mask,
            "shell": pd.Series(shell, dtype=object),
            "holes": pd.Series(holes, dtype=object),
        }))
    if not parts:
        return pd.DataFrame({c: [] for c in _DIM_COLS}).astype(
            {"cell": np.int64, "record_number": np.int64, "is_full": bool,
             "full_mask": np.int64, "part_mask": np.int64}
        )
    return pd.concat(parts, ignore_index=True)


# ---------------------------------------------------------------------------
# J1: point-in-polygon join
# ---------------------------------------------------------------------------

class PolygonIndex:
    """The engine's replacement for the reference's R-tree build
    (spatial_index.cpp:295-306): a one-time materialization of the
    covering-cell dimension (Spark DataFrame, broadcastable).

    ``dim`` has one row per cell, ``(cell, polys)``: ``polys`` holds each
    covering polygon's ``record_number``, sub-cell masks and y-band edges,
    sorted by ``record_number``, so the exact refine runs in the JVM on
    the joined row and its first hit is the array's first match. It is
    built through pandas + Arrow, so it stays a local relation (no Python
    workers when an action reads it).

    ``cells_pdf`` is the per-(cell, polygon) ``(cell, record_number,
    is_full)`` view of the same cover. Salted copies of ``dim`` are built
    once per salt factor (``salted_dim``).

    Build once, join any number of point batches against it — at
    10^12-point scale the index build cost (dimension-scale) is noise and
    every join pays only the broadcast-hash-join + refine.
    """

    def __init__(self, spark: SparkSession, features_pdf: pd.DataFrame, res: int):
        self.spark = spark
        self.features_pdf = features_pdf
        self.res = res
        dim_pdf = prepare_polygon_cells(features_pdf, res)
        self.cells_pdf = dim_pdf[["cell", "record_number", "is_full"]]
        self.dim = spark.createDataFrame(_per_cell(dim_pdf), DIM_DDL)
        self._salted: dict[int, DataFrame] = {}

    def salted_dim(self, s: int) -> DataFrame:
        """``dim`` replicated once per salt bucket ``0..s-1`` (column ``salt``)."""
        if s not in self._salted:
            salts = self.spark.range(s).select(F.col("id").cast("int").alias("salt"))
            self._salted[s] = self.dim.crossJoin(salts)
        return self._salted[s]


def _per_cell(dim_pdf: pd.DataFrame) -> pd.DataFrame:
    """Group the per-(cell, polygon) frame to one row per cell: ``polys``
    is the cell's polygon structs (tuples in ``_POLY_COLS`` order) in
    ``record_number`` order."""
    d = dim_pdf.sort_values(["cell", "record_number"], kind="stable")
    cells, starts = np.unique(d["cell"].to_numpy(np.int64), return_index=True)
    structs = list(zip(*(d[c].tolist() for c in _POLY_COLS)))
    bounds = [*starts.tolist(), len(structs)]
    polys = [structs[a:b] for a, b in zip(bounds[:-1], bounds[1:])]
    return pd.DataFrame({"cell": cells, "polys": pd.Series(polys, dtype=object)})


def auto_salt_buckets(
    spark: SparkSession,
    points: DataFrame,
    res: int = DEFAULT_RES,
    lng_col: str = "lng",
    lat_col: str = "lat",
    max_buckets: int = 64,
    sample_fraction: float | None = None,
) -> int:
    """Pick a salt factor from the MEASURED hot-cell share — the
    "adaptive repartitioning on cell prefix" decision, derived from data
    instead of guessed.

    Straggler math: with P shuffle partitions, a cell carrying fraction
    ``f`` of the rows pins one reducer at ≥ f of the total work, so wall
    clock ≈ max(f, 1/P)·W. Splitting that cell S = ceil(f·P) ways brings
    its shards back to ~average partition weight; f·P ≤ 1 means no cell
    exceeds an average partition and salting would only add dimension
    replication for nothing → returns 0 (broadcast/unsalted path).

    Cost: one cell-histogram partial-agg pass over the points (the same
    single-shuffle profile shape as ``hotspot_clusters`` /
    ``profiling.key_skew_profile``). At 10^12 rows pass
    ``sample_fraction`` (seeded, deterministic plan) or reuse a
    maintained histogram — the share estimate only steers an integer
    knob, so sampling error is harmless.
    """
    import math

    src = points
    if sample_fraction is not None:
        src = points.sample(fraction=sample_fraction, seed=7)
    counts = src.groupBy(
        C.cell_col(lng_col, lat_col, res).alias("__cell")
    ).agg(F.count(F.lit(1)).alias("n"))
    row = counts.agg(
        F.max("n").alias("mx"), F.sum("n").alias("total")
    ).collect()[0]
    if not row.total:
        return 0
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    s = math.ceil(row.mx / row.total * p)
    return 0 if s <= 1 else min(s, max_buckets)


def point_in_polygon_join(
    spark: SparkSession,
    points: DataFrame,
    features_pdf: pd.DataFrame | PolygonIndex,
    res: int = DEFAULT_RES,
    lng_col: str = "lng",
    lat_col: str = "lat",
    point_id_col: str = "image_id",
    salt_buckets: int | str = 0,
    dedup_first: bool = True,
    attrs: list[str] | None = None,
) -> DataFrame:
    """Inner-join points to the polygons that exactly contain them.

    Plan: cell equi-join against the per-cell dimension (broadcast, or
    salted shuffle when requested) → keep the cell's polygons whose
    sub-cell is FULL, or PARTIAL and passes the SQL ray-cast
    (geometry.cpp:82-119 semantics), in the JVM (``_pip_rows``). With
    ``dedup_first`` only the first hit is kept: the smallest containing
    ``record_number`` (the engine's defensible replacement for the
    reference's traversal-order-dependent first hit,
    spatial_index.cpp:367-375); otherwise every hit. On the broadcast
    path both forms are one scan, one broadcast join and no window, so
    they run unchanged on a streaming DataFrame in append mode.

    The first hit is picked per input ROW, not per ``point_id``: rows that
    share an id keep one output row each (their locations may differ).
    ``point_id_col`` only keys the salt bucket.

    The reference-compat semantics (first ε-box bbox hit in R-tree
    traversal order, exact test skipped — the commented-out refinement at
    spatial_index.cpp:367-375) are
    ``operators.ref_parity.point_in_polygon_join_first_hit``.

    ``salt_buckets="auto"`` measures the hot-cell share first
    (``auto_salt_buckets``) and salts only when a cell actually exceeds
    an average shuffle partition — skewed tables get the S-way split,
    uniform tables keep the cheaper unsalted plan, no operator knob to
    mis-guess. Output rows are identical either way (tested).
    """
    if salt_buckets == "auto":
        salt_buckets = auto_salt_buckets(
            spark, points, res=res, lng_col=lng_col, lat_col=lat_col
        )
    index = _index(spark, features_pdf, res)
    salt = (salt_buckets, point_id_col) if salt_buckets > 0 else None
    form = "first" if dedup_first else "all"
    matched = _pip_rows(points, index, lng_col, lat_col, form, salt)
    if attrs:
        fpdf = index.features_pdf
        attr_dim = spark.createDataFrame(
            fpdf[["record_number"] + list(attrs)].assign(
                record_number=fpdf["record_number"].astype(np.int64)
            ),
            "record_number bigint" + _attr_ddl(fpdf, attrs),
        )
        matched = matched.join(F.broadcast(attr_dim), "record_number", "left")
    return matched


def point_in_polygon_left_join(
    spark: SparkSession,
    points: DataFrame,
    features_pdf: pd.DataFrame | PolygonIndex,
    res: int = DEFAULT_RES,
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> DataFrame:
    """Every input row plus ``record_number``: the smallest polygon that
    exactly contains the point (the inner join's first hit), NULL when
    none does.

    One scan and one broadcast join, no shuffle and no id: callers that
    used to join PIP output back to their own rows by id (tiling, the
    anti-join, reverse geocoding, the checkpointed pipeline) carry their
    columns straight through instead.
    """
    return _pip_rows(points, _index(spark, features_pdf, res), lng_col, lat_col, "left")


# (content digest, res) -> the index built from that content, all in one
# SparkSession: the first lookup from another session empties it. The
# lock covers streaming batch threads that build indexes too.
_INDEXES: dict[tuple[str, int], PolygonIndex] = {}
_INDEXES_LOCK = threading.Lock()


def _index(spark: SparkSession, features: pd.DataFrame | PolygonIndex,
           res: int) -> PolygonIndex:
    """``features`` itself when it is a prebuilt index, else the session's
    index of that content at ``res``, built on first use.

    The key is a digest of the whole pickled frame, attributes included,
    so an equal frame reuses the index and any edit misses it (a layout
    difference may miss too, never hit). The index is built from its own
    unpickled copy, which a later in-place edit of the caller's frame
    cannot reach.
    """
    if isinstance(features, PolygonIndex):
        if features.res != res and res != DEFAULT_RES:
            raise ValueError("res conflicts with the prebuilt PolygonIndex")
        return features
    blob = pickle.dumps(features, protocol=pickle.HIGHEST_PROTOCOL)
    key = (hashlib.sha256(blob).hexdigest(), res)
    with _INDEXES_LOCK:
        for k in [k for k, ix in _INDEXES.items() if ix.spark is not spark]:
            del _INDEXES[k]
        if key not in _INDEXES:
            _INDEXES[key] = PolygonIndex(spark, pickle.loads(blob), res)
        return _INDEXES[key]


def _keyed_points(points: DataFrame, lng_col: str, lat_col: str, res: int) -> DataFrame:
    """Points with their join cell ``__cell`` and sub-cell index ``__sub``,
    both derived from ONE res+3 key. Quantizing multiplies by a power of
    two, so the parent of the fine key IS the res key, clamp included."""
    fine = C.cell_col(lng_col, lat_col, res + SUB_LEVELS)
    mask = (1 << (2 * SUB_LEVELS)) - 1
    return points.withColumn("__fine", fine).select(
        "*",
        C.parent_col("__fine", res + SUB_LEVELS, res).alias("__cell"),
        F.expr(f"CAST(__fine & {mask} AS INT)").alias("__sub"),
    ).drop("__fine")


_PRIVATE = ("__cell", "__sub", "__psalt", "__dcell", "__polys", "__salt", "__poly")


def _pip_rows(points: DataFrame, index: PolygonIndex, lng_col: str, lat_col: str,
              form: str, salt: tuple[int, str] | None = None) -> DataFrame:
    """The points joined to the polygons that exactly contain them, plus
    ``record_number``; ``form`` picks which polygons:

    * ``"all"``: every hit, one row each. The cell's polygons explode
      first and a plain Filter tests each row, so the mask test compiles
      and only a PARTIAL sub-cell runs the (interpreted) ray-cast. Spark
      interprets a higher-order ``filter`` whole, mask test included:
      all hits through it measured 17% slower on 6M points.
    * ``"first"``: one row per input row that has a hit, the smallest
      containing ``record_number``: the first element of ``filter`` over
      the cell's ``record_number``-sorted polygons, no window.
    * ``"left"``: as ``"first"``, but every input row, NULL when no
      polygon contains it.

    A polygon contains the point when the point's sub-cell is FULL, or
    PARTIAL and the ray-cast over the cell's band edges says inside; an
    EMPTY sub-cell drops it. ``record_number`` comes out of a generator
    (``explode``), so a later filter on it cannot be pushed below the
    projection to run the ray-cast twice.

    The dimension joins by broadcast, or — with ``salt = (S, id column)``
    — by a shuffle hash join on (cell, pmod(xxhash64(id), S)) against the
    dimension replicated S times, so a hot cell spreads S ways.
    """
    pts = _keyed_points(points, lng_col, lat_col, index.res)
    private = {"cell": "__dcell", "polys": "__polys", "salt": "__salt"}
    if salt is None:
        dim = F.broadcast(index.dim.withColumnsRenamed(private))
        on = [pts["__cell"] == F.col("__dcell")]
    else:
        s, id_col = salt
        dim = index.salted_dim(s).withColumnsRenamed(private).hint("shuffle_hash")
        pts = pts.withColumn("__psalt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(s)).cast("int"))
        on = [pts["__cell"] == F.col("__dcell"), pts["__psalt"] == F.col("__salt")]
    joined = pts.join(dim, on, "left" if form == "left" else "inner")
    contains = G.polygon_contains_sql(lng_col, lat_col, "__poly.shell", "__poly.holes")
    hit = (
        "(shiftright(__poly.full_mask, __sub) & 1) = 1 OR "
        f"((shiftright(__poly.part_mask, __sub) & 1) = 1 AND {contains})"
    )
    if form == "all":
        rows = joined.select("*", F.explode("__polys").alias("__poly")).where(hit)
    else:
        first = F.expr(f"slice(filter(__polys, __poly -> {hit}), 1, 1)")
        explode = F.explode_outer if form == "left" else F.explode
        rows = joined.select("*", explode(first).alias("__poly"))
    return rows.select(
        "*", F.col("__poly.record_number").alias("record_number")
    ).drop(*_PRIVATE)


# ---------------------------------------------------------------------------
# J3: within-distance join (distance to feature bbox CENTER, ref semantics)
# ---------------------------------------------------------------------------

def within_distance_join(
    spark: SparkSession,
    points: DataFrame,
    features_pdf: pd.DataFrame,
    distance: float,
    res: int | None = None,
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> DataFrame:
    """All (point, feature) pairs with Euclidean-degrees distance from the
    feature's bbox center <= ``distance`` (spatial_index.cpp:123-149: the
    coarse bbox-square phase is implied by the refine, so the final
    predicate is exactly the center-distance).

    Plan: features explode to cells covering [center ± d] (driver-side;
    explode factor bounded by resolution policy) → broadcast → point cell
    equi-join → native column refine. Zero Python on the point side.
    """
    feats = _indexed(features_pdf).copy()
    feats["cx"] = (feats["minx"] + feats["maxx"]) / 2.0
    feats["cy"] = (feats["miny"] + feats["maxy"]) / 2.0
    if res is None:
        res = C.resolution_for_bbox(2 * distance, 2 * distance, max_cells=64)
    rows = []
    for _, r in feats.iterrows():
        cover = C.cover_bbox(r.cx - distance, r.cy - distance,
                             r.cx + distance, r.cy + distance, res)
        for c in cover:
            rows.append((int(c), int(r.record_number), float(r.cx), float(r.cy)))
    dim = spark.createDataFrame(
        pd.DataFrame(rows, columns=["cell", "record_number", "cx", "cy"]),
        _CENTER_DDL,
    )
    pts = points.withColumn("__cell", C.cell_col(lng_col, lat_col, res))
    out = (
        pts.join(F.broadcast(dim), pts["__cell"] == dim["cell"], "inner")
        .drop("cell", "__cell")
        .withColumn(
            "dist",
            F.sqrt(
                (F.col(lng_col) - F.col("cx")) * (F.col(lng_col) - F.col("cx"))
                + (F.col(lat_col) - F.col("cy")) * (F.col(lat_col) - F.col("cy"))
            ),
        )
        .where(F.col("dist") <= F.lit(distance))
    )
    return out


# ---------------------------------------------------------------------------
# J2: kNN join (reference semantics: distance to feature bbox center)
# ---------------------------------------------------------------------------

def _indexed(features_pdf: pd.DataFrame) -> pd.DataFrame:
    """Reference parity: the R-tree indexes EVERY record's bbox regardless of
    geometry type (spatial_index.cpp:295-306 inserts all record bounds), so
    kNN / within-distance / bbox joins consider any feature with real
    geometry — not just polygons. Null-shape rows are skipped explicitly by
    shape_type (both the reader and the fixtures encode their bounds as
    0.0, not NaN — a notna() filter would admit phantom features at the
    origin), matching the reference's empty-geometry handling."""
    return features_pdf[
        (features_pdf["shape_type"] != 0) & features_pdf["minx"].notna()
    ]


def knn_join_bruteforce(
    spark: SparkSession,
    points: DataFrame,
    features_pdf: pd.DataFrame,
    k: int,
    lng_col: str = "lng",
    lat_col: str = "lat",
    point_id_col: str = "image_id",
    attrs: list[str] | None = None,
) -> DataFrame:
    """Exact-parity kNN: broadcast all feature centers, score every pair,
    window top-k. Matches spatial_index.cpp:91-121 bit-for-bit (centroid
    Euclidean distance, ties by feature order). Only viable when
    |features| is dimension-scale — which it is (<= thousands)."""
    _check_k(k)
    feats = _indexed(features_pdf)
    dim_pdf = pd.DataFrame(
        {
            "record_number": feats["record_number"].astype(np.int64),
            "cx": (feats["minx"] + feats["maxx"]) / 2.0,
            "cy": (feats["miny"] + feats["maxy"]) / 2.0,
        }
    )
    for a in attrs or []:
        dim_pdf[a] = feats[a].to_numpy()
    dim = spark.createDataFrame(
        dim_pdf, "record_number bigint, cx double, cy double" + _attr_ddl(feats, attrs)
    )
    return _nearest_k(points.crossJoin(F.broadcast(dim)), k, lng_col, lat_col, point_id_col)


def _check_k(k) -> None:
    """The kNN operators take an integer ``k >= 1``: a float or bool k
    is refused rather than truncated, a non-positive one rather than
    returning nothing."""
    if isinstance(k, bool) or not isinstance(k, (int, np.integer)) or k < 1:
        raise ValueError(f"k must be an integer >= 1, got {k!r}")


def _nearest_k(pairs: DataFrame, k: int, lng_col: str, lat_col: str,
               point_id_col: str) -> DataFrame:
    """Rank each point's (point, feature center ``cx``/``cy``) candidate
    rows by Euclidean-degrees distance, ties by ``record_number``
    (spatial_index.cpp:110-120), and keep the ``k`` nearest: adds
    ``dist`` and ``knn_rank``."""
    dist = F.sqrt(
        (F.col(lng_col) - F.col("cx")) * (F.col(lng_col) - F.col("cx"))
        + (F.col(lat_col) - F.col("cy")) * (F.col(lat_col) - F.col("cy"))
    )
    w = Window.partitionBy(point_id_col).orderBy("dist", "record_number")
    return (
        pairs.withColumn("dist", dist)
        .withColumn("knn_rank", F.row_number().over(w))
        .where(F.col("knn_rank") <= k)
    )


MAX_OCCUPIED_CELLS = 65536  # driver candidate-table budget (see _occupied_cells_bounded)
_DMAT_BUDGET = 1 << 22  # ~4M doubles (32 MB) per (cells-chunk x features) block


def _occupied_cells_bounded(
    points: DataFrame,
    lng_col: str,
    lat_col: str,
    res: int,
    max_occupied: int = MAX_OCCUPIED_CELLS,
) -> tuple[int, np.ndarray]:
    """(effective_res, occupied cells): downgrade ``res`` until the distinct
    point-occupied cell count fits the driver budget.

    At fine resolutions with globally-spread points the occupied-cell set
    is up to 4^res — res 10 could pull ~10^6 cells x |features| doubles
    onto the driver. The guard probes the counts with
    ``approx_count_distinct`` (map-side-partial sketches — NOT a
    collect) for EVERY candidate resolution in ONE aggregation pass
    (round-2 advice: the per-step probe loop paid one full scan per
    downgrade), then picks the finest resolution that fits; only the
    final, bounded cell set is collected. The 0.9 factor absorbs the
    sketch's ~5% relative error. Coarser cells mean more candidates per
    cell but identical (exact) results — the window refine is unchanged.

    When 4^res already fits the budget the probe is skipped entirely —
    the common coarse-res case pays ZERO extra passes.
    """
    probe_res = [r for r in range(res, 0, -1) if 4 ** r > max_occupied]
    if probe_res:
        row = points.agg(
            *[
                F.approx_count_distinct(
                    C.cell_col(lng_col, lat_col, r)
                ).alias(f"n{r}")
                for r in probe_res
            ]
        ).collect()[0]
        for r in range(res, 0, -1):
            if 4 ** r <= max_occupied or row[f"n{r}"] <= max_occupied * 0.9:
                res = r
                break
        else:
            res = 1
    occupied = np.array(
        [
            r["c"]
            for r in points.select(
                C.cell_col(lng_col, lat_col, res).alias("c")
            ).distinct().collect()
        ],
        dtype=np.int64,
    )
    return res, occupied


def knn_join(
    spark: SparkSession,
    points: DataFrame,
    features_pdf: pd.DataFrame,
    k: int,
    res: int = 6,
    lng_col: str = "lng",
    lat_col: str = "lat",
    point_id_col: str = "image_id",
    max_occupied_cells: int = MAX_OCCUPIED_CELLS,
) -> DataFrame:
    """Scale-path kNN via per-cell candidate lists (cell-ring expansion done
    once on the dimension side, not per point).

    For every point-occupied cell c (distinct-cell pass: output bounded by
    4^res, not by |points|), compute on the driver the candidate set
    {f : dist(f, center(c)) <= d_k(c) + 2r(c)} where d_k is the k-th
    nearest feature-center distance to the cell center and r the
    center-to-corner radius. Any point in c has its true top-k inside that
    set (triangle inequality), so the per-point window over candidates is
    exact. Candidate table broadcasts; points pay one equi-join + window.

    Driver safety: the requested ``res`` auto-downgrades until the
    occupied-cell count fits ``max_occupied_cells`` (results unchanged —
    only candidate-list sizes grow), and the (cells x features) distance
    matrix is computed in fixed-size chunks so peak driver memory is
    bounded regardless of cell count.
    """
    _check_k(k)
    feats = _indexed(features_pdf)
    fx = ((feats["minx"] + feats["maxx"]) / 2.0).to_numpy()
    fy = ((feats["miny"] + feats["maxy"]) / 2.0).to_numpy()
    frec = feats["record_number"].to_numpy(np.int64)

    res, occupied = _occupied_cells_bounded(
        points, lng_col, lat_col, res, max_occupied_cells
    )
    pts = points.withColumn("__cell", C.cell_col(lng_col, lat_col, res))
    kk = min(k, len(fx))
    if len(occupied) == 0 or kk == 0:  # nothing to key, or no candidate at all
        return knn_join_bruteforce(spark, points, features_pdf, k,
                                   lng_col, lat_col, point_id_col).drop("__cell")

    minx, miny, maxx, maxy = C.cell_bounds(occupied)
    ccx = (minx + maxx) / 2.0
    ccy = (miny + maxy) / 2.0
    r_cell = np.sqrt((maxx - minx) ** 2 + (maxy - miny) ** 2) / 2.0
    # chunked (cells x features) distance matrix — peak memory is
    # chunk x |features| doubles, independent of the occupied-cell count
    chunk = max(1, _DMAT_BUDGET // max(1, len(fx)))
    ci_parts, fi_parts = [], []
    for lo in range(0, len(occupied), chunk):
        hi = min(lo + chunk, len(occupied))
        dmat = np.sqrt(
            (ccx[lo:hi, None] - fx[None, :]) ** 2
            + (ccy[lo:hi, None] - fy[None, :]) ** 2
        )
        dk = np.sort(dmat, axis=1)[:, kk - 1]
        keep = dmat <= (dk + 2.0 * r_cell[lo:hi])[:, None]
        ci_c, fi_c = np.nonzero(keep)
        ci_parts.append(ci_c + lo)
        fi_parts.append(fi_c)
    ci = np.concatenate(ci_parts)
    fi = np.concatenate(fi_parts)
    dim = spark.createDataFrame(
        pd.DataFrame(
            {
                "cell": occupied[ci],
                "record_number": frec[fi],
                "cx": fx[fi],
                "cy": fy[fi],
            }
        ),
        _CENTER_DDL,
    )
    return _nearest_k(
        pts.join(F.broadcast(dim), pts["__cell"] == dim["cell"], "inner").drop("cell", "__cell"),
        k, lng_col, lat_col, point_id_col,
    )


# ---------------------------------------------------------------------------
# J5: bbox query-set join
# ---------------------------------------------------------------------------

def bbox_join(
    spark: SparkSession,
    queries: DataFrame,  # (query_id, qminx, qminy, qmaxx, qmaxy)
    features_pdf: pd.DataFrame,
    res: int = 6,
) -> DataFrame:
    """All (query bbox, feature) pairs whose bboxes intersect (touching
    edges count — geometry.cpp:14-17). Queries explode to covering cells of
    their own box via a generated cell range; features pre-exploded."""
    feats = _indexed(features_pdf)
    rows = []
    for _, r in feats.iterrows():
        for c in C.cover_bbox(r.minx, r.miny, r.maxx, r.maxy, res):
            rows.append((int(c), int(r.record_number), r.minx, r.miny, r.maxx, r.maxy))
    dim = spark.createDataFrame(
        pd.DataFrame(rows, columns=["cell", "record_number", "minx", "miny", "maxx", "maxy"]),
        _BOX_DDL,
    )
    q = (
        queries.withColumn("__x0", F.expr(C.axis_index_sql("qminx", 180.0, 360.0, res, "spark")))
        .withColumn("__x1", F.expr(C.axis_index_sql("qmaxx", 180.0, 360.0, res, "spark")))
        .withColumn("__y0", F.expr(C.axis_index_sql("qminy", 90.0, 180.0, res, "spark")))
        .withColumn("__y1", F.expr(C.axis_index_sql("qmaxy", 90.0, 180.0, res, "spark")))
        .withColumn("__xi", F.explode(F.sequence("__x0", "__x1")))
        .withColumn("__yi", F.explode(F.sequence("__y0", "__y1")))
        .withColumn("__cell", F.expr(C.pack_xy_sql("__xi", "__yi", res, "spark")))
    )
    out = (
        q.join(F.broadcast(dim), q["__cell"] == dim["cell"], "inner")
        .where(
            ~(
                (F.col("minx") > F.col("qmaxx"))
                | (F.col("maxx") < F.col("qminx"))
                | (F.col("miny") > F.col("qmaxy"))
                | (F.col("maxy") < F.col("qminy"))
            )
        )
        .dropDuplicates(["query_id", "record_number"])
        .drop("cell", "__cell", "__x0", "__x1", "__y0", "__y1", "__xi", "__yi")
    )
    return out


def point_in_polygon_anti_join(
    spark: SparkSession,
    points: DataFrame,
    features_pdf,
    res: int = DEFAULT_RES,
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> DataFrame:
    """Spatial ANTI-join: the points inside NO polygon — the exclusion
    predicate a curation pipeline runs as often as the inclusion one
    (drop images inside embargoed zones / keep only open-ocean pings /
    find the uncovered remainder after a coverage join).

    Derived, not re-implemented: the rows of ``point_in_polygon_left_join``
    (same cell pruning, same ray-cast refine) whose ``record_number`` is
    NULL. One scan, one broadcast join, no id shuffle and no NOT-IN null
    traps; rows that share an id are kept or dropped each on its own
    location.

    Returns the surviving point rows (original columns).
    """
    return point_in_polygon_left_join(
        spark, points, features_pdf, res=res, lng_col=lng_col, lat_col=lat_col,
    ).where(F.col("record_number").isNull()).drop("record_number")


# ---------------------------------------------------------------------------
# LARGE x LARGE pair joins (self, cross and, in geodesic.py, great-circle)
# ---------------------------------------------------------------------------

_PAIR_DIST = "sqrt((_lng1 - _lng2) * (_lng1 - _lng2) + (_lat1 - _lat2) * (_lat1 - _lat2))"


def _cell_pairs(
    left: tuple[DataFrame, str, str, str],
    right: tuple[DataFrame, str, str, str],
    lat_r: float,
    lng_r: float,
    res: int | None,
    key_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Candidate pairs of a big-big distance join: every (left, right)
    row pair, sharing ``key_cols``, whose cells at ``res`` are the same or
    8-adjacent. ``left``/``right`` are (frame, id, lng, lat); the result
    has (_nb, *key_cols, id_1, _lng1, _lat1, id_2, _lng2, _lat2), and the
    caller adds its own pair filter and exact refine.

    ``res`` must make one cell at least ``lat_r`` tall and ``lng_r``
    wide (``None``: the finest that does), so a pair within the search
    radius is always in the same or adjacent cells. The left side
    explodes to its 3x3 neighborhood IN-PLAN (``cells.neighborhood_col``:
    a 9x fan-out of narrow key rows, never payloads), the right side keys
    by its own cell, and one shuffled cell equi-join does the rest. A
    left row's nine cells are distinct, so each (left, right) pair
    matches exactly once; off-grid neighbors match nothing (no
    wraparound).

    Join strategy (measured, BENCH/BASELINE.md): at 2M points AQE's
    compressed-size heuristic still picks a broadcast join and loses 3x
    to the forced SortMergeJoin (8.9 vs 2.8 s warm, identical output) —
    per-task hash probing of an ~80 MB side is worse than partitioned
    merge. The join therefore carries its own ``merge`` hint, which AQE's
    re-planner honors, so the runtime broadcast conversion is off for
    exactly this join and nothing else. At corpus scale SMJ is what the
    planner would pick anyway; at test scale the difference is noise.
    """
    if res is None:
        res = min(25, math.floor(math.log2(180.0 / lat_r)),
                  math.floor(math.log2(360.0 / lng_r)))
    if not 0 <= res <= 25:
        raise ValueError(f"res must be in [0, 25], got {res}")
    if 180.0 / (1 << res) < lat_r or 360.0 / (1 << res) < lng_r:
        raise ValueError(
            f"cell at res {res} is smaller than the search radius "
            f"({lat_r} deg lat, {lng_r} deg lng); the 3x3 neighborhood "
            "would miss pairs"
        )
    lside, rside = (
        df.select(F.col(i).alias(f"id_{n}"), F.col(x).alias(f"_lng{n}"),
                  F.col(y).alias(f"_lat{n}"), *key_cols)
        .withColumn("_cell", C.cell_col(f"_lng{n}", f"_lat{n}", res))
        for n, (df, i, x, y) in ((1, left), (2, right))
    )
    lefts = lside.select(
        "*", F.explode(C.neighborhood_col("_cell", res)).alias("_nb")
    ).drop("_cell")
    rights = rside.withColumnRenamed("_cell", "_nb")
    return lefts.hint("merge").join(rights, ["_nb", *key_cols])


def within_distance_self_join(
    points: DataFrame,
    distance: float,
    res: int | None = None,
    id_col: str = "point_id",
    lng_col: str = "lng",
    lat_col: str = "lat",
    key_cols: tuple[str, ...] = (),
) -> DataFrame:
    """All UNORDERED point pairs within Euclidean-degrees ``distance`` —
    the LARGE x LARGE spatial self-join (every other distance join here
    is point x broadcast-dimension). The pipeline use is GPS-proximity
    candidate pairing: "image pairs shot within d of each other" feeding
    location-based dedup/attribution, where both sides are the corpus.

    Plan: ``_cell_pairs`` on (points, points) — the 3x3 cell-neighborhood
    equi-join with its ``merge`` hint — then (id_1 < id_2) and the exact
    distance refine. Each unordered pair materializes EXACTLY once:
    (id_1 < id_2) keeps one of the two symmetric matches, and
    ``_cell_pairs`` emits each ordered pair once — no post-join dedup
    pass. ``res`` defaults to the finest whose cell is >= ``distance``
    on both axes.

    Skew: a hot cell (urban cluster) concentrates both sides of the
    equi-join; AQE skew-join splitting applies as-is, and the salting
    guidance from ``point_in_polygon_join`` transfers — measured on this
    host, AQE handles the fixture's Zipfian cell without manual salt.

    ``key_cols``: optional equi-keys BOTH pair members must share (the
    space-TIME extension: pass a time-bucket column and the join blocks
    on (bucket, cell) — pairs only form inside one bucket, so the
    shuffle key gains temporal selectivity for free and a 10^12-ping
    corpus joins per-slice instead of all-time). Key columns pass
    through to the output.

    Output: (*key_cols, id_1, id_2, dist_u) with id_1 < id_2, dist_u =
    floor(dist * 1e6) (IEEE-exact on identical inputs, the
    within_distance canon).
    """
    if distance <= 0:
        raise ValueError(f"distance must be > 0, got {distance}")
    reserved = {"_nb", "_cell", "_lng1", "_lat1", "_lng2", "_lat2", "_d",
                "id_1", "id_2", "dist_u", id_col, lng_col, lat_col}
    bad = [k for k in key_cols if k in reserved]
    if bad:
        raise ValueError(
            f"key_cols collide with internal/positional columns: {bad}"
        )
    side = (points, id_col, lng_col, lat_col)
    return (
        _cell_pairs(side, side, distance, distance, res, key_cols)
        .where(F.col("id_1") < F.col("id_2"))
        .withColumn("_d", F.expr(_PAIR_DIST))
        .where(F.col("_d") <= F.lit(distance))
        .select(
            *key_cols, "id_1", "id_2",
            F.floor(F.col("_d") * 1e6).cast("long").alias("dist_u"),
        )
    )


def knn_self_join(
    points: DataFrame,
    k: int,
    radius: float,
    res: int | None = None,
    id_col: str = "point_id",
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> DataFrame:
    """k nearest neighbors per point FROM THE CORPUS ITSELF, bounded by
    ``radius`` — the self-join member of the kNN family (``knn_join``
    ranks against a broadcast feature dimension; this ranks every point
    against every other point). The radius bound is what makes the
    big-big formulation exact AND scalable: candidates come from the
    3x3-neighbor cell cover (``within_distance_self_join``), so a
    point's k-th neighbor beyond ``radius`` is out of contract rather
    than silently missed — the GPS-neighborhood semantics pipelines
    actually want ("nearest co-located images within 5 km"), not
    unbounded kNN whose tail neighbor may be a continent away.

    Plan: the pair join (each unordered pair once) → mirror to both
    directions (pure projection union, no shuffle) → per-point top-k
    window, ties by neighbor id. Spark plans the rank filter as a
    map-side WindowGroupLimit partial top-k before the window shuffle.
    Points with no neighbor within ``radius`` emit no row (documented).

    Output: (id_col, neighbor_id, nn_rank, dist_u).
    """
    _check_k(k)
    pairs = within_distance_self_join(
        points, radius, res, id_col, lng_col, lat_col
    )
    fwd = pairs.select(
        F.col("id_1").alias(id_col),
        F.col("id_2").alias("neighbor_id"),
        "dist_u",
    )
    rev = pairs.select(
        F.col("id_2").alias(id_col),
        F.col("id_1").alias("neighbor_id"),
        "dist_u",
    )
    both = fwd.unionByName(rev)
    w = Window.partitionBy(id_col).orderBy("dist_u", "neighbor_id")
    return (
        both.withColumn("nn_rank", F.row_number().over(w))
        .where(F.col("nn_rank") <= k)
        .select(id_col, "neighbor_id", "nn_rank", "dist_u")
    )


def within_distance_cross_join(
    left: DataFrame,
    right: DataFrame,
    distance: float,
    res: int | None = None,
    left_id: str = "id_1",
    right_id: str = "id_2",
    left_lng: str = "lng",
    left_lat: str = "lat",
    right_lng: str = "lng",
    right_lat: str = "lat",
) -> DataFrame:
    """All (left, right) pairs within Euclidean-degrees ``distance``
    where BOTH sides are large — the cross-table member of the big-big
    join family (``within_distance_self_join`` is the self member; the
    other distance joins broadcast a dimension). Pipeline use:
    colocation between two corpus-scale point sets (images x events,
    crawl A x crawl B) feeding attribution and cross-K statistics.

    Plan: ``_cell_pairs`` on (left, right) plus the exact distance
    refine. Exactly-once needs no pair filter at all here: a right
    row's single cell appears once among a left row's nine distinct
    neighbor cells, so each cross pair matches exactly once by
    construction.

    Output: (left_id, right_id, dist_u), dist_u = floor(dist * 1e6).
    """
    if distance <= 0:
        raise ValueError(f"distance must be > 0, got {distance}")
    return (
        _cell_pairs((left, left_id, left_lng, left_lat),
                    (right, right_id, right_lng, right_lat),
                    distance, distance, res)
        .withColumn("_d", F.expr(_PAIR_DIST))
        .where(F.col("_d") <= F.lit(distance))
        .select(
            F.col("id_1").alias(left_id),
            F.col("id_2").alias(right_id),
            F.floor(F.col("_d") * 1e6).cast("long").alias("dist_u"),
        )
    )
