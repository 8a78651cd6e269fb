"""Hierarchical cell index (H3/S2-style, implemented as Z-order quadkeys).

Replaces the reference's R-tree (``include/gis/spatial_index.h:14-117``,
``src/spatial/spatial_index.cpp``): instead of a materialized tree, every
spatial predicate becomes a cell-key equi-join that Catalyst plans as a
broadcast or shuffled hash join. A cell id packs ``resolution`` (high byte)
and the Morton interleave of the quantized (lng, lat) into one BIGINT, so
ids of different resolutions never collide and ``parent()`` is a shift.

Three synchronized implementations, all derived from one bit-algorithm:

* ``cell_sql(...)`` — a SQL expression string, parameterized by dialect
  (``spark`` / ``duckdb``). Used both for the engine's JVM-side codegen
  path (wrapped in ``F.expr``) and verbatim inside ``oracle_sql()`` so the
  DuckDB oracle computes bit-identical cells.
* ``cell_col(...)`` — the PySpark Column (``F.expr`` of the Spark dialect).
* ``cell_of_numpy(...)`` / ``cover_bbox`` / ... — vectorized numpy twin for
  driver-side dimension prep (polygon covering cells) and the test oracle.

Scale note: the point side (10^12 rows) only ever evaluates ``cell_col`` —
pure integer expressions inside whole-stage codegen, no Python, no shuffle.
All covering enumeration happens on the polygon/dimension side; the one
point-side fan-out, the big-big pair joins' 3x3 ``neighborhood_col``
explode, is integer codegen too.

Why quadkeys rather than literal H3/S2: (a) the reference's geometry is
strictly planar — Euclidean distance on raw degrees, axis-aligned bboxes
(geometry.cpp, "not geodesic" at geocoder.cpp:463-468) — so a spherical
cell system would *break* parity at tile edges while adding nothing the
join planner uses; (b) this sandbox has no h3/s2 libraries and both
index sides (JVM codegen expression AND the DuckDB oracle) need the cell
function as portable integer SQL, which the Morton interleave gives as
one shift-and-mask term per bit (the text grows linearly with the
resolution, so planning a key stays cheap); (c) every property the joins
rely on — fixed-res equi keys, O(1) parent/child, ring neighbors, bbox
covers — is shared by H3/S2/quadkey alike, so swapping in H3 on a real
deployment changes one function pair (``cell_sql``/``cell_of_numpy``),
not the operators.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_RES = 26  # 26 bits per axis -> 52-bit morton + 8-bit res tag
RES_SHIFT = 56
MORTON_MASK = (1 << 52) - 1

_M16 = 0x0000FFFF0000FFFF
_M8 = 0x00FF00FF00FF00FF
_M4 = 0x0F0F0F0F0F0F0F0F
_M2 = 0x3333333333333333
_M1 = 0x5555555555555555


# ---------------------------------------------------------------------------
# SQL generation (shared by Spark and the DuckDB oracle)
# ---------------------------------------------------------------------------

def _shl(x: str, n: int, dialect: str) -> str:
    if dialect == "spark":
        return f"shiftleft({x}, {n})"
    return f"({x} << {n})"


def _shr(x: str, n: int, dialect: str) -> str:
    if dialect == "spark":
        return f"shiftright({x}, {n})"
    return f"({x} >> {n})"


def _or_sql(terms: list[str]) -> str:
    return f"({' | '.join(terms)})"


def _spread_sql(v: str, bits: int, dialect: str) -> str:
    """Spread the low ``bits`` bits of ``v`` to the even positions: bit
    ``i`` moves to ``2i``. One term per bit, so the text grows linearly
    with ``bits`` (a doubling chain quotes its input twice per step and
    carries 32 copies of it). ``v`` appears ``max(bits, 1)`` times."""
    return _or_sql([f"({_shl(v, i, dialect)} & {1 << 2 * i})"
                    for i in range(max(bits, 1))])


def axis_index_sql(coord: str, offset: float, extent: float, res: int, dialect: str) -> str:
    """Quantize one coordinate to a ``res``-bit integer cell index, clamped."""
    n = 1 << res
    return (
        f"least({n - 1}, greatest(0, "
        f"cast(floor((({coord}) + {offset}) / {extent} * {n}) as bigint)))"
    )


def pack_xy_sql(xi: str, yi: str, res: int, dialect: str = "spark") -> str:
    """SQL packing of pre-quantized axis indices in ``[0, 2^res)`` (the
    ``pack_xy`` twin); lets distributed operators enumerate covering
    cells IN the plan (sequence-explode over xi/yi ranges) instead of on
    the driver."""
    sx = _spread_sql(f"({xi})", res, dialect)
    sy = _spread_sql(f"({yi})", res, dialect)
    return f"({res << RES_SHIFT} | {sx} | {_shl(sy, 1, dialect)})"


def cell_sql(lng: str, lat: str, res: int, dialect: str = "spark") -> str:
    """SQL for the packed cell id of (lng, lat) at ``res``.

    Identical token-for-token semantics in Spark SQL and DuckDB: integer
    bit ops only, so the oracle comparison is exact (no float hashing).
    """
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    xi = axis_index_sql(lng, 180.0, 360.0, res, dialect)
    yi = axis_index_sql(lat, 90.0, 180.0, res, dialect)
    return pack_xy_sql(xi, yi, res, dialect)


def _compact_sql(v: str, dialect: str) -> str:
    """Inverse of ``_spread_sql``: gather the even bits of a 52-bit morton
    back into a dense 26-bit integer (the SQL twin of ``_compact_np``),
    one term per bit: bit ``2i`` moves to ``i``."""
    return _or_sql([f"({_shr(v, i, dialect)} & {1 << i})" for i in range(MAX_RES)])


def cell_axis_sql(cell: str, axis: str, dialect: str = "spark") -> str:
    """SQL for the x (lng) or y (lat) integer index of a packed cell —
    the demorton that lets a DISTRIBUTED plan go from cell ids back to
    grid coordinates (centers, bounds) with zero Python."""
    morton = f"(({cell}) & {MORTON_MASK})"
    if axis == "x":
        return _compact_sql(morton, dialect)
    if axis == "y":
        return _compact_sql(_shr(morton, 1, dialect), dialect)
    raise ValueError(f"axis must be 'x' or 'y', got {axis!r}")


def cell_center_sql(cell: str, axis: str, res: int, dialect: str = "spark") -> str:
    """SQL for the center lng (axis='x') / lat (axis='y') of a packed
    cell KNOWN to be at ``res`` — identical arithmetic text in both
    dialects, so the IEEE doubles match bit-for-bit (litsql rules)."""
    idx = cell_axis_sql(cell, axis, dialect)
    n = 1 << res
    if axis == "x":
        off, ext = "-180", "360"
    else:
        off, ext = "-90", "180"
    return (
        f"(CAST({off} AS DOUBLE) + (CAST({idx} AS DOUBLE)"
        f" + CAST(0.5 AS DOUBLE)) * CAST({ext} AS DOUBLE)"
        f" / CAST({n} AS DOUBLE))"
    )


def parent_sql(cell: str, res: int, parent_res: int, dialect: str = "spark") -> str:
    """SQL for the ancestor of ``cell`` (known to be at ``res``) at ``parent_res``."""
    if parent_res > res:
        raise ValueError("parent_res must be <= res")
    dropped = 2 * (res - parent_res)
    morton = f"(({cell}) & {MORTON_MASK})"
    return f"({parent_res << RES_SHIFT} | {_shr(morton, dropped, dialect)})"


def cell_col(lng, lat, res: int) -> Column:
    """PySpark Column: packed cell id. Pure JVM bit math (codegen-friendly)."""
    lng_s = lng if isinstance(lng, str) else lng._jc.toString()
    lat_s = lat if isinstance(lat, str) else lat._jc.toString()
    return F.expr(cell_sql(lng_s, lat_s, res, "spark"))


def parent_col(cell, res: int, parent_res: int) -> Column:
    cell_s = cell if isinstance(cell, str) else cell._jc.toString()
    return F.expr(parent_sql(cell_s, res, parent_res, "spark"))


_X_BITS = _M1 & MORTON_MASK  # the lng-index bits of a morton
_Y_BITS = (_M1 << 1) & MORTON_MASK  # the lat-index bits


def neighborhood_col(cell: str, res: int) -> Column:
    """PySpark Column: ``array<bigint>`` of the 9 cells of the 3x3 block
    around ``cell`` (a column known to be at ``res``) — the cell itself
    and its 8 neighbors, in no particular order. Explode it to join a
    cell against its neighborhood; ``cells.neighbors`` is the numpy twin.

    Each axis steps by dilated-integer arithmetic on the morton itself
    (``((m & X) - 1) & X`` and ``((m | Y) + 1) & X``, likewise for y), so
    there is no demorton and no re-spread: a few integer ops per key
    inside codegen. ``cell`` must be a column name, not a generated
    expression — it appears in every key. Off the grid edge the step
    borrows or carries into bits at or above ``2 * res``, which no real
    cell at ``res`` carries, so those keys never match (no wraparound);
    that needs one spare bit per axis, hence ``res <= 25``.
    """
    if not 0 <= res <= 25:
        raise ValueError(f"res must be in [0, 25], got {res}")
    c = f"({cell})"
    xs = (f"((({c} & {_X_BITS}) - 1) & {_X_BITS})", f"({c} & {_X_BITS})",
          f"((({c} | {_Y_BITS}) + 1) & {_X_BITS})")
    ys = (f"((({c} & {_Y_BITS}) - 2) & {_Y_BITS})", f"({c} & {_Y_BITS})",
          f"((({c} | {_X_BITS}) + 2) & {_Y_BITS})")
    keys = ", ".join(f"({res << RES_SHIFT} | {x} | {y})" for x in xs for y in ys)
    return F.expr(f"array({keys})")


# ---------------------------------------------------------------------------
# numpy twin (driver-side dimension prep + oracle)
# ---------------------------------------------------------------------------

def _spread_np(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64)
    for shift, mask in ((16, _M16), (8, _M8), (4, _M4), (2, _M2), (1, _M1)):
        v = (v | (v << np.uint64(shift))) & np.uint64(mask)
    return v


def _compact_np(v: np.ndarray) -> np.ndarray:
    """Inverse of _spread_np: gather even bits back into a dense int."""
    v = v.astype(np.uint64) & np.uint64(_M1)
    for shift, mask in ((1, _M2), (2, _M4), (4, _M8), (8, _M16), (16, (1 << 26) - 1)):
        v = (v | (v >> np.uint64(shift))) & np.uint64(mask)
    return v


def axis_index_np(coord, offset: float, extent: float, res: int) -> np.ndarray:
    n = 1 << res
    idx = np.floor((np.asarray(coord, dtype=np.float64) + offset) / extent * n)
    return np.clip(idx, 0, n - 1).astype(np.int64)


def cell_of_numpy(lng, lat, res: int) -> np.ndarray:
    """Vectorized twin of ``cell_sql`` — must match bit-for-bit (tested)."""
    xi = axis_index_np(lng, 180.0, 360.0, res)
    yi = axis_index_np(lat, 90.0, 180.0, res)
    morton = _spread_np(xi) | (_spread_np(yi) << np.uint64(1))
    return (np.uint64(res << RES_SHIFT) | morton).astype(np.int64)


def cell_xy(cells: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode packed cells -> (res, xi, yi)."""
    cells = np.asarray(cells, dtype=np.uint64)
    res = (cells >> np.uint64(RES_SHIFT)).astype(np.int64)
    morton = cells & np.uint64(MORTON_MASK)
    return res, _compact_np(morton).astype(np.int64), _compact_np(morton >> np.uint64(1)).astype(np.int64)


def pack_xy(xi: np.ndarray, yi: np.ndarray, res: int) -> np.ndarray:
    morton = _spread_np(np.asarray(xi, np.int64)) | (_spread_np(np.asarray(yi, np.int64)) << np.uint64(1))
    return (np.uint64(res << RES_SHIFT) | morton).astype(np.int64)


def cell_bounds(cells: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(minx, miny, maxx, maxy) of each cell in lng/lat degrees."""
    res, xi, yi = cell_xy(cells)
    n = (1 << res).astype(np.float64)
    w, h = 360.0 / n, 180.0 / n
    minx = xi * w - 180.0
    miny = yi * h - 90.0
    return minx, miny, minx + w, miny + h


def cover_bbox(minx: float, miny: float, maxx: float, maxy: float, res: int) -> np.ndarray:
    """All cells at ``res`` whose extent intersects the (closed) bbox.

    Driver-side only: used to turn each polygon into covering-cell rows.
    The explode factor is bounded by the caller's resolution policy
    (``resolution_for_bbox``).
    """
    x0 = axis_index_np(minx, 180.0, 360.0, res)[()]
    x1 = axis_index_np(maxx, 180.0, 360.0, res)[()]
    y0 = axis_index_np(miny, 90.0, 180.0, res)[()]
    y1 = axis_index_np(maxy, 90.0, 180.0, res)[()]
    xs = np.arange(x0, x1 + 1, dtype=np.int64)
    ys = np.arange(y0, y1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    return pack_xy(gx.ravel(), gy.ravel(), res)


def neighbors(cell: int, ring: int = 1) -> np.ndarray:
    """Cells in the square ring at Chebyshev distance ``ring``; ring 1
    plus the cell itself is the numpy twin of ``neighborhood_col``."""
    res, xi, yi = cell_xy(np.asarray([cell]))
    res, xi, yi = int(res[0]), int(xi[0]), int(yi[0])
    n = 1 << res
    offs = []
    for dx in range(-ring, ring + 1):
        for dy in range(-ring, ring + 1):
            if max(abs(dx), abs(dy)) == ring:
                x, y = xi + dx, yi + dy
                if 0 <= x < n and 0 <= y < n:
                    offs.append((x, y))
    if not offs:
        return np.empty(0, dtype=np.int64)
    arr = np.asarray(offs, dtype=np.int64)
    return pack_xy(arr[:, 0], arr[:, 1], res)


def resolution_for_bbox(width: float, height: float, max_cells: int = 256) -> int:
    """Pick the finest resolution at which a bbox covers <= max_cells cells.

    This is the engine's cost decision for the cover-explode factor
    (SURVEY.md §4.2): Alaska-sized shells get coarse cells, counties fine.
    """
    wf = max(width / 360.0, 1e-12)
    hf = max(height / 180.0, 1e-12)
    # cells ~= (wf * 2^r + 1) * (hf * 2^r + 1); solve conservatively
    r = 0
    while r < MAX_RES:
        if (wf * (1 << (r + 1)) + 2) * (hf * (1 << (r + 1)) + 2) > max_cells:
            break
        r += 1
    return r
