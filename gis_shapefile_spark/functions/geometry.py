"""Vectorized geometry kernels (numpy over Arrow batches).

Reimplements, batch-vectorized, the reference's geometry semantics:

* ray-cast even-odd point-in-ring  — ``src/shapefile/geometry.cpp:87-103``
* polygon contains = inside ring 0 (shell) AND inside no later ring (hole);
  ring role is positional, winding ignored — ``geometry.cpp:106-118``

The bbox predicates (``geometry.cpp:9-17``) and the Euclidean-on-degrees
distance (``geocoder.cpp:463-468``) are column expressions inside the
joins that use them (``spatial_join.bbox_join``, ``within_distance_join``).

Geometry wire format used everywhere in the engine (never a Python object
per row): flattened vertex arrays + ring-size offsets —
``xs: array<double>, ys: array<double>, ring_sizes: array<int>`` — which map
1:1 onto Arrow ListArrays, so pandas_udf batches see contiguous buffers.

The numpy PIP kernel (``polygon_contains_points``) classifies cells and
sub-cells when the polygon index is built, and is the oracle of the tests;
it evaluates one (points x edges) crossing matrix per ring — no per-row
Python loops. The join's exact refine runs in the JVM:
``polygon_contains_sql`` is the same ray-cast as a Spark SQL
higher-order-function expression.
"""

from __future__ import annotations

import numpy as np


# ---------------------------------------------------------------------------
# point-in-polygon, batch-vectorized
# ---------------------------------------------------------------------------

def _ring_crossings(px_e, py_e, x1, y1, x2, y2) -> np.ndarray:
    """Per-edge ray-cast predicate, exactly geometry.cpp:96-99.

    Edge (pi=(x1,y1) -> pj=(x2,y2)); crossing iff
    ``(y1 > py) != (y2 > py)`` and ``px < (x2-x1)*(py-y1)/(y2-y1) + x1``.
    """
    straddles = (y1 > py_e) != (y2 > py_e)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1) * (py_e - y1) / (y2 - y1) + x1
    return straddles & (px_e < xint)


def ring_crossing_sql(px: str, py: str, e: str) -> str:
    """Spark SQL twin of ``_ring_crossings`` for one edge struct ``e``
    with fields ``x1, y1`` (vertex i) and ``x2, y2`` (the previous vertex).

    The intersection is the numpy arithmetic token for token, so both
    engines round identically. The division runs only when the edge
    straddles ``py`` (ANSI mode raises on a zero divisor, and a
    non-straddling edge is never a crossing).
    """
    return (
        f"(CASE WHEN ({e}.y1 > {py}) != ({e}.y2 > {py}) "
        f"THEN {px} < ({e}.x2 - {e}.x1) * ({py} - {e}.y1) / ({e}.y2 - {e}.y1) + {e}.x1 "
        f"ELSE false END)"
    )


def polygon_contains_sql(px: str, py: str, shell: str, holes: str) -> str:
    """Spark SQL ray-cast over edge-struct arrays: inside ``shell`` (ring 0)
    AND inside none of ``holes`` (the later rings, one edge array each) —
    ``polygon_contains_points`` semantics for any number of rings.

    Each ring's crossing parity folds with ``aggregate`` (JVM codegen, no
    UDF). Callers may omit edges that cannot straddle ``py`` and rings
    left with no edges: neither changes any parity.
    """
    def parity(ring: str) -> str:
        return f"aggregate({ring}, false, (odd, e) -> odd != {ring_crossing_sql(px, py, 'e')})"

    return f"({parity(shell)} AND NOT exists({holes}, h -> {parity('h')}))"


def polygon_contains_points(
    ring_xs: list[np.ndarray], ring_ys: list[np.ndarray], px: np.ndarray, py: np.ndarray
) -> np.ndarray:
    """Single polygon vs many points (convenience/oracle path)."""
    px = np.asarray(px, np.float64)
    py = np.asarray(py, np.float64)
    R = px.shape[0]
    if not ring_xs:
        return np.zeros(R, dtype=bool)
    inside = np.zeros(R, dtype=bool)
    for k, (rx, ry) in enumerate(zip(ring_xs, ring_ys)):
        rx = np.asarray(rx, np.float64)
        ry = np.asarray(ry, np.float64)
        x1, y1 = rx, ry
        x2 = np.roll(rx, 1)
        y2 = np.roll(ry, 1)
        cross = _ring_crossings(
            px[:, None], py[:, None], x1[None, :], y1[None, :], x2[None, :], y2[None, :]
        )
        in_ring = (cross.sum(axis=1) & 1).astype(bool)
        if k == 0:
            inside = in_ring
        else:
            inside &= ~in_ring
    return inside


def simplify_ring(
    x: np.ndarray, y: np.ndarray, epsilon: float
) -> tuple[np.ndarray, np.ndarray]:
    """Douglas-Peucker ring simplification (iterative, numpy distances).

    Keeps every vertex whose perpendicular distance from the chord of its
    enclosing kept-segment exceeds ``epsilon``. Rings (closed) anchor on
    the first vertex and the farthest vertex from it, guaranteeing >= 3
    surviving vertices. Used to thin polygon outlines before per-tile
    rasterization — at tile pixel size p, epsilon ~ p/2 is visually
    lossless while cutting ray-cast edge counts.
    """
    n = len(x)
    if n <= 3:
        return x.copy(), y.copy()
    d0 = (x - x[0]) ** 2 + (y - y[0]) ** 2
    anchor = int(np.argmax(d0))
    keep = np.zeros(n, dtype=bool)
    keep[[0, anchor]] = True
    stack = [(0, anchor), (anchor, n - 1)]
    keep[n - 1] = True
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        sx, sy = x[i], y[i]
        exx, eyy = x[j], y[j]
        dx, dy = exx - sx, eyy - sy
        seg = x[i + 1: j], y[i + 1: j]
        L2 = dx * dx + dy * dy
        if L2 == 0.0:
            d = np.sqrt((seg[0] - sx) ** 2 + (seg[1] - sy) ** 2)
        else:
            d = np.abs(dy * seg[0] - dx * seg[1] + exx * sy - eyy * sx) / np.sqrt(L2)
        m = int(np.argmax(d))
        if d[m] > epsilon:
            k = i + 1 + m
            keep[k] = True
            stack.append((i, k))
            stack.append((k, j))
    return x[keep], y[keep]


def simplify_features(features_pdf, epsilon: float):
    """Simplify every ring of every polygon row in a feature frame
    (driver-side, dimension-scale), recomputing ring_sizes; bounds are
    preserved exactly only when their extreme vertices survive — callers
    needing exact bounds keep the originals (they are stored columns)."""
    import pandas as pd

    out = features_pdf.copy()
    new_xs, new_ys, new_sizes = [], [], []
    for _, row in features_pdf.iterrows():
        if row["shape_type"] != 5 or len(row["ring_sizes"]) == 0:
            new_xs.append(row["xs"]); new_ys.append(row["ys"])
            new_sizes.append(row["ring_sizes"])
            continue
        xs = np.asarray(row["xs"], np.float64)
        ys = np.asarray(row["ys"], np.float64)
        offs = np.concatenate([[0], np.cumsum(row["ring_sizes"])])
        rx, ry, sizes = [], [], []
        for i in range(len(row["ring_sizes"])):
            sx, sy = simplify_ring(
                xs[offs[i]: offs[i + 1]], ys[offs[i]: offs[i + 1]], epsilon
            )
            rx.append(sx); ry.append(sy); sizes.append(len(sx))
        new_xs.append(np.concatenate(rx).tolist())
        new_ys.append(np.concatenate(ry).tolist())
        new_sizes.append(sizes)
    out["xs"] = new_xs
    out["ys"] = new_ys
    out["ring_sizes"] = new_sizes
    return out


# ---------------------------------------------------------------------------
# ring measures (engine addition — the reference computes only bounds).
# Dual-dialect SQL over the flattened-array wire format: higher-order
# functions only (JVM codegen in Spark / native list kernels in DuckDB),
# no UDFs. Integerized per-EDGE (floor(term * 1e6) as BIGINT before the
# sum) so the reduction is an exact integer in any accumulation order —
# the cross-engine determinism rule for float aggregates.
# ---------------------------------------------------------------------------

_SCALE_DBL = "CAST(1000000 AS DOUBLE)"


def _edge_sum_sql(xs: str, ys: str, term: str, dialect: str) -> str:
    """SUM over edges i=1..n-1 of integerized ``term`` (uses x1,y1,x2,y2).

    ``term`` is a SQL template over ``{x1} {y1} {x2} {y2}`` (vertex i and
    i+1). Rings arrive closed (first vertex repeated last), so the edge
    range covers the full boundary.

    Degenerate rings (< 2 vertices) sum to 0 in BOTH dialects: Spark's
    ``sequence(1, 0)`` counts DOWN (same hazard CASE-gated in
    text_analysis.py::shingles_sql), so the range is gated; DuckDB's
    empty ``range`` already yields NULL -> coalesce 0.
    """
    if dialect == "spark":
        x1, y1 = f"element_at({xs}, i)", f"element_at({ys}, i)"
        x2, y2 = f"element_at({xs}, i + 1)", f"element_at({ys}, i + 1)"
        t = term.format(x1=x1, y1=y1, x2=x2, y2=y2)
        return (
            f"(CASE WHEN size({xs}) >= 2 THEN "
            f"aggregate(sequence(1, size({xs}) - 1), CAST(0 AS BIGINT), "
            f"(acc, i) -> acc + CAST(floor(({t}) * {_SCALE_DBL}) AS BIGINT)) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    x1, y1 = f"{xs}[i]", f"{ys}[i]"
    x2, y2 = f"{xs}[i + 1]", f"{ys}[i + 1]"
    t = term.format(x1=x1, y1=y1, x2=x2, y2=y2)
    return (
        f"CAST(coalesce(list_sum(list_transform(range(1, len({xs})), "
        f"i -> CAST(floor(({t}) * {_SCALE_DBL}) AS BIGINT))), 0) AS BIGINT)"
    )


def ring_area2_sql(xs: str, ys: str, dialect: str = "spark") -> str:
    """Signed shoelace 2*area of one closed ring, integerized (1e-6 units).

    Sign follows vertex order; callers combine rings by POSITIONAL role
    (ring 0 shell minus later holes), matching the engine's PIP convention
    (geometry.cpp:106-118 ignores winding too).
    """
    return _edge_sum_sql(
        xs, ys, "{x1} * {y2} - {x2} * {y1}", dialect
    )


def ring_perim_sql(xs: str, ys: str, dialect: str = "spark") -> str:
    """Ring perimeter in Euclidean degrees, integerized (1e-6 units).

    Per-edge sqrt is a single IEEE op on identical inputs, exact in both
    engines; the floor-then-sum makes the total order-independent.
    """
    return _edge_sum_sql(
        xs,
        ys,
        "sqrt(({x2} - {x1}) * ({x2} - {x1}) + ({y2} - {y1}) * ({y2} - {y1}))",
        dialect,
    )


def ring_centroid_num_sql(xs: str, ys: str, axis: str, dialect: str = "spark") -> str:
    """Numerator of the shoelace (area-weighted) ring centroid for one
    axis, integerized per edge: ``sum floor((c1 + c2) * cross * 1e6)``
    where ``cross = x1*y2 - x2*y1``. Divide by ``3 * area2`` (in the same
    1e-6 units) for the centroid coordinate — the reference only ever
    computes bbox CENTERS (geocoder.cpp centroid = bbox midpoint); this
    is the exact polygon centroid the bbox approximation stands in for.
    """
    if axis == "x":
        c1, c2 = "{x1}", "{x2}"
    elif axis == "y":
        c1, c2 = "{y1}", "{y2}"
    else:
        raise ValueError(f"axis must be 'x' or 'y', got {axis!r}")
    return _edge_sum_sql(
        xs,
        ys,
        f"(({c1}) + ({c2})) * ({{x1}} * {{y2}} - {{x2}} * {{y1}})",
        dialect,
    )
