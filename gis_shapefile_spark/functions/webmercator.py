"""Web-Mercator XYZ map tiles (slippy-map scheme) + Bing quadkeys.

The engine's internal cell index (``functions/cells.py``) quantizes raw
lng/lat degrees — right for the reference's planar predicates
(``src/geocoding/geocoder.cpp:463-468``: Euclidean on degrees, "not
geodesic"). A map-serving image pipeline, though, addresses tiles in the
EPSG:3857 Web-Mercator XYZ scheme every slippy map uses (OpenStreetMap
tile-name convention):

    x = floor((lng + 180) / 360 * 2^z)
    y = floor((1 - asinh(tan(lat)) / pi) / 2 * 2^z),  lat clamped to
        +-85.05112878 deg (the square Mercator world)

This module gives that scheme the same three synchronized forms as
``cells.py`` — a dual-dialect SQL builder (Spark codegen + DuckDB
oracle, IDENTICAL expression text so IEEE evaluation matches), a numpy
twin, and a packed BIGINT id in the SAME (res << 56 | morton) layout —
so ``cells.parent_sql`` / ``tile_pyramid`` / the cell-partitioned layout
fold web-mercator tiles with zero new operator code. Quadkeys fall out
for free: the Bing quadkey's base-4 digits ARE the morton code's 2-bit
groups, most-significant first.

Determinism note: asinh(tan(lat)) is spelled ``ln(tan(r) + 1/cos(r))``
with byte-identical text in both dialects (CLAUDE.md rule — Spark and
DuckDB both evaluate IEEE doubles through libm-quality tan/cos/ln; a
last-ulp divergence could only flip a tile at a boundary measure-zero
set, same exposure the repo's floor(x*1e6) canon already accepts).
"""

from __future__ import annotations

import math

import numpy as np

from .cells import MORTON_MASK, _shr, cell_xy, pack_xy, pack_xy_sql

MAX_LAT = 85.05112878  # Web-Mercator square-world latitude clamp
MAX_Z = 26  # same budget as cells.MAX_RES (52-bit morton)


# ---------------------------------------------------------------------------
# SQL builders (identical text in Spark SQL and DuckDB)
# ---------------------------------------------------------------------------

def tile_x_sql(lng: str, z: int, dialect: str = "spark") -> str:
    n = 1 << z
    return (
        f"least({n - 1}, greatest(0, "
        f"cast(floor((({lng}) + 180.0) / 360.0 * {n}.0) as bigint)))"
    )


def tile_y_sql(lat: str, z: int, dialect: str = "spark") -> str:
    n = 1 << z
    lat_c = f"least({MAX_LAT}, greatest(-{MAX_LAT}, ({lat})))"
    rad = f"(({lat_c}) * pi() / 180.0)"
    # asinh(tan(r)) == ln(tan(r) + 1/cos(r)); sec spelled via cos so the
    # expression parses in both dialects with the same IEEE tree
    merc = f"ln(tan({rad}) + 1.0 / cos({rad}))"
    return (
        f"least({n - 1}, greatest(0, "
        f"cast(floor((1.0 - {merc} / pi()) / 2.0 * {n}.0) as bigint)))"
    )


def wm_cell_sql(lng: str, lat: str, z: int, dialect: str = "spark") -> str:
    """Packed web-mercator tile id: (z << 56) | morton(x, y).

    Same layout as ``cells.cell_sql`` ids, so ``cells.parent_sql`` (and
    therefore ``tile_pyramid`` / ``tile_pyramid_delta`` / the
    cell-partitioned storage layout) work on web-mercator tiles
    unchanged — parent of (z, x, y) is (z-1, x>>1, y>>1), exactly the
    2-bit morton shift parent_sql performs.
    """
    if not 0 <= z <= MAX_Z:
        raise ValueError(f"z must be in [0, {MAX_Z}]")
    return pack_xy_sql(tile_x_sql(lng, z, dialect), tile_y_sql(lat, z, dialect),
                       z, dialect)


def quadkey_sql(cell: str, z: int, dialect: str = "spark") -> str:
    """Bing quadkey string of a packed web-mercator tile id at level z.

    The quadkey's i-th base-4 digit (most significant first) is
    2*y_bit + x_bit at that level — exactly the (z-i)-th 2-bit group of
    the morton code, so the quadkey is the base-4 rendering of the
    morton code, z digits, leading zeros kept. z concat terms of pure
    integer bit math per row; z=0 yields the empty-string world key.
    """
    if z == 0:
        return "''"
    morton = f"(({cell}) & {MORTON_MASK})"
    digits = [
        f"cast(({_shr(morton, 2 * (z - 1 - i), dialect)}) & 3 as string)"
        for i in range(z)
    ]
    return f"concat({', '.join(digits)})"


# ---------------------------------------------------------------------------
# numpy twins (dimension prep, rendering, test oracle)
# ---------------------------------------------------------------------------

def tile_xy_np(lng, lat, z: int) -> tuple[np.ndarray, np.ndarray]:
    n = 1 << z
    lng = np.asarray(lng, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MAX_LAT, MAX_LAT)
    x = np.clip(np.floor((lng + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    r = lat * math.pi / 180.0
    merc = np.log(np.tan(r) + 1.0 / np.cos(r))
    y = np.clip(np.floor((1.0 - merc / math.pi) / 2.0 * n), 0, n - 1).astype(np.int64)
    return x, y


def wm_cell_of_numpy(lng, lat, z: int) -> np.ndarray:
    x, y = tile_xy_np(lng, lat, z)
    return pack_xy(x, y, z)


def quadkey_of_numpy(cells) -> np.ndarray:
    """Quadkey strings for packed web-mercator ids (z from the id)."""
    z, x, y = cell_xy(np.asarray(cells, dtype=np.int64))
    out = []
    for zi, xi, yi in zip(z.tolist(), x.tolist(), y.tolist()):
        out.append(
            "".join(
                str((((yi >> k) & 1) << 1) | ((xi >> k) & 1))
                for k in range(zi - 1, -1, -1)
            )
        )
    return np.asarray(out, dtype=object)


def tile_bounds_np(cells) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(west, south, east, north) in degrees of packed web-mercator ids —
    the render-side inverse (tile -> lat via atan(sinh))."""
    z, x, y = cell_xy(np.asarray(cells, dtype=np.int64))
    n = (1 << z).astype(np.float64)
    west = x / n * 360.0 - 180.0
    east = (x + 1) / n * 360.0 - 180.0

    def lat_of(yy):
        return np.degrees(np.arctan(np.sinh(math.pi * (1.0 - 2.0 * yy / n))))

    north = lat_of(y.astype(np.float64))
    south = lat_of(y.astype(np.float64) + 1.0)
    return west, south, east, north
