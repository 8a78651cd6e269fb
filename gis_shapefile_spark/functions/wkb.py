"""Canonical WKB (ISO well-known binary) codec for the engine's geometry columns.

SURVEY.md §1.2 commits the feature row to carrying a canonical ``wkb: binary``
column next to the ring-array representation (``shape_type, xs, ys,
ring_sizes``); the north-star pipeline decodes "WKB polygons/polylines" with
vectorized pandas/Arrow UDFs. This module is that seam, built from the public
OGC 06-103r4 byte layout — the reference repo has no serialization format of
its own (its ``Geometry`` is an in-memory C++ class hierarchy,
``include/gis/geometry.h:74-142``), so WKB is the interchange encoding the
Spark engine standardizes on.

Shape mapping (shapefile type → WKB geometry, both directions):

* 1 Point        ↔ ``Point`` (wkb type 1)
* 3 PolyLine     ↔ ``MultiLineString`` (wkb type 5) — shapefile polylines are
  inherently multi-part (parts array, shapefile spec p.7), so the multi
  variant is the canonical encoding even for one part; bare ``LineString``
  (2) is accepted on decode.
* 5 Polygon      ↔ ``Polygon`` (wkb type 3) — ring roles stay POSITIONAL
  (first = shell, rest = holes) exactly like the reference's
  ``PolygonGeometry::contains`` (src/shapefile/geometry.cpp:107-116), which
  ignores winding order. ``MultiPolygon`` (6) decodes by concatenating each
  member polygon's rings into one positional ring list (lossy for
  multi-shell geometries, faithful to the reference's single-shell model).

Encoding is little-endian (byte order flag 1), the numpy-native layout;
big-endian WKB is accepted on decode. Coordinates are packed with one
vectorized interleave + ``tobytes`` per geometry — no per-coordinate Python.

Spark surface: ``with_wkb`` / ``from_wkb`` are Arrow-batched ``mapInPandas``
stages over the standard feature schema.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

WKB_POINT = 1
WKB_LINESTRING = 2
WKB_POLYGON = 3
WKB_MULTILINESTRING = 5
WKB_MULTIPOLYGON = 6

SHAPE_POINT = 1
SHAPE_POLYLINE = 3
SHAPE_POLYGON = 5


# ---------------------------------------------------------------------------
# row-level kernels (numpy array in / bytes out)
# ---------------------------------------------------------------------------

def _pack_coords(xs: np.ndarray, ys: np.ndarray) -> bytes:
    out = np.empty(2 * len(xs), dtype="<f8")
    out[0::2] = xs
    out[1::2] = ys
    return out.tobytes()


def encode_row(shape_type: int, xs, ys, ring_sizes) -> bytes | None:
    """One geometry row (engine representation) → WKB bytes."""
    xs = np.asarray(xs, np.float64)
    ys = np.asarray(ys, np.float64)
    sizes = [int(s) for s in ring_sizes]
    if shape_type == SHAPE_POINT and len(xs) >= 1:
        return struct.pack("<BI", 1, WKB_POINT) + _pack_coords(xs[:1], ys[:1])
    if shape_type == SHAPE_POLYLINE and sizes:
        parts = [struct.pack("<BII", 1, WKB_MULTILINESTRING, len(sizes))]
        off = 0
        for n in sizes:
            parts.append(struct.pack("<BII", 1, WKB_LINESTRING, n))
            parts.append(_pack_coords(xs[off:off + n], ys[off:off + n]))
            off += n
        return b"".join(parts)
    if shape_type == SHAPE_POLYGON and sizes:
        parts = [struct.pack("<BII", 1, WKB_POLYGON, len(sizes))]
        off = 0
        for n in sizes:
            parts.append(struct.pack("<I", n))
            parts.append(_pack_coords(xs[off:off + n], ys[off:off + n]))
            off += n
        return b"".join(parts)
    return None


def _read_coords(buf: memoryview, off: int, n: int, bo: str):
    arr = np.frombuffer(buf, dtype=f"{bo}f8", count=2 * n, offset=off)
    return arr[0::2], arr[1::2], off + 16 * n


def decode_row(buf: bytes | None):
    """WKB bytes → ``(shape_type, xs, ys, ring_sizes)`` (engine representation).

    Returns ``(0, [], [], [])`` for null/empty input (shapefile null shape).
    Raises ``ValueError`` on unsupported WKB geometry types.
    """
    if buf is None or len(buf) == 0:
        return 0, np.empty(0), np.empty(0), []
    try:
        return _decode_row(buf)
    except (struct.error, ValueError) as e:
        if isinstance(e, ValueError) and "unsupported WKB" in str(e):
            raise
        raise ValueError(f"malformed or truncated WKB ({len(buf)} bytes): {e}")


def _decode_row(buf: bytes):
    mv = memoryview(buf)

    def header(off: int):
        bo = "<" if mv[off] == 1 else ">"
        (gtype,) = struct.unpack_from(f"{bo}I", mv, off + 1)
        # Reject EWKB flag bits (Z/M/SRID) and ISO Z/M/ZM type codes
        # (1000+): masking them would silently misparse a 3-doubles-per-
        # point stream as 2-D garbage. Only plain 2-D geometries decode.
        if gtype > 6:
            raise ValueError(
                f"unsupported WKB geometry type {gtype} (Z/M/SRID-flagged "
                "or non-2D WKB is not supported)"
            )
        return bo, gtype, off + 5

    bo, gtype, off = header(0)
    if gtype == WKB_POINT:
        xs, ys, _ = _read_coords(mv, off, 1, bo)
        return SHAPE_POINT, xs, ys, [1]
    if gtype == WKB_LINESTRING:
        (n,) = struct.unpack_from(f"{bo}I", mv, off)
        xs, ys, _ = _read_coords(mv, off + 4, n, bo)
        return SHAPE_POLYLINE, xs, ys, [n]
    if gtype == WKB_POLYGON:
        return (SHAPE_POLYGON, *_decode_polygon_body(mv, off, bo)[:3])
    if gtype == WKB_MULTILINESTRING:
        (nparts,) = struct.unpack_from(f"{bo}I", mv, off)
        off += 4
        axs, ays, sizes = [], [], []
        for _ in range(nparts):
            pbo, ptype, off = header(off)
            if ptype != WKB_LINESTRING:
                raise ValueError(f"MultiLineString member type {ptype}")
            (n,) = struct.unpack_from(f"{pbo}I", mv, off)
            x, y, off = _read_coords(mv, off + 4, n, pbo)
            axs.append(x); ays.append(y); sizes.append(n)
        return SHAPE_POLYLINE, np.concatenate(axs), np.concatenate(ays), sizes
    if gtype == WKB_MULTIPOLYGON:
        (npolys,) = struct.unpack_from(f"{bo}I", mv, off)
        off += 4
        axs, ays, sizes = [], [], []
        for _ in range(npolys):
            pbo, ptype, off = header(off)
            if ptype != WKB_POLYGON:
                raise ValueError(f"MultiPolygon member type {ptype}")
            x, y, s, off = _decode_polygon_body(mv, off, pbo)
            axs.append(x); ays.append(y); sizes.extend(s)
        return SHAPE_POLYGON, np.concatenate(axs), np.concatenate(ays), sizes
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def _decode_polygon_body(mv: memoryview, off: int, bo: str):
    (nrings,) = struct.unpack_from(f"{bo}I", mv, off)
    off += 4
    axs, ays, sizes = [], [], []
    for _ in range(nrings):
        (n,) = struct.unpack_from(f"{bo}I", mv, off)
        x, y, off = _read_coords(mv, off + 4, n, bo)
        axs.append(x); ays.append(y); sizes.append(n)
    xs = np.concatenate(axs) if axs else np.empty(0)
    ys = np.concatenate(ays) if ays else np.empty(0)
    return xs, ys, sizes, off


# ---------------------------------------------------------------------------
# Spark stages (Arrow-batched mapInPandas over the feature schema)
# ---------------------------------------------------------------------------


def with_wkb(features: DataFrame, col: str = "wkb") -> DataFrame:
    """Append a canonical ``wkb: binary`` column to a feature DataFrame."""
    from pyspark.sql import types as T

    schema = T.StructType(
        list(features.schema.fields) + [T.StructField(col, T.BinaryType())]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf[col] = [
                encode_row(st, xs, ys, rs)
                for st, xs, ys, rs in zip(
                    pdf["shape_type"], pdf["xs"], pdf["ys"], pdf["ring_sizes"]
                )
            ]
            yield pdf

    return features.mapInPandas(fn, schema=schema)


def from_wkb(
    df: DataFrame, wkb_col: str = "wkb", keep: list[str] | None = None
) -> DataFrame:
    """Decode a WKB binary column into the engine's geometry columns
    (``shape_type, xs, ys, ring_sizes, minx..maxy``), keeping ``keep``
    pass-through columns (default: everything except the WKB column and
    any input column that would collide with a decoded output column —
    so ``from_wkb(with_wkb(df))`` round-trips without pre-selecting)."""
    decoded_cols = {"shape_type", "xs", "ys", "ring_sizes",
                    "minx", "miny", "maxx", "maxy"}
    if keep is None:
        keep = [
            f.name for f in df.schema.fields
            if f.name != wkb_col and f.name not in decoded_cols
        ]
    schema = ", ".join(
        [f"`{c}` {df.schema[c].dataType.simpleString()}" for c in keep]
        + ["shape_type int", "xs array<double>", "ys array<double>",
           "ring_sizes array<int>", "minx double", "miny double",
           "maxx double", "maxy double"]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "shape_type": [], "xs": [], "ys": [], "ring_sizes": [],
                "minx": [], "miny": [], "maxx": [], "maxy": [],
            }
            for buf in pdf[wkb_col]:
                st, xs, ys, sizes = decode_row(buf)
                rows["shape_type"].append(st)
                rows["xs"].append(np.asarray(xs, np.float64))
                rows["ys"].append(np.asarray(ys, np.float64))
                rows["ring_sizes"].append(list(sizes))
                if len(xs):
                    rows["minx"].append(float(np.min(xs)))
                    rows["miny"].append(float(np.min(ys)))
                    rows["maxx"].append(float(np.max(xs)))
                    rows["maxy"].append(float(np.max(ys)))
                else:
                    for k in ("minx", "miny", "maxx", "maxy"):
                        rows[k].append(None)
            out = pdf[keep].reset_index(drop=True)
            for k, v in rows.items():
                out[k] = v
            yield out

    return df.mapInPandas(fn, schema=schema)
