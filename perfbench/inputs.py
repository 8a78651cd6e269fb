"""Seeded inputs and oracle answers for the three workloads.

Everything here is driver-side numpy: the engine receives only the files
written by ``materialize``. The oracle answers come from the numpy twins
of the engine's kernels (``cells.cell_of_numpy`` and
``geometry.polygon_contains_points``), never from the engine's own index
or join, and are computed once per seed beside the inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from gis_shapefile_spark.functions import cells as C
from gis_shapefile_spark.functions import geometry as G
from gis_shapefile_spark.sources import fixtures as FX

# Bump when generation changes, so stale caches are never served.
GEN_VERSION = 2
N_FILES = 8            # parquet files per table: one scan split each
WARM_ROWS = 100_000    # rows of the warm-up slice (same schema, same plan)
KEEP_CACHES = 4        # newest per-seed caches kept on disk

# Full-size loads (rows); ``scale`` multiplies them.
SIZES = {"pip_points": 2_000_000, "image_tiles": 20_000, "skew_checkpoint": 1_000_000}
RES = {"pip_points": 10, "image_tiles": 8, "skew_checkpoint": 8}
CITY = FX.URBAN_CENTER
FMT_MIX = (("raw", 0.35), ("qz", 0.35), ("png", 0.15), ("jpeg", 0.15))
IMAGE_POOL = 4  # each distinct encoded image serves this many rows


def state_features() -> pd.DataFrame:
    """The 51 jittered state polygons (some holed) without degenerate rows."""
    f = FX.make_features()
    keep = (f["shape_type"] == 5) & ~f["deleted"].astype(bool)
    return f[keep].reset_index(drop=True)


def grid_features() -> pd.DataFrame:
    return FX.make_grid_features()


def features_for(workload: str) -> pd.DataFrame:
    return grid_features() if workload == "image_tiles" else state_features()


# ---------------------------------------------------------------------------
# generators (the benchmark's own RNG; seed -> identical inputs)
# ---------------------------------------------------------------------------

def _rng(seed: int, workload: str) -> np.random.Generator:
    tag = int.from_bytes(hashlib.sha256(workload.encode()).digest()[:4], "little")
    return np.random.default_rng([int(seed), tag, GEN_VERSION])


def _conus(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    x0, y0, x1, y1 = FX.CANVAS
    return rng.uniform(x0, x1, n), rng.uniform(y0, y1, n)


def gen_pip_points(seed: int, n: int) -> pd.DataFrame:
    """80% uniform over CONUS, 20% in one Gaussian city cluster."""
    rng = _rng(seed, "pip_points")
    n_city = n // 5
    ux, uy = _conus(rng, n - n_city)
    cx = CITY[0] + rng.normal(0.0, 0.1, n_city)
    cy = CITY[1] + rng.normal(0.0, 0.1, n_city)
    order = rng.permutation(n)
    lng = np.concatenate([ux, cx])[order]
    lat = np.concatenate([uy, cy])[order]
    return pd.DataFrame({"point_id": np.arange(n, dtype=np.int64), "lng": lng, "lat": lat})


def hot_cell(res: int) -> int:
    return int(C.cell_of_numpy(np.array([CITY[0]]), np.array([CITY[1]]), res)[0])


def gen_skew_points(seed: int, n: int, res: int) -> pd.DataFrame:
    """Half uniform over CONUS, half uniform inside one res-``res`` cell."""
    rng = _rng(seed, "skew_checkpoint")
    n_hot = n // 2
    ux, uy = _conus(rng, n - n_hot)
    x0, y0, x1, y1 = (float(v[0]) for v in C.cell_bounds(np.array([hot_cell(res)])))
    # shrink by 1e-9 so float rounding never pushes a point out of the cell
    hx = rng.uniform(x0 + 1e-9, x1 - 1e-9, n_hot)
    hy = rng.uniform(y0 + 1e-9, y1 - 1e-9, n_hot)
    order = rng.permutation(n)
    lng = np.concatenate([ux, hx])[order]
    lat = np.concatenate([uy, hy])[order]
    return pd.DataFrame({"point_id": np.arange(n, dtype=np.int64), "lng": lng, "lat": lat})


def gen_images(seed: int, n: int, w: int = 16, h: int = 16) -> pd.DataFrame:
    """Image+caption table: (image_id, bytes, w, h, fmt, caption, phash, lng, lat).

    Encoded with the public ``fixtures.encode_image``; ``phash`` is the
    ``fixtures.phash64`` of the decoded pixels, so every row's phash check
    is true by construction. A pool of n/IMAGE_POOL distinct images keeps
    generation (JPEG encode is pure numpy) short; every row is decoded by
    the engine regardless.
    """
    rng = _rng(seed, "image_tiles")
    n_pool = max(1, n // IMAGE_POOL)
    names = [f for f, _ in FMT_MIX]
    probs = [p for _, p in FMT_MIX]
    pool_fmt = rng.choice(len(names), size=n_pool, p=probs)
    pool_bytes, pool_phash = [], []
    for k in range(n_pool):
        fmt = names[pool_fmt[k]]
        pix = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        data = FX.encode_image(pix, fmt)
        pool_bytes.append(data)
        pool_phash.append(FX.phash64(FX.decode_image(data, w, h, fmt)))
    pick = rng.integers(0, n_pool, n)
    n_city = n // 5
    ux, uy = _conus(rng, n - n_city)
    lng = np.concatenate([ux, CITY[0] + rng.normal(0.0, 0.1, n_city)])
    lat = np.concatenate([uy, CITY[1] + rng.normal(0.0, 0.1, n_city)])
    order = rng.permutation(n)
    ids = [f"img_{i:09d}" for i in range(n)]
    return pd.DataFrame({
        "image_id": ids,
        "bytes": [pool_bytes[j] for j in pick],
        "w": np.full(n, w, np.int32),
        "h": np.full(n, h, np.int32),
        "fmt": [names[pool_fmt[j]] for j in pick],
        "caption": [f"caption of {i}: scene #{k % 97}" for k, i in enumerate(ids)],
        "phash": np.array([pool_phash[j] for j in pick], np.int64),
        "lng": lng[order],
        "lat": lat[order],
    })


# ---------------------------------------------------------------------------
# oracles (numpy twins only)
# ---------------------------------------------------------------------------

def assign_polygons(lng: np.ndarray, lat: np.ndarray, features: pd.DataFrame,
                    chunk: int = 100_000) -> np.ndarray:
    """record_number of the lowest-numbered polygon containing each point
    (0 = none): the ``dedup_first=True`` tie-break, by brute force."""
    out = np.zeros(len(lng), np.int64)
    for _, row in features.sort_values("record_number").iterrows():
        xs = np.asarray(row["xs"], np.float64)
        ys = np.asarray(row["ys"], np.float64)
        offs = np.concatenate([[0], np.cumsum(row["ring_sizes"])])
        rx = [xs[offs[i]:offs[i + 1]] for i in range(len(offs) - 1)]
        ry = [ys[offs[i]:offs[i + 1]] for i in range(len(offs) - 1)]
        cand = np.nonzero(
            (out == 0) & (lng >= xs.min()) & (lng <= xs.max())
            & (lat >= ys.min()) & (lat <= ys.max())
        )[0]
        for s in range(0, len(cand), chunk):
            idx = cand[s:s + chunk]
            inside = G.polygon_contains_points(rx, ry, lng[idx], lat[idx])
            out[idx[inside]] = int(row["record_number"])
    return out


def counts_oracle(pdf: pd.DataFrame, features: pd.DataFrame) -> dict[str, int]:
    rec = assign_polygons(pdf["lng"].to_numpy(), pdf["lat"].to_numpy(), features)
    vals, cnt = np.unique(rec[rec > 0], return_counts=True)
    return {str(int(v)): int(c) for v, c in zip(vals, cnt)}


def tiles_oracle(pdf: pd.DataFrame, features: pd.DataFrame, res: int) -> dict[str, list[int]]:
    """{"rec:cell": [n_images, n_bytes, n_phash_ok]}; rec 0 = no polygon."""
    lng, lat = pdf["lng"].to_numpy(), pdf["lat"].to_numpy()
    rec = assign_polygons(lng, lat, features)
    cell = C.cell_of_numpy(lng, lat, res)
    nbytes = np.fromiter((len(b) for b in pdf["bytes"]), np.int64, len(pdf))
    g = pd.DataFrame({"rec": rec, "cell": cell, "nb": nbytes}).groupby(["rec", "cell"])
    agg = g["nb"].agg(["size", "sum"])
    return {f"{r}:{c}": [int(n), int(b), int(n)] for (r, c), (n, b) in agg.iterrows()}


# ---------------------------------------------------------------------------
# per-seed cache
# ---------------------------------------------------------------------------

def _write_table(pdf: pd.DataFrame, d: str) -> None:
    os.makedirs(d)
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    step = -(-len(pdf) // N_FILES)
    for i in range(N_FILES):
        part = tbl.slice(i * step, step)
        if part.num_rows:
            # several row groups per file so scans split evenly
            pq.write_table(part, os.path.join(d, f"part-{i:02d}.parquet"),
                           row_group_size=max(part.num_rows // 4, 64))


def digest(pdf: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for col in pdf.columns:
        v = pdf[col]
        if v.dtype == object:
            for x in v:
                h.update(x if isinstance(x, bytes) else str(x).encode())
        else:
            h.update(np.ascontiguousarray(v.to_numpy()).tobytes())
    return h.hexdigest()


def generate(workload: str, seed: int, n: int) -> tuple[pd.DataFrame, dict]:
    """(input frame, oracle) for one workload and seed."""
    res = RES[workload]
    feats = features_for(workload)
    if workload == "pip_points":
        pdf = gen_pip_points(seed, n)
        return pdf, {"counts": counts_oracle(pdf, feats)}
    if workload == "skew_checkpoint":
        pdf = gen_skew_points(seed, n, res)
        hot = int((C.cell_of_numpy(pdf["lng"].to_numpy(), pdf["lat"].to_numpy(), res)
                   == hot_cell(res)).sum())
        return pdf, {"counts": counts_oracle(pdf, feats), "hot_rows": hot}
    if workload == "image_tiles":
        pdf = gen_images(seed, n)
        return pdf, {"tiles": tiles_oracle(pdf, feats, res)}
    raise ValueError(f"unknown workload {workload!r}")


def build(cache_root: str, workload: str, seed: int, n: int) -> None:
    """Generate (workload, seed, n) into its cache directory, if missing.

    The directory is published with one rename, so a killed run never
    leaves a half-written cache.
    """
    key = f"{workload}-v{GEN_VERSION}-n{n}-s{seed}"
    d = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(d, "meta.json")):
        return
    pdf, oracle = generate(workload, seed, n)
    tmp = os.path.join(cache_root, f".tmp-{key}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _write_table(pdf, os.path.join(tmp, "data"))
    warm = pdf.iloc[: min(WARM_ROWS, max(n // 10, 1))]
    _write_table(warm, os.path.join(tmp, "warm"))
    meta = {"workload": workload, "seed": seed, "rows": int(n),
            "warm_rows": int(len(warm)), "digest": digest(pdf), "oracle": oracle}
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    _evict(cache_root, keep=d)


def materialize(cache_root: str, workload: str, seed: int, n: int) -> dict:
    """Generate-once inputs + oracle for (workload, seed, n) under ``cache_root``.

    Generation runs in a child process, so its memory never counts toward
    the caller's RSS. Returns the cache's meta: paths, rows, digest, oracle
    and the seconds generation took (0.0 on a cache hit).
    """
    d = os.path.join(cache_root, f"{workload}-v{GEN_VERSION}-n{n}-s{seed}")
    t0 = time.perf_counter()
    gen_s = 0.0
    if not os.path.exists(os.path.join(d, "meta.json")):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        subprocess.run([sys.executable, "-m", "perfbench.inputs", cache_root,
                        workload, str(seed), str(n)], cwd=root, check=True)
        gen_s = time.perf_counter() - t0
    with open(os.path.join(d, "meta.json")) as fh:
        meta = json.load(fh)
    meta.update(data=os.path.join(d, "data"), warm=os.path.join(d, "warm"), gen_s=gen_s)
    return meta


def _evict(cache_root: str, keep: str) -> None:
    entries = [
        os.path.join(cache_root, e) for e in os.listdir(cache_root)
        if not e.startswith(".")
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for e in entries[KEEP_CACHES:]:
        if e != keep:
            shutil.rmtree(e, ignore_errors=True)


if __name__ == "__main__":
    build(sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))
