"""Image decode kernel microbench: one process, no Spark.

Runs the image stages' decode kernel (``multimodal._decode_stacks`` +
``fixtures.phash64_batch``) over the perfbench ``image_tiles`` input, cut
into task-sized batches as a 3-task ``local[3]`` run sees it, and reports
microseconds per image per codec. Then, for JPEG alone:

- the entropy decode per image at several lane counts, per-image loop
  (``jpeg._decode_scan``) against lockstep (``jpeg._lockstep_scan``),
  interleaved, minimum per leg: where the lockstep gets cheaper is the
  break-even that sets ``jpeg.LOCKSTEP_MIN_LANES``;
- whether ``decode_jpeg_batch`` equals ``decode_jpeg`` byte for byte on
  every JPEG of the input.

    python tools/image_kernel_bench.py [--seed 41] [--reps 5]
"""

from __future__ import annotations

import argparse
import os
import platform
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402

from gis_shapefile_spark.functions import jpeg as J  # noqa: E402
from gis_shapefile_spark.operators import multimodal as MM  # noqa: E402
from gis_shapefile_spark.sources import fixtures as FX  # noqa: E402
from perfbench import inputs  # noqa: E402

TASKS = 3  # perfbench's local[N] on a 4-vCPU host
LANES = (8, 16, 24, 32, 48, 64, 96, 128, 256)


def codec_kernel(pdf, reps: int) -> dict[str, float]:
    """Minimum over reps of the summed decode + phash seconds per codec."""
    batches = np.array_split(np.arange(len(pdf)), TASKS)
    best: dict[str, float] = {}
    for _ in range(reps):
        spent: dict[str, float] = {}
        for rows in batches:
            stacks = MM._decode_stacks(pdf.iloc[rows].reset_index(drop=True))
            while True:
                t0 = time.perf_counter()
                try:
                    _poss, fmt, stack = next(stacks)
                except StopIteration:
                    break
                FX.phash64_batch(stack)
                spent[fmt] = spent.get(fmt, 0.0) + time.perf_counter() - t0
        for fmt, s in spent.items():
            best[fmt] = min(best.get(fmt, s), s)
    return best


def lane_sweep(jpegs: list[bytes], reps: int) -> list[tuple[int, float, float]]:
    """(lanes, per-image loop us/image, lockstep us/image), entropy only."""
    hdrs = [J._parse_header(d) for d in jpegs]
    out = []
    for n in LANES:
        datas, hs = jpegs[:n], hdrs[:n]
        starts = [h.scan_start for h in hs]
        loop = step = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            for d, h in zip(datas, hs):
                J._decode_scan(d, h)
            t1 = time.perf_counter()
            J._lockstep_scan(datas, starts, hs[0])
            t2 = time.perf_counter()
            loop, step = min(loop, t1 - t0), min(step, t2 - t1)
        out.append((n, 1e6 * loop / n, 1e6 * step / n))
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=41)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()
    pdf, _meta = inputs.generate("image_tiles", args.seed, inputs.SIZES["image_tiles"])
    print(f"host: {os.cpu_count()} cpus, {platform.processor() or platform.machine()}, "
          f"numpy {np.__version__}; seed {args.seed}, {len(pdf)} images, "
          f"{TASKS} task-sized batches")
    counts = pdf["fmt"].value_counts().to_dict()
    for fmt, s in sorted(codec_kernel(pdf, args.reps).items()):
        print(f"kernel {fmt:5s} {1e6 * s / counts[fmt]:8.1f} us/image ({counts[fmt]} images)")
    jpegs = list(pdf.loc[pdf["fmt"] == "jpeg", "bytes"])
    print(f"jpeg lanes per task: {len(jpegs) // TASKS}")
    for n, loop, step in lane_sweep(jpegs, args.reps):
        print(f"entropy {n:4d} lanes: loop {loop:7.1f} us/image, lockstep {step:7.1f} "
              f"us/image ({loop / step:4.2f}x)")
    batch = J.decode_jpeg_batch(jpegs)
    same = all(np.array_equal(a, J.decode_jpeg(d)) for a, d in zip(batch, jpegs))
    print(f"decode_jpeg_batch == decode_jpeg on all {len(jpegs)} JPEGs: {same}")


if __name__ == "__main__":
    main()
