"""Benchmark harness: spatial-join + tiling throughput and scaling evidence.

Prints ONE JSON line: warm-min seconds per entry (``queries``), their
``counts``, ``value`` = the sum over CORE, the N-vs-4N ``scaling`` pairs,
the ``host`` shape and the ``budget`` (elapsed, shed entries).

The point side is synthesized in-Spark (deterministic integer expressions,
sf0.1 -> 6M points) with a 20% hot cluster in one urban cell; the polygon
side is the 51 jittered+holed state fixture.

Order: the scaling pairs first, then one suite session runs ENTRIES in
table order, CORE first and never shed, so ``value`` always sums the
same entries. Anything else runs only if ``admit`` says it still fits.

Scaling (BASELINE.json north rule; no real cluster here): the same PIP
join over identical generated input at local[N] and local[4N] with
4N <= CPUS; efficiency per pair = (T_N / T_4N) / 4, headline = median.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default nproc).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from functools import cached_property
from typing import Callable, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np
from pyspark.sql import SparkSession, functions as F

from gis_shapefile_spark.functions import cells as C
from gis_shapefile_spark.operators import dedup as DD
from gis_shapefile_spark.operators import multimodal as MM
from gis_shapefile_spark.operators import sessionize as SE
from gis_shapefile_spark.operators import similarity as SIM
from gis_shapefile_spark.operators import spatial_join as SJ
from gis_shapefile_spark.operators import tiling as TI
from gis_shapefile_spark.session import get_spark, host_cpus, mem_total_mb
from gis_shapefile_spark.sources import fixtures as FX

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or host_cpus())

# Wall-clock budget for the whole run; an external timeout past it would
# record nothing, so entries that no longer fit are shed and listed.
BUDGET_S = 420.0
# Recorded pair count (r05's); the median needs >= 2 to survive one spike.
SCALING_PAIRS = 2
# Best-window wall of one scaling pair: two sessions (start, warm-up,
# floor) plus 2 reps of each leg, and the one-off calibration on pair 0.
PAIR_EST_S = 90.0
# 4N-leg target: at 6 s the ~0.5 s per-job floor is ~10% of the leg; the
# calibration stretches it to 10 x the measured floor, capped at 8 s.
T4N_TARGET_S = 6.0
# Watchdog per scaling job: a hung leg (a crashed Python worker) is
# cancelled instead of eating the budget.
SCALE_JOB_TIMEOUT_S = 240.0

# points per SF: sf encodes via lineitem rows ~ 6M * sf
_SF = 0.1 if "sf0.1" in SF_DIR else (0.01 if "sf0.01" in SF_DIR else 0.001)
N_POINTS = int(60_000_000 * _SF)  # sf0.1 -> 6M synthetic image points
PYR_LEVELS = [10, 7, 4]


def _dbg(msg: str) -> None:
    """Stage trace on stderr; stdout carries only the JSON line."""
    print(f"[bench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr)


def _session(master: str) -> SparkSession:
    return get_spark(
        app_name="bench",
        master=master,
        shuffle_partitions=max(8, int(master.split("[")[1].rstrip("]"))),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def synth_points(spark: SparkSession, n: int, hot_mod: int = 5):
    """Deterministic image-point table: uniform CONUS + a hot cluster
    holding 1/``hot_mod`` of the rows (default 20%).

    Pure integer/rational expressions — no RNG, no Python. The hot cluster
    lands inside one res-8 cell around (-74.006, 40.7128).
    """
    return spark.range(n).select(
        F.col("id").alias("point_id"),
        F.expr(
            f"CASE WHEN id % {hot_mod} = 0 "
            "THEN -74.05 + ((id * 2654435761) % 100000) / 1000000.0 "
            "ELSE -125.0 + ((id * 2654435761) % 59000000) / 1000000.0 END"
        ).alias("lng"),
        F.expr(
            f"CASE WHEN id % {hot_mod} = 0 "
            "THEN 40.67 + ((id * 40503) % 100000) / 1000000.0 "
            "ELSE 24.0 + ((id * 40503) % 26000000) / 1000000.0 END"
        ).alias("lat"),
    )


def points_parquet(spark: SparkSession, n: int, hot_mod: int = 5) -> str:
    """Materialize the synthetic point table once (untimed setup) so the
    benchmarked jobs read columnar storage like the real pipeline would."""
    tag = f"bench_points_n{n}" if hot_mod == 5 else f"bench_points_n{n}_h{hot_mod}"
    path = os.path.join(FX.FIXTURE_DIR, tag)
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        synth_points(spark, n, hot_mod).repartition(CPUS * 2).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def vectors_1m_parquet(
    spark: SparkSession, n: int = 1_000_000, dim: int = 64
) -> str:
    """Deterministic clustered 64-dim vector table (generate-once fixture).

    Pure integer-hash expressions, no RNG: cluster base depends on
    (id % 64, j), per-row noise on xxhash64(id, j) — 64 separable
    clusters so the data-trained coarse quantizer has real structure."""
    path = os.path.join(FX.FIXTURE_DIR, f"bench_vectors_n{n}_d{dim}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        vec = (
            f"transform(sequence(0, {dim - 1}), j -> "
            "CAST(pmod((id % 64 + 1) * (j + 7) * 2654435761, 1000) AS DOUBLE)"
            " / 500.0 - 1.0"
            " + CAST(pmod(xxhash64(id, j), 200) AS DOUBLE) / 1000.0)"
        )
        (
            spark.range(n)
            .select(F.col("id").alias("vec_id"), F.expr(vec).alias("embedding"))
            .repartition(CPUS * 2)
            .write.mode("overwrite")
            .parquet(path)
        )
    return path


def warm_python_workers(spark: SparkSession) -> None:
    """Untimed: spin up the Arrow/pandas Python workers on every core once
    (real clusters run long-lived executors; we measure steady state)."""
    import pandas as pd

    def _identity(it):
        for pdf in it:
            yield pdf

    spark.range(0, 10_000, 1, CPUS * 2).selectExpr("id").mapInPandas(
        _identity, schema="id long"
    ).count()


class Inputs:
    """Inputs shared between entries. Each builder's own setup runs only
    once its entry is admitted, so a shed entry never pays for it."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.pts = spark.read.parquet(points_parquet(spark, N_POINTS))
        self.feats = FX.make_features()
        # documents + a mangled copy (the driver-contract corpus); a
        # single-file source has 1-2 splits, so spread the signatures
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        self.corpus = docs.select("doc_id", "text").unionByName(docs.select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.expr("substr(text, instr(text, ' ') + 1)").alias("text"),
        )).repartition(CPUS)
        self.emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        self.emb_q = self.emb.where(F.col("vec_id") < 32).select(
            F.col("vec_id").alias("query_id"), "embedding")

    @cached_property
    def dedup_pairs(self):
        """Eager localCheckpoint: paid only when a components entry runs."""
        return DD.near_duplicate_pairs(self.corpus, threshold=0.5).localCheckpoint()


def _pip_join(b: Inputs):
    idx = SJ.PolygonIndex(b.spark, b.feats, res=10)
    return lambda: SJ.point_in_polygon_join(
        b.spark, b.pts, idx, res=10, point_id_col="point_id", dedup_first=False)


def _tiling(b: Inputs):
    cell = F.expr(C.cell_sql("lng", "lat", 10, "spark")).alias("cell")
    return lambda: b.pts.groupBy(cell).agg(
        F.count(F.lit(1)).alias("n_images"),
        F.min("lng").alias("minx"), F.max("lng").alias("maxx"),
        F.min("lat").alias("miny"), F.max("lat").alias("maxy"))


def _image_tiling(b: Inputs):
    """input_hint table -> cells -> PIP join -> tile rollup with in-plan
    phash invariant verification."""
    images = b.spark.read.parquet(FX.images_parquet_path(n=20000))
    return lambda: TI.image_tiling_pipeline(
        b.spark, images, FX.make_grid_features(), res=8)


def _knn3(b: Inputs):
    pts = b.pts.where(F.col("point_id") % 6 == 0)
    return lambda: SJ.knn_join(
        b.spark, pts, b.feats, k=3, res=6, point_id_col="point_id")


def _pip_skew(b: Inputs):
    """The engine's explicit salting (16 buckets vs 1) on 4M points with
    50% in ONE res-8 cell: unsalted, the hot cell's refine is one
    straggler task. Salting held its direction in every measured window
    while AQE's skew split flipped sign (BENCH/BASELINE.md "Skew
    handling"), so the pair runs with the AQE split off (ENTRIES conf)
    and equal counts are an in-artifact correctness check."""
    idx = SJ.PolygonIndex(b.spark, b.feats, res=8)
    hot = b.spark.read.parquet(points_parquet(b.spark, 4_000_000, hot_mod=2))

    def join(salt: int):
        return lambda: SJ.point_in_polygon_join(
            b.spark, hot, idx, res=8, point_id_col="point_id",
            salt_buckets=salt, dedup_first=False)

    return {"pip_skew_salted": join(16), "pip_skew_unsalted": join(1)}


def _sessionize(b: Inputs):
    ev = b.spark.read.parquet(f"{SF_DIR}/events.parquet")
    return lambda: SE.session_stats(ev, gap_s=1800)


def _ann_ivf(b: Inputs):
    cents = SIM.make_centroids(64, 8)
    return lambda: SIM.ivf_topk(b.emb, b.emb_q, k=10, centroids=cents, nprobe=2)


def _image_neardup(b: Inputs):
    """Decode + phash recompute + pigeonhole hamming block join over 20k
    images + 2k planted perturbed copies."""
    images = b.spark.read.parquet(
        FX.near_dup_images_parquet_path(n=20000, n_dup=2000))
    return lambda: MM.image_near_pairs(images, max_hamming=6)


def _pyramid_delta(b: Inputs):
    """Maintaining the pyramid for a 1% crawl batch must cost O(batch):
    the batch is the hot-cluster slice (spatially localized, like new
    imagery of one city), stored as its own parquet."""
    path = os.path.join(FX.FIXTURE_DIR, f"bench_pyr_batch_n{N_POINTS}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        b.pts.where(F.col("point_id") % 100 == 0).coalesce(8) \
            .write.mode("overwrite").parquet(path)
    batch = b.spark.read.parquet(path)
    stored = TI.tile_pyramid(
        b.pts.where(F.col("point_id") % 100 != 0), PYR_LEVELS).localCheckpoint()
    return lambda: TI.tile_pyramid_delta(stored, batch, PYR_LEVELS)


def _pricing_summary(b: Inputs):
    li = b.spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    return lambda: li.where(F.col("l_shipdate") <= F.lit("1998-09-02")).groupBy(
        "l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        F.count(F.lit(1)).alias("n"))


def _ann1m(b: Inputs):
    """IVF payoff regime: 1M x 64-dim vectors, 64 data-trained centroids,
    prebuilt bucket-partitioned index (untimed). Brute scans the corpus
    per query batch; IVF reads only the probed 1/16 of the files. 16
    queries keep brute's 16M dot products well above the job floor."""
    big = b.spark.read.parquet(vectors_1m_parquet(b.spark))
    sample = np.stack([
        r["embedding"]
        for r in big.where(F.pmod(F.xxhash64("vec_id"), F.lit(101)) == 0)
        .limit(8192).collect()
    ])
    cents = SIM.kmeans_fit(sample, 64, iters=5)
    idx = os.path.join(FX.FIXTURE_DIR, "bench_ivf_index_1m")
    if not os.path.exists(os.path.join(idx, "_SUCCESS")):
        SIM.ivf_write_index(big, cents, idx)
    q = big.where(F.col("vec_id") % 62500 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return {
        "ann1m_brute": lambda: SIM.cosine_topk(big, q, k=10),
        "ann1m_ivf": lambda: SIM.ivf_topk_indexed(
            b.spark, idx, q, k=10, centroids=cents, nprobe=4),
    }


class Entry(NamedTuple):
    name: str
    est_s: float  # best-window (32 vCPU) sec per timed round, all legs
    reps: int  # timed rounds after one warm run of each leg
    build: Callable  # Inputs -> df thunk, or {leg: df thunk} for a pair
    legs: tuple = ()  # a pair's artifact keys; admitted or shed as one
    conf: dict | None = None  # session conf held for the timed runs

    @property
    def keys(self) -> tuple:
        return self.legs or (self.name,)


CORE = ("pip_join", "tiling", "image_tiling", "knn3", "dedup_minhash")

ENTRIES = [
    Entry("pip_join", 2.5, 3, _pip_join),
    Entry("tiling", 1.0, 3, _tiling),
    Entry("image_tiling", 4.0, 2, _image_tiling),
    Entry("knn3", 2.0, 3, _knn3),
    Entry("dedup_minhash", 2.5, 2,
          lambda b: lambda: DD.near_duplicate_pairs(b.corpus, threshold=0.5)),
    Entry("pip_skew", 22.0, 2, _pip_skew,
          legs=("pip_skew_salted", "pip_skew_unsalted"),
          conf={"spark.sql.shuffle.partitions": "128",
                "spark.sql.adaptive.skewJoin.enabled": "false"}),
    Entry("dedup_components", 3.0, 2, lambda b: lambda: DD.connected_components(
        b.corpus.select("doc_id"), b.dedup_pairs)),
    # the scale default (O(log^2 n) rounds on any diameter)
    Entry("dedup_components_star", 3.0, 1,
          lambda b: lambda: DD.connected_components_star(
              b.corpus.select("doc_id"), b.dedup_pairs)),
    Entry("sessionize", 0.8, 2, _sessionize),
    Entry("ann_topk", 1.3, 2,
          lambda b: lambda: SIM.cosine_topk(b.emb, b.emb_q, k=10)),
    Entry("ann_ivf", 1.8, 1, _ann_ivf),
    Entry("image_neardup", 8.0, 1, _image_neardup),
    Entry("pyramid_full", 2.0, 2,
          lambda b: lambda: TI.tile_pyramid(b.pts, PYR_LEVELS)),
    Entry("pyramid_delta", 0.5, 2, _pyramid_delta),
    Entry("pricing_summary", 0.3, 3, _pricing_summary),
    # last: its cost is the least predictable across host shapes (~10 s
    # per brute run on 32 vCPUs, ~63 s on 4 cores), so an overrun here
    # costs no other entry
    Entry("ann1m", 14.0, 2, _ann1m, legs=("ann1m_brute", "ann1m_ivf")),
]

# documented best-worst bounds (BENCH/BASELINE.md, 32-vCPU windows); the
# artifact marks each measured number in or out of range, beside `host`
DOC_RANGES = {
    "pip_join": [1.7, 13.0],
    "tiling": [0.8, 7.7],
    "knn3": [1.4, 11.0],
    "pricing_summary": [0.12, 1.5],
    "dedup_minhash": [2.2, 12.0],
    "ann_topk": [0.8, 1.7],
    "ann_ivf": [1.5, 3.5],
    # lower bound re-measured round 5: a quiet window ran the warmed 1M
    # brute scan in 6.8 s (the prior 9.0 floor had the fixture cold)
    "ann1m_brute": [6.5, 28.0],
    "ann1m_ivf": [2.2, 12.0],
    "pip_skew_salted": [4.0, 35.0],
    "pip_skew_unsalted": [8.0, 70.0],
    "dedup_components": [1.8, 4.0],
    "dedup_components_star": [1.2, 8.0],
    "image_tiling": [1.1, 42.0],
    # lower bound re-measured after the 4.2x JPEG lookahead decoder
    "image_neardup": [4.3, 45.0],
    "sessionize": [0.28, 2.0],
    "pyramid_full": [1.7, 25.0],
    "pyramid_delta": [0.1, 3.0],
}


def realized_ratio(done: list[tuple[float, float]]) -> float:
    """Realized over estimated wall across the (est, wall) pairs of
    everything completed so far; 1.0 before anything has run."""
    est = sum(e for e, _ in done)
    return sum(w for _, w in done) / est if est else 1.0


def admit(cost: float, ratio: float, now: float, t0: float,
          budget: float = BUDGET_S, core: bool = False) -> bool:
    """The one admission rule: a core entry always runs; any other runs
    only if its estimated cost, scaled by the realized ratio, still fits
    the budget."""
    return core or (now - t0) + ratio * cost <= budget


def run_plan(entries, run: Callable, done: list, shed: list, t0: float,
             budget: float = BUDGET_S, clock: Callable = time.time) -> None:
    """Run ``entries`` in order under ``admit``; a shed entry's keys go to
    ``shed`` and later entries still get their chance. ``done`` carries
    the (est, wall) ledger in and out (the scaling pairs start it)."""
    for e in entries:
        cost, ratio = e.est_s * (e.reps + 1), realized_ratio(done)
        if not admit(cost, ratio, clock(), t0, budget, e.name in CORE):
            shed.extend(e.keys)
            _dbg(f"shed {e.name} (est {cost:.0f}s x ratio {ratio:.2f})")
            continue
        start = clock()
        run(e)
        done.append((cost, clock() - start))


def run_entry(b: Inputs, e: Entry, out: dict) -> None:
    """Warm each leg once, then ``reps`` rounds with the leg order
    alternating per round; keep the minimum per leg. Warm runs are not
    timed: the host's first-touch page faults measure memory ballooning,
    not the plan. A failure is recorded under ``errors``, not raised."""
    conf = e.conf or {}
    saved = {k: b.spark.conf.get(k) for k in conf}
    load = round(os.getloadavg()[0], 2)
    try:
        legs = e.build(b)
        if callable(legs):
            legs = {e.name: legs}
        for k, v in conf.items():
            b.spark.conf.set(k, v)
        for thunk in legs.values():
            thunk().count()
        best, counts = dict.fromkeys(legs, float("inf")), {}
        order = list(legs)
        for rnd in range(e.reps):
            for leg in order if rnd % 2 == 0 else order[::-1]:
                t = time.time()
                counts[leg] = legs[leg]().count()
                best[leg] = min(best[leg], time.time() - t)
        out["timings"].update(best)
        out["counts"].update(counts)
        out["loadavg"].update(dict.fromkeys(legs, load))
        _dbg(f"done {e.name}: " + ", ".join(f"{k}={v:.2f}s" for k, v in best.items()))
    except Exception as exc:  # one broken entry must not lose the artifact
        out["errors"][e.name] = f"{type(exc).__name__}: {exc}"[:500]
        _dbg(f"FAILED {e.name}: {exc}")
    finally:
        for k, v in saved.items():
            b.spark.conf.set(k, v)


def scale_sizes(cpus: int) -> tuple[int, int] | None:
    """(N, 4N) core counts for the scaling pair: N = min(2, cpus // 4),
    so 4N never exceeds the host (2 vs 8 on 32 vCPUs, where the shared
    memory bus saturates past ~8-12 threads; 1 vs 4 on 4 cores). None
    below 4 CPUs: no honest pair exists."""
    n = min(2, cpus // 4)
    return (n, 4 * n) if n >= 1 else None


def _watchdog(spark: SparkSession, action: Callable) -> None:
    """Run ``action`` on a thread; past SCALE_JOB_TIMEOUT_S cancel every
    job and raise, so a hung leg costs one pair, not the artifact."""
    pool = ThreadPoolExecutor(1)
    try:
        pool.submit(action).result(SCALE_JOB_TIMEOUT_S)
    except TimeoutError:
        spark.sparkContext.cancelAllJobs()
        raise
    finally:
        pool.shutdown(wait=False)


def scaling_leg(cores: int, cal: dict) -> tuple[float, float]:
    """(min of 2 timed runs, per-job floor) of the PIP join at
    local[cores] over ``cal["n_points"]`` in-plan generated points.

    The points are generated, not read: a local[N] parquet scan measures
    the single host's memory bus, which a real cluster scales per
    executor. The first leg calibrates n_big from one suite-sized run so
    the 4N leg lands near the target; every later leg reuses it."""
    s = _session(f"local[{cores}]")
    try:
        warm_python_workers(s)
        idx = SJ.PolygonIndex(s, FX.make_features(), res=10)

        def run(n: int) -> float:
            t = time.time()
            _watchdog(s, lambda: SJ.point_in_polygon_join(
                s, synth_points(s, n), idx, res=10, point_id_col="point_id",
                dedup_first=False).count())
            return time.time() - t

        run(500_000)  # warm-up: join codegen, ring broadcast, workers
        floor = run(512)
        if "n_points" not in cal:
            cal["t4n_target_sec"] = round(max(T4N_TARGET_S, min(8.0, 10.0 * floor)), 2)
            cal["cal_wall_sec"] = round(run(N_POINTS), 1)
            rate = max(cal["cal_wall_sec"] - floor, 0.2) / N_POINTS
            cal["n_points"] = int(
                max(N_POINTS, min(cal["t4n_target_sec"] / rate, 32 * N_POINTS)))
            _dbg(f"scaling calibration: floor={floor:.2f}s -> {cal}")
        return min(run(cal["n_points"]) for _ in range(2)), floor
    finally:
        s.stop()


def run_scaling(done: list, shed: list, t0: float) -> dict:
    """SCALING_PAIRS N-vs-4N pairs, legs back-to-back with the order
    alternating per pair so neither level sits on the degraded side of
    a drifting window. Pair 0 always runs; later pairs pass ``admit``.
    The count is fixed before any ratio is seen, so the median carries
    no optional-stopping bias. No SparkSession may be active on entry."""
    sizes = scale_sizes(CPUS)
    if sizes is None:
        return {"efficiency": None,
                "error": f"an N-vs-4N pair needs >= 4 CPUs, host has {CPUS}"}
    n, n4 = sizes
    cal, pairs, error = {}, [], None
    for i in range(SCALING_PAIRS):
        if not admit(PAIR_EST_S, realized_ratio(done), time.time(), t0, core=i == 0):
            shed.append(f"scaling_pair_{i}")
            break
        start = time.time()
        try:
            got = {c: scaling_leg(c, cal) for c in ((n4, n) if i % 2 == 0 else (n, n4))}
        except Exception as e:  # watchdog timeout / worker crash
            error = f"pair {i} aborted: {type(e).__name__}: {e}"[:500]
            _dbg(error)
            break
        done.append((PAIR_EST_S, time.time() - start))
        (t_n, fl_n), (t_4n, fl_4n) = got[n], got[n4]
        pairs.append({
            "t_n_sec": round(t_n, 3),
            "t_4n_sec": round(t_4n, 3),
            "efficiency": round((t_n / t_4n) / 4.0, 3),
            # per-job fixed floor (512 points, identical plan), for audit
            "floor_n_sec": round(fl_n, 3),
            "floor_4n_sec": round(fl_4n, 3),
        })
        _dbg(f"scaling pair {i}: {pairs[-1]} (wall {time.time() - start:.1f}s)")
    out = {"n_cores": n, "efficiency": None, "pairs": pairs, **cal}
    if error:
        out["error"] = error
    if pairs:
        best = max(pairs, key=lambda p: p["efficiency"])
        out.update(
            t_n_sec=best["t_n_sec"], t_4n_sec=best["t_4n_sec"],
            efficiency=round(statistics.median(p["efficiency"] for p in pairs), 3),
            efficiency_best=best["efficiency"])
    return out


def main() -> None:
    t0 = time.time()
    host = {"nproc": host_cpus(), "cpus": CPUS, "mem_total_mb": mem_total_mb(),
            "loadavg_start": round(os.getloadavg()[0], 2)}
    done: list[tuple[float, float]] = []
    shed: list[str] = []
    scaling = run_scaling(done, shed, t0)

    spark = _session(f"local[{CPUS}]")
    warm_python_workers(spark)
    out = {"timings": {}, "counts": {}, "loadavg": {}, "errors": {}}
    b = Inputs(spark)
    run_plan(ENTRIES, lambda e: run_entry(b, e, out), done, shed, t0)
    spark.stop()

    timings, counts = out["timings"], out["counts"]
    core_ok = all(k in timings for k in CORE)
    host["loadavg_end"] = round(os.getloadavg()[0], 2)
    print(json.dumps({
        "metric": "spatial_join_tiling_suite",
        "value": round(sum(timings[k] for k in CORE), 3) if core_ok else None,
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "loadavg": out["loadavg"],
        "errors": out["errors"],
        "sf": _SF,
        "n_points": N_POINTS,
        "counts": counts,
        "images_per_sec": (round(N_POINTS / timings["pip_join"], 1)
                           if "pip_join" in timings else None),
        "cells_per_sec": (round(counts["tiling"] / timings["tiling"], 1)
                          if "tiling" in timings else None),
        "scaling": scaling,
        "host": host,
        "doc_ranges_sec": {k: DOC_RANGES[k] for k in timings if k in DOC_RANGES},
        "within_calibrated_range": {
            k: t <= DOC_RANGES[k][1] for k, t in timings.items() if k in DOC_RANGES},
        "budget": {"sec": BUDGET_S, "elapsed": round(time.time() - t0, 1),
                   "skipped": shed},
    }))


if __name__ == "__main__":
    main()
