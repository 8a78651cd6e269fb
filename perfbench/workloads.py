"""The three workloads: set-up, the timed job with its oracle check, and the
traced per-layer chains.

Every engine call goes through the package's public functions. The traced
chains time prefixes of the job (scan; scan+key; scan+key+candidate join;
scan+key+join+refine; the whole job) and report differences between them.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import pandas as pd
from pyspark.sql import functions as F

from gis_shapefile_spark.functions import cells as C
from gis_shapefile_spark.operators import multimodal as MM
from gis_shapefile_spark.operators import spatial_join as SJ
from gis_shapefile_spark.operators import tiling as TL
from gis_shapefile_spark.plans.checkpoint import CheckpointTable
from gis_shapefile_spark.session import get_spark, stop_spark

from . import inputs

IMAGE_SCHEMA = MM.IMAGE_SCHEMA + ", lng double, lat double"


def timed(tr, name: str, fn):
    """(seconds, result) of ``fn()``, inside a span named ``name``."""
    with tr.span(name):
        t0 = time.perf_counter()
        out = fn()
        return time.perf_counter() - t0, out


class Workload:
    """One workload bound to one seed's inputs.

    ``setup`` may run several times in a process (each time on a fresh
    SparkSession); ``job`` runs the timed unit and returns whether its
    output matched the oracle.
    """

    name = ""
    salted = False

    def __init__(self, meta: dict, conf: dict, work: str):
        self.meta = meta
        self.conf = conf
        self.work = work
        self.res = inputs.RES[self.name]
        self.features = inputs.features_for(self.name)
        self.spark = None
        self.index = None
        self.n_jobs = 0

    # -- set-up ------------------------------------------------------------

    def setup(self, tr) -> dict:
        """Session, inputs, index and a warm-up pass on the warm slice.

        Returns the seconds of each step, for the per-layer report.
        """
        steps = {}
        steps["session"], self.spark = timed(tr, "session.start", lambda: get_spark(
            app_name=f"perfbench-{self.name}", master=self.conf["master"],
            shuffle_partitions=self.conf["shuffle_partitions"],
            extra_conf=self.conf["extra_conf"],
        ))
        with tr.span("sources.open"):
            self.data = self.spark.read.parquet(self.meta["data"])
            self.warm = self.spark.read.parquet(self.meta["warm"])
        steps["index"], self.index = timed(
            tr, "spatial_join.index_build",
            lambda: SJ.PolygonIndex(self.spark, self.features, self.res))
        with tr.span("warmup"):
            self.run(self.warm, tr, tag="warm")
        return steps

    def teardown(self) -> None:
        stop_spark()
        self.spark = None

    # -- the timed job -------------------------------------------------------

    def points(self, df):
        return df

    def pip(self, df, salt, dedup: bool):
        return SJ.point_in_polygon_join(
            self.spark, self.points(df), self.index, res=self.res,
            point_id_col="point_id", salt_buckets=salt, dedup_first=dedup)

    def run(self, df, tr, tag: str):
        """The job's output on ``df``, collected to the driver."""
        raise NotImplementedError

    def check(self, out) -> bool:
        raise NotImplementedError

    def job(self, tr) -> bool:
        self.n_jobs += 1
        out = self.run(self.data, tr, tag=f"job{self.n_jobs}")
        with tr.span("oracle.check"):
            return self.check(out)

    # -- traced per-layer chains ----------------------------------------------

    def scan_aggs(self) -> list:
        return [F.count(F.lit(1)), F.sum("lng"), F.sum("lat"), F.max("point_id")]

    def key_aggs(self) -> list:
        return [F.count(F.lit(1)).alias("n")]

    def candidate_count(self, salt: int) -> int:
        """Rows of the cell equi-join before refine, on the job's join path.

        The salted variant mirrors ``point_in_polygon_join``'s salted
        shuffle plan (dimension replicated per bucket, points keyed by
        ``pmod(xxhash64(point_id), S)``).
        """
        pts = self.points(self.data).withColumn(
            "__cell", C.cell_col("lng", "lat", self.res))
        if not salt:
            dim = self.index.dim
            joined = pts.join(F.broadcast(dim), pts["__cell"] == dim["cell"])
        else:
            cells = self.index.cells_pdf
            dim = self.spark.createDataFrame(pd.concat(
                [cells.assign(salt=i) for i in range(salt)], ignore_index=True))
            pts = pts.withColumn(
                "__psalt", F.pmod(F.xxhash64("point_id"), F.lit(salt)).cast("int"))
            joined = pts.join(
                dim.hint("shuffle_hash"),
                (pts["__cell"] == dim["cell"]) & (pts["__psalt"] == dim["salt"]))
        return joined.count()

    def layers(self, tr) -> tuple[dict, dict, bool]:
        """Per-layer metrics from prefix chains.

        Returns (metrics, {chain: total seconds}, whether the full chain's
        per-polygon counts matched the oracle).
        """
        m = {}
        scan_s, row = timed(tr, "sources.scan",
                            lambda: self.data.agg(*self.scan_aggs()).collect()[0])
        m["sources.scan_s"] = scan_s
        m["sources.rows"] = row[0]
        key_s, krow = timed(tr, "cells.key", lambda: self.data.groupBy(
            C.cell_col("lng", "lat", self.res).alias("cell")
        ).agg(*self.key_aggs()).agg(F.sum("n")).collect()[0])
        m["cells.key_s"] = key_s - scan_s
        if row[0] != self.meta["rows"] or krow[0] != self.meta["rows"]:
            raise RuntimeError(f"scan/key chains saw {row[0]}/{krow[0]} rows")
        m["spatial_join.dim_rows"] = len(self.index.cells_pdf)

        auto_s, s_auto = timed(tr, "spatial_join.auto_salt", lambda: SJ.auto_salt_buckets(
            self.spark, self.points(self.data), res=self.res))
        m["spatial_join.auto_salt_s"] = auto_s
        m["spatial_join.salt_buckets"] = s_auto
        salt = s_auto if self.salted else 0
        m["spatial_join.dim_replicated_rows"] = len(self.index.cells_pdf) * max(salt, 1)

        cand_s, cand = timed(tr, "spatial_join.candidate", lambda: self.candidate_count(salt))
        join_s, parts = timed(tr, "spatial_join.join", lambda: self.pip(
            self.data, salt, dedup=False
        ).groupBy(F.spark_partition_id().alias("p")).count().collect())
        per_part = [r["count"] for r in parts]
        matches = sum(per_part)
        full_s, counts = timed(tr, "spatial_join.full", lambda: self.pip(
            self.data, salt, dedup=True).groupBy("record_number").count().collect())
        m.update({
            "spatial_join.candidate_s": cand_s,
            "spatial_join.candidate_rows": cand,
            "spatial_join.join_s": join_s,
            "spatial_join.refine_s": join_s - cand_s,
            "spatial_join.match_rows": matches,
            "spatial_join.refine_yield": matches / cand if cand else 0.0,
            "spatial_join.dedup_agg_s": full_s - join_s,
            "spatial_join.partition_skew": (
                max(per_part) / statistics.median(per_part) if per_part else 0.0),
        })
        got = {str(r["record_number"]): r["count"] for r in counts}
        m.update(self.image_layers(tr, scan_s))
        m.update(self.checkpoint_layers(tr, counts, salt))
        chains = {"scan": scan_s, "key": key_s, "candidate": cand_s,
                  "join": join_s, "full": full_s}
        return m, chains, self.full_counts_ok(got)

    def full_counts_ok(self, got: dict) -> bool:
        return got == self.meta["oracle"]["counts"]

    def image_layers(self, tr, scan_s: float) -> dict:
        """Decode/verify and tiling layers. Point workloads carry no images,
        so the calls run on an empty image frame: their per-call fixed cost."""
        empty = self.spark.createDataFrame([], IMAGE_SCHEMA)
        verify_s, _ = timed(tr, "multimodal.verify", lambda: MM.verify_invariants(
            empty.drop("lng", "lat"), reencode=False).agg(F.count(F.lit(1))).collect())
        tile_s, _ = timed(tr, "tiling.pipeline_noverify", lambda: TL.image_tiling_pipeline(
            self.spark, empty, self.features, res=self.res, verify=False).collect())
        return {"multimodal.verify_s": verify_s, "multimodal.phash_ok_frac": 0.0,
                "tiling.pipeline_noverify_s": tile_s}

    def checkpoint_layers(self, tr, rows, salt: int) -> dict:
        """Commit the full chain's per-polygon counts through the checkpoint
        table: the sink's cost for a small result."""
        small = self.spark.createDataFrame(rows)
        return self.stage_resume_readback(tr, lambda: small, "trace")

    def stage_resume_readback(self, tr, fn, tag: str) -> dict:
        root = os.path.join(self.work, "ckpt", f"{self.name}-{tag}")
        shutil.rmtree(root, ignore_errors=True)
        ct = CheckpointTable(self.spark, root)
        fp = f"{self.meta['digest'][:16]}-{tag}"
        stage_s, _ = timed(tr, "checkpoint.stage", lambda: ct.stage("result", fp, fn))
        version = ct.manifest()["version"]
        resume_s, df = timed(tr, "checkpoint.resume", lambda: ct.stage("result", fp, fn))
        read_s, rows = timed(tr, "checkpoint.readback", lambda: df.groupBy(
            "record_number").count().collect())
        entry = ct.manifest()["stages"]["result"]
        ok = (ct.manifest()["version"] == version
              and entry["rows"] == sum(r["count"] for r in rows))
        shutil.rmtree(root, ignore_errors=True)
        if not ok:
            raise RuntimeError(f"checkpoint resume recomputed or lost rows ({tag})")
        return {"checkpoint.stage_s": stage_s, "checkpoint.resume_s": resume_s,
                "checkpoint.readback_s": read_s,
                "checkpoint.bytes_written_mb": entry["bytes"] / 2**20}


class PipPoints(Workload):
    """Broadcast-path PIP at res 10 with dedup_first, counted per polygon."""

    name = "pip_points"

    def run(self, df, tr, tag):
        with tr.span("spatial_join.point_in_polygon_join"):
            counts = self.pip(df, 0, dedup=True).groupBy("record_number").count()
        with tr.span("action.collect"):
            rows = counts.collect()
        return {str(r["record_number"]): r["count"] for r in rows}

    def check(self, out) -> bool:
        return self.full_counts_ok(out)


class SkewCheckpoint(Workload):
    """Salted (auto) PIP at res 8 over a hot cell, committed through
    ``CheckpointTable.stage``, resumed, and read back per polygon."""

    name = "skew_checkpoint"
    salted = True

    def run(self, df, tr, tag):
        root = os.path.join(self.work, "ckpt", f"{self.name}-{tag}")
        shutil.rmtree(root, ignore_errors=True)
        try:
            ct = CheckpointTable(self.spark, root)
            fp = f"{self.meta['digest'][:16]}-{tag}"

            def compute():
                with tr.span("spatial_join.point_in_polygon_join"):
                    return self.pip(df, "auto", dedup=True)

            with tr.span("checkpoint.stage"):
                ct.stage("pip", fp, compute)
            version = ct.manifest()["version"]
            with tr.span("checkpoint.resume"):
                staged = ct.stage("pip", fp, compute)
            with tr.span("checkpoint.readback"):
                rows = staged.groupBy("record_number").count().collect()
            entry = ct.manifest()
            return {
                "counts": {str(r["record_number"]): r["count"] for r in rows},
                "resumed": entry["version"] == version,
                "staged_rows": entry["stages"]["pip"]["rows"],
            }
        finally:
            shutil.rmtree(root, ignore_errors=True)

    def check(self, out) -> bool:
        want = self.meta["oracle"]["counts"]
        return (out["resumed"] and out["counts"] == want
                and out["staged_rows"] == sum(want.values()))

    def checkpoint_layers(self, tr, rows, salt: int) -> dict:
        return self.stage_resume_readback(
            tr, lambda: self.pip(self.data, salt, dedup=True), "trace")


class ImageTiles(Workload):
    """``image_tiling_pipeline`` (decode + phash verify + PIP + tile rollup)
    over the image+caption table on the grid features at res 8."""

    name = "image_tiles"

    def points(self, df):
        return df.select(F.col("image_id").alias("point_id"), "lng", "lat")

    def run(self, df, tr, tag):
        with tr.span("tiling.image_tiling_pipeline"):
            tiles = TL.image_tiling_pipeline(self.spark, df, self.features, res=self.res)
        with tr.span("action.collect"):
            rows = tiles.collect()
        return {f"{r['record_number'] or 0}:{r['cell']}":
                [r["n_images"], r["n_bytes"], r["n_phash_ok"]] for r in rows}

    def check(self, out) -> bool:
        return out == self.meta["oracle"]["tiles"]

    def full_counts_ok(self, got: dict) -> bool:
        want: dict[str, int] = {}
        for key, (n, _b, _ok) in self.meta["oracle"]["tiles"].items():
            rec = key.split(":")[0]
            if rec != "0":
                want[rec] = want.get(rec, 0) + n
        return got == want

    def scan_aggs(self) -> list:
        return [F.count(F.lit(1)), F.sum(F.length("bytes")), F.sum("lng"), F.sum("lat")]

    def key_aggs(self) -> list:
        return [F.count(F.lit(1)).alias("n"), F.sum(F.length("bytes")).alias("b")]

    def image_layers(self, tr, scan_s: float) -> dict:
        cols = ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
        verify_s, row = timed(tr, "multimodal.verify", lambda: MM.verify_invariants(
            self.data.select(*cols), reencode=False
        ).agg(F.sum(F.col("phash_ok").cast("long")), F.count(F.lit(1))).collect()[0])
        tile_s, tiles = timed(tr, "tiling.pipeline_noverify", lambda: TL.image_tiling_pipeline(
            self.spark, self.data, self.features, res=self.res, verify=False).collect())
        if sum(r["n_images"] for r in tiles) != self.meta["rows"]:
            raise RuntimeError("pipeline (verify=False) lost images")
        return {"multimodal.verify_s": verify_s - scan_s,
                "multimodal.phash_ok_frac": row[0] / row[1] if row[1] else 0.0,
                "tiling.pipeline_noverify_s": tile_s}


WORKLOADS = {w.name: w for w in (PipPoints, ImageTiles, SkewCheckpoint)}
