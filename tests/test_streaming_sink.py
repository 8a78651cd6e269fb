"""Checkpoint-wipe regression for the CheckpointTable sinks.

A wiped-and-recreated stream checkpoint at the same path restarts batch
ids at 0. The stage fingerprint must follow the checkpoint LINEAGE (the
persisted query id), so the fresh lineage's batch 0 — which re-reads
every feed file, the new one included — folds in instead of
short-circuiting on the old lineage's batch-0 fingerprint.

Each test: run the sink over one feed file, ``rmtree`` the checkpoint,
add a new file, rerun at the same path with ``maxFilesPerTrigger`` at
least the file count (so the fresh batch 0 carries the new rows), then
compare the committed state against one batch pass over every file.
The merge and HLL folds are idempotent, so re-folding the old file
cannot move their state. The pyramid fold counts, so a fresh lineage
over its stage must raise rather than count the old file again.
"""

from __future__ import annotations

import shutil

import pytest

from gis_shapefile_spark.operators import sketch as SK
from gis_shapefile_spark.operators import spatial_join as SJ
from gis_shapefile_spark.plans.checkpoint import CheckpointTable
from gis_shapefile_spark.sources import fixtures as FX
from gis_shapefile_spark.streaming import geocode_stream as GS
from gis_shapefile_spark.streaming import merge_stream as MS
from gis_shapefile_spark.streaming import sketch_stream as SS
from gis_shapefile_spark.streaming import tiles_stream as TS


def _stream(spark, feed, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 10)
        .parquet(feed)
    )


def _wipe_and_rerun(spark, tmp_path, schema, first, second, run):
    """Push ``first`` rows, run, wipe the checkpoint, push ``second``,
    run again at the same checkpoint path. Returns the feed dir."""
    feed = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")

    def push(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(feed)

    push(first)
    run(_stream(spark, feed, schema), ckpt)
    shutil.rmtree(ckpt)
    push(second)
    run(_stream(spark, feed, schema), ckpt)
    return feed


def test_merge_sink_survives_checkpoint_wipe(spark, tmp_path):
    table = CheckpointTable(spark, str(tmp_path / "tbl"))
    schema = "k long, v string, seq long"

    def run(stream, ckpt):
        MS.streaming_merge_sink(
            spark, stream, table, "img", ["k"], ckpt, order_col="seq"
        )

    _wipe_and_rerun(
        spark, tmp_path, schema,
        [(1, "a", 1), (2, "b", 1)],
        [(2, "b2", 2), (3, "c", 2)],
        run,
    )
    state = {r.k: r.v for r in table.read_stage("img").collect()}
    assert state == {1: "a", 2: "b2", 3: "c"}


def test_hll_sink_survives_checkpoint_wipe(spark, tmp_path):
    table = CheckpointTable(spark, str(tmp_path / "tbl"))

    def run(stream, ckpt):
        SS.streaming_hll_sink(spark, stream, table, "hll", "token", ckpt)

    feed = _wipe_and_rerun(
        spark, tmp_path, "token string",
        [(f"w{i}",) for i in range(40)],
        [(f"w{i}",) for i in range(40, 200)],
        run,
    )
    got = {r.bucket: r.r for r in table.read_stage("hll").collect()}
    exp = SK.hll_build(spark.read.parquet(feed), "token").collect()
    assert got == {r.bucket: r.r for r in exp}


def test_pyramid_sink_refuses_a_new_lineage(spark, tmp_path):
    """A wiped checkpoint re-delivers the one-file feed; the pyramid
    counts points, so the rerun raises and the stage keeps its 100."""
    table = CheckpointTable(spark, str(tmp_path / "tbl"))
    feed, ckpt = str(tmp_path / "feed"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(-110.0 + i * 0.1, 30.0 + i * 0.05) for i in range(100)], "lng double, lat double"
    ).coalesce(1).write.parquet(feed)

    def run():
        TS.streaming_pyramid_sink(
            spark, _stream(spark, feed, "lng double, lat double"), table, "pyr", [8], ckpt)

    def n_points():
        return sum(r.n_points for r in table.read_stage("pyr").collect())

    run()
    entry = table.manifest()["stages"]["pyr"]
    assert n_points() == 100 and entry["lineage"] in entry["fingerprint"]
    run()  # same lineage, nothing new: no commit, no raise
    version = table.manifest()["version"]
    shutil.rmtree(ckpt)
    with pytest.raises(Exception, match="committed by stream lineage"):
        run()
    assert table.manifest()["version"] == version
    assert n_points() == 100


@pytest.fixture(scope="module")
def index(spark):
    return SJ.PolygonIndex(spark, FX.make_features(), res=SJ.DEFAULT_RES)


def test_geocode_table_sink_survives_checkpoint_wipe(spark, index, tmp_path):
    table = CheckpointTable(spark, str(tmp_path / "tbl"))

    def run(stream, ckpt):
        GS.streaming_geocode_to_parquet(
            spark, stream, index, out_dir="unused", checkpoint_dir=ckpt,
            table=table,
        )

    def grid(lo):  # 20 x 10 points over the fixture states
        return [
            (lo + i, -120.0 + (i % 20) * 2.5, 27.0 + (i // 20) * 1.7)
            for i in range(200)
        ]

    feed = _wipe_and_rerun(spark, tmp_path, GS.POINTS_SCHEMA, grid(0), grid(1000), run)
    staged = set()
    for name in table.manifest()["stages"]:
        staged |= {r.point_id for r in table.read_stage(name).collect()}
    batch = SJ.point_in_polygon_join(
        spark, spark.read.parquet(feed), index, point_id_col="point_id"
    )
    want = {r.point_id for r in batch.collect()}
    assert any(p >= 1000 for p in want)
    assert staged == want
