"""Streaming PIP geocode: batch parity across micro-batches and
checkpoint resume (only unseen files processed on restart)."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from gis_shapefile_spark.operators import spatial_join as SJ
from gis_shapefile_spark.sources import fixtures as FX
from gis_shapefile_spark.streaming import events as EV
from gis_shapefile_spark.streaming import geocode_stream as GS
from gis_shapefile_spark.streaming.sink import read_parquet_stream

N_POINTS = 4000


@pytest.fixture(scope="module")
def index(spark):
    return SJ.PolygonIndex(spark, FX.make_features(), res=SJ.DEFAULT_RES)


def _synth_points(spark, n, start=0):
    return spark.range(start, start + n).select(
        F.col("id").alias("point_id"),
        (F.lit(-125.0) + ((F.col("id") * 2654435761) % 59000000) / 1000000.0).alias("lng"),
        (F.lit(24.0) + ((F.col("id") * 40503) % 26000000) / 1000000.0).alias("lat"),
    )


@pytest.fixture(scope="module")
def points_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pts_stream") / "points")
    _synth_points(spark, N_POINTS).repartition(4).write.parquet(d)
    return d


def test_stream_static_matches_batch(spark, index, points_dir, tmp_path):
    """The PIP join applied to the stream itself drains in append mode and
    equals the batch join: every hit, and the default first hit (the
    smallest containing record_number, window-free)."""
    for dedup_first in (False, True):
        stream = read_parquet_stream(
            spark, points_dir, GS.POINTS_SCHEMA, max_files_per_trigger=1
        )
        matches = SJ.point_in_polygon_join(
            spark, stream, index, point_id_col="point_id", dedup_first=dedup_first
        )
        table = f"pip_stream_{int(dedup_first)}"
        EV.run_to_memory(
            matches, table, str(tmp_path / f"ckpt{int(dedup_first)}"),
            output_mode="append",
        )
        got = sorted(
            (r.point_id, r.record_number)
            for r in spark.sql(f"SELECT point_id, record_number FROM {table}").collect()
        )
        batch = SJ.point_in_polygon_join(
            spark, spark.read.parquet(points_dir), index,
            point_id_col="point_id", dedup_first=dedup_first,
        )
        exp = sorted(
            (r.point_id, r.record_number)
            for r in batch.select("point_id", "record_number").collect()
        )
        assert got == exp and len(got) > 0, dedup_first
        if dedup_first:
            assert len({p for p, _ in got}) == len(got)  # one row per point


def test_foreachbatch_sink_and_resume(spark, index, points_dir, tmp_path):
    out = str(tmp_path / "geocoded")
    ckpt = str(tmp_path / "ckpt_sink")
    stream = read_parquet_stream(spark, points_dir, GS.POINTS_SCHEMA, max_files_per_trigger=2)
    GS.streaming_geocode_to_parquet(
        spark, stream, index, out, ckpt, attrs=["NAME_1"]
    )
    first_batches = set(glob.glob(f"{out}/batch_id=*"))
    assert len(first_batches) == 2  # 4 files / 2 per trigger

    sunk = spark.read.option("basePath", out).parquet(f"{out}/batch_id=*")
    batch = SJ.point_in_polygon_join(
        spark, spark.read.parquet(points_dir), index,
        point_id_col="point_id", attrs=["NAME_1"],
    )
    got = {(r.point_id, r.record_number, r.NAME_1)
           for r in sunk.select("point_id", "record_number", "NAME_1").collect()}
    exp = {(r.point_id, r.record_number, r.NAME_1)
           for r in batch.select("point_id", "record_number", "NAME_1").collect()}
    assert got == exp and len(got) > 0
    # exactly one geocode per point (tie-break applied inside each batch)
    assert sunk.count() == sunk.select("point_id").distinct().count()

    # append new files; restart from the SAME checkpoint -> only new batches
    _synth_points(spark, 500, start=N_POINTS).repartition(1).write.mode(
        "append"
    ).parquet(points_dir)
    stream2 = read_parquet_stream(spark, points_dir, GS.POINTS_SCHEMA, max_files_per_trigger=2)
    GS.streaming_geocode_to_parquet(
        spark, stream2, index, out, ckpt, attrs=["NAME_1"]
    )
    new_batches = set(glob.glob(f"{out}/batch_id=*")) - first_batches
    assert len(new_batches) >= 1
    total = spark.read.option("basePath", out).parquet(f"{out}/batch_id=*")
    full_batch = SJ.point_in_polygon_join(
        spark, spark.read.parquet(points_dir), index, point_id_col="point_id"
    )
    assert total.select("point_id").distinct().count() == full_batch.count()
    assert total.count() > sunk.count()  # the resume actually added rows


def test_foreachbatch_checkpoint_table_lineage(spark, index, tmp_path):
    """Streaming sink through the manifest layer: every micro-batch commits
    as a stage with lineage; total staged rows == batch join rows."""
    from pyspark.sql import functions as F
    from gis_shapefile_spark.plans.checkpoint import CheckpointTable

    d = str(tmp_path / "pts2")
    _synth_points(spark, 1500).repartition(3).write.parquet(d)
    table = CheckpointTable(spark, str(tmp_path / "ck_table"))
    stream = read_parquet_stream(spark, d, GS.POINTS_SCHEMA, max_files_per_trigger=1)
    GS.streaming_geocode_to_parquet(
        spark, stream, index, out_dir="unused", checkpoint_dir=str(tmp_path / "ck"),
        table=table,
    )
    lin = {r.stage: r.rows for r in table.lineage().collect()}
    assert len(lin) == 3  # one manifest stage per micro-batch
    batch = SJ.point_in_polygon_join(
        spark, spark.read.parquet(d), index, point_id_col="point_id"
    )
    assert sum(lin.values()) == batch.count()
    # stage data is readable back through the manifest
    total = sum(
        table.read_stage(s).count() for s in lin
    )
    assert total == batch.count()


def test_streaming_merge_sink_applies_batches_and_resumes(spark, tmp_path):
    """Continuous upsert: three stream runs over a growing update feed —
    each run merges only the unseen files into the committed snapshot
    (update/insert/delete arms all exercised), and a no-new-files rerun
    commits nothing."""
    from gis_shapefile_spark.plans.checkpoint import CheckpointTable
    from gis_shapefile_spark.streaming import merge_stream as MS

    feed = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    table = CheckpointTable(spark, str(tmp_path / "tbl"))
    schema = "k long, v string, _del boolean, seq long"

    def push(rows, part):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(feed)

    def run():
        stream = spark.readStream.schema(schema).parquet(feed)
        MS.streaming_merge_sink(
            spark, stream, table, "img", ["k"], ckpt,
            delete_col="_del", order_col="seq",
        )

    name = "img"  # the sink commits under stage_name directly

    push([(1, "a", False, 1), (2, "b", False, 1),
          (2, "b2", False, 2)], 1)  # in-batch dup on k=2: seq 2 wins
    run()
    state = {r.k: r.v for r in table.read_stage(name).collect()}
    assert state == {1: "a", 2: "b2"}

    push([(1, "a3", False, 3), (3, "c", False, 3)], 2)  # update + insert
    run()
    state = {r.k: r.v for r in table.read_stage(name).collect()}
    assert state == {1: "a3", 2: "b2", 3: "c"}
    v_after_2 = table.manifest()["version"]

    push([(2, "x", True, 4), (4, "d", False, 4)], 3)  # delete + insert
    run()
    state = {r.k: r.v for r in table.read_stage(name).collect()}
    assert state == {1: "a3", 3: "c", 4: "d"}
    assert table.manifest()["version"] == v_after_2 + 1

    # no new files: the rerun commits no new manifest version
    v = table.manifest()["version"]
    run()
    assert table.manifest()["version"] == v


def test_streaming_geofence_matches_batch(spark, points_dir, tmp_path):
    """Geodesic geofence stream == the batch within-km join over the
    full replayed input (stateless stream-static shape)."""
    from gis_shapefile_spark.operators import geodesic as GEO

    feats = FX.make_grid_features()
    km = 150.0
    stream = read_parquet_stream(spark, points_dir, GS.POINTS_SCHEMA, max_files_per_trigger=1)
    alerts = GEO.geodesic_within_km(spark, stream, feats, km=km)
    EV.run_to_memory(
        alerts.select("point_id", "record_number", "gdist_m"),
        "geofence_stream", str(tmp_path / "ckpt_geo"), output_mode="append",
    )
    got = {
        (r.point_id, r.record_number, r.gdist_m)
        for r in spark.sql(
            "SELECT point_id, record_number, gdist_m FROM geofence_stream"
        ).collect()
    }
    batch = GEO.geodesic_within_km(
        spark, spark.read.parquet(points_dir), feats, km=km
    )
    exp = {
        (r.point_id, r.record_number, r.gdist_m)
        for r in batch.select("point_id", "record_number", "gdist_m").collect()
    }
    assert got == exp and len(got) > 0
