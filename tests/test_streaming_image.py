"""Streaming image-tiling leg: the flagship pipeline's stages on a
Structured Streaming source, with batch parity as the oracle.

Covers:
* stateless per-image tile events (decode + phash verify + cell + PIP)
  replayed through the stream == the same stages on the batch frame;
* the stateful per-tile streaming aggregation (complete mode) == the
  batch groupBy rollup, values included (n_images, n_bytes, n_phash_ok);
* agreement of the batch twin with image_tiling_pipeline's matched rows
  (ties the streaming leg to the oracle-checked driver query).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gis_shapefile_spark.operators import spatial_join as SJ
from gis_shapefile_spark.operators import tiling as TI
from gis_shapefile_spark.sources import fixtures as FX
from gis_shapefile_spark.streaming import events as EV
from gis_shapefile_spark.streaming import image_stream as IS
from gis_shapefile_spark.streaming.sink import read_parquet_stream

N_IMAGES = 900
RES = 6


@pytest.fixture(scope="module")
def index(spark):
    return SJ.PolygonIndex(spark, FX.make_grid_features(), res=RES)


@pytest.fixture(scope="module")
def images_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("img_stream") / "images")
    # multiple files for maxFilesPerTrigger WITHOUT repartitioning the
    # binary payload (forbidden per CLAUDE.md: measured 10x regression) —
    # maxRecordsPerFile splits each task's output at write time
    (
        spark.read.parquet(FX.images_parquet_path(n=N_IMAGES))
        .write.option("maxRecordsPerFile", N_IMAGES // 3)
        .parquet(d)
    )
    return d


def test_stream_events_match_batch(spark, index, images_dir, tmp_path):
    stream = read_parquet_stream(spark, images_dir, IS.IMAGES_SCHEMA, max_files_per_trigger=1)
    events = IS.streaming_tile_events(stream, index)
    EV.run_to_memory(
        events, "img_events", str(tmp_path / "ckpt"), output_mode="append"
    )
    got = {
        (r.image_id, r.cell, r.record_number, r.n_bytes, bool(r.phash_ok))
        for r in spark.sql(
            "SELECT image_id, cell, record_number, n_bytes, phash_ok "
            "FROM img_events"
        ).collect()
    }
    batch = IS.streaming_tile_events(spark.read.parquet(images_dir), index)
    exp = {
        (r.image_id, r.cell, r.record_number, r.n_bytes, bool(r.phash_ok))
        for r in batch.collect()
    }
    assert got == exp and len(got) > 0
    assert all(ok for *_, ok in got)  # fixture invariant: every phash passes


def test_stream_rollup_matches_batch(spark, index, images_dir, tmp_path):
    stream = read_parquet_stream(spark, images_dir, IS.IMAGES_SCHEMA, max_files_per_trigger=1)
    rollup = TI.tile_rollup(IS.streaming_tile_events(stream, index))
    EV.run_to_memory(
        rollup, "img_rollup", str(tmp_path / "ckpt"), output_mode="complete"
    )
    got = {
        (r.record_number, r.cell, r.n_images, r.n_bytes, r.n_phash_ok)
        for r in spark.sql(
            "SELECT record_number, cell, n_images, n_bytes, n_phash_ok "
            "FROM img_rollup"
        ).collect()
    }
    exp = {
        (r.record_number, r.cell, r.n_images, r.n_bytes, r.n_phash_ok)
        for r in TI.tile_rollup(
            IS.streaming_tile_events(spark.read.parquet(images_dir), index)
        ).collect()
    }
    assert got == exp and len(got) > 0


def test_batch_twin_agrees_with_flagship_pipeline(spark, index, images_dir):
    """The streaming leg's batch twin must agree with the oracle-checked
    batch flagship on the matched rows (the flagship additionally keeps
    unmatched images with null record_number and tie-breaks multi-matches
    via min(record_number); on the disjoint grid every match is unique,
    so the matched subsets coincide exactly)."""
    images = spark.read.parquet(images_dir)
    twin = {
        (r.record_number, r.cell, r.n_images, r.n_bytes, r.n_phash_ok)
        for r in TI.tile_rollup(IS.streaming_tile_events(images, index)).collect()
    }
    flagship = TI.image_tiling_pipeline(
        spark, images, FX.make_grid_features(), res=RES
    )
    matched = {
        (r.record_number, r.cell, r.n_images, r.n_bytes, r.n_phash_ok)
        for r in flagship.where(F.col("record_number").isNotNull()).collect()
    }
    assert twin == matched and len(twin) > 0


VARIED_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)


@pytest.fixture(scope="module")
def varied_images_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("varied_stream") / "images")
    (
        spark.read.parquet(FX.varied_images_parquet_path(n=300))
        .write.option("maxRecordsPerFile", 100)
        .parquet(d)
    )
    return d


def test_stream_ar_bucket_matches_batch(spark, varied_images_dir, tmp_path):
    """Aspect-ratio bucket assignment on a stream: the stateless scan
    projection applies unchanged to a streaming DF (per-row assignment,
    append mode) and the stateful per-bucket count (complete mode)
    equals the batch rollup — the batch-formation stage as a continuous
    ingest job."""
    from gis_shapefile_spark.operators import arbucket as AR

    stream = read_parquet_stream(
        spark, varied_images_dir, VARIED_SCHEMA, max_files_per_trigger=1
    )
    assigned = AR.assign_ar_buckets(stream)
    EV.run_to_memory(
        assigned, "ar_assign", str(tmp_path / "ck1"), output_mode="append"
    )
    got = {
        (r.image_id, r.bucket_id, r.bw, r.bh, r.cost_u)
        for r in spark.sql(
            "SELECT image_id, bucket_id, bw, bh, cost_u FROM ar_assign"
        ).collect()
    }
    batch_df = spark.read.parquet(varied_images_dir)
    exp = {
        (r.image_id, r.bucket_id, r.bw, r.bh, r.cost_u)
        for r in AR.assign_ar_buckets(batch_df).collect()
    }
    assert got == exp and len(got) == 300

    counts = (
        AR.assign_ar_buckets(stream)
        .groupBy("bucket_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    EV.run_to_memory(
        counts, "ar_counts", str(tmp_path / "ck2"), output_mode="complete"
    )
    got_counts = {
        (r.bucket_id, r.n)
        for r in spark.sql("SELECT bucket_id, n FROM ar_counts").collect()
    }
    exp_counts = {
        (r.bucket_id, r.n)
        for r in AR.assign_ar_buckets(batch_df)
        .groupBy("bucket_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got_counts == exp_counts and len(got_counts) > 1
