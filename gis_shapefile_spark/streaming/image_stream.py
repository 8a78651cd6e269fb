"""Streaming image pipeline: continuous image-record ingest through the
SAME decode → verify → cell-assign → PIP-join → tile-rollup stages as the
batch flagship (``operators/tiling.py::image_tiling_pipeline``).

North-rule alignment: the target workload is a continuously-ingested
10^12-image table; this leg shows the engine's image stages running
unchanged on a Structured Streaming source:

* every per-row stage is STATELESS (Arrow-batched ``mapInPandas`` decode/
  verify, codegen cell expression, broadcast stream-static cell join +
  JVM sub-cell/ray-cast refine) — append mode, no state store, so a
  1000-executor stream pays zero shuffle on the image side;
* the only stateful operator is the per-tile aggregation, which is the
  standard streaming groupBy (update/complete mode; state keyed by
  (record_number, cell) — bounded by the tile universe, not by images).

Batch parity is the correctness oracle (tests/test_streaming_image.py):
replaying the whole input through the stream must produce exactly the
batch rollup's rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cells as C
from ..operators import multimodal as MM
from ..operators import spatial_join as SJ

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, lng double, lat double"
)


def read_images_stream(
    spark: SparkSession,
    src_dir: str,
    schema: str = IMAGES_SCHEMA,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source stream of input_hint image rows (local twin of the
    message bus / table-commit feed)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )


def verify_enrich(images: DataFrame) -> DataFrame:
    """One-pass decode + phash-verify that PASSES THROUGH the tiling
    columns: (image_id, lng, lat, n_bytes, phash_ok).

    The batch pipeline computes invariants in a separate stage and joins
    them back by image_id; on a stream that join would be stream-stream.
    This stage runs the SHARED decode kernel
    (``multimodal.decode_stats`` with ``means=False`` + carry columns),
    so a codec/phash change cannot diverge between batch and stream —
    linear pipeline, no shuffle, batch/stream identical.
    """
    enriched = MM.decode_stats(
        images.withColumn("n_bytes", F.octet_length("bytes").cast("long")),
        carry=("lng", "lat", "n_bytes"),
        means=False,
    )
    return enriched.select("image_id", "lng", "lat", "n_bytes", "phash_ok")


def streaming_tile_events(
    images_stream: DataFrame, index: SJ.PolygonIndex, res: int | None = None
) -> DataFrame:
    """Stateless per-image tile events: decode+verify -> cell -> exact
    stream-static PIP (ALL matches, append-mode safe).

    Output: (image_id, lng, lat, n_bytes, phash_ok, cell, record_number).
    Images outside every feature produce no row (inner stream-static
    join) — the batch twin below applies the same semantics.
    """
    enriched = verify_enrich(images_stream)
    matched = SJ.pip_matches_stateless(enriched, index)
    # cell assigned AFTER the join: pip_matches_stateless drops every
    # column named `cell` when it discards its dimension key
    return matched.withColumn(
        "cell", C.cell_col("lng", "lat", res if res is not None else index.res)
    )


def streaming_tile_rollup(tile_events: DataFrame) -> DataFrame:
    """The stateful leg: per-(state, tile) streaming aggregation.

    State is keyed by (record_number, cell) — bounded by the tile
    universe (dimension x 4^res), independent of the image count, so the
    state store stays small at any ingest volume.
    """
    return tile_events.groupBy("record_number", "cell").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("n_bytes").alias("n_bytes"),
        F.sum(F.col("phash_ok").cast("long")).alias("n_phash_ok"),
    )


def batch_tile_rollup(
    images: DataFrame, index: SJ.PolygonIndex, res: int | None = None
) -> DataFrame:
    """Batch twin of the streaming pipeline — literally the same stages on
    a batch DataFrame (they are all stateless), so stream == batch parity
    is by construction and the test asserts it holds end-to-end."""
    return streaming_tile_rollup(streaming_tile_events(images, index, res))
