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

from ..functions import cells as C
from ..operators import multimodal as MM
from ..operators import spatial_join as SJ
from ..operators import tiling as TI

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


def streaming_tile_events(
    images_stream: DataFrame, index: SJ.PolygonIndex, res: int | None = None
) -> DataFrame:
    """Stateless per-image tile events: decode+verify -> cell -> exact
    stream-static PIP (ALL matches, append-mode safe).

    Output: (image_id, lng, lat, n_bytes, phash_ok, cell, record_number).
    Images outside every feature produce no row (inner stream-static
    join) — the batch twin below applies the same semantics.
    """
    enriched = MM.verify_enrich(images_stream)
    return SJ.pip_matches_stateless(enriched, index).withColumn(
        "cell", C.cell_col("lng", "lat", res if res is not None else index.res)
    )


# the stateful leg: the batch flagship's per-(state, tile) rollup
streaming_tile_rollup = TI.tile_rollup


def batch_tile_rollup(
    images: DataFrame, index: SJ.PolygonIndex, res: int | None = None
) -> DataFrame:
    """Batch twin of the streaming pipeline — literally the same stages on
    a batch DataFrame (they are all stateless), so stream == batch parity
    is by construction and the test asserts it holds end-to-end."""
    return streaming_tile_rollup(streaming_tile_events(images, index, res))
