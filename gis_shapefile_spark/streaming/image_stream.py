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
* the only stateful operator is the per-tile aggregation,
  ``tiling.tile_rollup`` — the standard streaming groupBy
  (update/complete mode; state keyed by (record_number, cell) — bounded
  by the tile universe, not by images).

Batch parity is the correctness oracle (tests/test_streaming_image.py):
replaying the whole input through the stream must produce exactly the
batch rollup's rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions import cells as C
from ..operators import multimodal as MM
from ..operators import spatial_join as SJ

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, lng double, lat double"
)


def streaming_tile_events(
    images_stream: DataFrame, index: SJ.PolygonIndex, res: int | None = None
) -> DataFrame:
    """Stateless per-image tile events: decode+verify -> cell -> exact
    stream-static PIP (ALL matches, append-mode safe).

    Output: (image_id, lng, lat, n_bytes, phash_ok, cell, record_number).
    Images outside every feature produce no row (inner stream-static
    join). The same function on a batch frame is the batch twin.
    """
    enriched = MM.verify_enrich(images_stream)
    return SJ.point_in_polygon_join(
        images_stream.sparkSession, enriched, index, dedup_first=False
    ).withColumn(
        "cell", C.cell_col("lng", "lat", res if res is not None else index.res)
    )
