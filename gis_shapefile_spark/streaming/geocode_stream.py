"""Streaming spatial join: continuous image-point ingest geocoded against
the polygon-cell dimension.

The north-star pipeline ingests image records continuously; this leg runs
the SAME point-in-polygon join the batch engine uses
(operators/spatial_join.py, the Spark re-expression of the reference's
``SpatialIndex::pointInPolygon`` — src/spatial/spatial_index.cpp:356-380)
over a Structured Streaming source, two ways:

* stream-static — ``spatial_join.point_in_polygon_join`` applied to the
  stream itself: the point stream equi-joins the broadcast per-cell
  dimension and the JVM refines the candidates: FULL sub-cells pass,
  EMPTY ones drop, PARTIAL ones run the Spark SQL ray-cast. The default
  first hit (min ``record_number``) is ``slice(filter(...))`` over the
  cell's sorted polygons and ``dedup_first=False`` keeps every hit;
  neither needs a window, so both are stateless: append mode, no state
  store, no Python worker. This is the shape that scales: a
  1000-executor stream keeps the dimension broadcast-resident and pays
  zero shuffle on the point side. Geofencing within km of a feature is
  the same shape through ``geodesic.geodesic_within_km``.
* ``streaming_geocode_to_parquet`` — a sink: each micro-batch runs the
  batch operator (first hit, attributes) and writes one parquet
  subdirectory per micro-batch id with overwrite semantics. Re-running a
  failed batch overwrites its own directory — idempotent, so checkpoint
  + restart gives exactly-once output without a transactional sink.

Correctness oracle (tests/test_streaming_geocode.py): replaying the whole
input through the stream must produce exactly the batch join's row set,
and restarting from checkpoint must process only unseen files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import spatial_join as SJ
from .sink import drain_batches, lineage_id

POINTS_SCHEMA = "point_id long, lng double, lat double"


def streaming_geocode_to_parquet(
    spark: SparkSession,
    points_stream: DataFrame,
    index: SJ.PolygonIndex,
    out_dir: str,
    checkpoint_dir: str,
    point_id_col: str = "point_id",
    attrs: list[str] | None = None,
    table=None,
):
    """Sink path: per-micro-batch geocode (first hit, ``attrs`` joined)
    written to ``out_dir/batch_id=N/``, exactly-once via idempotent
    overwrite + stream checkpoint. The first hit needs no window, so the
    stream-static join alone would give the same rows in append mode;
    the sink is for output that must land as files or manifest stages.
    Returns the (terminated) StreamingQuery.

    Pass a ``plans.checkpoint.CheckpointTable`` as ``table`` to commit each
    micro-batch as a manifest stage instead: the batch then carries
    per-partition lineage + row/byte metrics like every batch pipeline
    stage, and a replayed batch (failure between sink write and stream
    commit) short-circuits on its fingerprint — manifest-level
    exactly-once on top of the stream checkpoint."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        matched = SJ.point_in_polygon_join(
            spark, batch_df, index,
            point_id_col=point_id_col, attrs=attrs,
        )
        if table is None:
            matched.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
            return
        # one stage per (checkpoint lineage, batch): the stage name keys
        # the manifest, so two streams sharing one table never supersede
        # each other's batches, and a wiped checkpoint's fresh lineage
        # stages its batch 0 instead of short-circuiting on the old one
        ck = lineage_id(checkpoint_dir)
        table.stage(
            f"geocode_batch_{ck}_{batch_id}",
            f"ck={ck}|batch:{batch_id}",
            lambda: matched,
        )

    return drain_batches(points_stream, checkpoint_dir, process)
