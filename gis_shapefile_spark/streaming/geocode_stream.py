"""Streaming spatial join: continuous image-point ingest geocoded against
the polygon-cell dimension.

The north-star pipeline ingests image records continuously; this leg runs
the SAME point-in-polygon join the batch engine uses
(operators/spatial_join.py, the Spark re-expression of the reference's
``SpatialIndex::pointInPolygon`` — src/spatial/spatial_index.cpp:356-380)
over a Structured Streaming source, two ways:

* ``streaming_pip_matches`` — pure stream-static join: the point stream
  equi-joins the broadcast covering-cell dimension and one JVM filter
  refines it: FULL sub-cells pass, EMPTY ones drop, PARTIAL ones run the
  Spark SQL ray-cast. No Python worker. Fully stateless ⇒ append mode,
  no state store;
  emits ALL (point, polygon) matches. This is the shape that scales: a
  1000-executor stream keeps the dimension broadcast-resident and pays
  zero shuffle on the point side.
* ``streaming_geocode_to_parquet`` — production sink path via
  ``foreachBatch``: each micro-batch runs the full batch operator
  (including the deterministic ``min(record_number)`` tie-break, which
  needs a per-point window and so cannot run stateless inside the
  stream), writing one parquet subdirectory per micro-batch id with
  overwrite semantics. Re-running a failed batch overwrites its own
  directory — idempotent, so checkpoint + restart gives exactly-once
  output without a transactional sink.

Correctness oracle (tests/test_streaming_geocode.py): replaying the whole
input through the stream must produce exactly the batch join's row set,
and restarting from checkpoint must process only unseen files.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import spatial_join as SJ

POINTS_SCHEMA = "point_id long, lng double, lat double"


def read_points_stream(
    spark: SparkSession,
    src_dir: str,
    schema: str = POINTS_SCHEMA,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source stream of image points (local twin of the message bus)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )


def streaming_pip_matches(
    points_stream: DataFrame,
    index: SJ.PolygonIndex,
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> DataFrame:
    """Stateless stream-static PIP join: all exact (point, polygon) matches.

    Same plan as the batch operator's all-hits form — literally
    the same code: this delegates to the shared stateless core
    (``spatial_join.pip_matches_stateless``), so batch-side fixes reach the
    streaming path by construction.
    """
    return SJ.pip_matches_stateless(points_stream, index, lng_col, lat_col)


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
    """Sink path: per-micro-batch full geocode (tie-break included) written
    to ``out_dir/batch_id=N/``, exactly-once via idempotent overwrite +
    stream checkpoint. Returns the (terminated) StreamingQuery.

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
        if table is not None:
            # fingerprint scoped by the STREAM checkpoint: within one
            # checkpoint lineage, batch N always holds the same rows
            # (exactly-once replay), so the short-circuit is safe; a fresh
            # stream checkpoint gets fresh fingerprints and recomputes.
            # The stage NAME also embeds a checkpoint-dir hash — two
            # streams sharing one CheckpointTable would otherwise collide
            # on `geocode_batch_N` and keep superseding each other's
            # manifest entry (stage() keys the manifest by name).
            ck = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:8]
            table.stage(
                f"geocode_batch_{ck}_{batch_id}",
                f"ck={checkpoint_dir}|batch:{batch_id}",
                lambda: matched,
            )
        else:
            matched.write.mode("overwrite").parquet(
                f"{out_dir}/batch_id={batch_id}"
            )

    q = (
        points_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def streaming_geofence_matches(
    spark: SparkSession,
    points_stream: DataFrame,
    features_pdf,
    km: float,
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> DataFrame:
    """Continuous geodesic geofencing: every streamed point within ``km``
    great-circle km of a feature center emits (point cols,
    record_number, gdist_m) — the "alert when an upload appears near a
    sensitive site / POI" stream.

    Pure stream-static join, exactly the ``streaming_pip_matches``
    scale shape: the feature side's covering-cell dimension is computed
    once on the driver and broadcast (``operators/geodesic.
    geodesic_within_km`` — conservative asin-form degree cover at each
    feature's band edge), the point stream pays one stateless equi-join
    + the native haversine refine. Append mode, no state store, no
    shuffle on the stream side.
    """
    from ..operators import geodesic as GEO

    return GEO.geodesic_within_km(
        spark, points_stream, features_pdf, km=km,
        lng_col=lng_col, lat_col=lat_col,
    )
