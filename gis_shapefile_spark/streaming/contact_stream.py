"""Continuous contact mining: the streaming twin of
``operators/trajectory.py::co_movement``.

Contact discovery (convoy detection, contact tracing, co-shooting
camera pairs) cannot be a nightly rebuild at 10^12 pings — fixes arrive
continuously and each micro-batch touches a handful of TIME BUCKETS
(new pings are temporally localized by construction). This sink
composes the same three layers as ``tiles_stream.py``:

* Structured Streaming replay guarantees (stream checkpoint);
* the churn-bounded fold: a batch re-pairs ONLY its touched buckets —
  the committed pair table for untouched buckets is carried over
  verbatim, so per-batch work is O(batch buckets' population), never an
  all-time rescan;
* fingerprint-keyed manifest commits on the checkpoint table —
  exactly-once at the manifest level: a replayed batch short-circuits
  instead of double-merging its fixes.

State is two staged tables: ``<stage>_reps`` (the first fix per
(device, bucket) ACROSS batches — merged by a (ts, event_id) window
min, so out-of-order arrival lands on the same representative the
batch operator would pick) and ``<stage>_pairs`` (per-bucket contact
pairs from the keyed ``within_distance_self_join``). The rollup
(pairs seen >= k distinct buckets) is a read-time groupBy —
``contact_rollup`` — and equals the batch ``co_movement`` output
exactly (pytest-pinned across 4 replayed micro-batches).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .sink import committed_stage, drain_batches, lineage_id


def _bucket_expr(bucket_s: int) -> str:
    return (
        f"CAST(floor(CAST(__ep AS DOUBLE) / CAST({int(bucket_s)} AS DOUBLE))"
        f" AS BIGINT)"
    )


def streaming_contact_sink(
    spark: SparkSession,
    events_stream: DataFrame,
    table,
    stage_name: str,
    distance: float,
    bucket_s: int,
    checkpoint_dir: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    lng_col: str = "lng",
    lat_col: str = "lat",
):
    """Fold each micro-batch of fixes into the committed contact state
    of ``table`` (a ``CheckpointTable``). Single-writer per stage, like
    the pyramid sink. Returns the (terminated) StreamingQuery."""
    from ..operators import spatial_join as SJ

    reps_stage = f"{stage_name}_reps"
    pairs_stage = f"{stage_name}_pairs"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy("point_id", "bucket").orderBy("_ts", "_ev")
        batch_reps = (
            batch_df.withColumn("__ep", F.unix_timestamp(F.col(ts_col)))
            .withColumn("bucket", F.expr(_bucket_expr(bucket_s)))
            .select(
                F.col(user_col).alias("point_id"), "bucket",
                F.col(lng_col).alias("lng"), F.col(lat_col).alias("lat"),
                F.col(ts_col).alias("_ts"), F.col(id_col).alias("_ev"),
            )
        )
        committed = committed_stage(table, reps_stage)
        if committed is None:
            committed = batch_reps.limit(0)
        merged = (
            committed.unionByName(batch_reps)
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
            .localCheckpoint(eager=True)
        )
        touched = batch_reps.select("bucket").distinct()
        cand = merged.join(F.broadcast(touched), "bucket").select(
            "point_id", "bucket", "lng", "lat"
        )
        new_pairs = SJ.within_distance_self_join(
            cand, distance=distance, key_cols=("bucket",)
        )
        old_pairs = committed_stage(table, pairs_stage)
        kept = (
            new_pairs.limit(0) if old_pairs is None
            else old_pairs.join(F.broadcast(touched), "bucket", "left_anti")
        )
        updated_pairs = kept.unionByName(new_pairs)
        fp = f"ck={lineage_id(checkpoint_dir)}|batch:{batch_id}"
        table.stage(reps_stage, fp, lambda: merged)
        table.stage(pairs_stage, fp, lambda: updated_pairs)

    return drain_batches(events_stream, checkpoint_dir, process)


def contact_rollup(table, stage_name: str, min_buckets: int) -> DataFrame:
    """Read-time rollup of the committed pair state — the exact
    ``co_movement`` output shape: (user_1, user_2, n_buckets,
    min_dist_u, max_dist_u), pairs seen in >= ``min_buckets`` distinct
    buckets."""
    pairs = table.read_stage(f"{stage_name}_pairs")
    return (
        pairs.groupBy("id_1", "id_2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.min("dist_u").alias("min_dist_u"),
            F.max("dist_u").alias("max_dist_u"),
        )
        .where(F.col("n_buckets") >= min_buckets)
        .select(
            F.col("id_1").cast("long").alias("user_1"),
            F.col("id_2").cast("long").alias("user_2"),
            "n_buckets", "min_dist_u", "max_dist_u",
        )
    )
