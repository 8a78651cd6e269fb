"""Continuous-upsert ingest: a stream of keyed updates MERGEd into a
checkpoint-table stage per micro-batch.

The 10^12-row image table is not append-only — recrawls upsert by
image_id, takedowns tombstone it. This sink composes the three layers
already in the engine: Structured Streaming's replay guarantees (stream
checkpoint), ``plans/merge.py::merge_upsert`` (the one-shuffle MERGE),
and the checkpoint table's fingerprint-keyed manifest commits
(exactly-once at the manifest level: a replayed batch short-circuits on
its fingerprint instead of double-applying).

Scale shape per batch: read the current committed snapshot (parquet
scan), one keyed window shuffle against the batch (batch-sized, tiny
relative to the table), write the new snapshot, atomic manifest commit.
This is copy-on-write MERGE — the right shape when batches are minutes
apart; for second-scale batches compact less often and let
``CheckpointTable.compact`` handle the file count.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans import merge as MG
from .sink import fold_sink


def streaming_merge_sink(
    spark: SparkSession,
    updates_stream: DataFrame,
    table,
    stage_name: str,
    key_cols: list[str],
    checkpoint_dir: str,
    delete_col: str | None = None,
    order_col: str | None = None,
):
    """Apply each micro-batch of updates as a MERGE into the committed
    ``stage_name`` snapshot of ``table`` (a ``CheckpointTable``).

    ``order_col``: when a batch can carry several updates for one key,
    the row with the max order_col wins, with the remaining columns
    (sorted by name, descending values) as a deterministic tie-break —
    MERGE requires one update per key, and a replayed batch must pick
    the SAME winner. Without it, batches are assumed key-unique (the
    usual CDC-feed contract).

    Single-writer: the sink commits under ``stage_name`` itself, so one
    CheckpointTable stage belongs to ONE stream (same contract as
    ``vacuum``); restarting with a fresh stream checkpoint continues the
    existing snapshot.

    Exactly-once (``sink.fold_sink``): the stage fingerprint embeds
    (stream checkpoint lineage, batch id). Within one lineage batch N
    replays with identical rows, so a retry after a failure between
    snapshot write and stream commit finds the fingerprint already
    committed and skips the re-apply — no double-merge. Returns the
    (terminated) StreamingQuery.
    """

    def fold(current, batch_df: DataFrame) -> DataFrame:
        if order_col is not None:
            tie = [
                F.col(c).desc()
                for c in sorted(batch_df.columns)
                if c != order_col and c not in key_cols
            ]
            w = Window.partitionBy(*key_cols).orderBy(
                F.col(order_col).desc(), *tie
            )
            batch_df = (
                batch_df.withColumn("__mrn", F.row_number().over(w))
                .where(F.col("__mrn") == 1)
                .drop("__mrn")
            )
        if current is None:
            cols = [c for c in batch_df.columns if c != delete_col]
            current = spark.createDataFrame([], batch_df.select(*cols).schema)
        return MG.merge_upsert(current, batch_df, key_cols, delete_col=delete_col)

    return fold_sink(updates_stream, table, stage_name, checkpoint_dir, fold,
                     idempotent=True)
