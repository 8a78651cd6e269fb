"""Continuous WebDataset export: each micro-batch of image rows lands as
tar shards, exactly-once.

The last stage of a continuous curation pipeline is shard export — new
curated samples must reach the training-data format as they arrive, and
a replayed micro-batch must not duplicate samples across shards (a
duplicated shard silently doubles those samples' epoch frequency).

Composition: ``sources/webdataset.write_shards`` already writes one tar
per partition with atomic tmp+rename publish and byte-identical
re-writes; this sink namespaces each micro-batch's shards with a
``shard-b<batch id>-<sink.lineage_id>`` prefix and short-circuits
when that batch's shards already exist — the same marker-dir
exactly-once pattern as the takedown and IVF-index sinks (rename IS the
commit; a crash between publish and stream-commit replays into a no-op
because the rewrite is byte-identical anyway).

Readers see a growing pool of shards: ``read_shards_df(out_dir,
prefix="shard")`` matches every batch's shards at once (the batch tag
extends the same prefix), so the consumer contract is unchanged.

``out_dir`` is PAIRED with its checkpoint: the shard tag embeds the
checkpoint's persisted query id, so a wiped-and-recreated checkpoint
re-exports the whole feed under a new identity (duplicate shards) rather
than silently DROPPING the new lineage's batch-0 samples on the old
markers — for an export sink, detectable duplication beats silent loss;
start a fresh out_dir whenever you start a fresh checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources import webdataset as W
from .sink import drain_batches, lineage_id


def streaming_wds_sink(
    spark: SparkSession,
    images_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
):
    """Export each micro-batch of image rows as WebDataset tar shards
    under ``out_dir``; returns the (terminated) StreamingQuery (one call
    drains the feed's current files).
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        prefix = f"shard-b{batch_id:06d}-{lineage_id(checkpoint_dir)}"
        if W.list_shards(out_dir, prefix):
            return  # replayed batch: its shards are already published
        W.write_shards(batch_df, out_dir, prefix=prefix).collect()

    return drain_batches(images_stream, checkpoint_dir, process)
