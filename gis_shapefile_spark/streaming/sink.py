"""The micro-batch commit protocol every streaming sink in this package
shares: one file-source reader, one availableNow drain, one checkpoint
lineage id and one fold-into-stage.

* ``read_parquet_stream`` — a file-source stream over a parquet
  directory (the local twin of a message-bus topic; schema declared,
  never inferred).
* ``drain`` — the one place a streaming query starts: checkpoint
  location, availableNow trigger (one call drains the feed's current
  files — a batch-job-shaped streaming run), start, wait.
  ``drain_batches`` is the same drain with a ``foreachBatch`` body.
* ``lineage_id`` — the stream checkpoint's persisted query id. Every
  replay marker a sink writes is keyed by (lineage, batch id): within
  one lineage batch N always holds the same rows, so a replayed batch
  can short-circuit; a wiped-and-recreated checkpoint at the same path
  restarts batch ids at 0 under a NEW id, so the fresh lineage's
  batch 0 is never mistaken for the old one's (a path-derived key
  would silently skip it).
* ``fold_sink`` — fold each micro-batch into one committed
  ``CheckpointTable`` stage: ``fold(committed or None, batch)`` returns
  the new stage, committed under the fingerprint
  ``ck=<lineage_id>|batch:<id>`` with the lineage id in its manifest
  entry. A replayed batch finds its fingerprint already committed and
  neither reads nor folds anything — exactly-once at the manifest level
  on top of the stream checkpoint (Armbrust et al., "Structured
  Streaming", SIGMOD 2018: idempotent ``foreachBatch`` writes keyed by
  batch id). A new lineage re-delivers every file of the feed, so a
  fold that is not idempotent (a count) refuses a stage another lineage
  committed instead of counting those files again.

Single-writer: a stage belongs to ONE stream at a time, like the
table's ``vacuum``/``compact`` contract.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def read_parquet_stream(
    spark: SparkSession, src_dir: str, schema: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over the parquet files of ``src_dir``,
    ``max_files_per_trigger`` files per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )


def drain(writer: DataStreamWriter, checkpoint_dir: str) -> StreamingQuery:
    """Start ``writer`` on an availableNow trigger checkpointed at
    ``checkpoint_dir``, wait until it has drained every file present at
    start, and return the terminated query."""
    q = (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def drain_batches(
    stream: DataFrame,
    checkpoint_dir: str,
    process: Callable[[DataFrame, int], None],
) -> StreamingQuery:
    """``drain`` with ``process(batch_df, batch_id)`` run on every
    micro-batch."""
    return drain(stream.writeStream.foreachBatch(process), checkpoint_dir)


def lineage_id(checkpoint_dir: str) -> str:
    """Stable id of the checkpoint LINEAGE: the query id Structured
    Streaming persists in ``<ckpt>/metadata`` on first start (a wiped
    checkpoint gets a fresh id). Call it inside a batch body, after the
    query has initialized its checkpoint."""
    with open(os.path.join(checkpoint_dir, "metadata")) as fh:
        return json.load(fh)["id"][:8]


def committed_stage(table, stage_name: str) -> DataFrame | None:
    """The committed ``stage_name`` of ``table``, or None before its
    first commit."""
    try:
        return table.read_stage(stage_name)
    except KeyError:
        return None


def fold_sink(
    stream: DataFrame,
    table,
    stage_name: str,
    checkpoint_dir: str,
    fold: Callable[[DataFrame | None, DataFrame], DataFrame],
    *,
    idempotent: bool,
) -> StreamingQuery:
    """Drain ``stream``, folding each micro-batch into the committed
    ``stage_name`` of ``table`` (a ``CheckpointTable``):
    ``fold(committed_or_None, batch_df)`` returns the new stage. Returns
    the terminated query.

    ``idempotent`` says whether folding the feed's files again, in order,
    leaves the stage as it was (an upsert, an elementwise max). Only such
    a fold continues a stage committed by another lineage (a wiped or new
    stream checkpoint, which re-delivers every file); any other fold
    raises there, before it reads the batch."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        lineage = lineage_id(checkpoint_dir)
        entry = table.manifest()["stages"].get(stage_name)
        if not idempotent and entry is not None and entry.get("lineage") != lineage:
            raise RuntimeError(
                f"stage {stage_name!r} was committed by stream lineage "
                f"{entry.get('lineage')!r}, not {lineage!r}: a new stream "
                "checkpoint re-delivers the feed, and this fold would count "
                "it again")
        table.stage(
            stage_name,
            f"ck={lineage}|batch:{batch_id}",
            lambda: fold(committed_stage(table, stage_name), batch_df),
            lineage=lineage,
        )

    return drain_batches(stream, checkpoint_dir, process)
