"""Continuous IVF index maintenance: a stream of new embedding vectors
folds into the bucket-partitioned ANN index per micro-batch.

At 10^12 images the embedding index cannot be a nightly rebuild any more
than the tile pyramid can (``tiles_stream.py``) — crawl batches arrive
continuously and each one touches only the bucket partitions its vectors
assign to. This sink is the streaming twin of
``operators/similarity.py::ivf_index_append`` with the idempotency that
the raw parquet append lacks:

* each micro-batch is assigned with the same Arrow-batched
  nearest-centroid pipeline the full build uses (``ivf_assign_batch`` —
  no per-row Python);
* the batch lands in the index root as its OWN partition directory
  ``batch=<id>/bucket=<b>/`` via write-to-tmp + atomic rename, so a
  replayed batch (stream-checkpoint recovery re-delivers the last
  uncommitted batch) short-circuits on the existing directory instead of
  double-inserting its vectors — the rename IS the commit marker, the
  same copy-on-write shape as ``plans/checkpoint.py``;
* queries keep using ``ivf_topk_indexed`` unchanged: partition discovery
  surfaces ``batch`` and ``bucket`` as columns and the probe set's
  bucket filter prunes at the second partition level, so a query still
  reads ~nprobe/C of the corpus files no matter how many batches have
  landed (plan-asserted in tests).

Compaction is an orthogonal maintenance pass (many small per-batch files
inside one bucket → rewrite that bucket), exactly as it is for the
checkpoint table; the read path is correct either way. Centroid drift is
handled IVF-style — periodic retrain + full rebuild — never per-batch
re-centering, which would silently corrupt probe pruning for already
landed batches.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import _with_norm, ivf_assign_batch
from .sink import drain_batches


def streaming_ivf_sink(
    spark: SparkSession,
    embeddings_stream: DataFrame,
    index_root: str,
    centroids: np.ndarray,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Fold each micro-batch of new embeddings into the IVF index at
    ``index_root``.

    Single-writer: one index root belongs to ONE stream (batch ids are
    the commit keys); restarting with the same stream checkpoint resumes
    exactly-once, restarting with a fresh checkpoint over the same feed
    re-delivers old files and must use a fresh root. Returns the
    (terminated) StreamingQuery.
    """
    os.makedirs(index_root, exist_ok=True)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # The marker is the batch id alone, NOT (lineage_id, batch id)
        # as in the CheckpointTable sinks: the index root is the state,
        # so a fresh checkpoint over the same feed re-delivers old files
        # under already-committed ids and must insert nothing (the
        # single-writer contract above; pytest-pinned). Keying by
        # lineage would re-insert every vector a second time.
        final = os.path.join(index_root, f"batch={batch_id}")
        if os.path.exists(final):
            return  # replayed batch: already committed, exactly-once
        assigned = ivf_assign_batch(
            _with_norm(
                batch_df.select(F.col(id_col), F.col(vec_col)), vec_col, "_cn"
            ),
            centroids,
            vec_col,
        )
        # batch-scale shuffle clusters rows so each touched bucket gets a
        # handful of scan-sized files, not one per write task
        tmp = os.path.join(index_root, f".tmp-{uuid.uuid4().hex}")
        assigned.repartition(F.col("bucket")).write.partitionBy("bucket").mode(
            "overwrite"
        ).parquet(tmp)
        os.rename(tmp, final)  # atomic commit

    return drain_batches(embeddings_stream, checkpoint_dir, process)
