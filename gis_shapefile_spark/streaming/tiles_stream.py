"""Continuous tile-pyramid maintenance: a stream of new image points
folds into the committed multi-resolution pyramid per micro-batch.

The north rule's tile materialization cannot be a nightly rebuild at
10^12 images — crawl batches arrive continuously and each one touches a
handful of tiles (new imagery is spatially localized). This sink
composes three existing layers, the same shape as
``streaming/merge_stream.py``:

* Structured Streaming's replay guarantees (stream checkpoint);
* ``operators/tiling.py::tile_pyramid_delta`` — the churn-bounded fold:
  O(batch) work, never a corpus rescan (count/min/max associativity);
* the checkpoint table's fingerprint-keyed manifest commits —
  exactly-once at the manifest level: a replayed batch short-circuits
  on its (checkpoint lineage, batch id) fingerprint
  (``sink.fold_sink``) instead of double-counting its points into the
  tiles.

Scale shape per batch: batch pyramid (batch-scale), semi-join against
the committed pyramid (tile-universe-bounded, partition-pruned when the
pyramid stage is cell-partitioned), one keyed merge window, snapshot
write, atomic manifest commit. Append-only by construction — takedowns
go through the batch ``tile_pyramid_update`` repair path, driven by the
same touched-cell list the partitioned MERGE collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import tiling as TI
from ..plans import merge as MG
from .sink import fold_sink


def streaming_pyramid_sink(
    spark: SparkSession,
    points_stream: DataFrame,
    table,
    stage_name: str,
    resolutions: list[int],
    checkpoint_dir: str,
    lng_col: str = "lng",
    lat_col: str = "lat",
):
    """Fold each micro-batch of new points into the committed
    ``stage_name`` pyramid snapshot of ``table`` (a ``CheckpointTable``).

    Single-writer: the sink commits under ``stage_name`` itself, so one
    stage belongs to ONE stream lineage. A fresh stream checkpoint over
    the same feed would re-deliver every file and count it again, so its
    first batch raises instead (``sink.fold_sink``, not idempotent);
    restarting on the same checkpoint continues the snapshot. Returns
    the (terminated) StreamingQuery.
    """

    def fold(current, batch_df: DataFrame) -> DataFrame:
        if current is None:
            # first batch: an empty frame with the pyramid schema
            current = TI.tile_pyramid(
                batch_df.limit(0), resolutions, lng_col, lat_col
            )
        delta = TI.tile_pyramid_delta(
            current, batch_df, resolutions, lng_col, lat_col
        )
        return MG.merge_upsert(current, delta, ["res", "cell"])

    return fold_sink(points_stream, table, stage_name, checkpoint_dir, fold,
                     idempotent=False)
