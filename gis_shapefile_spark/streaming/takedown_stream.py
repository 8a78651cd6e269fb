"""Continuous takedown ingest: a stream of keys committed as
merge-on-read equality-delete files per micro-batch.

Takedown feeds (DMCA notices, safety flags, opt-out requests) arrive
continuously; applying each batch through the COW MERGE sink
(``merge_stream``) would rewrite the snapshot per micro-batch — the
wrong cost model for key-only deletes against a 10^12-row image table.
This sink commits each micro-batch as ONE O(batch) delete file
(``plans/merge.py::mor_delete``): no data file is read or written per
batch, readers see the takedowns immediately through ``mor_read``'s
broadcast anti-join, and the eventual rewrite is amortized into the
separately-scheduled ``mor_compact`` maintenance pass.

Exactly-once: the delete-file name embeds (``sink.lineage_id``, batch
id), so a batch replayed after a failure between the file publish and
the stream commit finds its marker dir and short-circuits — no
duplicate delete files within a compaction window. The lineage id is
the stream checkpoint's persisted query id, NOT the directory path: a
wiped-and-recreated checkpoint at the same path restarts batch ids at
0, and a path-derived tag would make the fresh feed's batch-0 keys
silently short-circuit on the old run's marker — a new checkpoint
lineage gets new tags and its keys apply. A replay arriving AFTER a
compaction consumed its marker re-commits the file, which is
redundant-but-harmless (equality deletes of already-deleted keys are
anti-join no-ops; see ``mor_delete``'s docstring).

Single-writer: the MoR maintenance ops (this sink's deletes, compaction)
share the table's single-writer contract — schedule ``mor_compact``
between sink runs, not concurrently with one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans import merge as MG
from .sink import drain_batches, lineage_id


def streaming_takedown_sink(
    spark: SparkSession,
    keys_stream: DataFrame,
    path: str,
    key_cols: list[str],
    checkpoint_dir: str,
):
    """Commit each micro-batch of takedown keys as one equality-delete
    file against the MoR table at ``path``. Returns the (terminated)
    StreamingQuery; ``sink.drain`` runs it to the end of the feed's
    current files, like every other sink in this package."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        MG.mor_delete(
            spark, path, batch_df, key_cols,
            tag=f"b{batch_id:08d}-{lineage_id(checkpoint_dir)}",
        )

    return drain_batches(keys_stream, checkpoint_dir, process)
