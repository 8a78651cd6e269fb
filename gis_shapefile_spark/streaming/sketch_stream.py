"""Continuous HyperLogLog maintenance: the streaming member of
``operators/sketch.py``.

Each micro-batch builds its register grid independently (``hll_build``,
map-side, |groups| x 64 bounded) and folds into the committed grid by
elementwise integer max (``hll_merge``), so the running state stays
bounded no matter how many items have streamed past. Exactly-once at
the manifest level via ``sink.fold_sink``'s fingerprint-keyed
checkpoint-table commit; because max is associative, commutative and
idempotent, the streamed grid equals the batch grid of the full feed
bit-for-bit (pytest-pinned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import sketch as SK
from .sink import fold_sink


def streaming_hll_sink(
    spark: SparkSession,
    items_stream: DataFrame,
    table,
    stage_name: str,
    item_col: str,
    checkpoint_dir: str,
    group_cols: tuple[str, ...] = (),
):
    """Fold each micro-batch's register grid (``hll_build``, |groups| x
    64 bounded) into the committed ``stage_name`` grid of ``table`` (a
    ``CheckpointTable``) by elementwise integer MAX (``hll_merge``).
    Returns the (terminated) StreamingQuery. Max is associative,
    commutative, AND idempotent — re-merging a replayed batch cannot
    move a register even without the manifest short-circuit, which
    makes this the most replay-tolerant state in the engine; the
    fingerprint commit still skips the work. The streamed grid equals
    the batch grid of the full feed bit-for-bit (pytest-pinned)."""

    def fold(committed, batch_df: DataFrame) -> DataFrame:
        batch_grid = SK.hll_build(batch_df, item_col, group_cols=group_cols)
        return batch_grid if committed is None else SK.hll_merge(committed, batch_grid)

    return fold_sink(items_stream, table, stage_name, checkpoint_dir, fold,
                     idempotent=True)
