"""Continuous count-min sketch maintenance: the streaming member of
``operators/sketch.py``.

The sketch IS the streaming-native structure: each micro-batch sketches
independently (``cms_build`` — map-side, d x w bounded) and folds into
the committed grid with pure integer adds (``cms_merge``), so the
running state is a CONSTANT 256 rows no matter how many tokens have
streamed past — the exact property that makes frequency tracking
feasible over an unbounded 10^12-token feed where a true counter table
would grow with the vocabulary. Exactly-once at the manifest level via
``sink.fold_sink``'s fingerprint-keyed checkpoint-table commit: a
replayed batch short-circuits instead of double-adding its counts.

Estimates read back at ANY time with ``cms_estimate`` against the
committed stage — and because merge is associative + commutative
integer addition, the streamed sketch equals the batch sketch of the
full feed bit-for-bit (pytest-pinned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import sketch as SK
from .sink import fold_sink


def streaming_cms_sink(
    spark: SparkSession,
    items_stream: DataFrame,
    table,
    stage_name: str,
    item_col: str,
    checkpoint_dir: str,
    d: int = SK.CMS_D,
    w: int = SK.CMS_W,
):
    """Fold each micro-batch's sketch into the committed ``stage_name``
    counter grid of ``table`` (a ``CheckpointTable``). Single-writer per
    stage; a fresh checkpoint over the same feed re-delivers every file
    and adds its counts again. Returns the (terminated) StreamingQuery."""

    def fold(committed, batch_df: DataFrame) -> DataFrame:
        batch_sk = SK.cms_build(batch_df, item_col, d=d, w=w)
        return batch_sk if committed is None else SK.cms_merge(committed, batch_sk)

    return fold_sink(items_stream, table, stage_name, checkpoint_dir, fold)


def streaming_hll_sink(
    spark: SparkSession,
    items_stream: DataFrame,
    table,
    stage_name: str,
    item_col: str,
    checkpoint_dir: str,
    group_cols: tuple[str, ...] = (),
):
    """Continuous HyperLogLog maintenance — the cardinality twin of the
    CMS sink: each micro-batch builds its register grid (``hll_build``,
    |groups| x 64 bounded) and folds into the committed grid by
    elementwise integer MAX (``hll_merge``). Max is associative,
    commutative, AND idempotent — re-merging a replayed batch cannot
    move a register even without the manifest short-circuit, which
    makes this the most replay-tolerant state in the engine; the
    fingerprint commit still skips the work. The streamed grid equals
    the batch grid of the full feed bit-for-bit (pytest-pinned)."""

    def fold(committed, batch_df: DataFrame) -> DataFrame:
        batch_grid = SK.hll_build(batch_df, item_col, group_cols=group_cols)
        return batch_grid if committed is None else SK.hll_merge(committed, batch_grid)

    return fold_sink(items_stream, table, stage_name, checkpoint_dir, fold)
