"""Structured Streaming leg: watermarked windowed aggregation + custom
stateful operators over the ``events`` stream.

The reference is strictly batch/request-response (no streams anywhere —
SURVEY.md §2.8); the engine adds the streaming surface a production
ingest needs: a file-source stream (the on-disk twin of a Kafka topic),
event-time tumbling windows with a watermark bounding late data, and an
``applyInPandasWithState`` stateful op (running per-user totals) as the
template for custom streaming state.

Batch parity: ``q_events_window`` in entry_queries_pipeline.py is the
exact batch twin of ``windowed_event_counts`` — the streaming output on a
fully-replayed input must equal the batch aggregation (asserted in
tests/test_streaming.py), which is the correctness oracle Structured
Streaming's incremental execution has to honor.

Scale notes: the window agg shuffles once on (window, event_type) with
partial aggregation; state size is bounded by the watermark horizon
(late rows beyond it are dropped, state evicted). The stateful op keys by
user_id — at 10^12 events the state store partitions with the shuffle and
per-key state is O(1) (two counters).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .sink import drain

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Event-time tumbling window x event_type: count + integerized sum.

    The watermark bounds state: windows older than (max event time -
    watermark) finalize and evict. Column names/values match the batch
    twin q_events_window (hour_epoch as epoch seconds).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sum_value_c"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("hour_epoch"),
            "event_type",
            "n_events",
            "sum_value_c",
        )
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running (n_events, sum_value_c),
    emitted once per micro-batch per active user.

    applyInPandasWithState keeps two counters per user_id in the state
    store — the template for any custom streaming state (the engine's
    replacement for the reference's in-memory mutable indexes).
    """
    out_schema = "user_id long, n_events long, sum_value_c long"
    state_schema = "n long, s long"

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        n, s = state.get if state.exists else (0, 0)
        import numpy as np

        for pdf in pdfs:
            n += len(pdf)
            s += int(np.floor(pdf["value"].values * 100).sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "sum_value_c": [s]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_memory(
    stream_df: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    output_mode: str = "update",
) -> None:
    """Drain the stream into a memory sink table ``query_name`` (test/bench
    harness; production would write to the checkpointed Parquet table
    layer)."""
    writer = stream_df.writeStream.format("memory").queryName(query_name)
    drain(writer.outputMode(output_mode), checkpoint_dir)


def dedup_events_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup on event_id across micro-batches.

    ``dropDuplicatesWithinWatermark`` keyed on the id: state holds one
    entry per id inside the watermark horizon and is evicted beyond it —
    the streaming twin of the batch ``exact_duplicate_map`` canonical pass
    (operators/dedup.py). Plain ``dropDuplicates(["event_id"])`` would NOT
    evict (watermark-based cleanup only applies when the event-time column
    is part of the key subset), so its state grows forever on a real
    stream; the WithinWatermark variant is the bounded-state form for
    at-least-once sources that replay within the horizon.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def attribution_join_stream(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream join: each purchase attributed to every
    click by the same user within ``horizon`` before it.

    Both sides buffer in the state store only up to watermark + horizon —
    the event-time range condition is what lets Spark evict (an
    unconstrained stream-stream join would hold both streams forever).
    Inner join ⇒ results emit as soon as both sides arrive; the batch
    twin (same expression on static frames) is the correctness oracle in
    tests.
    """
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", watermark)
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.floor(F.col("value") * 100).cast("long").alias("pvalue_c"),
    ).withWatermark("p_ts", watermark)
    return p.join(
        c,
        F.expr(
            f"c_user = p_user AND c_ts >= p_ts - INTERVAL {horizon} "
            "AND c_ts <= p_ts"
        ),
        "inner",
    ).select("purchase_id", "click_id", F.col("p_user").alias("user_id"),
             "pvalue_c")
