"""Deterministic leakage-safe dataset splitting (train/val/test).

A training corpus must split by a STABLE key hash — not by random() (not
reproducible across runs/executors) and not by position (leaks ordering) —
so that a document lands in the same split forever, across engines and
re-runs, and grouped keys (e.g. all docs of one user/session) can be kept
on one side by hashing the group key. Built on the engine's dual-dialect
60-bit md5 hash (functions/text_analysis.py), so the DuckDB oracle
computes bit-identical assignments.

Scale: the split is one codegen expression on the scan — no shuffle, no
sampling pass; fractions hold in expectation with md5 uniformity (exact
at the 1/10000 bucket granularity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text_analysis as TA

BUCKETS = 10_000


def _key_string(key: str, salt: str, dialect: str) -> str:
    if dialect == "spark":
        return f"concat('{salt}:', CAST({key} AS STRING))"
    return f"('{salt}:' || CAST({key} AS VARCHAR))"


def split_sql(
    key: str,
    fractions: dict[str, float],
    salt: str = "split-v1",
    dialect: str = "spark",
) -> str:
    """CASE expression assigning a split label from the salted key hash.

    ``fractions`` is ordered {label: fraction}; cumulative thresholds over
    ``hash % 10000`` partition the key space. Fractions must sum to <= 1;
    any remainder falls into the LAST label.
    """
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total} > 1")
    bucket = f"({TA.hash60_sql(_key_string(key, salt, dialect), dialect)} % {BUCKETS})"
    labels = list(fractions)
    if len(labels) == 1:
        return f"('{labels[0]}')"
    whens, acc = [], 0.0
    for label in labels[:-1]:
        acc += fractions[label]
        whens.append(f"WHEN {bucket} < {int(round(acc * BUCKETS))} THEN '{label}'")
    return "(CASE " + " ".join(whens) + f" ELSE '{labels[-1]}' END)"


def hash_split(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float] | None = None,
    salt: str = "split-v1",
    out_col: str = "split",
) -> DataFrame:
    """Append the deterministic split label column."""
    fractions = fractions or {"train": 0.9, "val": 0.05, "test": 0.05}
    return df.withColumn(
        out_col, F.expr(split_sql(key_col, fractions, salt, "spark"))
    )


def stratified_sample_sql(
    key: str,
    stratum: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "sample-v1",
    dialect: str = "spark",
) -> str:
    """Boolean keep-predicate for per-stratum deterministic sampling.

    Class rebalancing for a training corpus: each stratum value gets its
    own keep-rate (e.g. downsample the dominant class, keep all of the
    rare one), decided by the SAME salted key hash in both engines — so
    the sample is reproducible across runs and engines, and a row's fate
    never depends on partitioning or scan order. One codegen expression
    on the scan: no shuffle, no count pass, no sampling state.
    """
    bucket = f"({TA.hash60_sql(_key_string(key, salt, dialect), dialect)} % {BUCKETS})"
    if not rates:  # pure default-rate sample (CASE needs >= 1 WHEN)
        return f"({bucket} < {int(round(default_rate * BUCKETS))})"
    whens = []
    for value, rate in rates.items():
        if "'" in value:
            raise ValueError(f"stratum value {value!r} must not contain quotes")
        if not (0.0 <= rate <= 1.0):
            raise ValueError(f"rate for {value!r} is {rate}, not in [0, 1]")
        whens.append(
            f"WHEN {stratum} = '{value}' THEN {bucket} < {int(round(rate * BUCKETS))}"
        )
    return (
        "(CASE " + " ".join(whens)
        + f" ELSE {bucket} < {int(round(default_rate * BUCKETS))} END)"
    )


def percentile_bins(
    df: DataFrame,
    col: str,
    n_bins: int = 10,
    accuracy: int = 10_000,
    out_col: str = "bin",
) -> DataFrame:
    """Curriculum binning at scale: assign each row a quantile bin from
    APPROXIMATE percentile boundaries — no global sort.

    The exact-ntile formulation (``ntile`` over one window) is a
    single-partition global-ORDER window; this is its 10^12-row shape:
    one aggregation computes ``percentile_approx`` boundaries (KLL-style
    sketch, mergeable partials, driver state = n_bins-1 scalars), then
    binning is a scan-side expression — boundary-count comparison via a
    literal array, whole-stage codegen, zero extra shuffles.

    Bins are 1..n_bins, row goes to bin ``1 + #{boundaries < value}``
    (right-closed on boundaries). With exact boundaries this matches
    value-level ntile up to in-boundary-tie placement; the pytest bounds
    the per-bin count drift against exact ntile.
    """
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    fracs = [i / n_bins for i in range(1, n_bins)]
    row = df.select(
        F.percentile_approx(col, fracs, accuracy).alias("bs")
    ).collect()[0]
    if row["bs"] is None:
        raise ValueError(
            f"percentile_bins: no non-null values in column {col!r}"
        )
    bounds = list(row["bs"])
    # exponent-marked literals parse directly as DOUBLE (a bare decimal
    # goes through DECIMAL whose >2^53 mantissa can cast 1 ulp off the
    # collected boundary — see functions/litsql.py)
    from ..functions.litsql import double_literal

    arr = ", ".join(double_literal(b) for b in bounds)
    return df.withColumn(
        out_col,
        F.expr(
            f"CAST(1 + size(filter(array({arr}), b -> b < {col})) AS BIGINT)"
        ),
    )


def stratified_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "sample-v1",
) -> DataFrame:
    """Rows kept by the per-stratum deterministic keep-predicate."""
    return df.where(
        F.expr(
            stratified_sample_sql(
                key_col, stratum_col, rates, default_rate, salt, "spark"
            )
        )
    )


def seq_pack_sql(
    text_col: str,
    order_col: str,
    source_col: str,
    budget_tokens: int,
    dialect: str = "spark",
) -> str:
    """Pack-id assignment expression for concat-and-chunk sequence packing.

    Semantics: within each ``source_col`` shard, documents in
    ``order_col`` order are conceptually concatenated into one token
    stream that is cut every ``budget_tokens`` tokens; a document belongs
    to the pack where it STARTS (the GPT-style pretraining packing — a
    boundary-spanning document overflows its pack by < its own length,
    the price of never splitting documents here). This is one window
    prefix-sum per shard — a single shuffle on the shard key, no
    iteration; exact never-overflow bin packing is inherently sequential
    per bin and is NOT what a 10^12-token pipeline runs.

    Deterministic + dual-dialect: token counts come from
    ``token_count_sql`` (integer), the prefix sum is an exclusive
    ROWS-frame window (identical semantics both engines), so the DuckDB
    oracle reproduces pack ids bit-for-bit.
    """
    tok = TA.token_count_sql(text_col, dialect)
    return pack_cost_sql(tok, order_col, source_col, budget_tokens)


def pack_cost_sql(
    cost_sql: str, order_col: str, source_col: str, budget: int
) -> str:
    """Pack-id assignment for an ARBITRARY integer per-row cost expression
    (``seq_pack_sql`` with cost = token count is the special case). Same
    exclusive ROWS-frame prefix sum, identical text in both dialects."""
    prefix = (
        f"coalesce(sum({cost_sql}) OVER ("
        f"PARTITION BY {source_col} ORDER BY {order_col} "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
    )
    return f"CAST(floor(CAST({prefix} AS DOUBLE) / {budget}) AS BIGINT)"


def seq_pack(
    df: DataFrame,
    text_col: str = "text",
    order_col: str = "doc_id",
    source_col: str = "source",
    budget_tokens: int = 512,
) -> DataFrame:
    """Assign every document a ``pack_id`` (concat-and-chunk packing; see
    ``seq_pack_sql``). Plan: one exchange on ``source_col`` + one sort
    per partition — the window's prefix sum — then pure codegen."""
    return df.withColumn(
        "pack_id",
        F.expr(seq_pack_sql(text_col, order_col, source_col, budget_tokens)),
    )


def greedy_shard_ids(sizes, capacity: int):
    """Never-overflow greedy shard ids for an in-order size stream.

    Vectorized as O(shards log n): each shard boundary is one
    ``searchsorted`` jump over the cumulative-size array — no per-item
    Python loop. An item larger than ``capacity`` gets its own shard.
    """
    import numpy as np

    cum = np.asarray(sizes, dtype=np.int64).cumsum()
    n = len(cum)
    cap = int(capacity)
    shard = np.empty(n, dtype=np.int64)
    start, sid = 0, 0
    while start < n:
        base = int(cum[start - 1]) if start else 0
        end = int(np.searchsorted(cum, base + cap, side="right"))
        if end == start:  # oversize item: its own shard
            end = start + 1
        shard[start:end] = sid
        sid += 1
        start = end
    return shard


def shard_pack(
    df: DataFrame,
    size_col: str,
    order_col: str,
    source_col: str,
    capacity: int,
    block_budget: int | None = None,
) -> DataFrame:
    """Never-overflow greedy shard packing (WebDataset-style shard build).

    ``seq_pack`` cuts a concatenated stream every N tokens and lets a
    boundary document overflow its pack — right for pretraining token
    streams, wrong for IMAGE shard files, where ``capacity`` is a hard
    byte limit (object-store part caps, tar shards sized for prefetch):
    an item is never split and a shard NEVER exceeds capacity. That
    packing is inherently sequential per bin, so it is made scale-safe in
    two levels:

    1. each source is cut into bounded BLOCKS by the same exclusive
       prefix-sum window ``seq_pack`` uses (one shuffle + sort on the
       source key, pure codegen) — a block holds <= ``block_budget``
       bytes (default 1024 x capacity) plus at most one boundary item,
       so the pandas group below is bounded no matter how large a
       source is at 10^12 rows;
    2. within each (source, block), greedy first-fit-in-order packing
       runs in ``applyInPandas`` — vectorized as O(shards log n)
       ``searchsorted`` jumps over the cumulative-size array, NOT a
       per-item Python loop. An item larger than ``capacity`` gets a
       shard of its own (the caller's invariant to reject upstream if
       that is an error).

    The price of bounding: each block boundary wastes at most one
    partially-filled shard (fill loss <= capacity/block_budget, ~0.1% at
    the default), and packing is deterministic — (source, pack_block,
    shard) is reproducible across runs, engines and repartitions.

    Output: input columns + ``pack_block`` (bounded block within source)
    + ``shard`` (dense 0..k within the block). A sink writes shard files
    under ``source/pack_block/shard``.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    if block_budget is None:
        block_budget = 1024 * int(capacity)
    if int(capacity) <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")

    prefix = (
        f"coalesce(sum({size_col}) OVER ("
        f"PARTITION BY {source_col} ORDER BY {order_col} "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
    )
    blocked = df.withColumn(
        "pack_block",
        F.expr(
            f"CAST(floor(CAST({prefix} AS DOUBLE) / {int(block_budget)}) "
            "AS BIGINT)"
        ),
    )

    # fresh StructType (never mutate df.schema — CLAUDE.md)
    out_schema = StructType(
        list(blocked.schema.fields) + [StructField("shard", LongType(), False)]
    )
    cap = int(capacity)

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort").reset_index(drop=True)
        return pdf.assign(
            shard=greedy_shard_ids(pdf[size_col].to_numpy(np.int64), cap)
        )

    return blocked.groupBy(source_col, "pack_block").applyInPandas(
        lambda _key, pdf: pack(pdf), out_schema
    )
