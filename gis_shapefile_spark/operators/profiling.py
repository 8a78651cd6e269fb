"""Key-skew profiling: the measurement that justifies (or rejects) salting.

The engine's skew handling is policy-driven — AQE skew-join first, opt-in
salting (``spatial_join.point_in_polygon_join(salt_buckets=...)``) where
measured (BENCH/BASELINE.md records the 2.3x AQE win on the planted urban
hot cell). This module is the measuring instrument: a one-pass heavy-
hitter profile over any key (cell ids, join keys, LSH buckets) that says
WHICH keys are hot and by how much, so the salt decision is data-driven
instead of guessed.

Scale shape: one shuffle over the raw rows (groupBy key, count combines
map-side); everything after runs on the aggregated key table (bounded by
key cardinality, e.g. 4^res for cells), where the grand total is a
second tiny agg broadcast back. No window over an unpartitioned frame —
a global row_number on the raw table would serialize onto one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def key_skew_profile(df: DataFrame, key_cols: list[str], top_k: int = 20) -> DataFrame:
    """Top-``top_k`` heavy-hitter keys with exact integer skew measures.

    Returns one row per heavy key, ranked by count (ties broken by key for
    cross-engine determinism):

    * ``rank``       — 1-based heavy-hitter rank;
    * ``n_rows``     — rows carrying this key;
    * ``share_ppm``  — floor(n_rows * 1e6 / total): parts-per-million of
      the table concentrated on this key;
    * ``skew_x100``  — floor(n_rows * n_keys * 100 / total): how many
      times the MEAN key weight this key carries, x100. A uniform key
      profiles at ~100; the planted urban hot cell shows thousands.

    All measures are exact BIGINT arithmetic — no float reductions — so
    the profile is bit-stable across engines and partitionings.
    """
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    totals = counts.agg(
        F.sum("n_rows").alias("_total"), F.count(F.lit(1)).alias("_n_keys")
    )
    w = Window.orderBy(F.col("n_rows").desc(), *[F.col(c) for c in key_cols])
    # the rank window runs AFTER the count agg, on key-cardinality rows —
    # its single-partition sort is bounded by |keys|, and only to rank the
    # top slice; the raw table never sees an unpartitioned window.
    return (
        counts.join(F.broadcast(totals))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(
            "rank",
            *key_cols,
            "n_rows",
            # floor() before the cast: Spark's double->bigint cast
            # truncates but DuckDB's ROUNDS — floor pins both engines to
            # the same integer (the division itself is one IEEE op on
            # identical operands, so its double result is bit-identical)
            F.floor(F.col("n_rows") * 1000000 / F.col("_total"))
            .cast("bigint")
            .alias("share_ppm"),
            F.floor(F.col("n_rows") * F.col("_n_keys") * 100 / F.col("_total"))
            .cast("bigint")
            .alias("skew_x100"),
        )
    )


def table_profile(
    df,
    numeric_cols: dict[str, int],
    string_cols: tuple[str, ...] = (),
):
    """ANALYZE-style per-column statistics — the stats layer every
    optimizer and lakehouse maintains (row counts, null counts, NDV,
    min/max): one long-format row per column,
    (col, n_rows, n_nulls, n_distinct, min_u, max_u).

    ``numeric_cols`` maps column -> decimal scale: min/max are
    integerized ``floor(x * 10^scale)`` so the output is exact BIGINT in
    any engine. String columns report LENGTH min/max (the stat a pruner
    can actually use cross-engine; raw string min/max collation differs
    between engines and is deliberately not emitted).

    Plan shape: ONE aggregate pass over the table. Exact
    ``count(distinct)`` over k columns makes Catalyst plan an Expand
    (k× the shuffle rows) — the right price for an exact oracle-checked
    profile at gate scale; at corpus scale swap ``exact_ndv=False``-
    style HLL sketches (``approx_count_distinct``) per the
    percentile_bins precedent (sketch scale path, exact oracle twin).
    The long-format pivot is a zero-shuffle array-explode of the single
    agg row.
    """
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c, scale in numeric_cols.items():
        m = 10 ** scale
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}"),
            F.countDistinct(c).alias(f"__nd_{c}"),
            F.floor(F.min(c) * m).cast("long").alias(f"__mn_{c}"),
            F.floor(F.max(c) * m).cast("long").alias(f"__mx_{c}"),
        ]
    for c in string_cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}"),
            F.countDistinct(c).alias(f"__nd_{c}"),
            F.min(F.length(c)).cast("long").alias(f"__mn_{c}"),
            F.max(F.length(c)).cast("long").alias(f"__mx_{c}"),
        ]
    one = df.agg(*aggs)
    cols = list(numeric_cols) + list(string_cols)
    entries = ", ".join(
        f"struct('{c}' as col, __n as n_rows, __nn_{c} as n_nulls, "
        f"__nd_{c} as n_distinct, __mn_{c} as min_u, __mx_{c} as max_u)"
        for c in cols
    )
    return one.select(
        F.explode(F.expr(f"array({entries})")).alias("s")
    ).select("s.*")
