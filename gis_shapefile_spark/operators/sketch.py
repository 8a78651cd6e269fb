"""HyperLogLog: mergeable distinct counting.

m=64 integer registers per group, mergeable by elementwise max, so an
unbounded feed counts distinct values in |groups| x 64 BIGINTs where an
exact countDistinct shuffles the universe. Deterministic cross-engine
because bucket and rank come from DISJOINT md5 substrings (no division,
no libm anywhere: the rank is a generated integer CASE ladder and the
single estimate division is one identical IEEE tree over exact
integers), so Spark and DuckDB agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

HLL_M = 64          # registers (p = 6)
HLL_WBITS = 48      # rank field width (md5 chars 3..14)
HLL_ALPHA = "0.709"  # alpha_64, the standard bias constant


def _hex_field_sql(expr: str, start: int, length: int, dialect: str) -> str:
    """BIGINT from an md5 substring — the hash60 canon on a field."""
    if dialect == "spark":
        return (
            f"CAST(conv(substr(md5({expr}), {start}, {length}), 16, 10)"
            f" AS BIGINT)"
        )
    return f"CAST(('0x' || substr(md5({expr}), {start}, {length})) AS BIGINT)"


def hll_bucket_sql(expr: str, dialect: str = "spark") -> str:
    """Register index 0..63 from md5 chars 1-2 (8 independent bits)."""
    return f"({_hex_field_sql(expr, 1, 2, dialect)} % {HLL_M})"


def hll_rank_sql(expr: str, dialect: str = "spark") -> str:
    """Leading-zero rank (1..49) of the 48-bit field from md5 chars
    3-14: rank r means the top r-1 bits are zero — a generated integer
    CASE ladder, no log2, no division, identical semantics in both
    dialects (only the hex-parse spelling differs)."""
    w = _hex_field_sql(expr, 3, 12, dialect)
    arms = " ".join(
        f"WHEN {w} >= {1 << (HLL_WBITS - r)} THEN {r}"
        for r in range(1, HLL_WBITS + 1)
    )
    return f"(CASE {arms} ELSE {HLL_WBITS + 1} END)"


def hll_build(
    items: DataFrame,
    item_col: str,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Registers per group: (group..., bucket, r) with r = max rank seen
    — an integer max, order-free and MERGEABLE (register grids from
    disjoint shards combine by elementwise max, pytest-pinned). At most
    |groups| x 64 rows regardless of input size."""
    b = hll_bucket_sql(item_col, "spark")
    r = hll_rank_sql(item_col, "spark")
    return (
        items.selectExpr(*group_cols, f"{b} AS bucket", f"{r} AS rank")
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rank").cast("long").alias("r"))
    )


def hll_merge(*grids: DataFrame) -> DataFrame:
    """Elementwise register max across shard grids."""
    out = grids[0]
    for g in grids[1:]:
        out = out.unionByName(g)
    keys = [c for c in out.columns if c != "r"]
    return out.groupBy(*keys).agg(F.max("r").cast("long").alias("r"))


def hll_estimate_sql(sum_col: str) -> str:
    """Raw HLL estimate from the integerized harmonic sum — identical
    text both dialects. ``sum_col`` must hold S = sum over all 64
    registers of 2^(50 - r) (missing registers contribute r = 0, i.e.
    2^50), so sum(2^-r) = S / 2^50 exactly and

        est = floor(alpha * m^2 * 2^50 / S).

    No small/large-range corrections (documented): raw-estimator error
    is ~1.04/sqrt(64) ~= 13%, the honest contract the pytest asserts."""
    scale = 1 << 50
    return (
        f"CAST(floor((CAST({HLL_ALPHA} AS DOUBLE) * CAST({HLL_M * HLL_M} "
        f"AS DOUBLE) * CAST({scale} AS DOUBLE)) / CAST({sum_col} AS DOUBLE))"
        f" AS BIGINT)"
    )


def hll_term_sql(r_col: str) -> str:
    """One register's harmonic term 2^(50 - r) as an exact BIGINT —
    a generated literal CASE ladder over r in 0..49 (r = 0 is the
    missing-register contribution 2^-0; r <= 49 by construction), so
    no shift operator and no pow(): pure integer literals, identical
    text in both dialects."""
    arms = " ".join(
        f"WHEN {r_col} = {r} THEN CAST({1 << (50 - r)} AS BIGINT)"
        for r in range(0, HLL_WBITS + 2)
    )
    return f"(CASE {arms} ELSE CAST(0 AS BIGINT) END)"
