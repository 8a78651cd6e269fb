"""Count-min sketch: mergeable frequency estimation for heavy hitters.

The sketch the brief names outright: at 10^12 tokens an exact
per-token count is a full shuffle of the universe; a count-min sketch is
a FIXED d x w integer grid whose per-partition pieces ADD — each
executor sketches its split with zero coordination, the driver (or a
tree reduce) sums d*w BIGINTs, and any token's frequency reads back as
the MIN of its d counters, overestimating only (never under), with
error <= 2N/w at probability 1 - (1/2)^d. Everything is integer
arithmetic over fixed literal hash salts, so Spark and DuckDB agree
bit-for-bit — a sketch whose VALUES are oracle-checkable, not just its
contract.

Hashing reuses the corpus canon: ``hash60_sql`` (md5-prefix 60-bit
BIGINT) through ``perm_hash_sql`` (the MinHash permutation family, mod
p = 2^31 - 1) with per-row literal salts, bucketed mod w. All texts are
dialect-identical except the md5 spelling inside hash60.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import text_analysis as TA

CMS_D = 4
CMS_W = 64
# fixed literal salts (a, b) per sketch row — small odd primes; any
# fixed pairwise-independent family works, these keep the SQL short
CMS_SALTS: tuple[tuple[int, int], ...] = ((3, 7), (11, 13), (17, 19), (23, 29))


def cms_bucket_sql(h: str, row: int, w: int = CMS_W) -> str:
    """Bucket of hash-expression ``h`` in sketch row ``row`` — identical
    text in both dialects (integer multiply/add/mod only)."""
    a, b = CMS_SALTS[row]
    return f"({TA.perm_hash_sql(h, a, b)} % {w})"


def cms_build(
    items: DataFrame,
    item_col: str,
    d: int = CMS_D,
    w: int = CMS_W,
) -> DataFrame:
    """Sketch an item stream into the (row, bucket, cnt) counter table.

    One in-plan explode fans each item to its ``d`` (row, bucket) cells
    (narrow integer rows — the ``within_distance_self_join`` 3x3
    pattern), one groupBy sums. The output is at most d x w rows no
    matter the input size — THE property that makes it a sketch: counts
    from disjoint partitions/batches union + re-groupBy into the same
    sketch (`cms_merge`), so a 10^12-token corpus sketches map-side and
    ships d*w integers per partition.
    """
    if d < 1 or d > len(CMS_SALTS):
        raise ValueError(f"d must be in [1, {len(CMS_SALTS)}], got {d}")
    h = TA.hash60_sql(item_col, "spark")
    cells = ", ".join(
        f"struct({i} AS row, {cms_bucket_sql(h, i, w)} AS bucket)"
        for i in range(d)
    )
    return (
        items.selectExpr(f"explode(array({cells})) AS _c")
        .select(F.col("_c.row").alias("row"), F.col("_c.bucket").alias("bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Union counter tables from disjoint shards into one sketch —
    integer adds, the mergeability contract (sketch(A ∪ B) ==
    merge(sketch(A), sketch(B)), pinned by pytest)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return (
        out.groupBy("row", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def cms_estimate(
    queries: DataFrame,
    sketch: DataFrame,
    item_col: str,
    d: int = CMS_D,
    w: int = CMS_W,
) -> DataFrame:
    """Point-estimate each query item's frequency: min over its ``d``
    counters. The sketch broadcasts (<= d x w rows by construction);
    each query item explodes to its d cells, left-joins, and takes the
    integer MIN with an absent cell counting 0 — so every query item
    gets a row, an unseen item whose cells are all empty estimates 0,
    and the estimate upper-bounds the true count always, exact when none
    of its cells collided."""
    h = TA.hash60_sql(item_col, "spark")
    cells = ", ".join(
        f"struct({i} AS row, {cms_bucket_sql(h, i, w)} AS bucket)"
        for i in range(d)
    )
    ex = queries.selectExpr(
        f"{item_col}", f"explode(array({cells})) AS _c"
    ).select(
        item_col, F.col("_c.row").alias("row"),
        F.col("_c.bucket").alias("bucket"),
    )
    return (
        ex.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0).cast("long"))).alias("est_cnt"))
    )


def cms_oracle_ctes(
    source_sql: str,
    item_col: str,
    d: int = CMS_D,
    w: int = CMS_W,
) -> dict:
    """DuckDB twins of build + estimate as CTE fragments: the d cells
    come from UNION ALL arms (one per sketch row) over the identical
    bucket text; ``source_sql`` must yield the item stream."""
    h = TA.hash60_sql(item_col, "duckdb")
    arms = " UNION ALL ".join(
        f"SELECT {i} AS row, {cms_bucket_sql(h, i, w)} AS bucket, {item_col}"
        f" FROM src"
        for i in range(d)
    )
    return {
        "src": source_sql,
        "cells": arms,
        "sketch": (
            "SELECT row, bucket, CAST(count(*) AS BIGINT) AS cnt "
            "FROM cells GROUP BY row, bucket"
        ),
    }


# ---------------------------------------------------------------------------
# HyperLogLog: the cardinality twin of the count-min grid (CMS answers
# "how often", HLL answers "how many distinct") — m=64 integer
# registers, mergeable by elementwise max, deterministic cross-engine
# because bucket and rank come from DISJOINT md5 substrings (no
# division, no libm anywhere: the rank is a generated integer CASE
# ladder and the single estimate division is one identical IEEE tree
# over exact integers).
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# Bloom filter: the membership member completing the sketch family
# (CMS: how often; HLL: how many distinct; Bloom: is it in the set).
# Pipeline story: broadcast a compact bit set of 10^9 banned ids to
# prune a 10^12-row corpus scan BEFORE the exact anti-join — the bloom
# pass costs k integer hashes per row against a broadcast bit table and
# removes ~(1 - fp) of the corpus from the expensive exact join; no
# false negatives ever (a banned row always passes to the verify), the
# false-positive rate is the documented (1 - e^(-kn/m))^k trade.
# ---------------------------------------------------------------------------

BLOOM_M = 512  # bits
BLOOM_K = 4    # hash functions (reuses the CMS salt family)


def bloom_bit_sql(h: str, j: int, m: int = BLOOM_M) -> str:
    """Bit position j-th hash — same integer permutation family as the
    CMS rows, identical text both dialects."""
    a, b = CMS_SALTS[j]
    return f"({TA.perm_hash_sql(h, a, b)} % {m})"


def bloom_build(
    items: DataFrame,
    item_col: str,
    k: int = BLOOM_K,
    m: int = BLOOM_M,
) -> DataFrame:
    """Build the bit set: each member fans to its k bit positions
    in-plan, distinct folds them to <= m rows of (bit) — bounded state
    regardless of member count, mergeable by plain union+distinct
    (set OR). Broadcast-sized by construction."""
    if k < 1 or k > len(CMS_SALTS):
        raise ValueError(f"k must be in [1, {len(CMS_SALTS)}], got {k}")
    h = TA.hash60_sql(item_col, "spark")
    bits = ", ".join(bloom_bit_sql(h, j, m) for j in range(k))
    return (
        items.selectExpr(f"explode(array({bits})) AS bit")
        .distinct()
    )


def bloom_contains(
    probes: DataFrame,
    bloom: DataFrame,
    item_col: str,
    k: int = BLOOM_K,
    m: int = BLOOM_M,
) -> DataFrame:
    """Tag each probe row with ``in_bloom`` (1 = possibly a member,
    0 = DEFINITELY not): the probe's k bit positions join the broadcast
    bit set; membership requires ALL k bits present. Never a false
    negative; false positives at the documented (1 - e^(-kn/m))^k
    rate — the caller's exact verify join runs only on the passers.

    The probe items are deduplicated before the explode, so an item that
    repeats counts its k bit hits once, not once per row."""
    h = TA.hash60_sql(item_col, "spark")
    bits = ", ".join(bloom_bit_sql(h, j, m) for j in range(k))
    ex = probes.select(item_col).distinct().selectExpr(
        item_col, f"explode(array({bits})) AS bit"
    )
    hits = (
        ex.join(F.broadcast(bloom), "bit")
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    return (
        probes.join(hits, item_col, "left")
        .withColumn(
            "in_bloom",
            (F.coalesce(F.col("_hits"), F.lit(0)) == k).cast("long"),
        )
        .drop("_hits")
    )
