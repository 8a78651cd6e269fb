"""Deduplication operators for the training-data pipeline.

The reference's only dedup is sort+unique of geocode candidate ids
(``src/geocoding/geocoder.cpp:392-394``); a 100 TB corpus pipeline needs
document-level dedup. Four families, all DataFrame-native:

* exact        — md5 groupBy (one shuffle, map-side partial min);
* MinHash+LSH  — shingle → minhash → band → bucket equi-join;
* Hamming      — pigeonhole block tables for hamming <= k over any
  integer signature (image perceptual hashes);
* n-gram Jaccard — exact verify kernel for candidate pairs.

Scale design (10^12 docs, 1000 executors):

* signatures are pure JVM expressions (``functions/text_analysis.py``) —
  they pipeline with the scan, no Python, no extra pass;
* candidate generation is an equi-join on (band, bucket) keys — Catalyst
  plans a shuffled hash join; hot buckets (boilerplate docs) are both
  capped explicitly (``max_bucket``) and covered by AQE skew splitting;
* the expensive exact-Jaccard verify runs only on candidate pairs, which
  LSH keeps at O(duplicates), not O(n^2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text_analysis as TA


def exact_duplicate_map(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Map every doc to the canonical (min-id) doc with byte-identical text.

    Returns (id_col, canonical_id). One shuffle on the content hash;
    the min() is computed with map-side partial aggregation.
    """
    h = F.md5(F.col(text_col)).alias("content_h")
    canon = (
        df.select(F.col(id_col), h)
        .groupBy("content_h")
        .agg(F.min(id_col).alias("canonical_id"))
    )
    return (
        df.select(F.col(id_col), h)
        .join(canon, "content_h")
        .select(id_col, "canonical_id")
    )


def minhash_values(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, mh0..mh{num_perm-1}) MinHash signature columns.

    Computed as explode(shingles) → per-shingle 60-bit hash → groupBy(id)
    with one ``min(perm_p(h))`` per permutation. The tokenizer runs ONCE
    per document and md5 once per shingle; the per-permutation arithmetic
    mins run INSIDE whole-stage codegen (a single-pass ``aggregate`` fold
    over the hash array was tried and is 2-4× slower: higher-order-
    function lambdas evaluate interpreted, per element, per permutation).
    The shuffle moves only ``num_perm`` partial mins per doc thanks to
    map-side partial aggregation, so this is also the shape that survives
    10^12 docs. Shingle-less docs get the sentinel P.
    """
    sh = TA.shingles_sql(TA.tokens_sql(text_col, "spark"), shingle_n, "spark")
    exploded = df.select(
        F.col(id_col), F.explode_outer(F.expr(sh)).alias("_sh")
    )
    hashed = exploded.select(
        F.col(id_col), F.expr(TA.hash60_sql("_sh", "spark")).alias("_h")
    )
    aggs = [
        F.min(F.expr(TA.perm_hash_sql("_h", *TA.MINHASH_PERMS[p]))).alias(f"mh{p}")
        for p in range(num_perm)
    ]
    out = hashed.groupBy(id_col).agg(*aggs)
    return out.select(
        F.col(id_col),
        *[
            F.coalesce(F.col(f"mh{p}"), F.lit(TA.MINHASH_P)).alias(f"mh{p}")
            for p in range(num_perm)
        ],
    )


def minhash_band_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    rows_per_band: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band, bucket) — one row per (doc, LSH band).

    The band bucket combines ``rows_per_band`` MinHash values; two docs
    share a bucket in some band iff their signatures agree on that whole
    band (the standard S-curve: P[candidate] = 1-(1-j^r)^b).
    """
    mh = minhash_values(df, id_col, text_col, bands * rows_per_band, shingle_n)

    def band_expr(b: int) -> str:
        out = "CAST(1 AS BIGINT)"
        for r in range(rows_per_band):
            out = f"((31 * {out} + mh{b * rows_per_band + r}) % 1000000007)"
        return out

    wide = mh.select(
        F.col(id_col),
        *[F.expr(band_expr(b)).alias(f"_b{b}") for b in range(bands)],
    )
    pairs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), F.col(f"_b{b}").alias("bucket"))
            for b in range(bands)
        ]
    )
    return wide.select(
        F.col(id_col), F.explode(pairs).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    rows_per_band: int = 4,
    shingle_n: int = 3,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Distinct candidate near-dup pairs (id_1 < id_2) from MinHash LSH.

    Bucket-collect formulation: group the band table by (band, bucket),
    collect member ids, expand pairs with an array expression. One
    aggregation + one shuffle — a self-equi-join would recompute the whole
    signature pipeline for both sides. ``max_bucket`` drops degenerate
    buckets (e.g. boilerplate docs) before expansion — at corpus scale one
    bucket of 10^7 docs would otherwise produce 10^14 pairs; the cap also
    bounds the collected array (memory-safe per group).
    """
    bt = minhash_band_table(df, id_col, text_col, bands, rows_per_band, shingle_n)
    grouped = (
        bt.groupBy("band", "bucket")
        .agg(F.collect_list(id_col).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    if max_bucket is not None:
        grouped = grouped.where(F.size("ids") <= max_bucket)
    pair_expr = (
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), y -> "
        "struct(least(x, y) AS id_1, greatest(x, y) AS id_2))))"
    )
    return (
        grouped.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.id_1", "p.id_2")
        .dropDuplicates(["id_1", "id_2"])
    )


def ngram_jaccard_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact distinct-shingle Jaccard for (id_1, id_2) pairs, integerized.

    Output: (id_1, id_2, jaccard_u = floor(1e6 * |A∩B| / |A∪B|)).
    Two broadcast-able dimension joins bring in shingle sets; intersection/
    union are JVM array ops (distinct semantics on both engines).

    The shingle sets are computed only for docs that actually appear in a
    candidate pair (semi-join prefilter): at corpus scale candidates are
    O(duplicates) << O(corpus), so the expensive re-shingling pass touches
    a tiny fraction of documents. At the 20k-doc test scale the win is
    small (~8% same-session A/B — candidates there are 6% of the corpus);
    the point is the asymptotic shape, not the toy number.
    """
    cand_ids = (
        pairs.select(F.col("id_1").alias(id_col))
        .unionByName(pairs.select(F.col("id_2").alias(id_col)))
        .distinct()
    )
    sh = TA.shingles_sql(TA.tokens_sql(text_col, "spark"), shingle_n, "spark")
    sets = docs.join(cand_ids, id_col, "left_semi").select(
        F.col(id_col), F.array_distinct(F.expr(sh)).alias("shset")
    )
    out = (
        pairs.join(sets.withColumnRenamed(id_col, "id_1").withColumnRenamed("shset", "s1"), "id_1")
        .join(sets.withColumnRenamed(id_col, "id_2").withColumnRenamed("shset", "s2"), "id_2")
        .withColumn("inter", F.size(F.array_intersect("s1", "s2")))
        .withColumn("uni", F.size(F.array_union("s1", "s2")))
    )
    jac = F.when(F.col("uni") == 0, F.lit(0.0)).otherwise(
        F.col("inter").cast("double") / F.col("uni").cast("double")
    )
    return out.select(
        "id_1", "id_2", F.floor(jac * 1000000).cast("long").alias("jaccard_u")
    )


def near_duplicate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    bands: int = 4,
    rows_per_band: int = 4,
    shingle_n: int = 3,
    max_bucket: int | None = 1000,
    materialize: bool = True,
) -> DataFrame:
    """MinHash-LSH candidates verified with exact n-gram Jaccard >= threshold.

    The verify stage references the candidate set three times (two id
    projections feeding the semi-join prefilter + the final pair join);
    left fully declarative, Catalyst re-derives the whole shingle →
    minhash → band → bucket → pair-expand pipeline once per reference
    (measured 42.9 s vs ~8 s at sf0.1, 3× signature derivation).
    ``materialize`` snapshots the candidates once with an eager
    localCheckpoint before scoring — candidates are O(duplicates) <<
    O(corpus), so this is also the shape that survives 10^12 docs (the
    durable-pipeline twin is a CheckpointTable stage, see
    ``plans/pipelines.py``).
    """
    cand = lsh_candidate_pairs(
        docs, id_col, text_col, bands, rows_per_band, shingle_n, max_bucket
    )
    if materialize:
        cand = cand.localCheckpoint(eager=True)
    scored = ngram_jaccard_pairs(cand, docs, id_col, text_col, shingle_n)
    return scored.where(F.col("jaccard_u") >= int(threshold * 1000000))


def hamming_near_pairs(
    sig: DataFrame,
    id_col: str,
    sig_col: str,
    nbits: int,
    max_hamming: int,
) -> DataFrame:
    """Pairs whose ``sig_col`` signatures differ in <= ``max_hamming`` bits,
    via the pigeonhole block equi-join, for ANY precomputed integer
    signature (text SimHash, image perceptual hash, ...).

    The signature splits into ``max_hamming + 1`` contiguous blocks (the
    low blocks absorb any remainder bits); a pair within distance k must
    agree exactly on at least one block. Masking after the arithmetic
    shift recovers the true bit-field even for negative int64 signatures
    (sign-extension only touches positions above the mask).

    Output: (id_1, id_2, hamming) with id_1 < id_2.
    """
    blocks = max_hamming + 1
    if blocks > nbits:
        raise ValueError(
            f"max_hamming {max_hamming} needs {blocks} blocks but nbits={nbits}"
        )
    base, rem = divmod(nbits, blocks)
    widths = [base + 1 if i < rem else base for i in range(blocks)]
    offsets = [sum(widths[:i]) for i in range(blocks)]
    def _block_val(i: int) -> str:
        # a 64-bit-wide block is the whole signature: no mask (the literal
        # 2^64-1 would overflow BIGINT and fail analysis)
        if widths[i] >= 64:
            return sig_col
        return f"(shiftright({sig_col}, {offsets[i]}) & {(1 << widths[i]) - 1})"

    block_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                F.expr(_block_val(i)).alias("val"),
            )
            for i in range(blocks)
        ]
    )
    bt = sig.select(
        F.col(id_col), F.col(sig_col).alias("_sig"), F.explode(block_structs).alias("bb")
    ).select(id_col, "_sig", F.col("bb.blk").alias("blk"), F.col("bb.val").alias("val"))
    # bucket-collect + in-expression pair expansion (see lsh_candidate_pairs)
    grouped = (
        bt.groupBy("blk", "val")
        .agg(
            F.collect_list(F.struct(F.col(id_col).alias("id"), "_sig")).alias("ms")
        )
        .where(F.size("ms") >= 2)
    )
    pair_expr = (
        "flatten(transform(ms, (x, i) -> "
        "transform(slice(ms, i + 2, size(ms)), y -> struct("
        "least(x.id, y.id) AS id_1, greatest(x.id, y.id) AS id_2, "
        "x._sig AS s1, y._sig AS s2))))"
    )
    cand = (
        grouped.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.id_1", "p.id_2", "p.s1", "p.s2")
        .dropDuplicates(["id_1", "id_2"])
    )
    return cand.withColumn(
        "hamming", F.expr(TA.hamming_sql("s1", "s2", "spark"))
    ).where(F.col("hamming") <= max_hamming).select("id_1", "id_2", "hamming")


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Min-label connected components over near-duplicate pairs: every node
    maps to the smallest id reachable through the pair graph (singletons map
    to themselves). This is the canonical-document assignment step after
    LSH + verify.

    Iterative label propagation with driver-controlled convergence: each
    round, a node's label becomes min(own, neighbors' labels) — one
    edge⨝label join + one aggregation per round, converging in
    graph-diameter rounds. Near-dup components are shallow (duplicates of
    a common source), so rounds ≈ 2-4 in practice; if convergence is not
    reached within ``max_iter`` rounds the operator RAISES rather than
    returning silently-wrong split components. Labels are localCheckpointed each round to cut
    the growing lineage (iterative plans otherwise re-execute from the
    source every round).

    At 10^12 nodes the per-round cost is one shuffle on node id; the
    large-star/small-star variant (same join primitive, different edge
    rewriting) drops in here if diameters ever grow beyond a handful.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    edges = (
        pairs.selectExpr(f"id_1 AS src", f"id_2 AS dst")
        .unionByName(pairs.selectExpr("id_2 AS src", "id_1 AS dst"))
        .distinct()
        .localCheckpoint()
    )
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    ).localCheckpoint()
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy("dst")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neigh, labels["node"] == neigh["dst"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter or switch "
            "to the large-star/small-star variant for high-diameter graphs"
        )
    return labels.select(F.col("node").alias(id_col), F.col("label").alias("component"))


def connected_components_star(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 30,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al., the
    MapReduce-era algorithm used at web scale): converges in O(log^2 n)
    rounds on ANY diameter, unlike plain label propagation's O(diameter).

    Each round rewrites the edge set:

    * large-star: for every node, connect every STRICTLY LARGER neighbor
      to the minimum of the neighborhood (incl. self);
    * small-star: connect every neighbor <= self to the minimum.

    Edges monotonically point toward component minima; at fixpoint the
    edge set IS the star (node -> component min). Both steps are one
    groupBy per round over the (symmetrized) edge list — no joins against
    a growing label table, which is what makes it the 10^12-edge shape.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    sym = pairs.selectExpr("id_1 AS u", "id_2 AS v").where("u <> v")

    def _large_star(edges: DataFrame) -> DataFrame:
        # for every node u over the SYMMETRIZED adjacency: connect each
        # strictly larger neighbor to m = min(neighborhood ∪ {u})
        both = edges.unionByName(edges.selectExpr("v AS u", "u AS v"))
        grouped = both.groupBy("u").agg(F.collect_set("v").alias("nbrs"))
        pair_expr = (
            "transform(filter(nbrs, x -> x > u), "
            "x -> struct(x AS u, least(u, array_min(nbrs)) AS v))"
        )
        return (
            grouped.select(F.explode(F.expr(pair_expr)).alias("e"))
            .select("e.u", "e.v")
            .where("u <> v")
            .distinct()
        )

    def _small_star(edges: DataFrame) -> DataFrame:
        # direct each edge big -> small, group by the big endpoint, and
        # connect the big node AND all its smaller neighbors to the min
        directed = edges.selectExpr(
            "greatest(u, v) AS u", "least(u, v) AS v"
        ).where("u <> v")
        grouped = directed.groupBy("u").agg(F.collect_set("v").alias("nbrs"))
        pair_expr = (
            "transform(array_union(nbrs, array(u)), "
            "x -> struct(x AS u, array_min(nbrs) AS v))"
        )
        return (
            grouped.select(F.explode(F.expr(pair_expr)).alias("e"))
            .select("e.u", "e.v")
            .where("u <> v")
            .distinct()
        )

    def _star(edges: DataFrame, large: bool) -> DataFrame:
        return _large_star(edges) if large else _small_star(edges)

    edges = sym.distinct().localCheckpoint()
    for _ in range(max_iter):
        edges2 = _star(_star(edges, large=True), large=False).localCheckpoint()
        if edges2.exceptAll(edges).isEmpty() and edges.exceptAll(edges2).isEmpty():
            edges = edges2
            break
        edges = edges2
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )
    # fixpoint edges are (node -> component min) stars; singletons map to self
    comp = edges.selectExpr("u AS node", "v AS label")
    return (
        nodes.select(F.col(id_col).alias("node"))
        .join(comp, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("label", "node").alias("component"),
        )
    )
