"""Registry queries #2: image payload pipeline, embeddings and ANN,
events and trajectories, reverse geocode, and the training-data stages.

Same determinism contract as ``entry_queries.py`` (integer hashes, fixed
IEEE expression trees, integerized floats, identical column aliases in the
Spark plan and the DuckDB oracle). Four queries here read the
``documents`` text table: ``corpus_curation`` and ``seq_pack``
(``ANCHORS``) and ``dedup_minhash`` and ``dedup_components`` (bench
entries).
The two dedup queries run over ``documents`` unioned with a deterministic
mangled copy (doc_id + 1000000, first token dropped) so near-duplicate
structure exists at every SF; ``embedding_neardup`` likewise unions an
exact copy of ``embeddings``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import text_analysis as TA
from .operators import dedup as DD
from .operators import similarity as SIM
from .sources import fixtures as FX

EMB_DIM = 64
NEARDUP_PLANES = 8

# ---------------------------------------------------------------------------
# corpora (documents + deterministic duplicates — same SQL both engines)
# ---------------------------------------------------------------------------

_COPY_TEXT = "substr(text, instr(text, ' ') + 1)"  # drop first token


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _dup_corpus(spark: SparkSession, sf_dir: str, mangle: bool) -> DataFrame:
    """documents ∪ copy (doc_id+1000000); mangled copy drops the 1st token."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    copy_text = F.expr(_COPY_TEXT) if mangle else F.col("text")
    copy = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"), copy_text.alias("text")
    )
    # The test-scale documents table is ONE parquet file (1-2 source
    # splits), which would serialize the compute-heavy signature
    # expressions onto 2 cores; spread to session parallelism. At
    # production scale the source has plentiful splits and this is a
    # cheap shuffle of (id, text) only.
    return d.unionByName(copy).repartition(
        spark.sparkContext.defaultParallelism
    )


def _dup_corpus_cte(mangle: bool) -> str:
    text = _COPY_TEXT if mangle else "text"
    return (
        "SELECT doc_id, text FROM documents "
        f"UNION ALL SELECT doc_id + 1000000 AS doc_id, {text} AS text FROM documents"
    )


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH (16 perms, 4 bands x 4) candidates over documents ∪
    mangled copy, verified with exact 3-gram Jaccard >= 0.5."""
    corpus = _dup_corpus(spark, sf_dir, mangle=True)
    out = DD.near_duplicate_pairs(
        corpus, threshold=0.5, bands=4, rows_per_band=4, shingle_n=3,
        max_bucket=None,  # oracle parity: no bucket cap at test scale
    )
    return out.select(
        F.col("id_1").cast("long").alias("id_1"),
        F.col("id_2").cast("long").alias("id_2"),
        "jaccard_u",
    )


def _minhash_scored_ctes() -> str:
    """The shared CTE chain (corpus -> shingles -> signatures -> candidate
    pairs -> exact-Jaccard scored) used by both the dedup_minhash and
    dedup_components oracles — one builder, no text slicing."""
    toks = TA.tokens_sql("text", "duckdb")
    sh = TA.shingles_sql(toks, 3, "duckdb")
    hs = TA.token_hashes_sql("sh", "duckdb")
    bands = ", ".join(
        f"{TA.band_hash_sql('hs', b, 4, 'duckdb')} AS band{b}" for b in range(4)
    )
    cand_union = " UNION ".join(
        f"SELECT a.doc_id AS id_1, b.doc_id AS id_2 FROM sig a JOIN sig b "
        f"ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
        for b in range(4)
    )
    return f"""corpus AS ({_dup_corpus_cte(mangle=True)}),
        shs AS (SELECT doc_id, {sh} AS sh FROM corpus),
        sig AS (SELECT doc_id, {bands} FROM (SELECT doc_id, {hs} AS hs FROM shs)),
        cand AS ({cand_union}),
        sets AS (SELECT doc_id, list_distinct(sh) AS ss FROM shs),
        scored AS (
          SELECT c.id_1, c.id_2,
                 CAST(floor(1000000 * (CASE WHEN len(list_distinct(list_concat(s1.ss, s2.ss))) = 0
                      THEN 0.0
                      ELSE CAST(len(list_intersect(s1.ss, s2.ss)) AS DOUBLE)
                         / CAST(len(list_distinct(list_concat(s1.ss, s2.ss))) AS DOUBLE) END))
                      AS BIGINT) AS jaccard_u
          FROM cand c
          JOIN sets s1 ON s1.doc_id = c.id_1
          JOIN sets s2 ON s2.doc_id = c.id_2
        )"""


def q_dedup_minhash_oracle() -> str:
    return f"""
        WITH {_minhash_scored_ctes()}
        SELECT id_1::BIGINT AS id_1, id_2::BIGINT AS id_2, jaccard_u
        FROM scored WHERE jaccard_u >= 500000
    """


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document assignment: connected components over the verified
    MinHash near-dup pairs (min-id label propagation; singletons map to
    themselves)."""
    corpus = _dup_corpus(spark, sf_dir, mangle=True)
    pairs = DD.near_duplicate_pairs(
        corpus, threshold=0.5, bands=4, rows_per_band=4, shingle_n=3,
        max_bucket=None,
    )
    comp = DD.connected_components(corpus.select("doc_id"), pairs)
    return comp.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


def q_dedup_components_oracle() -> str:
    # reuse the scored-pairs CTE chain, then take the reachability closure
    # with a recursive CTE (min reachable id = component label)
    return f"""
        WITH RECURSIVE {_minhash_scored_ctes()},
        good AS (
          SELECT id_1, id_2 FROM scored WHERE jaccard_u >= 500000
        ),
        edges AS (
          SELECT id_1 AS src, id_2 AS dst FROM good
          UNION
          SELECT id_2 AS src, id_1 AS dst FROM good
        ),
        reach(node, lbl) AS (
          SELECT doc_id, doc_id FROM corpus
          UNION
          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
        )
        SELECT node::BIGINT AS doc_id, CAST(min(lbl) AS BIGINT) AS component
        FROM reach GROUP BY node
    """


# identical ANSI window-frame text in both engines (frame-spec analytics:
# running totals, moving window, lag deltas — engine addition, SURVEY §2.5
# notes the reference has no frame-spec windows)
_RUN_WIN = "PARTITION BY user_id ORDER BY ts, event_id"


def q_running_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-ordered analytics: running sum, 3-row moving sum,
    and lag delta over integerized values."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("user_id") % 7 == 0
    )
    vc = "CAST(floor(value * 100) AS BIGINT)"
    return ev.select(
        "user_id",
        "event_id",
        # CAST(...AS BIGINT) in BOTH dialects: DuckDB sum(BIGINT) widens to
        # HUGEINT -> pandas float64, Spark stays int64 (round-2 hash-red).
        F.expr(
            f"CAST(sum({vc}) OVER ({_RUN_WIN} ROWS BETWEEN UNBOUNDED PRECEDING "
            "AND CURRENT ROW) AS BIGINT)"
        ).alias("running_c"),
        F.expr(
            f"CAST(sum({vc}) OVER ({_RUN_WIN} ROWS BETWEEN 2 PRECEDING "
            "AND CURRENT ROW) AS BIGINT)"
        ).alias("moving3_c"),
        F.expr(f"{vc} - lag({vc}, 1, CAST(0 AS BIGINT)) OVER ({_RUN_WIN})").alias(
            "delta_c"
        ),
    )


def q_running_windows_oracle() -> str:
    vc = "CAST(floor(value * 100) AS BIGINT)"
    return f"""
        SELECT user_id, event_id,
               CAST(sum({vc}) OVER ({_RUN_WIN} ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS BIGINT) AS running_c,
               CAST(sum({vc}) OVER ({_RUN_WIN} ROWS BETWEEN 2 PRECEDING
                 AND CURRENT ROW) AS BIGINT) AS moving3_c,
               {vc} - lag({vc}, 1, CAST(0 AS BIGINT)) OVER ({_RUN_WIN})
                 AS delta_c
        FROM events
        WHERE user_id % 7 = 0
    """


# ---------------------------------------------------------------------------
# embedding similarity
# ---------------------------------------------------------------------------

def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 10 vectors as queries."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = SIM.cosine_topk(emb, queries, k=5)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("vec_id").cast("long").alias("vec_id"),
        "cos_u",
    )


def q_ann_topk_oracle() -> str:
    dot = SIM.dot_u_sql("q.qv", "c.embedding", "duckdb")
    nq = SIM.norm_u_sql("q.qv", "duckdb")
    nc = SIM.norm_u_sql("c.embedding", "duckdb")
    cos = SIM.cosine_u_sql(dot, nc, nq)
    return f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                   FROM embeddings WHERE vec_id < 10),
        scored AS (
          SELECT q.query_id, c.vec_id, {cos} AS cos_u
          FROM embeddings c CROSS JOIN q
        )
        SELECT query_id::BIGINT AS query_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_u DESC, vec_id)::BIGINT AS rank,
               vec_id::BIGINT AS vec_id, cos_u
        FROM scored
        QUALIFY rank <= 5
    """


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH near-dup pairs (cos >= 0.95) over embeddings ∪ copy."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.unionByName(
        emb.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    )
    out = SIM.cosine_near_duplicates(
        corpus, threshold=0.95, dim=EMB_DIM, n_planes=NEARDUP_PLANES, use_lsh=True
    )
    return out.select(
        F.col("id_1").cast("long").alias("id_1"),
        F.col("id_2").cast("long").alias("id_2"),
        "cos_u",
    )


def q_embedding_neardup_oracle() -> str:
    planes = SIM.make_planes(EMB_DIM, NEARDUP_PLANES)
    sig = SIM.hyperplane_signature_sql("embedding", planes, "duckdb")
    dot = SIM.dot_u_sql("a.embedding", "b.embedding", "duckdb")
    na = SIM.norm_u_sql("a.embedding", "duckdb")
    nb = SIM.norm_u_sql("b.embedding", "duckdb")
    cos = SIM.cosine_u_sql(dot, na, nb)
    return f"""
        WITH corpus AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings),
        sig AS (SELECT vec_id, embedding, {sig} AS bucket FROM corpus),
        pairs AS (
          SELECT a.vec_id AS id_1, b.vec_id AS id_2, {cos} AS cos_u
          FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        )
        SELECT id_1::BIGINT AS id_1, id_2::BIGINT AS id_2, cos_u
        FROM pairs WHERE cos_u >= {int(0.95 * SIM.SCALE_COS)}
    """


# ---------------------------------------------------------------------------
# events: tumbling-window aggregation (batch twin of the streaming stage)
# ---------------------------------------------------------------------------

def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour tumbling window x event_type: count + integerized sum(value)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sum_value_c"),
        )
    )


def q_events_window_oracle() -> str:
    return """
        SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
               event_type,
               count(*) AS n_events,
               CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
        FROM events
        GROUP BY 1, 2
    """


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions (30 min) per user: count, span, value sum."""
    from .operators import sessionize as SE

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return SE.session_stats(ev, gap_s=1800).select(
        "user_id",
        F.col("session_idx").cast("long").alias("session_idx"),
        "n_events",
        "start_epoch",
        "end_epoch",
        "sum_value_c",
    )


def q_sessionize_oracle() -> str:
    return """
        WITH lagged AS (
          SELECT user_id, event_id, value, ts,
                 CAST(floor(epoch(ts)) AS BIGINT) AS ep,
                 lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS prev
          FROM events
        ),
        flagged AS (
          SELECT *, CASE WHEN prev IS NULL OR ep - prev >= 1800
                         THEN 1 ELSE 0 END AS is_new
          FROM lagged
        ),
        sess AS (
          SELECT *, sum(is_new) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_idx
          FROM flagged
        )
        SELECT user_id, session_idx::BIGINT AS session_idx,
               count(*) AS n_events,
               min(ep) AS start_epoch, max(ep) AS end_epoch,
               CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
        FROM sess GROUP BY user_id, session_idx
    """


# geotagged trajectories: deterministic per-event position = device base
# (user hash) + small jitter (event hash, ±0.1°) + occasional teleport
# (every 19th/23rd event id, up to 12°/10°) — integer µdeg arithmetic,
# ONE division at the end, text shared verbatim with the oracle
TRAJ_LNG_SQL = (
    "(CAST(-125000000 + (user_id * 2654435761) % 44000000"
    " + (event_id * 40503196) % 200000 - 100000"
    " + CASE WHEN event_id % 19 = 0"
    " THEN (event_id * 48271) % 12000000 ELSE 0 END"
    " AS DOUBLE) / CAST(1000000 AS DOUBLE))"
)
TRAJ_LAT_SQL = (
    "(CAST(24000000 + (user_id * 2246822519) % 20000000"
    " + (event_id * 69621196) % 200000 - 100000"
    " + CASE WHEN event_id % 23 = 0"
    " THEN (event_id * 16807) % 10000000 ELSE 0 END"
    " AS DOUBLE) / CAST(1000000 AS DOUBLE))"
)
TRAJ_V_MAX = 100  # µdeg per second


OD_RES = 7
OD_BUCKET_S = 3600


HEADING_SECTORS = 8


CROSS_K_RADII = (0.25, 0.5)
CROSS_K_AREA = 59.0 * 26.0


def q_cross_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-K colocation: are geotagged EVENTS clustered around the
    image POINTS beyond independent-CSR (the bivariate Ripley K)?
    One big-big CROSS pair join at max(r) — both sides large, each
    cross pair exactly once by construction — then the one-join-many-
    counters ladder (operators/clustering.py::cross_k over
    spatial_join.within_distance_cross_join)."""
    from .entry_queries import _points_df
    from .operators.clustering import cross_k

    left = _points_df(spark, sf_dir).selectExpr(
        "point_id AS id_1", "lng", "lat"
    )
    right = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_id AS id_2",
        f"{TRAJ_LNG_SQL} AS lng",
        f"{TRAJ_LAT_SQL} AS lat",
    )
    return cross_k(
        left, right, radii=CROSS_K_RADII, area=CROSS_K_AREA
    )


def q_cross_k_oracle() -> str:
    from .entry_queries import _points_oracle_cte
    from .operators.clustering import cross_k_oracle_sql

    left = (
        f"SELECT point_id AS id_1, lng, lat FROM ({_points_oracle_cte()})"
    )
    right = (
        f"SELECT event_id AS id_2, {TRAJ_LNG_SQL} AS lng, "
        f"{TRAJ_LAT_SQL} AS lat FROM events"
    )
    return cross_k_oracle_sql(
        left, right, radii=CROSS_K_RADII, area=CROSS_K_AREA
    )


def q_heading_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant travel direction per device: 8-sector compass histogram
    of successive-fix great-circle bearings (circular-data-safe modal
    direction, not a meaningless heading mean) — commute-axis/bot
    screening. Bearings integerize at 1e-3 deg (the measured JVM-vs-
    libm atan2 ulp margin, see operators/trajectory.py)."""
    from .operators import trajectory as TJ

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        "event_id",
        "ts",
        F.expr(TRAJ_LNG_SQL).alias("lng"),
        F.expr(TRAJ_LAT_SQL).alias("lat"),
    )
    return TJ.heading_profile(ev, n_sectors=HEADING_SECTORS)


def q_heading_profile_oracle() -> str:
    from .operators import trajectory as TJ

    width = 360000 // HEADING_SECTORS
    sector = (
        f"CAST(floor(CAST({TJ.bearing_mdeg_sql('yp', 'xp', 'lat', 'lng')}"
        f" AS DOUBLE) / CAST({width} AS DOUBLE)) AS BIGINT)"
    )
    return f"""
        WITH pos AS (
          SELECT user_id, event_id, ts,
                 {TRAJ_LNG_SQL} AS lng, {TRAJ_LAT_SQL} AS lat
          FROM events
        ),
        lagged AS (
          SELECT user_id, lng, lat,
                 lag(lng) OVER w AS xp, lag(lat) OVER w AS yp
          FROM pos
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        hops AS (
          SELECT user_id, {sector} AS sector
          FROM lagged
          WHERE xp IS NOT NULL AND (xp <> lng OR yp <> lat)
        ),
        hist AS (
          SELECT user_id, sector, count(*)::BIGINT AS n
          FROM hops GROUP BY 1, 2
        ),
        ranked AS (
          SELECT user_id, sector, n,
                 sum(n) OVER (PARTITION BY user_id) AS n_hops,
                 row_number() OVER (
                   PARTITION BY user_id ORDER BY n DESC, sector
                 ) AS rk
          FROM hist
        )
        SELECT user_id, sector AS dominant_sector, n AS n_in_sector,
               CAST(n_hops AS BIGINT) AS n_hops
        FROM ranked WHERE rk = 1
    """


def q_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination flow matrix over geotagged events: per
    (device, hour) the trip's first-fix cell -> last-fix cell at res 7,
    aggregated to (o_cell, d_cell, n_trips, n_users) — the mobility
    demand matrix. ONE window sort per trip partition (rn + count over
    the same partition pick both endpoints), then bounded partial aggs
    (operators/trajectory.py::od_matrix)."""
    from .operators import trajectory as TJ

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        "event_id",
        "ts",
        F.expr(TRAJ_LNG_SQL).alias("lng"),
        F.expr(TRAJ_LAT_SQL).alias("lat"),
    )
    return TJ.od_matrix(ev, res=OD_RES, bucket_s=OD_BUCKET_S)


def q_od_matrix_oracle() -> str:
    from .operators import trajectory as TJ

    src = f"""SELECT user_id, event_id, ts,
                 {TRAJ_LNG_SQL} AS lng, {TRAJ_LAT_SQL} AS lat
          FROM events"""
    return TJ.od_matrix_oracle_sql(src, res=OD_RES, bucket_s=OD_BUCKET_S)


def q_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPS-jump cleaning over geotagged events: per device, hop distances
    ordered by time, implied-speed flags (multiply, never divide), and
    the jump-cleaned travel distance (operators/trajectory.py)."""
    from .operators import trajectory as TJ

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        "event_id",
        "ts",
        F.expr(TRAJ_LNG_SQL).alias("lng"),
        F.expr(TRAJ_LAT_SQL).alias("lat"),
    )
    return TJ.trajectory_stats(ev, v_max_udeg_per_s=TRAJ_V_MAX)


COMOVE_DIST = 2.0
COMOVE_BUCKET_S = 86400
COMOVE_MIN_BUCKETS = 15


def q_co_movement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-movement mining over geotagged events: device pairs within
    2 Euclidean degrees on >= 15 distinct DAYS — the convoy /
    companionship primitive (contact tracing, carpool discovery;
    image-corpus reading: camera pairs shooting the same places on the
    same days). The space-TIME member of the big-big join family: one
    representative fix per (device, day) via a single window pass, then
    ``within_distance_self_join(key_cols=("bucket",))`` blocks pairs on
    (day, 3x3 cell) — the temporal key rides the shuffle, so the
    all-time corpus joins day-slice by day-slice and no cross-day
    candidate is ever generated."""
    from .operators import trajectory as TJ

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_id", "ts",
        F.expr(TRAJ_LNG_SQL).alias("lng"),
        F.expr(TRAJ_LAT_SQL).alias("lat"),
    )
    return TJ.co_movement(
        ev, distance=COMOVE_DIST, bucket_s=COMOVE_BUCKET_S,
        min_buckets=COMOVE_MIN_BUCKETS,
    )


def q_co_movement_oracle() -> str:
    from .operators import trajectory as TJ

    src = (
        f"SELECT user_id, event_id, ts, {TRAJ_LNG_SQL} AS lng, "
        f"{TRAJ_LAT_SQL} AS lat FROM events"
    )
    return TJ.co_movement_oracle_sql(
        src, distance=COMOVE_DIST, bucket_s=COMOVE_BUCKET_S,
        min_buckets=COMOVE_MIN_BUCKETS,
    )


def q_trajectory_oracle() -> str:
    from .operators import trajectory as TJ

    dist = TJ.hop_dist_u_sql("xp", "yp", "lng", "lat")
    return f"""
        WITH pos AS (
          SELECT user_id, event_id, ts,
                 {TRAJ_LNG_SQL} AS lng, {TRAJ_LAT_SQL} AS lat
          FROM events
        ),
        lagged AS (
          SELECT user_id, lng, lat,
                 CAST(floor(epoch(ts)) AS BIGINT) AS ep,
                 lag(lng) OVER w AS xp, lag(lat) OVER w AS yp,
                 lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS epp
          FROM pos
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        hops AS (
          SELECT user_id, {dist} AS dist_u,
                 CASE WHEN {dist} > {TRAJ_V_MAX} * (ep - epp)
                      THEN 1 ELSE 0 END AS is_jump
          FROM lagged
        )
        SELECT user_id, count(*) AS n_events, count(dist_u) AS n_hops,
               CAST(coalesce(sum(is_jump), 0) AS BIGINT) AS n_jumps,
               CAST(coalesce(sum(CASE WHEN is_jump = 0 THEN dist_u
                                      ELSE 0 END), 0) AS BIGINT)
                   AS clean_dist_u
        FROM hops GROUP BY user_id
    """


# geodesic speed cap: ~100 µdeg/s planar ≈ 10 m/s at these latitudes,
# but the whole point of the geodesic twin is that the flag fires on
# PHYSICAL speed rather than the latitude-distorted planar proxy
TRAJ_V_MAX_GEO = 10  # meters per second


def q_trajectory_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic GPS-jump cleaning: hops in great-circle METERS, implied
    speed flagged against a physical m/s cap (multiply, never divide)."""
    from .operators import trajectory as TJ

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        "event_id",
        "ts",
        F.expr(TRAJ_LNG_SQL).alias("lng"),
        F.expr(TRAJ_LAT_SQL).alias("lat"),
    )
    return TJ.trajectory_stats_geo(ev, v_max_m_per_s=TRAJ_V_MAX_GEO)


def q_trajectory_geo_oracle() -> str:
    from .functions import geodesy as GD

    dist = GD.haversine_m_u_sql("xp", "yp", "lng", "lat", "duckdb")
    return f"""
        WITH pos AS (
          SELECT user_id, event_id, ts,
                 {TRAJ_LNG_SQL} AS lng, {TRAJ_LAT_SQL} AS lat
          FROM events
        ),
        lagged AS (
          SELECT user_id, lng, lat,
                 CAST(floor(epoch(ts)) AS BIGINT) AS ep,
                 lag(lng) OVER w AS xp, lag(lat) OVER w AS yp,
                 lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS epp
          FROM pos
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        hops AS (
          SELECT user_id, {dist} AS gdist_m,
                 CASE WHEN {dist} > {TRAJ_V_MAX_GEO} * (ep - epp)
                      THEN 1 ELSE 0 END AS is_jump
          FROM lagged
        )
        SELECT user_id, count(*) AS n_events, count(gdist_m) AS n_hops,
               CAST(coalesce(sum(is_jump), 0) AS BIGINT) AS n_jumps,
               CAST(coalesce(sum(CASE WHEN is_jump = 0 THEN gdist_m
                                      ELSE 0 END), 0) AS BIGINT)
                   AS clean_dist_m
        FROM hops GROUP BY user_id
    """


STAY_HOP_M = 15000
STAY_MIN_S = 120


def q_stay_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stay-point detection over the geotagged event fixture: maximal
    runs of consecutive fixes with successive hops <= 15 km, dwelling
    >= 120 s — per-stay span + integerized centroid."""
    from .operators import trajectory as TJ

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        "event_id",
        "ts",
        F.expr(TRAJ_LNG_SQL).alias("lng"),
        F.expr(TRAJ_LAT_SQL).alias("lat"),
    )
    return TJ.stay_points(
        ev, max_hop_m=STAY_HOP_M, min_duration_s=STAY_MIN_S
    )


def q_stay_points_oracle() -> str:
    from .functions import geodesy as GD

    hop = GD.haversine_m_u_sql("xp", "yp", "lng", "lat", "duckdb")
    return f"""
        WITH pos AS (
          SELECT user_id, event_id, ts,
                 {TRAJ_LNG_SQL} AS lng, {TRAJ_LAT_SQL} AS lat
          FROM events
        ),
        lagged AS (
          SELECT user_id, lng, lat,
                 CAST(floor(epoch(ts)) AS BIGINT) AS ep,
                 lag(lng) OVER w AS xp, lag(lat) OVER w AS yp,
                 row_number() OVER w AS rn
          FROM pos
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        flagged AS (
          SELECT user_id, lng, lat, ep, rn,
                 CASE WHEN {hop} IS NULL OR {hop} > {STAY_HOP_M}
                      THEN 1 ELSE 0 END AS brk
          FROM lagged
        ),
        isl AS (
          SELECT user_id, lng, lat, ep,
                 sum(brk) OVER (
                   PARTITION BY user_id ORDER BY rn
                 ) - 1 AS island
          FROM flagged
        ),
        stays AS (
          SELECT user_id, island,
                 count(*) AS n_fixes,
                 min(ep) AS t_start_ep,
                 max(ep) AS t_end_ep,
                 max(ep) - min(ep) AS duration_s,
                 sum(CAST(floor(lng * 1000000) AS BIGINT)) AS sx,
                 sum(CAST(floor(lat * 1000000) AS BIGINT)) AS sy
          FROM isl GROUP BY 1, 2
        )
        SELECT user_id,
               CAST(row_number() OVER (
                 PARTITION BY user_id ORDER BY t_start_ep, island
               ) - 1 AS BIGINT) AS stay_idx,
               n_fixes, t_start_ep, t_end_ep, duration_s,
               CAST(floor(sx / n_fixes) AS BIGINT) AS clng_u,
               CAST(floor(sy / n_fixes) AS BIGINT) AS clat_u
        FROM stays
        WHERE duration_s >= {STAY_MIN_S}
    """


MAP_MATCH_RADIUS = 1.0


def q_map_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map matching (lite): every geotagged event ping snaps to its
    nearest road segment within 1.0°, rolled up per (device, road) —
    the composition of the trajectory and nearest-road surfaces that a
    location-attribution pipeline actually runs. carry_cols threads the
    device key through the top-1 window so no re-join against the event
    table is needed."""
    from .operators import lines as LN

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        "event_id",
        F.expr(TRAJ_LNG_SQL).alias("lng"),
        F.expr(TRAJ_LAT_SQL).alias("lat"),
    )
    hits = LN.nearest_segment_join(
        spark, ev, FX.make_road_features(), radius=MAP_MATCH_RADIUS,
        point_id_col="event_id", carry_cols=("user_id",),
    )
    return hits.groupBy("user_id", "road_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pings"),
        F.sum("dsq_u").cast("long").alias("sum_dsq_u"),
    )


def q_map_match_oracle() -> str:
    from .entry_queries import _road_segment_values_sql
    from .operators import lines as LN

    dsq_u = LN.dsq_u_sql("p.lng", "p.lat", "s.ax", "s.ay", "s.bx", "s.by")
    r2u = LN.radius2_u(MAP_MATCH_RADIUS)
    return f"""
        WITH pos AS (
          SELECT user_id, event_id,
                 {TRAJ_LNG_SQL} AS lng, {TRAJ_LAT_SQL} AS lat
          FROM events
        ),
        scored AS (
          SELECT p.user_id, p.event_id, s.road_id, s.seg_id,
                 {dsq_u} AS dsq_u
          FROM pos p CROSS JOIN {_road_segment_values_sql()}
        ),
        best AS (
          SELECT *, row_number() OVER (PARTITION BY event_id
                                       ORDER BY dsq_u, road_id, seg_id) AS rn
          FROM scored WHERE dsq_u <= {r2u}
        )
        SELECT user_id, road_id::BIGINT AS road_id,
               count(*) AS n_pings,
               CAST(sum(dsq_u) AS BIGINT) AS sum_dsq_u
        FROM best WHERE rn = 1
        GROUP BY user_id, road_id
    """


# ---------------------------------------------------------------------------
# reverse geocode (J1 exact-PIP hits + J6 nearest-centroid fallback)
# ---------------------------------------------------------------------------

def q_reverse_geocode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse geocode synthesized points against the 51-rect grid: PIP hit
    => confidence 1.0; miss => nearest rect center (<= 100 deg), confidence
    1 - d/100 (geocoder.cpp:260-316 semantics, integerized)."""
    from .entry_queries import _points_df
    from .operators import geocode as GC

    pts = _points_df(spark, sf_dir).select(
        F.col("point_id").alias("query_id"), "lng", "lat"
    )
    out = GC.reverse_geocode(spark, pts, FX.make_grid_features())
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("record_number").cast("long").alias("record_number"),
        F.floor(F.col("confidence") * 1000000000).cast("long").alias("conf_u"),
        "match_type",
    )


def q_reverse_geocode_oracle() -> str:
    from .entry_queries import _grid_values_sql, _points_oracle_cte

    dist = (
        "sqrt((m.lng-(g.x0+g.x1)/2)*(m.lng-(g.x0+g.x1)/2)"
        " + (m.lat-(g.y0+g.y1)/2)*(m.lat-(g.y0+g.y1)/2))"
    )
    return f"""
        WITH pts AS ({_points_oracle_cte()}),
        hits AS (
          SELECT p.point_id AS query_id, g.record_number
          FROM pts p JOIN {_grid_values_sql()}
            ON p.lng >= g.x0 AND p.lng < g.x1 AND p.lat >= g.y0 AND p.lat < g.y1
        ),
        miss AS (
          SELECT * FROM pts p
          WHERE NOT EXISTS (SELECT 1 FROM hits h WHERE h.query_id = p.point_id)
        ),
        fb AS (
          SELECT m.point_id AS query_id, g.record_number, {dist} AS dist
          FROM miss m CROSS JOIN {_grid_values_sql()}
          WHERE {dist} <= 100.0
          QUALIFY row_number() OVER (PARTITION BY m.point_id
                                     ORDER BY {dist}, g.record_number) = 1
        )
        SELECT query_id::BIGINT AS query_id,
               record_number::BIGINT AS record_number,
               1000000000::BIGINT AS conf_u, 'reverse' AS match_type
        FROM hits
        UNION ALL
        SELECT query_id::BIGINT, record_number::BIGINT,
               CAST(floor(1000000000 * (1.0 - dist / 100.0)) AS BIGINT), 'reverse'
        FROM fb
    """


def q_tile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster-side tile rollup: per res-8 cell, point count + exact bounds
    (A1 bounds fold per tile), bounds integerized to floor(1e6 * coord)."""
    from .entry_queries import _points_df
    from .operators import tiling as TI

    pts = _points_df(spark, sf_dir)
    out = TI.tile_stats(pts, res=8, lng_col="lng", lat_col="lat")
    return out.select(
        "cell",
        "n_points",
        F.floor(F.col("minx") * 1000000).cast("long").alias("minx_u"),
        F.floor(F.col("maxx") * 1000000).cast("long").alias("maxx_u"),
        F.floor(F.col("miny") * 1000000).cast("long").alias("miny_u"),
        F.floor(F.col("maxy") * 1000000).cast("long").alias("maxy_u"),
    )


def q_tile_bounds_oracle() -> str:
    from .entry_queries import _points_oracle_cte
    from .functions import cells as C

    cell = C.cell_sql("lng", "lat", 8, "duckdb")
    return f"""
        WITH pts AS ({_points_oracle_cte()})
        SELECT {cell} AS cell, count(*) AS n_points,
               CAST(floor(min(lng) * 1000000) AS BIGINT) AS minx_u,
               CAST(floor(max(lng) * 1000000) AS BIGINT) AS maxx_u,
               CAST(floor(min(lat) * 1000000) AS BIGINT) AS miny_u,
               CAST(floor(max(lat) * 1000000) AS BIGINT) AS maxy_u
        FROM pts GROUP BY 1
    """


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation over documents ∪ exact copy:
    keep quality >= 0.5, heuristic lang = 'en', and only the canonical
    (min-id) doc of each exact-duplicate group — the composition a corpus
    pipeline runs before tokenization."""
    corpus = _dup_corpus(spark, sf_dir, mangle=False)
    canon = DD.exact_duplicate_map(corpus)
    kept = (
        corpus.join(canon, "doc_id")
        .where(F.col("doc_id") == F.col("canonical_id"))
        .select(
            "doc_id",
            TA.quality_score_col("text").alias("quality_u"),
            TA.lang_id_col("text").alias("lang_pred"),
            TA.token_count_col("text").alias("n_tokens"),
        )
        .where((F.col("quality_u") >= 500000) & (F.col("lang_pred") == "en"))
    )
    return kept.select(
        F.col("doc_id").cast("long").alias("doc_id"), "quality_u", "n_tokens"
    )


def q_corpus_curation_oracle() -> str:
    quality = TA.quality_score_sql("text", "duckdb")
    lang = TA.lang_id_sql(TA.tokens_sql("text", "duckdb"), "duckdb")
    ntok = TA.token_count_sql("text", "duckdb")
    return f"""
        WITH corpus AS ({_dup_corpus_cte(mangle=False)}),
        canon AS (
          SELECT c.doc_id, m.canonical_id
          FROM corpus c
          JOIN (SELECT md5(text) AS h, min(doc_id) AS canonical_id
                FROM corpus GROUP BY 1) m ON md5(c.text) = m.h
        ),
        kept AS (
          SELECT c.doc_id, {quality} AS quality_u, {lang} AS lang_pred,
                 {ntok} AS n_tokens
          FROM corpus c JOIN canon ON canon.doc_id = c.doc_id
          WHERE c.doc_id = canon.canonical_id
        )
        SELECT doc_id::BIGINT AS doc_id, quality_u, n_tokens
        FROM kept WHERE quality_u >= 500000 AND lang_pred = 'en'
    """


# ---------------------------------------------------------------------------
# image payload pipeline
# ---------------------------------------------------------------------------

def q_image_tiling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship north-rule composition over the input_hint image table:
    cell assign -> exact PIP join vs the 51 grid features -> per-(state,
    tile) rollup with per-row phash invariants verified in-plan.

    Null record_number (images outside every feature) is coalesced to -1
    so the group key is null-free in both engines (cross-engine null
    canonicalization through pandas is dtype-fragile)."""
    from .operators import tiling as TI

    path = FX.images_parquet_path(n=2000)
    images = spark.read.parquet(path)
    out = TI.image_tiling_pipeline(
        spark, images, FX.make_grid_features(), res=6
    )
    return out.select(
        F.coalesce(F.col("record_number").cast("long"), F.lit(-1)).alias(
            "record_number"
        ),
        "cell",
        "n_images",
        "n_bytes",
        "n_phash_ok",
    )


def q_image_tiling_oracle() -> str:
    """Value oracle for the image pipeline's SQL-expressible OUTPUTS.

    The pixel work (decode, phash recompute) is not SQL, but its result
    on the deterministic fixture is: every stored ``phash`` was computed
    from the decoded pixels at fixture-build time, so the invariant stage
    must pass for EVERY row — i.e. per-group ``n_phash_ok == count(*)``.
    A decode/phash regression in the engine breaks the hash match. Tile
    keys and byte sums are re-derived independently: half-open box PIP
    (exact for the axis-aligned grid, same contract as
    ``q_pip_grid_join_oracle``) + the dual-dialect cell expression +
    ``octet_length(bytes)``.
    """
    from .entry_queries import _grid_values_sql
    from .functions import cells as C

    path = FX.images_parquet_path(n=2000)
    cell = C.cell_sql("lng", "lat", 6, "duckdb")
    return f"""
        WITH img AS (
          SELECT image_id, octet_length(bytes) AS nb, lng, lat
          FROM read_parquet('{path}')
        ),
        assigned AS (
          SELECT i.image_id, i.nb, {cell} AS cell, g.record_number
          FROM img i LEFT JOIN {_grid_values_sql()}
            ON i.lng >= g.x0 AND i.lng < g.x1
           AND i.lat >= g.y0 AND i.lat < g.y1
        )
        SELECT COALESCE(record_number, -1)::BIGINT AS record_number,
               cell,
               count(*)::BIGINT AS n_images,
               sum(nb)::BIGINT AS n_bytes,
               count(*)::BIGINT AS n_phash_ok
        FROM assigned
        GROUP BY 1, 2
    """


def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs (phash hamming <= 6) over the fixture
    with planted perturbed copies. ENGINE side decodes pixels and
    recomputes every phash before the pigeonhole block join, so the whole
    decode -> perceptual-hash -> block-join path is value-checked: the
    ORACLE brute-forces pairs from the STORED phash column (true by
    fixture construction), and any decode/hash regression breaks the
    match."""
    from .operators import multimodal as MM

    path = FX.near_dup_images_parquet_path(n=1500, n_dup=150)
    images = spark.read.parquet(path)
    out = MM.image_near_pairs(images, max_hamming=6)
    return out.select("id_1", "id_2", F.col("hamming").cast("long").alias("hamming"))


def q_image_neardup_oracle() -> str:
    path = FX.near_dup_images_parquet_path(n=1500, n_dup=150)
    return f"""
        WITH p AS (SELECT image_id, phash FROM read_parquet('{path}'))
        SELECT least(a.image_id, b.image_id) AS id_1,
               greatest(a.image_id, b.image_id) AS id_2,
               CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        FROM p a JOIN p b ON a.image_id < b.image_id
        WHERE bit_count(xor(a.phash, b.phash)) <= 6
    """


def q_cross_scale_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-invariant image near-dup: the corpus is the 2000-image
    fixture PLUS a 2x-upscaled copy of every lossless/idempotent-codec
    row (raw/qz/png — resize_images re-encodes with the REAL codecs at
    32x32), and duplicates are found by CANONICALIZING every off-size
    image back to 16x16 before the phash block join. The nearest-pixel
    grid makes 16->32->16 an exact identity and the non-jpeg codecs
    round-trip pixels exactly (raw/png) or idempotently (qz), so each
    up_<id> copy's recomputed canonical phash must land bit-for-bit on
    <id>'s STORED phash — the oracle brute-forces pairs from stored
    phashes alone, and any drift in decode, resize grid, re-encode, or
    hash breaks the match. This is the dedup a mixed-resolution crawl
    needs: same-size-only hashing misses every rescaled repost."""
    from .operators import multimodal as MM

    path = FX.images_parquet_path(n=2000)
    images = spark.read.parquet(path).select(
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash"
    )
    ups = MM.resize_images(
        images.where(F.col("fmt") != "jpeg"), 32, 32
    ).withColumn("image_id", F.concat(F.lit("up_"), F.col("image_id")))
    # canonicalize ONLY the off-size rows (identity re-encode of the
    # jpeg originals would second-generation-requantize their pixels and
    # drift recomputed phashes off the stored column)
    canon = images.unionByName(MM.resize_images(ups, 16, 16))
    out = MM.image_near_pairs(canon, max_hamming=6)
    return out.select(
        "id_1", "id_2", F.col("hamming").cast("long").alias("hamming")
    )


def q_cross_scale_neardup_oracle() -> str:
    path = FX.images_parquet_path(n=2000)
    return f"""
        WITH src AS (SELECT image_id, phash, fmt FROM read_parquet('{path}')),
        corpus AS (
          SELECT image_id, phash FROM src
          UNION ALL
          SELECT 'up_' || image_id AS image_id, phash FROM src
          WHERE fmt <> 'jpeg'
        )
        SELECT least(a.image_id, b.image_id) AS id_1,
               greatest(a.image_id, b.image_id) AS id_2,
               CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        FROM corpus a JOIN corpus b ON a.image_id < b.image_id
        WHERE bit_count(xor(a.phash, b.phash)) <= 6
    """


def q_image_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-image assignment — the stage AFTER image_neardup: every
    image maps to the min image_id reachable through its phash-hamming
    component (singletons to themselves), i.e. which images survive
    image dedup. ENGINE side recomputes phashes from decoded pixels,
    block-joins pairs, and runs min-label propagation (the same
    connected_components kernel as document dedup; the large-star
    variant drops in for high-diameter graphs). ORACLE brute-forces
    pairs from the STORED phash and takes the reachability closure with
    a recursive CTE — so decode, hamming blocking, AND the component
    labels are all value-checked. Lexicographic min on the zero-padded
    ids is identical in both engines (ASCII byte order)."""
    from .operators import multimodal as MM

    path = FX.near_dup_images_parquet_path(n=1500, n_dup=150)
    images = spark.read.parquet(path)
    pairs = MM.image_near_pairs(images, max_hamming=6)
    comp = DD.connected_components(
        images.select("image_id"), pairs, id_col="image_id"
    )
    return comp.select(
        "image_id", F.col("component").alias("canonical_id")
    )


def q_image_canon_oracle() -> str:
    path = FX.near_dup_images_parquet_path(n=1500, n_dup=150)
    return f"""
        WITH RECURSIVE p AS (
          SELECT image_id, phash FROM read_parquet('{path}')
        ),
        good AS (
          SELECT a.image_id AS id_1, b.image_id AS id_2
          FROM p a JOIN p b ON a.image_id < b.image_id
          WHERE bit_count(xor(a.phash, b.phash)) <= 6
        ),
        edges AS (
          SELECT id_1 AS src, id_2 AS dst FROM good
          UNION
          SELECT id_2 AS src, id_1 AS dst FROM good
        ),
        reach(node, lbl) AS (
          SELECT image_id, image_id FROM p
          UNION
          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
        )
        SELECT node AS image_id, min(lbl) AS canonical_id
        FROM reach GROUP BY node
    """


_TAKEDOWN_NUM = "CAST(substr(image_id, 5) AS BIGINT)"  # 'img_%09d' digits

N_REPOST = 100
_REPOST_SRC_OFF = 500


def _joint_corpus(spark: SparkSession):
    """Fixture near-dup images ∪ 100 planted REPOSTS: repost i reuses
    row i's caption but row (i+500)'s pixel payload — caption-identical,
    pixel-unrelated. With the fixture's perturbed copies (pixel-near,
    caption-identical to their sources) the corpus then has components
    only reachable through BOTH edge types."""
    path = FX.near_dup_images_parquet_path(n=1500, n_dup=150)
    base = spark.read.parquet(path)
    orig = base.where(~F.col("image_id").startswith("img_dup")).select(
        F.expr(_TAKEDOWN_NUM).alias("_num"), "image_id", "bytes", "w", "h",
        "fmt", "phash", "caption",
    )
    cap_side = orig.where(F.col("_num") < N_REPOST).select(
        F.col("_num").alias("_k"), "caption"
    )
    px_side = orig.where(
        (F.col("_num") >= _REPOST_SRC_OFF)
        & (F.col("_num") < _REPOST_SRC_OFF + N_REPOST)
    ).select(
        (F.col("_num") - _REPOST_SRC_OFF).alias("_k"),
        "bytes", "w", "h", "fmt", "phash",
    )
    reposts = cap_side.join(px_side, "_k").select(
        F.concat(
            F.lit("img_rep"), F.lpad(F.col("_k").cast("string"), 6, "0")
        ).alias("image_id"),
        "bytes", "w", "h", "fmt", "phash", "caption",
    )
    return base.select(
        "image_id", "bytes", "w", "h", "fmt", "phash", "caption"
    ).unionByName(reposts)


# duplicate COPIES with a numeric suffix divisible by 3 get an alt-text
# variant (copies carry their source's caption in the fixture, so keying
# the mangle on the copy prefix is what makes clusters diverge — a
# last-digit key alone never splits a cluster because copies share their
# source's digits)
_CAPTION_MANGLE = (
    "CASE WHEN image_id LIKE 'img_dup%' "
    "AND CAST(substr(image_id, -1) AS INT) % 3 = 0 "
    "THEN caption || ' (alt)' ELSE caption END"
)


def q_caption_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption consistency across near-dup image clusters — the
    alt-text-divergence signal joint image+text curation needs: after
    canonical-image assignment (decode -> recomputed phash -> hamming
    components), how many DISTINCT captions does each multi-member
    cluster carry? A planted in-plan mangle (every image_id ending in a
    multiple-of-3 digit gets an " (alt)" caption variant, identical SQL
    both engines) guarantees both consistent and divergent clusters
    exist, so the hash pins the component labels AND the per-cluster
    caption rollup."""
    from .operators import multimodal as MM

    path = FX.near_dup_images_parquet_path(n=1500, n_dup=150)
    images = spark.read.parquet(path)
    pairs = MM.image_near_pairs(images, max_hamming=6)
    comp = DD.connected_components(
        images.select("image_id"), pairs, id_col="image_id"
    )
    labeled = images.selectExpr(
        "image_id", f"{_CAPTION_MANGLE} AS cap2"
    ).join(comp, "image_id")
    return (
        labeled.groupBy(F.col("component").alias("canonical_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.countDistinct("cap2").alias("n_captions"),
        )
        .where(F.col("n_members") >= 2)
        .selectExpr(
            "canonical_id", "n_members",
            "CAST(n_captions AS BIGINT) AS n_captions",
        )
    )


def q_caption_consistency_oracle() -> str:
    path = FX.near_dup_images_parquet_path(n=1500, n_dup=150)
    return f"""
        WITH RECURSIVE p AS (
          SELECT image_id, phash, {_CAPTION_MANGLE} AS cap2
          FROM read_parquet('{path}')
        ),
        good AS (
          SELECT a.image_id AS id_1, b.image_id AS id_2
          FROM p a JOIN p b ON a.image_id < b.image_id
          WHERE bit_count(xor(a.phash, b.phash)) <= 6
        ),
        edges AS (
          SELECT id_1 AS src, id_2 AS dst FROM good
          UNION
          SELECT id_2 AS src, id_1 AS dst FROM good
        ),
        reach(node, lbl) AS (
          SELECT image_id, image_id FROM p
          UNION
          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
        ),
        comp AS (
          SELECT node AS image_id, min(lbl) AS canonical_id
          FROM reach GROUP BY node
        )
        SELECT c.canonical_id,
               count(*)::BIGINT AS n_members,
               count(DISTINCT p.cap2)::BIGINT AS n_captions
        FROM p JOIN comp c ON c.image_id = p.image_id
        GROUP BY c.canonical_id
        HAVING count(*) >= 2
    """


def q_joint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal joint dedup — components over the UNION of two edge
    types: pixel near-duplicates (decode → recomputed phash → pigeonhole
    hamming ≤ 6 block join) and caption-identical pairs (one equi-join
    on the caption hash — never all-pairs). The LAION-style rule "same
    image OR same caption ⇒ same group": the planted reposts are
    pixel-UNRELATED to their caption twins, and the fixture's perturbed
    copies are pixel-NEAR their sources, so canonical assignment is only
    right if both modalities' edges flow into one component labeling —
    dropping either edge type splits components and breaks the hash.
    ORACLE brute-forces both edge sets from stored columns and takes the
    recursive-CTE closure."""
    from .operators import multimodal as MM

    corpus = _joint_corpus(spark)
    px_pairs = MM.image_near_pairs(corpus, max_hamming=6).select(
        "id_1", "id_2"
    )
    c = corpus.select("image_id", "caption")
    cap_pairs = (
        c.alias("a")
        .join(c.alias("b"), F.expr("a.caption = b.caption"))
        .where(F.expr("a.image_id < b.image_id"))
        .select(
            F.col("a.image_id").alias("id_1"),
            F.col("b.image_id").alias("id_2"),
        )
    )
    edges = px_pairs.unionByName(cap_pairs).distinct()
    comp = DD.connected_components(
        corpus.select("image_id"), edges, id_col="image_id"
    )
    return comp.select(
        "image_id", F.col("component").alias("canonical_id")
    )


def q_joint_dedup_oracle() -> str:
    path = FX.near_dup_images_parquet_path(n=1500, n_dup=150)
    return f"""
        WITH RECURSIVE base AS (
          SELECT image_id, phash, caption FROM read_parquet('{path}')
        ),
        orig AS (
          -- TRY_CAST, not CAST: DuckDB may evaluate the projection on a
          -- parallel scan chunk before applying the NOT LIKE filter (seen
          -- once the fixture parquet gained multiple row groups), and a
          -- plain CAST then throws on the 'img_dup…' rows the filter is
          -- about to drop. Spark's side is safe (non-ANSI CAST -> NULL).
          SELECT TRY_CAST(substr(image_id, 5) AS BIGINT) AS num, *
          FROM base WHERE image_id NOT LIKE 'img_dup%'
        ),
        rep AS (
          SELECT concat('img_rep',
                        lpad(CAST(a.num AS VARCHAR), 6, '0')) AS image_id,
                 b.phash, a.caption
          FROM (SELECT num, caption FROM orig
                WHERE num < {N_REPOST}) a
          JOIN (SELECT num - {_REPOST_SRC_OFF} AS k, phash FROM orig
                WHERE num >= {_REPOST_SRC_OFF}
                  AND num < {_REPOST_SRC_OFF + N_REPOST}) b
            ON b.k = a.num
        ),
        corpus AS (
          SELECT image_id, phash, caption FROM base
          UNION ALL SELECT image_id, phash, caption FROM rep
        ),
        good AS (
          SELECT a.image_id AS id_1, b.image_id AS id_2
          FROM corpus a JOIN corpus b ON a.image_id < b.image_id
          WHERE bit_count(xor(a.phash, b.phash)) <= 6
          UNION
          SELECT a.image_id, b.image_id
          FROM corpus a JOIN corpus b
            ON a.caption = b.caption AND a.image_id < b.image_id
        ),
        edges AS (
          SELECT id_1 AS src, id_2 AS dst FROM good
          UNION
          SELECT id_2 AS src, id_1 AS dst FROM good
        ),
        reach(node, lbl) AS (
          SELECT image_id, image_id FROM corpus
          UNION
          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
        )
        SELECT node AS image_id, min(lbl) AS canonical_id
        FROM reach GROUP BY node
    """


def q_image_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read takedown pipeline over the image table: batch 1 of
    takedown keys commits as an O(batch) equality-delete file (data
    files untouched — the 10^12-row answer to a 1k-key DMCA/safety
    takedown, vs COW MERGE's partition rewrite), ``mor_compact`` folds
    it into the data files under the journaled crash-safe swap, batch 2
    (including never-present keys — idempotent no-op takedowns) commits
    against the compacted table, and the returned MoR read applies it as
    a broadcast anti-join on the scan. The oracle is one NOT-IN scan of
    the source fixture, so the delete commit, the compaction fold, AND
    the read-side anti-join are all value-checked in a single hash match
    (a row leaking back after compaction, or a survivor lost by the
    swap, breaks it). Reference parity: the reference has no mutation
    story at all (load-once at startup, shapefile_reader.cpp); this is
    engine surface the north-rule's resumable 10^12-row table demands.
    """
    import os
    import shutil

    from .plans import merge as MRG

    src = FX.images_parquet_path(n=2000)
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(FX.FIXTURE_DIR, f"mor_takedown_{tag}")
    # deterministic per-invocation rebuild: fresh data files, no delete
    # backlog, no stale journal (a production pipeline keeps the table;
    # the gate rebuilds so re-runs are exact)
    journal = MRG._mor_journal(path)
    if os.path.exists(journal):
        os.remove(journal)
    shutil.rmtree(path, ignore_errors=True)
    spark.read.parquet(src).write.parquet(path)
    # takedown batches derive from the IMMUTABLE source fixture (never
    # from the table mid-mutation — Spark reads are lazy and compaction
    # swaps the underlying files)
    source = spark.read.parquet(src)
    b1 = source.where(F.expr(f"{_TAKEDOWN_NUM} % 41 = 0")).select("image_id")
    MRG.mor_delete(spark, path, b1, ["image_id"])
    MRG.mor_compact(spark, path)
    b2 = source.where(F.expr(f"{_TAKEDOWN_NUM} % 67 = 3")).select(
        "image_id"
    ).unionByName(
        spark.createDataFrame(
            [("img_999999998",), ("img_999999999",)], "image_id string"
        )
    )
    MRG.mor_delete(spark, path, b2, ["image_id"])
    out = MRG.mor_read(spark, path)
    return out.select(
        "image_id",
        F.expr("octet_length(bytes)").cast("long").alias("nb"),
        "phash",
    )


def q_image_takedown_oracle() -> str:
    src = FX.images_parquet_path(n=2000)
    return f"""
        SELECT image_id,
               octet_length(bytes)::BIGINT AS nb,
               phash
        FROM read_parquet('{src}')
        WHERE NOT ({_TAKEDOWN_NUM} % 41 = 0 OR {_TAKEDOWN_NUM} % 67 = 3)
    """


HOTSPOT_RES = 6
HOTSPOT_MIN = 12


EMERGING_RES = 6
EMERGING_BUCKET_S = 86400


def q_emerging_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emerging-hotspot analysis (space-time cube): per res-6 cell, the
    Mann-Kendall monotone-trend z over its DAILY event-count series
    across the 30-day window — which cells are intensifying vs cooling,
    with the tie-group variance correction count data demands. S, T,
    and tie terms exact BIGINTs; one identical-text double z
    (operators/clustering.py::emerging_hotspots)."""
    from .operators.clustering import emerging_hotspots

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "ts",
        F.expr(TRAJ_LNG_SQL).alias("lng"),
        F.expr(TRAJ_LAT_SQL).alias("lat"),
    )
    return emerging_hotspots(
        ev, res=EMERGING_RES, bucket_s=EMERGING_BUCKET_S
    )


def q_emerging_hotspots_oracle() -> str:
    from .operators.clustering import emerging_hotspots_sql

    src = (
        f"SELECT ts, {TRAJ_LNG_SQL} AS lng, {TRAJ_LAT_SQL} AS lat\n"
        f"          FROM events"
    )
    return emerging_hotspots_sql(
        src, res=EMERGING_RES, bucket_s=EMERGING_BUCKET_S
    )


def q_getis_ord(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord Gi* hot-spot z-scores over the image table at res 6 —
    the inferential twin of hotspot_clusters: every occupied cell gets
    the classical 3x3-neighborhood autocorrelation statistic (positive
    = significant clustering of high image density; the fixture's
    planted Zipfian urban cluster lights up at |z| >> 1.96). Exact
    integer inputs (neighborhood sums/counts, frame moments) + ONE
    textually-identical double z expression, floor(z*1e6)."""
    from .operators.clustering import getis_ord_gi

    path = FX.images_parquet_path(n=2000)
    images = spark.read.parquet(path)
    return getis_ord_gi(images, res=HOTSPOT_RES)


def q_getis_ord_oracle() -> str:
    from .operators.clustering import getis_ord_sql

    path = FX.images_parquet_path(n=2000)
    return getis_ord_sql(
        f"SELECT lng, lat FROM read_parquet('{path}')", HOTSPOT_RES
    )


def q_hotspot_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial hotspot discovery over the image table (grid-DBSCAN):
    core cells (>= 12 images at res 6) label into clusters of 8-adjacent
    cells — surfacing exactly the planted Zipfian urban cluster the
    fixture uses to force join skew (FIXTURES.md §2), i.e. the cells the
    partitioner must salt. Point table pays ONE partial-agg shuffle;
    adjacency (demorton -> offset -> re-pack, integer codegen) and
    min-label components run on the bounded occupied-cell table only.
    ORACLE recomputes the histogram + core filter with the same integer
    SQL, adjacency as a theta join on the demortoned axes, and the
    labels as a recursive-CTE closure — so the cell math, the
    8-neighborhood blocking, and the component labels are all
    value-checked."""
    from .operators.clustering import hotspot_clusters

    path = FX.images_parquet_path(n=2000)
    images = spark.read.parquet(path)
    return hotspot_clusters(
        images, res=HOTSPOT_RES, min_count=HOTSPOT_MIN
    )


def q_hotspot_clusters_oracle() -> str:
    from .operators.clustering import hotspot_cluster_sql

    path = FX.images_parquet_path(n=2000)
    return hotspot_cluster_sql(
        f"SELECT lng, lat FROM read_parquet('{path}')",
        HOTSPOT_RES,
        HOTSPOT_MIN,
    )


def q_wds_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset export/import round-trip: the image table packs into
    tar shards (one per input partition, bytes never crossing an
    exchange — the last stage of every image-text curation pipeline)
    and reads back distributed (one task per shard). The ORACLE is the
    source fixture itself, so the hash match proves the sink/source
    pair is LOSSLESS per row: payload byte length, caption (byte-exact
    — the north-rule invariant), and the typed metadata incl. the
    stored phash all survive the tar boundary."""
    import os
    import shutil

    from .sources import webdataset as W

    src = FX.images_parquet_path(n=2000)
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    out = os.path.join(FX.FIXTURE_DIR, f"wds_shards_{tag}")
    shutil.rmtree(out, ignore_errors=True)
    W.write_shards(spark.read.parquet(src), out).collect()
    back = W.read_shards_df(spark, out)
    return back.select(
        "image_id",
        F.expr("octet_length(bytes)").cast("long").alias("nb"),
        F.col("w").cast("long").alias("w"),
        F.col("h").cast("long").alias("h"),
        "fmt",
        "phash",
        "caption",
    )


def q_wds_roundtrip_oracle() -> str:
    src = FX.images_parquet_path(n=2000)
    return f"""
        SELECT image_id,
               octet_length(bytes)::BIGINT AS nb,
               w::BIGINT AS w, h::BIGINT AS h, fmt, phash, caption
        FROM read_parquet('{src}')
    """


def q_caption_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint image+text curation: one decode pass recomputes every phash
    and CARRIES the caption through (no id re-join), then codegen caption
    analytics (token count, quality) run on the verified rows.

    The output includes the RECOMPUTED phash while the oracle reads the
    STORED column (equal by fixture construction), so the decode->hash
    path is value-checked per row alongside the text metrics — a
    multimodal curation pass where either modality regressing breaks the
    hash match."""
    from .operators import multimodal as MM

    path = FX.images_parquet_path(n=2000)
    images = spark.read.parquet(path)
    out = MM.decode_stats(images, carry=("caption",)).where("phash_ok")
    return out.select(
        "image_id",
        F.col("phash_rec").alias("phash"),
        F.expr(TA.token_count_sql("caption", "spark")).alias("n_cap_tokens"),
        F.expr(TA.quality_score_sql("caption", "spark")).alias("cap_quality_u"),
    )


def q_caption_curation_oracle() -> str:
    path = FX.images_parquet_path(n=2000)
    ntok = TA.token_count_sql("caption", "duckdb")
    q = TA.quality_score_sql("caption", "duckdb")
    return f"""
        SELECT image_id, phash,
               {ntok} AS n_cap_tokens,
               {q} AS cap_quality_u
        FROM read_parquet('{path}')
    """


# ---------------------------------------------------------------------------
# image quality stats — encode -> decode -> stats value-checked end-to-end
# against pure integer SQL (no stored-column crutch)
# ---------------------------------------------------------------------------

IQ_N, IQ_W, IQ_H = 400, 16, 16
# shared pixel formula: byte value at flat position p of image i is
# (i * 2654435761 + p * 40503 + p*p * (i+1)) % 256, p = (y*w+x)*3 + c —
# pure int64 arithmetic both engines evaluate identically. The quadratic
# id-coupled term is load-bearing: a plain affine (a*i + b*p) % 256 with
# gcd(b, 256) = 1 permutes 0..255 over every 256 positions, making the
# luma sum/min/max/square multisets IDENTICAL across images (only the
# gradient varied) — per-image distinct stats need the non-affine term
IQ_MULT_ID, IQ_MULT_POS = 2654435761, 40503


def q_image_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAION-style image-quality curation stats (brightness / contrast /
    dynamic range / gradient sharpness as exact integers) over a corpus
    whose pixels are defined by a SHARED integer formula: the engine
    synthesizes the pixels, ENCODES them with the real raw/PNG codecs,
    DECODES them back, and computes the stats from the decoded stack —
    while the oracle computes the same stats in DuckDB directly from the
    formula. Lossless codecs make the two ends meet exactly, so one hash
    match value-checks encoder, decoder, and the stat kernel per image
    (the phash-invariant trick without needing a stored column)."""
    import numpy as np
    import pandas as pd

    from .operators import multimodal as MM

    def synth(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = []
            pos = np.arange(IQ_W * IQ_H * 3, dtype=np.int64)
            for iid in pdf["id"]:
                iid = int(iid)
                v = (
                    (iid * IQ_MULT_ID + pos * IQ_MULT_POS + pos * pos * (iid + 1))
                    % 256
                ).astype(np.uint8)
                fmt = "raw" if iid % 2 == 0 else "png"
                rows.append(
                    {
                        "image_id": iid,
                        "bytes": FX.encode_image(
                            v.reshape(IQ_H, IQ_W, 3), fmt
                        ),
                        "w": IQ_W,
                        "h": IQ_H,
                        "fmt": fmt,
                    }
                )
            yield pd.DataFrame(rows)

    images = spark.range(IQ_N).mapInPandas(
        synth, "image_id long, bytes binary, w int, h int, fmt string"
    )
    return MM.image_quality_stats(images)


def q_image_quality_oracle() -> str:
    def byte(p_expr: str) -> str:
        return (
            f"((i.image_id * {IQ_MULT_ID} + ({p_expr}) * {IQ_MULT_POS}"
            f" + ({p_expr}) * ({p_expr}) * (i.image_id + 1)) % 256)"
        )

    base = f"(y.range * {IQ_W} + x.range) * 3"
    luma = (
        f"2126 * {byte(base)} + 7152 * {byte(base + ' + 1')}"
        f" + 722 * {byte(base + ' + 2')}"
    )
    return f"""
        WITH ids AS (SELECT range AS image_id FROM range({IQ_N})),
        px AS (
          SELECT i.image_id, x.range AS x, y.range AS y, {luma} AS luma_u
          FROM ids i CROSS JOIN range({IQ_W}) x CROSS JOIN range({IQ_H}) y
        ),
        g AS (
          SELECT image_id, luma_u,
                 lead(luma_u) OVER (
                   PARTITION BY image_id, y ORDER BY x
                 ) AS nx,
                 lead(luma_u) OVER (
                   PARTITION BY image_id, x ORDER BY y
                 ) AS ny
          FROM px
        )
        SELECT image_id,
               CAST(sum(luma_u) AS BIGINT) AS luma_sum_u,
               CAST(sum((luma_u // 1000) * (luma_u // 1000)) AS BIGINT)
                 AS luma_sq_sum_k,
               CAST(min(luma_u) AS BIGINT) AS luma_min_u,
               CAST(max(luma_u) AS BIGINT) AS luma_max_u,
               CAST(sum(CASE WHEN nx IS NULL THEN 0
                             ELSE abs(nx - luma_u) END)
                  + sum(CASE WHEN ny IS NULL THEN 0
                             ELSE abs(ny - luma_u) END) AS BIGINT)
                 AS grad_sum_u
        FROM g GROUP BY image_id
    """


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical tile pyramid (res 8 -> 6 -> 4): coarser levels folded
    from child-level aggregates, one point scan total."""
    from .entry_queries import _points_df
    from .operators import tiling as TI

    pts = _points_df(spark, sf_dir)
    return _pyr_integerized(TI.tile_pyramid(pts, [8, 6, 4]))


def q_tile_pyramid_oracle() -> str:
    from .entry_queries import _points_oracle_cte

    # the oracle recomputes each level from the points (associativity makes
    # child-fold == direct grouping); engine folds from the child level
    return _pyr_oracle_levels(_points_oracle_cte())


def _pyr_integerized(out: DataFrame) -> DataFrame:
    return out.select(
        F.col("res").cast("long").alias("res"),
        "cell",
        "n_points",
        F.floor(F.col("minx") * 1000000).cast("long").alias("minx_u"),
        F.floor(F.col("maxx") * 1000000).cast("long").alias("maxx_u"),
        F.floor(F.col("miny") * 1000000).cast("long").alias("miny_u"),
        F.floor(F.col("maxy") * 1000000).cast("long").alias("maxy_u"),
    )


def _pyr_oracle_levels(cte: str, resolutions=(8, 6, 4)) -> str:
    from .functions import cells as C

    levels = " UNION ALL ".join(
        f"""SELECT {r} AS res, {C.cell_sql('lng', 'lat', r, 'duckdb')} AS cell,
               count(*) AS n_points,
               CAST(floor(min(lng) * 1000000) AS BIGINT) AS minx_u,
               CAST(floor(max(lng) * 1000000) AS BIGINT) AS maxx_u,
               CAST(floor(min(lat) * 1000000) AS BIGINT) AS miny_u,
               CAST(floor(max(lat) * 1000000) AS BIGINT) AS maxy_u
        FROM pts GROUP BY 1, 2"""
        for r in resolutions
    )
    return f"WITH pts AS ({cte}) {levels}"


def q_pyramid_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental pyramid maintenance, value-checked end to end: the
    stored pyramid (98% of points) plus a ``tile_pyramid_delta`` fold of
    the remaining 2% batch, applied via keyed MERGE, must equal the
    from-scratch pyramid over all points — which is exactly what the
    oracle computes."""
    from .entry_queries import _points_df
    from .operators import tiling as TI
    from .plans.merge import merge_upsert

    pts = _points_df(spark, sf_dir)
    stored = TI.tile_pyramid(
        pts.where(F.col("point_id") % 50 != 0), [8, 6, 4]
    )
    delta = TI.tile_pyramid_delta(
        stored, pts.where(F.col("point_id") % 50 == 0), [8, 6, 4]
    )
    return _pyr_integerized(
        merge_upsert(stored, delta, ["res", "cell"])
    )


def q_pyramid_delta_oracle() -> str:
    from .entry_queries import _points_oracle_cte

    return _pyr_oracle_levels(_points_oracle_cte())


def q_pyramid_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pyramid repair after churn with removals: build the pyramid
    over ALL points, delete the 2% slice, repair via
    ``tile_pyramid_update`` (cell-pruned base rescan + child re-fold +
    tombstones), apply with tombstone-aware MERGE — must equal the
    from-scratch pyramid over the remaining 98% (the oracle)."""
    from .entry_queries import _points_df
    from .functions import cells as C
    from .operators import tiling as TI
    from .plans.merge import merge_upsert

    pts = _points_df(spark, sf_dir)
    removed = pts.where(F.col("point_id") % 50 == 0)
    remaining = pts.where(F.col("point_id") % 50 != 0)
    stored = TI.tile_pyramid(pts, [8, 6, 4]).localCheckpoint()
    # churn-bounded metadata list — same driver-side collection contract
    # as merge_upsert_partitioned's touched-partition values
    touched = [
        r[0]
        for r in removed.select(
            F.expr(C.cell_sql("lng", "lat", 8, "spark")).alias("cell")
        ).distinct().collect()
    ]
    repairs = TI.tile_pyramid_update(remaining, stored, touched, [8, 6, 4])
    return _pyr_integerized(
        merge_upsert(stored, repairs, ["res", "cell"], delete_col="deleted")
    )


def q_pyramid_update_oracle() -> str:
    from .entry_queries import _points_oracle_cte

    return _pyr_oracle_levels(
        f"SELECT * FROM ({_points_oracle_cte()}) WHERE point_id % 50 <> 0"
    )


def q_wm_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-Mercator XYZ map tiles (slippy-map scheme): points bucketed
    into z=8 tiles with their Bing quadkey and z=5 ancestor — the tile
    addressing a map-serving image pipeline shards and caches by. Packed
    ids share the cells.py layout, so the pyramid/layout machinery folds
    map tiles unchanged (tested in test_webmercator.py)."""
    from .entry_queries import _points_df
    from .functions import cells as C
    from .functions import webmercator as WM

    pts = _points_df(spark, sf_dir)
    cell = WM.wm_cell_sql("lng", "lat", 8, "spark")
    return (
        pts.select(
            F.expr(cell).alias("cell"),
            F.expr(WM.tile_x_sql("lng", 8, "spark")).alias("tx"),
            F.expr(WM.tile_y_sql("lat", 8, "spark")).alias("ty"),
        )
        .groupBy("cell", "tx", "ty")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .select(
            "cell",
            F.expr(WM.quadkey_sql("cell", 8, "spark")).alias("quadkey"),
            "tx", "ty", "n_points",
            F.expr(C.parent_sql("cell", 8, 5, "spark")).alias("parent_z5"),
        )
    )


def q_wm_tiles_oracle() -> str:
    from .entry_queries import _points_oracle_cte
    from .functions import cells as C
    from .functions import webmercator as WM

    cell = WM.wm_cell_sql("lng", "lat", 8, "duckdb")
    return f"""
        WITH pts AS ({_points_oracle_cte()}),
        tiles AS (
            SELECT {cell} AS cell,
                   {WM.tile_x_sql('lng', 8, 'duckdb')} AS tx,
                   {WM.tile_y_sql('lat', 8, 'duckdb')} AS ty,
                   count(*) AS n_points
            FROM pts GROUP BY 1, 2, 3
        )
        SELECT cell, {WM.quadkey_sql('cell', 8, 'duckdb')} AS quadkey,
               tx, ty, n_points,
               {C.parent_sql('cell', 8, 5, 'duckdb')} AS parent_z5
        FROM tiles
    """


def q_render_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-tile render pipeline value-checked END TO END: points ->
    codegen pixel assignment (z=6 XYZ tiles, 16px) -> PNG encode
    (applyInPandas over pixel-count rows) -> PNG decode -> pixel facts.
    The oracle recomputes every fact (point totals, occupied pixels,
    post-scaling lit pixels, brightest-pixel coordinates/value) from the
    identical fine-grid SQL — a regression anywhere in the raster or the
    PNG codec breaks the hash."""
    from .entry_queries import _points_df
    from .operators import render as RD

    pts = _points_df(spark, sf_dir)
    pix = RD.density_pixels(pts, z=6, px_log2=4)
    return RD.decode_tile_stats(RD.render_png_tiles(pix, 16))


def q_render_tiles_oracle() -> str:
    from .entry_queries import _points_oracle_cte
    from .operators import render as RD

    txf, tyf, d = RD.pixel_sql_parts("lng", "lat", 6, 4, "duckdb")
    return f"""
        WITH pts AS ({_points_oracle_cte()}),
        fine AS (SELECT {txf} AS _txf, {tyf} AS _tyf FROM pts),
        pix AS (
            SELECT {d['tx']} AS tx, {d['ty']} AS ty,
                   {d['px']} AS px, {d['py']} AS py, count(*) AS n
            FROM fine GROUP BY 1, 2, 3, 4
        ),
        tile AS (
            SELECT tx, ty, CAST(sum(n) AS BIGINT) AS n_points,
                   CAST(count(*) AS BIGINT) AS nonzero_px,
                   max(n) AS maxn
            FROM pix GROUP BY 1, 2
        ),
        val AS (
            SELECT p.tx, p.ty, p.px, p.py,
                   CAST((p.n * 255) // t.maxn AS BIGINT) AS val
            FROM pix p JOIN tile t USING (tx, ty)
        ),
        ranked AS (
            SELECT tx, ty, px, py, val,
                   row_number() OVER (
                       PARTITION BY tx, ty ORDER BY val DESC, py, px
                   ) AS rn
            FROM val
        )
        SELECT t.tx, t.ty, t.n_points, t.nonzero_px, l.lit_px,
               r.px AS top_px, r.py AS top_py, r.val AS top_val
        FROM tile t
        JOIN (
            SELECT tx, ty,
                   CAST(count(*) FILTER (WHERE val > 0) AS BIGINT) AS lit_px
            FROM val GROUP BY 1, 2
        ) l USING (tx, ty)
        JOIN (SELECT * FROM ranked WHERE rn = 1) r USING (tx, ty)
    """


def q_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions per embedding row: integerized L2 norm
    (aggregate/zip_with), positive-component count (filter), max abs
    element (transform + array_max) — no UDFs."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where(
        F.col("vec_id") < 200
    )
    norm = SIM.norm_u_sql("embedding", "spark")
    return emb.select(
        "vec_id",
        F.expr(norm).alias("norm_u"),
        F.expr(
            "size(filter(embedding, x -> x > 0))"
        ).alias("n_pos"),
        F.expr(
            "CAST(floor(array_max(transform(embedding, "
            "x -> abs(CAST(x AS DOUBLE)))) * 1000000) AS BIGINT)"
        ).alias("max_abs_u"),
    )


def q_vector_stats_oracle() -> str:
    norm = SIM.norm_u_sql("embedding", "duckdb")
    return f"""
        SELECT vec_id,
               {norm} AS norm_u,
               len(list_filter(embedding, x -> x > 0)) AS n_pos,
               CAST(floor(list_max(list_transform(embedding,
                    x -> abs(CAST(x AS DOUBLE)))) * 1000000) AS BIGINT) AS max_abs_u
        FROM embeddings WHERE vec_id < 200
    """


_SAMPLE_RATES = {"view": 0.05, "click": 0.25, "purchase": 1.0, "error": 0.0}


def q_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style regular-interval rollup: dense per-user hourly
    series with gap-fill + carry-forward (``operators/resample.py``) —
    the time_bucket_gapfill/locf shape."""
    from .operators import resample as RS

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("user_id") % 20 == 0
    )
    return RS.hourly_gapfill(ev)


def q_hourly_gapfill_oracle() -> str:
    cents = "CAST(floor(value * 100) AS BIGINT)"
    win = (
        "OVER (PARTITION BY user_id ORDER BY hour_epoch "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    return f"""
        WITH hourly AS (
          SELECT user_id,
                 CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
                 sum({cents}) AS cents, count(*) AS n_events
          FROM events WHERE user_id % 20 = 0 GROUP BY 1, 2
        ), span AS (
          SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1
        ), grid AS (
          SELECT user_id, unnest(range(h0, h1 + 3600, 3600)) AS hour_epoch
          FROM span
        ), j AS (
          SELECT g.user_id, g.hour_epoch, hourly.cents,
                 coalesce(hourly.n_events, 0) AS n_events
          FROM grid g LEFT JOIN hourly
            ON hourly.user_id = g.user_id AND hourly.h = g.hour_epoch
        )
        SELECT user_id, hour_epoch,
               CAST(coalesce(last_value(cents IGNORE NULLS) {win},
                        CAST(0 AS BIGINT)) AS BIGINT) AS filled_cents,
               CAST(n_events AS BIGINT) AS n_events
        FROM j
    """


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-rebalancing sample of events: per-type deterministic hash
    keep-rates (downsample dominant types, keep every purchase, drop
    errors; unlisted types get the 0.5 default). Output fingerprints the
    kept MEMBERSHIP per type (count, distinct users, event-id sum), so a
    single off-by-one row breaks the hash match."""
    from .operators import splits as SP

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    kept = SP.stratified_sample(
        ev, "event_id", "event_type", _SAMPLE_RATES, default_rate=0.5
    )
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("event_id").alias("id_sum"),
    )


def q_stratified_sample_oracle() -> str:
    from .operators import splits as SP

    pred = SP.stratified_sample_sql(
        "event_id", "event_type", _SAMPLE_RATES, default_rate=0.5,
        dialect="duckdb",
    )
    return f"""
        SELECT event_type,
               count(*) AS n_kept,
               count(DISTINCT user_id) AS n_users,
               CAST(sum(event_id) AS BIGINT) AS id_sum
        FROM events WHERE {pred}
        GROUP BY event_type
    """


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of embeddings: per-vector code stats +
    integerized L1 reconstruction error (``similarity.quantize_stats_sqls``,
    pure codegen array expressions — the 4x compression step before
    shipping embeddings, value-checked bit-for-bit)."""
    ex = SIM.quantize_stats_sqls("embedding", "spark", mx_col="_mx")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where(
        F.col("vec_id") < 300
    )
    # mx projected ONCE per row; lambdas reference the column (Catalyst
    # does not CSE into HOF lambdas — inlined, each stat is O(d^2))
    return emb.withColumn("_mx", F.expr(ex["mx"])).select(
        "vec_id",
        F.expr(ex["q_sum"]).alias("q_sum"),
        F.expr(ex["q_min"]).alias("q_min"),
        F.expr(ex["q_max"]).alias("q_max"),
        F.expr(ex["err_u"]).alias("err_u"),
    )


def q_embedding_quantize_oracle() -> str:
    ex = SIM.quantize_stats_sqls("embedding", "duckdb", mx_col="_mx")
    return f"""
        WITH m AS (
          SELECT vec_id, embedding, {ex['mx']} AS _mx
          FROM embeddings WHERE vec_id < 300
        )
        SELECT vec_id,
               {ex['q_sum']} AS q_sum,
               {ex['q_min']} AS q_min,
               {ex['q_max']} AS q_max,
               {ex['err_u']} AS err_u
        FROM m
    """


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimation per event type, estimate
    beside exact truth: per group the state is 64 integer registers
    (max rank per bucket — order-free, mergeable by elementwise max), so
    a 10^12-event feed counts distinct users in |groups| x 64 BIGINTs of
    state where exact countDistinct shuffles the universe. Deterministic
    cross-engine by construction: bucket and rank come from DISJOINT md5
    substrings (no division), the rank and harmonic terms are generated
    integer CASE ladders, and the single estimate division is one
    identical IEEE tree over exact integers. Raw estimator, no
    corrections — expected error ~1.04/sqrt(64) ~= 13%, asserted in
    pytest."""
    from .operators import sketch as SK

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_type", "CAST(user_id AS STRING) AS uid"
    )
    regs = SK.hll_build(ev, "uid", group_cols=("event_type",))
    grid = (
        ev.select("event_type").distinct()
        .crossJoin(
            spark.range(SK.HLL_M).select(F.col("id").cast("long").alias("bucket"))
        )
    )
    sums = (
        grid.join(regs, ["event_type", "bucket"], "left")
        .selectExpr("event_type", "CAST(coalesce(r, 0) AS BIGINT) AS r0")
        .selectExpr("event_type", f"{SK.hll_term_sql('r0')} AS term")
        .groupBy("event_type")
        .agg(F.sum("term").cast("long").alias("s"))
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("uid").cast("long").alias("n_exact")
    )
    return (
        exact.join(sums, "event_type")
        .selectExpr(
            "event_type", "n_exact",
            f"{SK.hll_estimate_sql('s')} AS n_hll",
        )
    )


def q_hll_distinct_oracle() -> str:
    from .operators import sketch as SK

    b = SK.hll_bucket_sql("uid", "duckdb")
    r = SK.hll_rank_sql("uid", "duckdb")
    return f"""
        WITH ev AS (
          SELECT event_type, CAST(user_id AS VARCHAR) AS uid FROM events
        ),
        regs AS (
          SELECT event_type, {b} AS bucket, CAST(max({r}) AS BIGINT) AS r
          FROM ev GROUP BY event_type, bucket
        ),
        grid AS (
          SELECT et.event_type, g.bucket
          FROM (SELECT DISTINCT event_type FROM ev) et
          CROSS JOIN (SELECT range AS bucket FROM range({SK.HLL_M})) g
        ),
        fullg AS (
          SELECT grid.event_type, grid.bucket,
                 CAST(coalesce(regs.r, 0) AS BIGINT) AS r0
          FROM grid LEFT JOIN regs
            ON regs.event_type = grid.event_type
           AND regs.bucket = grid.bucket
        ),
        sums AS (
          SELECT event_type,
                 CAST(sum({SK.hll_term_sql('r0')}) AS BIGINT) AS s
          FROM fullg GROUP BY event_type
        ),
        exact AS (
          SELECT event_type, CAST(count(DISTINCT uid) AS BIGINT) AS n_exact
          FROM ev GROUP BY event_type
        )
        SELECT event_type, n_exact, {SK.hll_estimate_sql('s')} AS n_hll
        FROM exact JOIN sums USING (event_type)
    """


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every click event gets the user's most recent purchase
    value at-or-before the click (null if the user never purchased)."""
    from .operators import asof as AS

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.floor(F.col("value") * 100).cast("long").alias("pvalue_c")
    )
    out = AS.asof_join(
        clicks, purchases, on="ts", by=["user_id"],
        value_cols=["pvalue_c"], seq_col="event_id",
    )
    return out.select(
        "event_id", "user_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        "r_pvalue_c",
    )


def q_asof_join_oracle() -> str:
    return """
        WITH clicks AS (
          SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        ),
        purchases AS (
          SELECT user_id, ts, CAST(floor(value * 100) AS BIGINT) AS pvalue_c
          FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, ts
                                         ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'purchase'
          ) WHERE rn = 1
        )
        SELECT c.event_id, c.user_id,
               CAST(floor(epoch(c.ts)) AS BIGINT) AS ts_epoch,
               p.pvalue_c AS r_pvalue_c
        FROM clicks c ASOF LEFT JOIN purchases p
          ON c.user_id = p.user_id AND c.ts >= p.ts
    """


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D range join: events binned into 50 overlapping value bands
    [2i, 2i+3]; per-band count + integerized value sum."""
    from .operators import interval as IV

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "value"
    )
    bands = spark.range(50).select(
        F.col("id").alias("band"),
        (F.col("id") * F.lit(2.0)).alias("lo"),
        (F.col("id") * F.lit(2.0) + F.lit(3.0)).alias("hi"),
    )
    out = IV.interval_join(ev, bands, point_col="value", bin_width=2.0)
    return out.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sum_value_c"),
    )


def q_interval_join_oracle() -> str:
    return """
        WITH bands AS (
          SELECT i AS band, CAST(i * 2.0 AS DOUBLE) AS lo,
                 CAST(i * 2.0 + 3.0 AS DOUBLE) AS hi
          FROM range(50) t(i)
        )
        SELECT band, count(*) AS n_events,
               CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
        FROM events JOIN bands ON value >= lo AND value <= hi
        GROUP BY band
    """


IVF_CENTROIDS = 8
IVF_NPROBE = 2


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5: corpus bucketed by nearest deterministic centroid,
    queries probe their 2 nearest buckets, exact cosine re-rank."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = SIM.make_centroids(EMB_DIM, IVF_CENTROIDS)
    out = SIM.ivf_topk(emb, queries, k=5, centroids=cents, nprobe=IVF_NPROBE)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("vec_id").cast("long").alias("vec_id"),
        "cos_u",
    )


def _ivf_oracle_ctes(n_queries: int, corpus_where: str | None = None) -> dict:
    """The shared DuckDB scaffolding every IVF oracle needs — ONE place
    for the probe tie-break, the centroid-distance expressions, and the
    bucket argmin, so a fix to any of them cannot silently diverge
    between ``ann_ivf`` / ``ann_ivf_delta`` / ``ann_filtered`` /
    ``ann_recall``. Returns CTE bodies for ``q`` (query vectors +
    per-centroid distances), ``probes`` (nprobe nearest buckets per
    query), ``cb`` (bucketed corpus, optionally filtered), plus the
    integerized ``cos`` expression (over aliases ``q``/``c``)."""
    cents = SIM.make_centroids(EMB_DIM, IVF_CENTROIDS)
    k = len(cents)
    qd = ", ".join(
        f"{SIM.centroid_dist_sql('qv', c, 'duckdb')} AS d{i}"
        for i, c in enumerate(cents)
    )
    cd = ", ".join(
        f"{SIM.centroid_dist_sql('embedding', c, 'duckdb')} AS d{i}"
        for i, c in enumerate(cents)
    )
    bucket = SIM.argmin_case_sql([f"d{i}" for i in range(k)])
    probe_union = " UNION ALL ".join(
        f"SELECT query_id, qv, {i} AS bucket, d{i} AS pdist FROM q"
        for i in range(k)
    )
    dot = SIM.dot_u_sql("q.qv", "c.embedding", "duckdb")
    nq = SIM.norm_u_sql("q.qv", "duckdb")
    nc = SIM.norm_u_sql("c.embedding", "duckdb")
    where = f"WHERE {corpus_where}" if corpus_where else ""
    return {
        "q": (
            f"SELECT vec_id AS query_id, embedding AS qv, {qd} "
            f"FROM embeddings WHERE vec_id < {n_queries}"
        ),
        "probes": (
            f"SELECT query_id, qv, bucket FROM ({probe_union}) "
            f"QUALIFY row_number() OVER (PARTITION BY query_id "
            f"ORDER BY pdist, bucket) <= {IVF_NPROBE}"
        ),
        "cb": (
            f"SELECT vec_id, embedding, {bucket} AS bucket "
            f"FROM (SELECT vec_id, embedding, {cd} FROM embeddings {where})"
        ),
        "cos": SIM.cosine_u_sql(dot, nc, nq),
    }


def q_ann_ivf_oracle() -> str:
    c = _ivf_oracle_ctes(n_queries=10)
    return f"""
        WITH q AS ({c["q"]}),
        probes AS ({c["probes"]}),
        cb AS ({c["cb"]}),
        scored AS (
          SELECT q.query_id, c.vec_id, {c["cos"]} AS cos_u
          FROM cb c JOIN probes q USING (bucket)
        )
        SELECT query_id::BIGINT AS query_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_u DESC, vec_id)::BIGINT AS rank,
               vec_id::BIGINT AS vec_id, cos_u
        FROM scored
        QUALIFY rank <= 5
    """


PQ_M = 4
PQ_K = 8


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-5 (asymmetric distance computation):
    the corpus compresses to M=4 subspace codes per vector (the
    64-dims-to-4-ints memory-side answer at 10^12 rows — IVF prunes
    which rows a probe scans, PQ shrinks what a scan reads), queries
    project integerized distance LUT arrays in-plan and broadcast, and
    scoring is M element_at lookups + an exact BIGINT sum per code row.
    Driver config uses K=8 codes per subspace so the oracle SQL stays
    readable; production uses K=256 (one byte per code). Smaller adc_u
    is NEARER (ADC approximates squared L2), ties on vec_id."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cbs = SIM.make_pq_codebooks(EMB_DIM, PQ_M, PQ_K)
    out = SIM.pq_adc_topk(SIM.pq_encode(emb, cbs), queries, cbs, k=5)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("vec_id").cast("long").alias("vec_id"),
        "adc_u",
    )


def q_ann_pq_oracle() -> str:
    """DuckDB twin: re-derives the codes (same first-occurrence argmin
    over the same identical-IEEE distance trees) and the query LUT
    lists, then the same M-lookup integer ADC sum."""
    cbs = SIM.make_pq_codebooks(EMB_DIM, PQ_M, PQ_K)
    codes = ", ".join(
        f"{SIM.pq_code_sql('embedding', cbs, i, 'duckdb')} AS code{i}"
        for i in range(PQ_M)
    )
    luts = ", ".join(
        "list_value("
        + ", ".join(
            SIM.pq_lut_elem_sql("embedding", cbs, i, j, "duckdb")
            for j in range(PQ_K)
        )
        + f") AS lut{i}"
        for i in range(PQ_M)
    )
    adc = " + ".join(f"lut{i}[code{i} + 1]" for i in range(PQ_M))
    return f"""
        WITH q AS (
          SELECT vec_id AS query_id, {luts}
          FROM embeddings WHERE vec_id < 10
        ),
        c AS (SELECT vec_id, {codes} FROM embeddings),
        scored AS (
          SELECT query_id, vec_id, CAST({adc} AS BIGINT) AS adc_u
          FROM c CROSS JOIN q
        )
        SELECT query_id::BIGINT AS query_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_u, vec_id)::BIGINT AS rank,
               vec_id::BIGINT AS vec_id, adc_u
        FROM scored
        QUALIFY rank <= 5
    """


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN top-5 — the composed 10^12-row production shape: the
    corpus writes ONCE to a bucket-partitioned CODES-ONLY index (coarse
    IVF bucket + M=4 PQ subspace codes per row, NO embedding column —
    a ~64x smaller ANN working set), then each query batch probes its
    nprobe nearest buckets (static partition pruning at the source) and
    scores only code rows via the broadcast LUT ADC sum. IVF prunes
    WHICH rows are scanned; PQ shrinks WHAT a scan reads; this query
    exercises both reductions together against an oracle that re-derives
    buckets, codes, LUTs, and the ADC ranking in SQL."""
    import os

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = SIM.make_centroids(EMB_DIM, IVF_CENTROIDS)
    cbs = SIM.make_pq_codebooks(EMB_DIM, PQ_M, PQ_K)
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(FX.FIXTURE_DIR, f"ivfpq_index_{tag}")
    SIM.ivfpq_write_index(emb, cents, cbs, path)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = SIM.ivfpq_topk_indexed(
        spark, path, queries, k=5, centroids=cents, codebooks=cbs,
        nprobe=IVF_NPROBE,
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("vec_id").cast("long").alias("vec_id"),
        "adc_u",
    )


def q_ann_ivfpq_oracle() -> str:
    """DuckDB twin: IVF probe scaffolding (``_ivf_oracle_ctes`` — the
    shared bucket argmin + probe tie-break) composed with the PQ
    fragments (codes re-derived per corpus row, LUT lists per query,
    M-lookup integer ADC), ranked by (adc_u ASC, vec_id)."""
    c = _ivf_oracle_ctes(n_queries=10)
    cbs = SIM.make_pq_codebooks(EMB_DIM, PQ_M, PQ_K)
    codes = ", ".join(
        f"{SIM.pq_code_sql('embedding', cbs, i, 'duckdb')} AS code{i}"
        for i in range(PQ_M)
    )
    luts = ", ".join(
        "list_value("
        + ", ".join(
            SIM.pq_lut_elem_sql("qv", cbs, i, j, "duckdb")
            for j in range(PQ_K)
        )
        + f") AS lut{i}"
        for i in range(PQ_M)
    )
    adc = " + ".join(f"lut{i}[code{i} + 1]" for i in range(PQ_M))
    return f"""
        WITH q AS ({c["q"]}),
        probes AS ({c["probes"]}),
        qlut AS (SELECT query_id, {luts} FROM (SELECT DISTINCT query_id, qv FROM q)),
        cb AS ({c["cb"]}),
        ccodes AS (SELECT vec_id, bucket, {codes} FROM (SELECT vec_id, embedding, bucket FROM cb)),
        scored AS (
          SELECT p.query_id, c.vec_id, CAST({adc} AS BIGINT) AS adc_u
          FROM ccodes c
          JOIN probes p USING (bucket)
          JOIN qlut USING (query_id)
        )
        SELECT query_id::BIGINT AS query_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_u, vec_id)::BIGINT AS rank,
               vec_id::BIGINT AS vec_id, adc_u
        FROM scored
        QUALIFY rank <= 5
    """


ANN_SHORTLIST = 20


def q_ann_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval (ADC shortlist -> exact rescore) — the
    production serving shape composed from the PQ family: stage 1 runs
    the compressed-domain ADC scan over the codes-only table and keeps a
    20-deep candidate shortlist per query; stage 2 fetches ONLY those
    ids' full vectors (candidate broadcast join — the sole place an
    embedding is read) and re-ranks them with the exact integerized
    cosine. PQ distortion can cost recall (a neighbor absent from the
    shortlist stays absent) but never precision among survivors: with
    shortlist >= corpus size the output is bit-exact ``cosine_topk``.
    At 10^12 rows the vectors column is never scanned — codes (~4 TB)
    plus nq x 20 id-fetched rows."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cbs = SIM.make_pq_codebooks(EMB_DIM, PQ_M, PQ_K)
    out = SIM.pq_rerank_topk(
        emb, SIM.pq_encode(emb, cbs), queries, cbs,
        shortlist=ANN_SHORTLIST, k=5,
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("vec_id").cast("long").alias("vec_id"),
        "cos_u",
    )


def q_ann_rerank_oracle() -> str:
    """DuckDB twin: the PQ scored CTE (codes + LUTs re-derived, integer
    ADC) ranked to the 20-deep shortlist by (adc_u ASC, vec_id), then an
    id join back to ``embeddings`` for the exact integerized cosine and
    the final (cos_u DESC, vec_id) top-5."""
    cbs = SIM.make_pq_codebooks(EMB_DIM, PQ_M, PQ_K)
    codes = ", ".join(
        f"{SIM.pq_code_sql('embedding', cbs, i, 'duckdb')} AS code{i}"
        for i in range(PQ_M)
    )
    luts = ", ".join(
        "list_value("
        + ", ".join(
            SIM.pq_lut_elem_sql("qv", cbs, i, j, "duckdb")
            for j in range(PQ_K)
        )
        + f") AS lut{i}"
        for i in range(PQ_M)
    )
    adc = " + ".join(f"lut{i}[code{i} + 1]" for i in range(PQ_M))
    cos = SIM.cosine_u_sql(
        SIM.dot_u_sql("e.embedding", "q.qv", "duckdb"),
        SIM.norm_u_sql("e.embedding", "duckdb"),
        SIM.norm_u_sql("q.qv", "duckdb"),
    )
    return f"""
        WITH q AS (
          SELECT vec_id AS query_id, embedding AS qv, {luts}
          FROM embeddings WHERE vec_id < 10
        ),
        c AS (SELECT vec_id, {codes} FROM embeddings),
        scored AS (
          SELECT query_id, vec_id, CAST({adc} AS BIGINT) AS adc_u
          FROM c CROSS JOIN q
        ),
        short AS (
          SELECT query_id, vec_id
          FROM scored
          QUALIFY row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc_u, vec_id) <= {ANN_SHORTLIST}
        ),
        resc AS (
          SELECT s.query_id, s.vec_id, {cos} AS cos_u
          FROM short s
          JOIN embeddings e ON e.vec_id = s.vec_id
          JOIN q ON q.query_id = s.query_id
        )
        SELECT query_id::BIGINT AS query_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_u DESC, vec_id)::BIGINT AS rank,
               vec_id::BIGINT AS vec_id, cos_u
        FROM resc
        QUALIFY rank <= 5
    """


def q_ann_ivf_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance, proven equivalent to monolithic:
    the corpus splits into a base (vec_id % 17 != 0, ~94%) indexed with the
    one-time ``ivf_write_index`` build and a crawl batch (vec_id % 17 == 0)
    folded in with the O(batch) ``ivf_index_append`` — only the batch is
    assigned/shuffled/written, touched bucket dirs gain files, nothing
    scales with the already-indexed corpus (the index twin of
    ``pyramid_delta``'s churn-bounded maintenance). The probe-pruned
    indexed query over the merged index must equal the full-corpus IVF, so
    the oracle is the SAME full-corpus SQL as ``ann_ivf``: base ∪ batch =
    embeddings and the append is exactly the rows the full build would
    have placed in those buckets."""
    import os

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.where(F.col("vec_id") % 17 != 0)
    batch = emb.where(F.col("vec_id") % 17 == 0)
    cents = SIM.make_centroids(EMB_DIM, IVF_CENTROIDS)
    # per-sf fixture path; base rebuilt with mode=overwrite then the batch
    # appended once, so re-invocations are deterministic (a production
    # pipeline guards the append with the plans.checkpoint journal marker
    # instead of rebuilding — see ivf_index_append's docstring)
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(FX.FIXTURE_DIR, f"ivf_delta_index_{tag}")
    SIM.ivf_write_index(base, cents, path)
    SIM.ivf_index_append(spark, path, batch, cents)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = SIM.ivf_topk_indexed(
        spark, path, queries, k=5, centroids=cents, nprobe=IVF_NPROBE
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("vec_id").cast("long").alias("vec_id"),
        "cos_u",
    )


def q_ann_ivf_delta_oracle() -> str:
    # the merged index must answer EXACTLY like the monolithic full-corpus
    # IVF — same centroids, same nprobe, same re-rank — so the oracle is
    # ann_ivf's full-corpus SQL verbatim
    return q_ann_ivf_oracle()


RECALL_K = 10
RECALL_NQ = 50


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of IVF(nprobe=2) vs exact brute force for 50 query
    vectors — the evaluation operator that turns "IVF is approximate"
    into a measured per-query number (tune nprobe/centroids against it).
    Both arms run in the engine (brute broadcast-scored scan + the
    bucket-probe IVF) and the ORACLE recomputes both arms AND their
    intersection in SQL, so the ranking tie-break, the probe pruning,
    and the hit counting are all value-checked per query."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < RECALL_NQ).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = SIM.make_centroids(EMB_DIM, IVF_CENTROIDS)
    out = SIM.ann_recall(
        emb, queries, k=RECALL_K, centroids=cents, nprobe=IVF_NPROBE
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"), "n_hit", "k"
    )


def q_ann_recall_oracle() -> str:
    c = _ivf_oracle_ctes(n_queries=RECALL_NQ)
    cos = c["cos"]
    return f"""
        WITH q AS ({c["q"]}),
        brute AS (
          SELECT query_id, vec_id FROM (
            SELECT q.query_id, c.vec_id,
                   row_number() OVER (PARTITION BY q.query_id
                                      ORDER BY {cos} DESC, c.vec_id) AS rn
            FROM embeddings c CROSS JOIN q
          ) WHERE rn <= {RECALL_K}
        ),
        probes AS ({c["probes"]}),
        cb AS ({c["cb"]}),
        approx AS (
          SELECT query_id, vec_id FROM (
            SELECT q.query_id, c.vec_id,
                   row_number() OVER (PARTITION BY q.query_id
                                      ORDER BY {cos} DESC, c.vec_id) AS rn
            FROM cb c JOIN probes q USING (bucket)
          ) WHERE rn <= {RECALL_K}
        )
        SELECT q.query_id::BIGINT AS query_id,
               coalesce(h.n_hit, 0)::BIGINT AS n_hit,
               {RECALL_K}::BIGINT AS k
        FROM (SELECT DISTINCT query_id FROM q) q
        LEFT JOIN (
          SELECT query_id, count(*) AS n_hit
          FROM brute JOIN approx USING (query_id, vec_id)
          GROUP BY query_id
        ) h USING (query_id)
    """


_ANN_FILTER = "label % 3 = 1"  # same SQL text in both engines


def q_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered ANN over a persisted index: the corpus index is
    built with ``label`` carried alongside each vector
    (``ivf_write_index(carry_cols=...)``) and the top-5 search restricts
    to ``label % 3 = 1`` rows — "nearest SAFE/en/high-quality vectors",
    the filtered-vector-search shape every curation pipeline needs. The
    predicate lands in the pruned parquet scan (``PushedFilters``, next
    to the probe set's partition pruning — plan-asserted in
    ``test_pipeline_ops.py``), so neither the filter nor the probe pays
    a post-scan pass, and no query-time join against a metadata table
    exists at all. ORACLE mirrors the same probes + filter in SQL, so
    bucket assignment, carry-through, predicate, and re-rank are all
    value-checked."""
    import os

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = SIM.make_centroids(EMB_DIM, IVF_CENTROIDS)
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(FX.FIXTURE_DIR, f"ivf_filtered_index_{tag}")
    SIM.ivf_write_index(emb, cents, path, carry_cols=("label",))
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = SIM.ivf_topk_indexed(
        spark, path, queries, k=5, centroids=cents, nprobe=IVF_NPROBE,
        where=_ANN_FILTER,
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("vec_id").cast("long").alias("vec_id"),
        "cos_u",
    )


def q_ann_filtered_oracle() -> str:
    c = _ivf_oracle_ctes(n_queries=10, corpus_where=_ANN_FILTER)
    return f"""
        WITH q AS ({c["q"]}),
        probes AS ({c["probes"]}),
        cb AS ({c["cb"]}),
        scored AS (
          SELECT q.query_id, c.vec_id, {c["cos"]} AS cos_u
          FROM cb c JOIN probes q USING (bucket)
        )
        SELECT query_id::BIGINT AS query_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_u DESC, vec_id)::BIGINT AS rank,
               vec_id::BIGINT AS vec_id, cos_u
        FROM scored
        QUALIFY rank <= 5
    """


def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (GPT-style pretraining batches):
    within each source shard, documents in doc_id order are packed into
    512-token packs by an exclusive prefix-sum window — one exchange on
    the shard key, then pure codegen; a boundary-spanning document
    belongs to the pack where it starts (documents are never split).
    Output is the per-pack rollup (doc count + token sum), which both
    exercises the pack-id window and keeps the oracle result compact."""
    from .operators import splits as SP

    packed = SP.seq_pack(
        _docs(spark, sf_dir).select("doc_id", "source", "text"),
        budget_tokens=512,
    )
    tok = F.expr(TA.token_count_sql("text", "spark"))
    return (
        packed.groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(tok).cast("long").alias("tok_sum"),
        )
        .select("source", "pack_id", "n_docs", "tok_sum")
    )


def q_seq_pack_oracle() -> str:
    from .operators.splits import seq_pack_sql

    pack = seq_pack_sql("text", "doc_id", "source", 512, "duckdb")
    tok = TA.token_count_sql("text", "duckdb")
    return f"""
        SELECT source, pack_id, COUNT(*) AS n_docs,
               CAST(SUM({tok}) AS BIGINT) AS tok_sum
        FROM (SELECT source, text, {pack} AS pack_id FROM documents)
        GROUP BY source, pack_id
    """


# ---------------------------------------------------------------------------
# aspect-ratio bucketing (image batch formation)
# ---------------------------------------------------------------------------


def q_ar_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucket assignment (SDXL-style 13-bucket ladder) over
    the varied-dims images table: per image the nearest bucket by
    integerized log-ratio distance, as a pure scan-side codegen
    expression — no join, no shuffle, no Python (operators/arbucket.py).

    The reference has no training-side operators; this is the engine's
    image-batch-formation stage (assignment here; per-bucket batch/shard
    packing downstream via seq_pack/shard_pack)."""
    from .operators import arbucket as AR

    path = FX.varied_images_parquet_path(n=2000)
    images = spark.read.parquet(path)
    return AR.assign_ar_buckets(images)


def q_ar_bucket_oracle() -> str:
    from .operators import arbucket as AR

    path = FX.varied_images_parquet_path(n=2000)
    e = AR.ar_bucket_select_sql("w", "h", "duckdb")
    return f"""
        SELECT image_id,
               {e["bucket_id"]} AS bucket_id,
               {e["bw"]} AS bw,
               {e["bh"]} AS bh,
               {e["cost_u"]} AS cost_u
        FROM read_parquet('{path}')
    """


# ---------------------------------------------------------------------------
# detection-box cluster NMS (IoU dedup of object-detection annotations)
# ---------------------------------------------------------------------------

NMS_IOU_NUM, NMS_IOU_DEN = 1, 2  # threshold 0.5, exact integer test


def _box_table_exprs(dialect: str) -> list[str]:
    """Synthetic detection-annotation table derived from orders keys —
    one box per order row, ~<=8 boxes per image (image_id = key >> 3),
    two spatial anchors per image with +-20 px jitter so same-(image,
    class, anchor) boxes overlap heavily while cross-anchor boxes are
    mostly disjoint. Pure integer SQL (Knuth-style hashes, exact in
    both dialects); products bounded ~2e15 at any gate SF."""
    shr = (
        "shiftright(o_orderkey, 3)" if dialect == "spark"
        else "(o_orderkey >> 3)"
    )
    img = f"({shr})"
    h1 = "((o_orderkey * 2654435761) % 1000000007)"
    h2 = "((o_orderkey * 3266489917) % 998244353)"
    bx = f"(({img} * 2246822519 + (o_orderkey % 2) * 104729) % 1600)"
    by = f"(({img} * 1779033703 + (o_orderkey % 2) * 15485863) % 900)"
    return [
        "CAST(o_orderkey AS BIGINT) AS box_id",
        f"CAST({img} AS BIGINT) AS image_id",
        f"CAST({h1} % 3 AS BIGINT) AS class_id",
        f"CAST({bx} + ({h1} % 41) - 20 AS BIGINT) AS x0",
        f"CAST({by} + ({h2} % 41) - 20 AS BIGINT) AS y0",
        f"CAST(200 + ({h1} % 160) AS BIGINT) AS w",
        f"CAST(150 + ({h2} % 120) AS BIGINT) AS h",
        f"CAST(({h1} + {h2}) % 10000 AS BIGINT) AS score_u",
    ]


def q_box_nms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detection-annotation dedup via cluster-NMS: per-(image, class)
    IoU >= 0.5 pairs (exact integer test, no division) form suppression
    components; the top-scoring box per component survives. One shuffle
    on the image key + bounded K^2 per-image fan-out + component
    labeling on the EDGE table only — the relational NMS an annotation-
    merge pipeline runs at 10^12 images. Semantics note: clustering
    suppresses transitively (can keep fewer boxes than greedy NMS);
    pinned by pytest against a python cluster-NMS oracle."""
    from .operators import boxes as BX

    boxes = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr(*_box_table_exprs("spark"))
    )
    return BX.box_cluster_nms(boxes, NMS_IOU_NUM, NMS_IOU_DEN)


def q_box_nms_oracle() -> str:
    from .operators import boxes as BX

    cols = ",\n                 ".join(_box_table_exprs("duckdb"))
    inter, union = BX.iou_exprs_sql("a", "b")
    return f"""
        WITH RECURSIVE boxes AS (
          SELECT {cols}
          FROM orders
        ),
        good AS (
          SELECT a.box_id AS id_1, b.box_id AS id_2
          FROM boxes a JOIN boxes b
            ON a.image_id = b.image_id AND a.class_id = b.class_id
           AND a.box_id < b.box_id
          WHERE {BX.iou_exprs_sql("a", "b")[0]} * {NMS_IOU_DEN}
                >= {BX.iou_exprs_sql("a", "b")[1]} * {NMS_IOU_NUM}
        ),
        edges AS (
          SELECT id_1 AS src, id_2 AS dst FROM good
          UNION
          SELECT id_2 AS src, id_1 AS dst FROM good
        ),
        reach(node, lbl) AS (
          SELECT box_id, box_id FROM boxes
          UNION
          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
        ),
        comp AS (
          SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node
        ),
        labeled AS (
          SELECT bx.image_id, bx.class_id, bx.box_id, bx.score_u,
                 c.cluster_id
          FROM boxes bx JOIN comp c ON bx.box_id = c.node
        ),
        ranked AS (
          SELECT *,
                 row_number() OVER (
                   PARTITION BY cluster_id
                   ORDER BY score_u DESC, box_id
                 ) AS rk,
                 count(*) OVER (PARTITION BY cluster_id) AS cluster_sz
          FROM labeled
        )
        SELECT image_id, class_id, box_id, score_u, cluster_id,
               CAST(cluster_sz AS BIGINT) AS cluster_sz
        FROM ranked WHERE rk = 1
    """
