"""Forward / reverse geocoding pipelines (reference §3.1-3.2 re-expressed).

Forward geocode (geocoder.cpp:223-247 + findCandidates 353-424):
the query DataFrame *is* the batch (the reference loops sequentially,
geocoder.cpp:249-258 — the engine's batch is one distributed plan):

1. parse (F3 column expressions) → search_term = parsed.state if non-empty
   else full_address (geocoder.cpp:358-359)
2. candidate retrieval = 3 generated key variants (raw / normalized /
   abbrev-expanded for 2-letter terms) × explode × broadcast equi-join to
   the key dimension built from the feature table (the reference's
   inverted city_index, geocoder.cpp:318-351) → dropDuplicates
3. confidence = F11 cascade; filter > 0.3 (geocoder.cpp:412)
4. top-1 per query by confidence (W1), tie-break min(record_number) —
   the reference's std::sort is unstable on ties, so the engine pins a
   deterministic order (documented deviation)
5. coordinates = bbox centroid (geocoder.cpp:413-415), match_type F13

Reverse geocode (geocoder.cpp:260-316): exact PIP join (J1) → hits get
NAME_1 / centroid / confidence 1.0 / "reverse"; misses take the J6
fallback = argmin centroid distance <= max_distance over the broadcast
feature dimension, confidence 1 − d/max. Deviation from the reference
documented in tests: the reference's fallback loop is file-order dependent
when records with empty NAME_1 shadow the running min (geocoder.cpp:
284-315); the engine restricts to non-empty-name records and tie-breaks
min(record_number).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as TXT
from . import spatial_join as SJ


def build_key_dimension(features_pdf: pd.DataFrame) -> pd.DataFrame:
    """The inverted index as data: one row per (key, record_number, name).

    Mirrors buildIndex (geocoder.cpp:318-351): keys are the normalized
    name, the raw name, and the 2-letter state abbreviation whose
    expansion equals the normalized name.
    """
    rows = []
    inv_states = {v: k for k, v in TXT.STATE_ABBREV_UPPER.items()}
    for _, r in features_pdf.iterrows():
        name = r.get("NAME_1", "")
        if not isinstance(name, str) or name == "" or r["shape_type"] != 5:
            continue
        rec = int(r["record_number"])
        cx = (float(r["minx"]) + float(r["maxx"])) / 2.0
        cy = (float(r["miny"]) + float(r["maxy"])) / 2.0
        norm = _normalize_py(name)
        keys = {norm, name}
        abbrev = inv_states.get(norm)
        if abbrev is not None:
            keys.add(abbrev)
        for k in keys:
            rows.append((k, rec, name, cx, cy))
    return pd.DataFrame(
        rows, columns=["key", "record_number", "name_1", "cx", "cy"]
    ).drop_duplicates()


def _normalize_py(s: str) -> str:
    import re

    return re.sub(r"\s+", " ", re.sub(r"[,.]", " ", s.upper())).strip()


def forward_geocode(
    spark: SparkSession,
    queries: DataFrame,
    features_pdf: pd.DataFrame,
    address_col: str = "address",
    query_id_col: str = "query_id",
) -> DataFrame:
    """(query_id, address) -> best match per query.

    Output: query_id, address, lat, lng, matched_address, confidence,
    match_type (empty-match rows are absent — the reference returns a
    0-confidence sentinel, geocoder.cpp:246; use a left join on the input
    to reconstruct sentinel rows if needed).
    """
    dim = spark.createDataFrame(build_key_dimension(features_pdf))
    states = TXT._map_literal(TXT.STATE_ABBREV_UPPER)

    parsed = queries.withColumn("__p", TXT.parse_address(address_col))
    term = F.when(F.col("__p.state") != "", F.col("__p.state")).otherwise(
        F.col("__p.full_address")
    )
    q = (
        parsed.withColumn("__term", term)
        .where(TXT.address_is_valid(F.col("__p")) & (F.col("__term") != ""))
        .withColumn(
            "__keys",
            F.array_distinct(
                F.filter(
                    F.array(
                        F.col("__term"),
                        TXT.normalize(F.col("__term")),
                        F.when(
                            F.length("__term") == 2,
                            F.try_element_at(states, TXT.normalize(F.col("__term"))),
                        ),
                    ),
                    lambda k: ~F.isnull(k),
                )
            ),
        )
        .withColumn("__key", F.explode("__keys"))
        .drop("__keys")
    )
    cand = (
        q.join(F.broadcast(dim), q["__key"] == dim["key"], "inner")
        .dropDuplicates([query_id_col, "record_number"])
        .withColumn("confidence", TXT.state_confidence(F.col("__term"), F.col("name_1")))
        .where(F.col("confidence") > 0.3)
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("confidence"), F.asc("record_number")
    )
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            query_id_col,
            address_col,
            F.col("cy").alias("lat"),
            F.col("cx").alias("lng"),
            F.col("name_1").alias("matched_address"),
            "confidence",
            TXT.match_type("confidence").alias("match_type"),
            F.col("record_number"),
        )
    )


def reverse_geocode(
    spark: SparkSession,
    points: DataFrame,
    features_pdf: pd.DataFrame,
    max_distance: float = 100.0,
    lng_col: str = "lng",
    lat_col: str = "lat",
    point_id_col: str = "query_id",
    res: int = SJ.DEFAULT_RES,
) -> DataFrame:
    """(query_id, lng, lat) -> containing-polygon match or distance fallback.

    Output: query_id, lat, lng (bbox-centroid result coordinates),
    matched_address, confidence, match_type='reverse'.
    """
    feats = features_pdf[
        (features_pdf["shape_type"] == 5)
        & (features_pdf["NAME_1"].astype(str) != "")
    ]
    index = SJ._index(spark, feats, res)

    centroids = spark.createDataFrame(
        pd.DataFrame(
            {
                "record_number": feats["record_number"].astype(np.int64),
                "cx": (feats["minx"] + feats["maxx"]) / 2.0,
                "cy": (feats["miny"] + feats["maxy"]) / 2.0,
                "name_1": feats["NAME_1"].astype(str),
            }
        )
    )
    # one PIP call: its hits take their polygon's centroid, its misses
    # (record_number NULL) fall back to the nearest centroid
    tagged = SJ.point_in_polygon_left_join(
        spark, points, index, res=res, lng_col=lng_col, lat_col=lat_col,
    )
    hits = tagged.join(F.broadcast(centroids), "record_number").select(
        point_id_col,
        F.col("cy").alias("lat"),
        F.col("cx").alias("lng"),
        F.col("name_1").alias("matched_address"),
        F.lit(1.0).alias("confidence"),
        F.lit("reverse").alias("match_type"),
        F.col("record_number"),
    )
    misses = tagged.where(F.col("record_number").isNull()).drop("record_number")

    dist = F.sqrt(
        (F.col(lng_col) - F.col("cx")) * (F.col(lng_col) - F.col("cx"))
        + (F.col(lat_col) - F.col("cy")) * (F.col(lat_col) - F.col("cy"))
    )
    w = Window.partitionBy(point_id_col).orderBy("dist", "record_number")
    fallback = (
        misses.crossJoin(F.broadcast(centroids))
        .withColumn("dist", dist)
        .where(F.col("dist") <= F.lit(max_distance))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            point_id_col,
            F.col("cy").alias("lat"),
            F.col("cx").alias("lng"),
            F.col("name_1").alias("matched_address"),
            (F.lit(1.0) - F.col("dist") / F.lit(max_distance)).alias("confidence"),
            F.lit("reverse").alias("match_type"),
            F.col("record_number"),
        )
    )
    return hits.unionByName(fallback)
