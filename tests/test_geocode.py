"""Forward/reverse geocoder parity vs a direct Python transliteration of the
reference (geocoder.cpp), plus the README golden-case shapes."""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd
import pytest

from gis_shapefile_spark.functions.text import STATE_ABBREV_UPPER, STREET_TYPE_ABBREV
from gis_shapefile_spark.operators import geocode as GC
from gis_shapefile_spark.sources import fixtures as FX


# --- transliteration oracle (geocoder.cpp) ----------------------------------

def o_normalize(s):  # :113-133
    s = s.upper()
    s = re.sub(r"[,.]", " ", s)
    s = re.sub(r"\s+", " ", s)
    return s.strip(" \t")


def o_tokenize(s):  # :139-149
    return [t for t in s.split(" ") if t]


def o_is_numeric(t):  # :163-165
    return len(t) > 0 and all(c.isdigit() for c in t)


def o_is_zip(t):  # :167-177
    return bool(re.fullmatch(r"\d{5}", t) or re.fullmatch(r"\d{5}-\d{4}", t))


def o_parse(addr):  # :47-111
    out = dict(house_number="", street_name="", street_type="", city="",
               state="", zip_code="", full_address=addr)
    toks = o_tokenize(o_normalize(addr))
    if not toks:
        return out
    i = 0
    if i < len(toks) and o_is_numeric(toks[i]):
        out["house_number"] = toks[i]
        i += 1
    street = []
    while i < len(toks) and not o_is_zip(toks[i]) and toks[i] not in STATE_ABBREV_UPPER:
        street.append(toks[i])
        i += 1
    if street:
        if street[-1] in STREET_TYPE_ABBREV:
            out["street_type"] = STREET_TYPE_ABBREV[street[-1]]
            street.pop()
        out["street_name"] = " ".join(street)
    if i < len(toks) and toks[i] in STATE_ABBREV_UPPER:
        out["state"] = toks[i]
        i += 1
    if i < len(toks) and o_is_zip(toks[i]):
        out["zip_code"] = toks[i]
        i += 1
    if i < len(toks):  # the reference's bug: joins the CONSUMED prefix
        out["city"] = " ".join(toks[:i])
    return out


def o_similarity(a, b):  # :480-494 (NOT real Jaro-Winkler)
    if a == b:
        return 1.0
    if not a or not b:
        return 0.0
    common = sum(1 for x, y in zip(a, b) if x == y)
    return common / max(len(a), len(b))


def o_state_confidence(inp, cand):  # :432-461
    if not inp or not cand:
        return 0.0
    if inp == cand:
        return 1.0
    ni, nc = o_normalize(inp), o_normalize(cand)
    if ni == nc:
        return 1.0
    if len(inp) == 2 and STATE_ABBREV_UPPER.get(ni) == nc:
        return 1.0
    return o_similarity(ni, nc)


def o_geocode(addr, features):  # :223-247 + findCandidates :353-424
    parsed = o_parse(addr)
    term = parsed["state"] or parsed["full_address"]
    if not (parsed["state"] or parsed["full_address"]) or not term:
        return None
    # index probes (city_index keys: normalized name, raw name, abbrev)
    cands = set()
    for _, r in features.iterrows():
        name = r.get("NAME_1", "")
        if not isinstance(name, str) or not name or r["shape_type"] != 5:
            continue
        keys = {o_normalize(name), name}
        for ab, full in STATE_ABBREV_UPPER.items():
            if full == o_normalize(name):
                keys.add(ab)
        probe_keys = {term, o_normalize(term)}
        if len(term) == 2 and o_normalize(term) in STATE_ABBREV_UPPER:
            probe_keys.add(STATE_ABBREV_UPPER[o_normalize(term)])
        if keys & probe_keys:
            cands.add(int(r["record_number"]))
    best = None
    for rec in sorted(cands):
        r = features[features["record_number"] == rec].iloc[0]
        conf = o_state_confidence(term, r["NAME_1"])
        if conf > 0.3:
            item = (conf, -rec, r["NAME_1"],
                    (r["minx"] + r["maxx"]) / 2, (r["miny"] + r["maxy"]) / 2)
            if best is None or item[:2] > best[:2]:
                best = item
    if best is None:
        return None
    conf, negrec, name, cx, cy = best
    return dict(record_number=-negrec, matched_address=name, confidence=conf,
                match_type="exact" if conf > 0.9 else "fuzzy", lng=cx, lat=cy)


QUERIES = [
    "TEXAS", "Texas", "texas", "TX", "tx", "New York", "new , york.",
    "NEW  YORK", "TEXSA", "CALIFORNYA", "WEST VIRGINIA", "DC",
    "District of Columbia", "123 MAIN ST SPRINGFIELD TX 75001",
    "456 OAK AVE CA", "789 ELM BLVD NY 10001", "1 PENNSYLVANIA",
    "UNKNOWNPLACE", "ZZ", "12345", "", "   ", "WASH1NGTON", "OHIO.",
    "NORTH", "SOUTH DAKOTA", "MAINE 04001",
]


@pytest.fixture(scope="module")
def features():
    return FX.make_features()


def test_forward_geocode_matches_oracle(spark, features):
    qpdf = pd.DataFrame({"query_id": range(len(QUERIES)), "address": QUERIES})
    qdf = spark.createDataFrame(qpdf)
    got = {
        r.query_id: r
        for r in GC.forward_geocode(spark, qdf, features).collect()
    }
    for qid, addr in enumerate(QUERIES):
        want = o_geocode(addr, features)
        if want is None:
            assert qid not in got, (addr, got.get(qid))
        else:
            assert qid in got, (addr, "engine returned no row; oracle:", want)
            g = got[qid]
            assert g.record_number == want["record_number"], addr
            assert g.matched_address == want["matched_address"], addr
            assert math.isclose(g.confidence, want["confidence"], abs_tol=1e-12), addr
            assert g.match_type == want["match_type"], addr
            assert math.isclose(g.lng, want["lng"], abs_tol=1e-9), addr
            assert math.isclose(g.lat, want["lat"], abs_tol=1e-9), addr


def test_golden_readme_shapes(spark, features):
    """README.md:85-109 shapes on the synthetic fixture: exact state-name
    geocode -> conf 1.0 'exact'; interior reverse -> conf 1.0 'reverse'."""
    qdf = spark.createDataFrame(
        pd.DataFrame({"query_id": [0], "address": ["TEXAS"]})
    )
    row = GC.forward_geocode(spark, qdf, features).collect()[0]
    assert row.confidence == 1.0
    assert row.match_type == "exact"
    assert row.matched_address == "Texas"
    tex = features[features["NAME_1"] == "Texas"].iloc[0]
    assert math.isclose(row.lng, (tex.minx + tex.maxx) / 2, abs_tol=1e-9)
    assert math.isclose(row.lat, (tex.miny + tex.maxy) / 2, abs_tol=1e-9)

    ny = features[features["NAME_1"] == "New York"].iloc[0]
    px = ny.minx + (ny.maxx - ny.minx) * 0.25  # interior, outside any hole
    py = ny.miny + (ny.maxy - ny.miny) * 0.25
    pdf = pd.DataFrame({"query_id": [0], "lng": [px], "lat": [py]})
    r = GC.reverse_geocode(spark, spark.createDataFrame(pdf), features).collect()[0]
    assert r.matched_address == "New York"
    assert r.confidence == 1.0
    assert r.match_type == "reverse"


def test_reverse_geocode_hits_and_fallback(spark, features):
    feats = features[(features["shape_type"] == 5) & (features["NAME_1"] != "")]
    cases = []
    # interior points of 10 states
    for _, r in feats.head(10).iterrows():
        cases.append(
            (f"in_{r.NAME_1}", r.minx + (r.maxx - r.minx) * 0.3,
             r.miny + (r.maxy - r.miny) * 0.3, r.NAME_1, 1.0)
        )
    # hole center of a holed state (every 5th) -> fallback, conf 1 - d/100
    holed = feats[feats["ring_sizes"].map(len) > 1].iloc[0]
    hx, hy = (holed.minx + holed.maxx) / 2, (holed.miny + holed.maxy) / 2
    # ocean point far west
    cases.append(("ocean", -150.0, 30.0, None, None))
    cases.append(("hole", hx, hy, None, None))

    pdf = pd.DataFrame(
        {"query_id": [c[0] for c in cases],
         "lng": [c[1] for c in cases],
         "lat": [c[2] for c in cases]}
    )
    got = {r.query_id: r for r in
           GC.reverse_geocode(spark, spark.createDataFrame(pdf), features).collect()}

    for qid, px, py, want_name, want_conf in cases:
        r = got[qid]
        if want_name is not None:
            assert r.matched_address == want_name, qid
            assert r.confidence == want_conf
            f = feats[feats["NAME_1"] == want_name].iloc[0]
            assert (r.lng, r.lat) == ((f.minx + f.maxx) / 2, (f.miny + f.maxy) / 2), qid
        else:
            # fallback: nearest centroid among named polygon features
            cx = (feats.minx + feats.maxx) / 2
            cy = (feats.miny + feats.maxy) / 2
            d = np.sqrt((px - cx) ** 2 + (py - cy) ** 2)
            j = int(np.lexsort((feats.record_number.to_numpy(), d.to_numpy()))[0])
            assert r.record_number == int(feats.iloc[j].record_number), qid
            assert math.isclose(
                r.confidence, 1.0 - float(d.iloc[j]) / 100.0, abs_tol=1e-12
            ), qid
            assert r.match_type == "reverse"


def test_parse_address_column_matches_oracle(spark):
    from gis_shapefile_spark.functions import text as TXT

    pdf = pd.DataFrame({"addr": QUERIES})
    df = spark.createDataFrame(pdf).select(
        "addr", TXT.parse_address("addr").alias("p")
    )
    for row in df.collect():
        want = o_parse(row.addr)
        got = row.p.asDict()
        assert got == want, row.addr


def test_http_request_kernels(spark):
    """F14 counterpart kernels match the reference server's semantics
    (server/main.cpp:87-228): '+'->space, %XX decode with %2B ordering
    (a decoded '+' is not re-decoded), unknown escapes pass through,
    missing parameters extract as '', endpoint dispatch."""
    import pandas as pd
    from pyspark.sql import functions as F

    from gis_shapefile_spark.functions import http as H

    pdf = pd.DataFrame({"req": [
        "/geocode?address=NEW+YORK%2C+USA&format=json",
        "/reverse?lat=-53&lng=127",
        "/geocode?address=a%2Bb%20c%ZZ",
        "/geocode?address=x%2by%2fz",
        "/health",
    ]})
    qs = H.query_string_sql("req", "spark")
    df = spark.createDataFrame(pdf).select(
        "req",
        F.expr(H.route_sql("req", "spark")).alias("ep"),
        F.expr(H.url_decode_sql(
            H.extract_param_sql(qs, "address", "spark"), "spark")).alias("addr"),
        F.expr(H.extract_param_sql(qs, "lat", "spark")).alias("lat"),
    )
    rows = {r.req: (r.ep, r.addr, r.lat) for r in df.collect()}
    assert rows["/geocode?address=NEW+YORK%2C+USA&format=json"] == (
        "geocode", "NEW YORK, USA", "")
    assert rows["/reverse?lat=-53&lng=127"] == ("reverse", "", "-53")
    # %2B decodes to '+' and stays '+' (not re-decoded to space);
    # unknown escape %ZZ passes through like the reference's failed-hex branch
    assert rows["/geocode?address=a%2Bb%20c%ZZ"] == ("geocode", "a+b c%ZZ", "")
    # lowercase hex escapes decode too (reference hex parse is case-insensitive)
    assert rows["/geocode?address=x%2by%2fz"] == ("geocode", "x+y/z", "")
    assert rows["/health"] == ("not_found", "", "")


def test_url_decode_full_printable_range(spark):
    """The decode table now spans the whole printable-ASCII range
    (round-2 advice: %27 for O'Brien St etc. decoded in the reference
    but previously passed through here). Checked three ways: against
    urllib's single-pass decoder on well-formed input, pattern-by-
    pattern for every escape in the table, and Spark-vs-DuckDB on the
    identical SQL text."""
    import urllib.parse

    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from gis_shapefile_spark.functions import http as H

    cases = [
        "O%27Brien%20St",                     # apostrophe (the advice case)
        "100%25+off%3A+a%2Fb%5Cc",            # %25 last: '%' not re-decoded
        "%2520",                              # double-encoded: one pass only
        "%41%42%43abc%61%62%63",              # alphanumeric escapes
        "a%2Bb+c",                            # %2B stays '+', '+' is space
        "".join(f"%{c:02X}" for c in range(0x20, 0x7F)),  # every escape
        "".join(f"%{c:02x}" for c in range(0x20, 0x7F)),  # lowercase form
        "trailing%",                          # stray % at end: passthrough
        "bad%GGescape",                       # invalid hex: passthrough
    ]
    pdf = pd.DataFrame({"s": cases})
    sql_spark = H.url_decode_sql("s", "spark")
    got_spark = {
        r.s: r.d
        for r in spark.createDataFrame(pdf)
        .select("s", F.expr(sql_spark).alias("d"))
        .collect()
    }
    # urllib.unquote_plus is the reference single-pass semantics on
    # well-formed input (errors='strict' never fires on these)
    for s in cases:
        if "%GG" in s or s.endswith("%"):
            continue  # reference passthrough branch, urllib differs
        assert got_spark[s] == urllib.parse.unquote_plus(s), s
    assert got_spark["trailing%"] == "trailing%"
    assert got_spark["bad%GGescape"] == "bad%GGescape"

    # identical SQL text, identical results on DuckDB
    con = duckdb.connect()
    con.register("t", pdf)
    sql_duck = H.url_decode_sql("s", "duckdb")
    got_duck = dict(con.sql(f"SELECT s, {sql_duck} AS d FROM t").fetchall())
    assert got_duck == got_spark
