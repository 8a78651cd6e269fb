"""Cross-engine fuzz: every dual-dialect text builder evaluated on the
SAME adversarial + seeded-random strings in Spark and DuckDB must agree
exactly — the property the entire oracle gate rests on, checked directly
at the expression level (not through any particular query)."""

from __future__ import annotations

import random

import duckdb
import pandas as pd

from gis_shapefile_spark.functions import text_analysis as TA

ADVERSARIAL = [
    "",
    "   ",
    "hello world",
    "HeLLo\tWoRLD  again",
    "café naïve 中文 words",
    'a\'b "c" d\\e',
    "tab\ttab  double  space",
    "x" * 500,
    ("tok " * 50).strip(),
    "line1\nline2 line3",
    "punct!!! ... ??? mixed,words;here",
    "123 456.789 mixed12abc",
    "Über straße GROSS",
    "the the the the",  # pure repetition
    "%20 %2B + encoded & stuff = 1",
]


def _random_corpus(n: int = 40, seed: int = 11) -> list[str]:
    rng = random.Random(seed)
    words = ["data", "spark", "naïve", "中文", "a'b", "x1", "...", "the",
             "UND", "straße", "q-q", "42", "7.5", ""]
    out = []
    for _ in range(n):
        k = rng.randint(0, 12)
        out.append(" ".join(rng.choice(words) for _ in range(k)))
    return out


def test_text_builders_agree_across_engines(spark):
    texts = ADVERSARIAL + _random_corpus()
    pdf = pd.DataFrame({"i": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf)
    builders = {
        "n_tok": (TA.token_count_sql("text", "spark"),
                  TA.token_count_sql("text", "duckdb")),
        "lang": (TA.lang_id_sql(TA.tokens_sql("text", "spark"), "spark"),
                 TA.lang_id_sql(TA.tokens_sql("text", "duckdb"), "duckdb")),
        "q": (TA.quality_score_sql("text", "spark"),
              TA.quality_score_sql("text", "duckdb")),
        "mh": (TA.minhash_sql(TA.token_hashes_sql(
                   TA.shingles_sql(TA.tokens_sql("text", "spark"), 2, "spark"),
                   "spark"), 1, "spark"),
               TA.minhash_sql(TA.token_hashes_sql(
                   TA.shingles_sql(TA.tokens_sql("text", "duckdb"), 2, "duckdb"),
                   "duckdb"), 1, "duckdb")),
    }
    got = {
        r.i: r
        for r in df.selectExpr(
            "i", *[f"{s} AS {k}" for k, (s, _) in builders.items()]
        ).collect()
    }
    con = duckdb.connect()
    con.register("t", pdf)
    dsel = ", ".join(f"{d} AS {k}" for k, (_, d) in builders.items())
    duck = con.sql(f"SELECT i, {dsel} FROM t").df().set_index("i")

    for i, text in enumerate(texts):
        for k in builders:
            sv, dv = str(got[i][k]), str(duck.loc[i, k])
            assert sv == dv, (k, text[:60], sv[:80], dv[:80])


def test_cell_index_agrees_across_engines_and_numpy(spark):
    """The packed cell id: Spark expression == DuckDB expression == numpy
    twin, on random global coords incl. boundary/clamp cases."""
    import numpy as np

    from gis_shapefile_spark.functions import cells as C

    rng = np.random.default_rng(5)
    lngs = np.concatenate([
        rng.uniform(-180, 180, 60),
        np.array([-180.0, 180.0, 0.0, -125.0, 179.999999, -179.999999]),
    ])
    lats = np.concatenate([
        rng.uniform(-90, 90, 60),
        np.array([-90.0, 90.0, 0.0, 24.0, 89.999999, -89.999999]),
    ])
    pdf = pd.DataFrame({"i": range(len(lngs)), "lng": lngs, "lat": lats})
    for res in (3, 10, 20):
        sp = {
            r.i: r.c
            for r in spark.createDataFrame(pdf).selectExpr(
                "i", f"{C.cell_sql('lng', 'lat', res, 'spark')} AS c"
            ).collect()
        }
        con = duckdb.connect()
        con.register("t", pdf)
        du = con.sql(
            f"SELECT i, {C.cell_sql('lng', 'lat', res, 'duckdb')} AS c FROM t"
        ).df().set_index("i")["c"]
        npv = C.cell_of_numpy(lngs, lats, res)
        for i in range(len(lngs)):
            assert sp[i] == int(du.loc[i]) == int(npv[i]), (res, i, lngs[i], lats[i])


def test_ring_measures_agree_across_engines(spark):
    """ring_area2/perim/centroid-numerator SQL: Spark == DuckDB on random
    closed rings (3..40 vertices), plus degenerate 0/1/2-vertex inputs."""
    import numpy as np

    from gis_shapefile_spark.functions import geometry as G

    rng = np.random.default_rng(9)
    rings = []
    for n in [3, 4, 7, 15, 40]:
        xs = rng.uniform(-125, -66, n)
        ys = rng.uniform(24, 50, n)
        rings.append((list(xs) + [xs[0]], list(ys) + [ys[0]]))
    rings += [([], []), ([1.0], [2.0]), ([1.0, 3.0], [2.0, 4.0])]
    pdf = pd.DataFrame(
        {"i": range(len(rings)), "xs": [r[0] for r in rings], "ys": [r[1] for r in rings]}
    )
    exprs = {
        "a2": (G.ring_area2_sql("xs", "ys", "spark"),
               G.ring_area2_sql("xs", "ys", "duckdb")),
        "pu": (G.ring_perim_sql("xs", "ys", "spark"),
               G.ring_perim_sql("xs", "ys", "duckdb")),
        "cxn": (G.ring_centroid_num_sql("xs", "ys", "x", "spark"),
                G.ring_centroid_num_sql("xs", "ys", "x", "duckdb")),
        "cyn": (G.ring_centroid_num_sql("xs", "ys", "y", "spark"),
                G.ring_centroid_num_sql("xs", "ys", "y", "duckdb")),
    }
    df = spark.createDataFrame(
        pdf, "i long, xs array<double>, ys array<double>"
    )
    sp = {
        r.i: r
        for r in df.selectExpr(
            "i", *[f"{s} AS {k}" for k, (s, _) in exprs.items()]
        ).collect()
    }
    con = duckdb.connect()
    con.register("t", pdf)
    dsel = ", ".join(f"{d} AS {k}" for k, (_, d) in exprs.items())
    du = con.sql(f"SELECT i, {dsel} FROM t").df().set_index("i")
    for i in range(len(rings)):
        for k in exprs:
            assert sp[i][k] == int(du.loc[i, k]), (k, i)


def test_all_oracles_dtype_and_hash_at_sf0001(spark):
    """Round-2 verdict item 8: every oracle's OUTPUT FRAME round-trips
    both engines' pandas conversions with compatible dtype classes and
    equal canonical hashes. This is the exact layer the round-2
    ``running_windows`` red row slipped through (DuckDB HUGEINT ->
    float64 rendering identically under %.9g), run over every oracle
    surfaces at sf0.001 via the same code path as the local gate
    (tools/check_correctness.check_queries, which the driver's gate
    mirrors)."""
    import sys
    from pathlib import Path

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from tools import check_correctness as CC

    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    CC.register_views(con, sf_dir)
    failures = CC.check_queries(spark, con, sf_dir, verbose=False)
    assert failures == []


def test_double_literal_roundtrips_exactly_in_both_engines(spark):
    """The round-3 vector_outline red-hash root cause, as a property:
    bare 17-digit decimal literals parse via DECIMAL whose >2^53 mantissa
    casts to DOUBLE 1 ulp off (measured in DuckDB); exponent-marked
    literals (functions/litsql.py) parse with strtod semantics and
    round-trip repr() bit-exactly in BOTH engines."""
    import math
    import struct

    import numpy as np

    from gis_shapefile_spark.functions.litsql import double_literal

    rng = np.random.default_rng(13)
    vals = [
        -104.94000000000001,  # the measured offender (grid corner x0)
        -125.0, 24.0, 0.1, -0.1, 1e-05, 123456789.123456789,
        59.0 / 9.0, 26.0 / 6.0, 2.0 ** -30, 1.5e300, -7e-200,
    ]
    vals += list(rng.uniform(-180, 180, 30))
    vals += list(rng.standard_normal(10) * 1e15)

    # documented bug reproduction: the bare-decimal form really is lossy
    con = duckdb.connect()
    bad = con.sql(
        "SELECT CAST(-104.94000000000001 AS DOUBLE) AS x"
    ).df().x[0]
    assert struct.pack("<d", bad) != struct.pack("<d", -104.94000000000001)

    lits = [double_literal(v) for v in vals]
    got_duck = con.sql(
        "SELECT " + ", ".join(f"{l} AS c{i}" for i, l in enumerate(lits))
    ).df().iloc[0]
    row = spark.range(1).selectExpr(
        *[f"{l} AS c{i}" for i, l in enumerate(lits)]
    ).collect()[0]
    for i, v in enumerate(vals):
        assert struct.pack("<d", got_duck[f"c{i}"]) == struct.pack("<d", v), (
            "duckdb", i, v,
        )
        assert struct.pack("<d", row[f"c{i}"]) == struct.pack("<d", v), (
            "spark", i, v,
        )
    for bad_v in (math.nan, math.inf):
        try:
            double_literal(bad_v)
            raise AssertionError("non-finite literal must raise")
        except ValueError:
            pass


def test_pii_scrub_agrees_across_engines(spark):
    """pii_scrub_sql rests on Java-regex (Spark) and RE2 (DuckDB)
    agreeing on the same patterns AND on replace-all semantics (DuckDB
    needs the explicit 'g' flag) — fuzzed over adversarial strings with
    partial/overlapping/boundary PII fragments."""
    import duckdb as _d

    rng = random.Random(23)
    frags = [
        "a@b.co", "no-at-sign.com", "x@y", "a.b+c@x-y.co.uk",
        "123-45-6789", "12-345-6789", "999-99-9999x",
        "10.0.0.1", "999.999.999.999", "1.2.3", "1.2.3.4.5",
        "+1 (555) 010-3456", "(555)0103456", "555 010 3456",
        "123456789", "12345678", "1234567890123456",
        "word", "中文", "a'b\"c", "\\", "%40", ".", "@", "-", "()",
    ]
    texts = [
        "", "@", "a@b.co", ".@.", "1-2-3", "...",
        "edge a@b.co", "a@b.co edge", "a@b.coa@b.co",
    ]
    for _ in range(60):
        k = rng.randint(0, 8)
        texts.append(" ".join(rng.choice(frags) for _ in range(k)))
    pdf = pd.DataFrame({"i": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf)
    got = {
        r.i: r.s
        for r in df.selectExpr(
            "i", f"{TA.pii_scrub_sql('text', 'spark')} AS s"
        ).collect()
    }
    con = _d.connect()
    con.register("t", pdf)
    duck = (
        con.sql(f"SELECT i, {TA.pii_scrub_sql('text', 'duckdb')} AS s FROM t")
        .df()
        .set_index("i")
    )
    for i, text in enumerate(texts):
        assert got[i] == duck.loc[i, "s"], (text[:80], got[i][:80],
                                            str(duck.loc[i, "s"])[:80])


def test_ar_bucket_builder_agrees_across_engines(spark):
    """The aspect-ratio bucket assignment expressions evaluated on the
    SAME adversarial + seeded-random dims must agree exactly across
    Spark, DuckDB, and the pure-Python integer oracle — including exact
    ladder ratios (tie boundaries) and extreme elongations."""
    import numpy as np

    from gis_shapefile_spark.operators import arbucket as AR

    rng = np.random.default_rng(23)
    dims = [(1, 1), (1, 65535), (65535, 1), (2048, 2048)]
    dims += [(bw, bh) for _, bw, bh in AR.LADDER]          # exact ratios
    dims += [(bw * 3, bh * 3) for _, bw, bh in AR.LADDER]  # scaled exact
    dims += [
        (int(rng.integers(1, 8192)), int(rng.integers(1, 8192)))
        for _ in range(60)
    ]
    pdf = pd.DataFrame(
        {"i": range(len(dims)),
         "w": [w for w, _ in dims], "h": [h for _, h in dims]}
    )

    s_expr = AR.ar_bucket_select_sql("w", "h", "spark")
    sdf = spark.createDataFrame(pdf)
    got_spark = {
        r["i"]: (r["bucket_id"], r["bw"], r["bh"], r["cost_u"])
        for r in sdf.selectExpr(
            "i", *[f'{sql} AS {name}' for name, sql in s_expr.items()]
        ).collect()
    }

    d_expr = AR.ar_bucket_select_sql("w", "h", "duckdb")
    con = duckdb.connect()
    con.register("t", pdf)
    sel = ", ".join(f"{sql} AS {name}" for name, sql in d_expr.items())
    got_duck = {
        int(r[0]): tuple(int(x) for x in r[1:])
        for r in con.sql(f"SELECT i, {sel} FROM t").fetchall()
    }

    for i, (w, h) in enumerate(dims):
        expect = AR.assign_ar_buckets_py(w, h)
        assert got_spark[i] == expect, ("spark", i, w, h)
        assert got_duck[i] == expect, ("duckdb", i, w, h)


def test_haversine_agrees_across_engines(spark):
    """Meter-integerized haversine: Spark == DuckDB EXACTLY on a large
    adversarial coordinate set. This is the empirical check behind the
    geodesy canon's ulp argument (both engines run libm-quality trig on
    the same IEEE tree; a divergence could only flip floor(km*1e3) on a
    ~1e-9/row boundary set) — 2,000 pairs including antipodal,
    identical, pole-touching, antimeridian, and epsilon-separated points
    must produce zero mismatches."""
    import numpy as np

    from gis_shapefile_spark.functions import geodesy as GD

    rng = np.random.default_rng(17)
    n = 2000
    lng1 = rng.uniform(-180, 180, n)
    lat1 = rng.uniform(-90, 90, n)
    lng2 = rng.uniform(-180, 180, n)
    lat2 = rng.uniform(-90, 90, n)
    # adversarial rows: identical, antipodal, poles, antimeridian,
    # epsilon separations
    lng1[:6] = [0.0, 10.0, 0.0, 179.999999, -180.0, 50.0]
    lat1[:6] = [0.0, 45.0, 90.0, 0.0, 0.0, 50.0]
    lng2[:6] = [0.0, -170.0, 0.0, -179.999999, 180.0, 50.0 + 1e-12]
    lat2[:6] = [0.0, -45.0, -90.0, 0.0, 0.0, 50.0]
    pdf = pd.DataFrame(
        {"i": range(n), "lng1": lng1, "lat1": lat1, "lng2": lng2, "lat2": lat2}
    )
    sp = {
        r.i: r.m
        for r in spark.createDataFrame(pdf).selectExpr(
            "i",
            f"{GD.haversine_m_u_sql('lng1', 'lat1', 'lng2', 'lat2', 'spark')} AS m",
        ).collect()
    }
    con = duckdb.connect()
    con.register("t", pdf)
    du = con.sql(
        "SELECT i, "
        f"{GD.haversine_m_u_sql('lng1', 'lat1', 'lng2', 'lat2', 'duckdb')}"
        " AS m FROM t"
    ).df().set_index("i")["m"]
    mismatches = [i for i in range(n) if sp[i] != int(du.loc[i])]
    assert mismatches == [], mismatches[:10]


def test_bearing_agrees_across_engines(spark):
    """Millidegree-integerized initial bearing: Spark == DuckDB exactly
    on an adversarial pair set. Unlike the haversine chain, the RAW
    double bearing differs between the engines in the last ulp on ~17%
    of rows (atan2 is not correctly-rounded-guaranteed) — the 1e-3-deg
    integerization is the margin that absorbs it; this pins zero
    mismatches on 4,000 pairs incl. due-N/E/S/W, near-pole, and
    epsilon-separated fixes."""
    import duckdb
    import numpy as np

    from gis_shapefile_spark.operators import trajectory as TJ

    rng = np.random.default_rng(99)
    n = 4000
    lat1 = rng.uniform(-85, 85, n)
    lng1 = rng.uniform(-180, 180, n)
    lat2 = lat1 + rng.uniform(-3, 3, n)
    lng2 = lng1 + rng.uniform(-3, 3, n)
    lat1[:6] = [0.0, 0.0, 10.0, 10.0, 84.0, 40.0]
    lng1[:6] = [0.0, 0.0, 20.0, 20.0, 0.0, 50.0]
    lat2[:6] = [10.0, 0.0, 0.0, 10.0, 84.0, 40.0]       # N, E, S, E, E, eps
    lng2[:6] = [0.0, 10.0, 20.0, 30.0, 10.0, 50.0 + 1e-9]
    pdf = pd.DataFrame(
        {"i": range(n), "lat1": lat1, "lng1": lng1,
         "lat2": lat2, "lng2": lng2}
    )
    expr = TJ.bearing_mdeg_sql("lat1", "lng1", "lat2", "lng2")
    sp = (
        spark.createDataFrame(pdf)
        .selectExpr("i", f"{expr} AS b")
        .toPandas()
        .set_index("i")
        .b
    )
    con = duckdb.connect()
    con.register("t", pdf)
    du = con.sql(f"SELECT i, {expr} AS b FROM t").df().set_index("i").b
    assert (sp.sort_index().values == du.sort_index().values).all()
    # cardinal sanity: due north = 0, due east ~ 89.96 deg at eq->10N
    assert int(sp[0]) == 0
    assert 85_000 <= int(sp[1]) <= 90_000
    assert 175_000 <= int(sp[2]) <= 180_100


def test_heading_profile_micro(spark):
    """Hand-built modal-direction oracle: a device marching due east
    (sector 2 of 8 at 90 deg), a tie broken by the lower sector, and a
    stationary duplicate fix excluded."""
    import datetime as dt

    from gis_shapefile_spark.operators import trajectory as TJ

    def ts(s):
        return dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc) \
            + dt.timedelta(seconds=s)

    rows = [
        # device 1: 3 eastward hops (initial great-circle bearing just
        # UNDER 90 deg at lat 40 N -> sector 1 of [45, 90)), 1 north
        (1, 1, ts(0), 10.0, 40.0), (1, 2, ts(10), 10.5, 40.0),
        (1, 3, ts(20), 11.0, 40.0), (1, 4, ts(30), 11.5, 40.0),
        (1, 5, ts(40), 11.5, 40.5),   # due north -> sector 0
        # device 2: one N hop, one E hop -> tie; sector 0 wins
        (2, 6, ts(0), 20.0, 30.0), (2, 7, ts(10), 20.0, 30.4),
        (2, 8, ts(20), 20.4, 30.4),
        # device 3: duplicate fix only -> zero hops, no output row
        (3, 9, ts(0), 5.0, 5.0), (3, 10, ts(10), 5.0, 5.0),
    ]
    pdf = pd.DataFrame(
        rows, columns=["user_id", "event_id", "ts", "lng", "lat"]
    )
    got = (
        TJ.heading_profile(spark.createDataFrame(pdf), n_sectors=8)
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    assert list(got.index) == [1, 2]
    assert (int(got.loc[1].dominant_sector), int(got.loc[1].n_in_sector),
            int(got.loc[1].n_hops)) == (1, 3, 4)
    assert (int(got.loc[2].dominant_sector), int(got.loc[2].n_in_sector),
            int(got.loc[2].n_hops)) == (0, 1, 2)
