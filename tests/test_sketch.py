"""Count-min sketch (operators/sketch.py): exact-twin counters,
overestimate-only estimates, and the mergeability contract."""

from __future__ import annotations

import hashlib
from collections import Counter

import numpy as np
import pandas as pd
import pytest

from gis_shapefile_spark.operators import sketch as SK

P = 2_147_483_647


def _h60(tok: str) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)


def _bucket(tok: str, row: int, w: int) -> int:
    a, b = SK.CMS_SALTS[row]
    return ((a * (_h60(tok) % P) + b) % P) % w


def _twin(tokens, d, w):
    grid = Counter()
    for t in tokens:
        for i in range(d):
            grid[(i, _bucket(t, i, w))] += 1
    est = {
        t: min(grid[(i, _bucket(t, i, w))] for i in range(d))
        for t in set(tokens)
    }
    return grid, est


def _tok_df(spark, tokens):
    return spark.createDataFrame(
        pd.DataFrame({"token": tokens})
    )


def test_cms_counters_and_estimates_match_python_twin(spark):
    """Every counter cell and every point estimate == the md5-twin; the
    CMS invariant est >= true holds for EVERY token, and with w = 64 on
    a 12-token vocab no cells collide so est == true exactly."""
    rng = np.random.RandomState(3)
    vocab = [f"tok{i}" for i in range(12)]
    tokens = [vocab[i] for i in rng.randint(0, 12, 500)]
    df = _tok_df(spark, tokens)
    sk = SK.cms_build(df, "token")
    grid, est = _twin(tokens, SK.CMS_D, SK.CMS_W)
    got_grid = {(r.row, r.bucket): r.cnt for r in sk.collect()}
    assert got_grid == dict(grid)
    q = _tok_df(spark, sorted(set(tokens)))
    got_est = {
        r.token: r.est_cnt for r in SK.cms_estimate(q, sk, "token").collect()
    }
    true = Counter(tokens)
    assert got_est == est
    assert all(got_est[t] >= true[t] for t in true)
    assert got_est == dict(true)  # w=64, 12 tokens: collision-free here


def test_cms_estimate_counts_empty_cells_as_zero(spark):
    """Items the sketch never saw still get a row: one whose d cells are
    all empty estimates 0, and so does one whose empty cell sits beside
    cells that collide with seen items (an inner join would drop the
    first and take the min over the second's non-empty cells only)."""
    seen = [f"tok{i}" for i in range(12)] * 3
    grid, _ = _twin(seen, SK.CMS_D, SK.CMS_W)

    def filled(tok):
        return sum(
            (i, _bucket(tok, i, SK.CMS_W)) in grid for i in range(SK.CMS_D)
        )

    cands = [f"new{i}" for i in range(500)]
    unseen = next(t for t in cands if filled(t) == 0)
    partial = next(t for t in cands if 0 < filled(t) < SK.CMS_D)
    sk = SK.cms_build(_tok_df(spark, seen), "token")
    q = _tok_df(spark, ["tok0", unseen, partial])
    got = {
        r.token: r.est_cnt for r in SK.cms_estimate(q, sk, "token").collect()
    }
    assert got == {"tok0": 3, unseen: 0, partial: 0}


def test_cms_narrow_width_overestimates_never_under(spark):
    """Squeezed to w = 4 the 30-token vocab MUST collide: estimates
    still never underestimate, and at least one strictly overestimates
    (the honest failure mode of the sketch)."""
    rng = np.random.RandomState(9)
    vocab = [f"w{i}" for i in range(30)]
    tokens = [vocab[i] for i in rng.randint(0, 30, 400)]
    df = _tok_df(spark, tokens)
    sk = SK.cms_build(df, "token", w=4)
    q = _tok_df(spark, sorted(set(tokens)))
    got = {
        r.token: r.est_cnt
        for r in SK.cms_estimate(q, sk, "token", w=4).collect()
    }
    true = Counter(tokens)
    assert all(got[t] >= true[t] for t in true)
    assert any(got[t] > true[t] for t in true)
    _, est = _twin(tokens, SK.CMS_D, 4)
    assert got == est


def test_cms_merge_equals_whole(spark):
    """sketch(A ∪ B) == merge(sketch(A), sketch(B)) — the property that
    lets 10^12 tokens sketch per-partition with zero coordination."""
    rng = np.random.RandomState(5)
    vocab = [f"m{i}" for i in range(20)]
    a = [vocab[i] for i in rng.randint(0, 20, 300)]
    b = [vocab[i] for i in rng.randint(0, 20, 200)]
    whole = SK.cms_build(_tok_df(spark, a + b), "token")
    merged = SK.cms_merge(
        SK.cms_build(_tok_df(spark, a), "token"),
        SK.cms_build(_tok_df(spark, b), "token"),
    )
    key = lambda rows: {(r.row, r.bucket): r.cnt for r in rows}
    assert key(whole.collect()) == key(merged.collect())


def test_cms_rejects_bad_d():
    with pytest.raises(ValueError):
        SK.cms_build(None, "token", d=0)
    with pytest.raises(ValueError):
        SK.cms_build(None, "token", d=9)


def test_streaming_cms_equals_batch_and_replay_noop(spark, tmp_path):
    """The streamed sketch (4 micro-batches) == the batch sketch of the
    whole feed bit-for-bit (integer-add associativity), estimates agree,
    and a same-checkpoint rerun is a no-op."""
    from pyspark.sql import types as T
    from gis_shapefile_spark.plans.checkpoint import CheckpointTable
    from gis_shapefile_spark.streaming import sketch_stream as SS

    rng = np.random.RandomState(41)
    vocab = [f"s{i}" for i in range(25)]
    tokens = [vocab[i] for i in rng.randint(0, 25, 600)]
    d = str(tmp_path / "feed")
    _tok_df(spark, tokens).repartition(4).write.parquet(d)

    schema = T.StructType([T.StructField("token", T.StringType())])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    table = CheckpointTable(spark, str(tmp_path / "tbl"))
    ck = str(tmp_path / "ck")
    SS.streaming_cms_sink(spark, stream, table, "cms", "token", ck)

    key = lambda rows: {(r.row, r.bucket): r.cnt for r in rows}
    got = key(table.read_stage("cms").collect())
    exp = key(SK.cms_build(spark.read.parquet(d), "token").collect())
    assert got == exp

    q = _tok_df(spark, sorted(set(tokens)))
    est = {
        r.token: r.est_cnt
        for r in SK.cms_estimate(q, table.read_stage("cms"), "token").collect()
    }
    true = Counter(tokens)
    assert all(est[t] >= true[t] for t in true)

    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    SS.streaming_cms_sink(spark, stream2, table, "cms", "token", ck)
    assert key(table.read_stage("cms").collect()) == got


def _hll_twin(items, groups=None):
    """Register twin from md5 fields (bucket: chars 1-2, rank field:
    chars 3-14, 48 bits)."""
    regs = {}
    for it in items:
        hx = hashlib.md5(it.encode()).hexdigest()
        b = int(hx[0:2], 16) % SK.HLL_M
        w = int(hx[2:14], 16)
        r = 49
        for k in range(1, 49):
            if w >= 1 << (48 - k):
                r = k
                break
        regs[b] = max(regs.get(b, 0), r)
    return regs


def test_hll_registers_match_twin_and_duplicates_free(spark):
    vals = [f"u{i}" for i in range(200)]
    df = _tok_df(spark, vals)
    regs = {r.bucket: r.r for r in SK.hll_build(df, "token").collect()}
    assert regs == _hll_twin(vals)
    # duplicates cannot move a max-register
    df5 = _tok_df(spark, vals * 5)
    regs5 = {r.bucket: r.r for r in SK.hll_build(df5, "token").collect()}
    assert regs5 == regs


def test_hll_merge_equals_whole_and_estimate_accuracy(spark):
    a = [f"a{i}" for i in range(80)]
    b = [f"b{i}" for i in range(90)] + a[:20]  # overlapping shards
    whole = SK.hll_build(_tok_df(spark, a + b), "token")
    merged = SK.hll_merge(
        SK.hll_build(_tok_df(spark, a), "token"),
        SK.hll_build(_tok_df(spark, b), "token"),
    )
    key = lambda rows: {r.bucket: r.r for r in rows}
    assert key(whole.collect()) == key(merged.collect())

    # estimate accuracy on the union (170 distinct): raw HLL at m=64 is
    # ~13% 1-sigma; assert a generous 30% envelope on this fixed seed
    import pyspark.sql.functions as F

    grid = spark.range(SK.HLL_M).select(F.col("id").cast("long").alias("bucket"))
    s = (
        grid.join(whole, "bucket", "left")
        .selectExpr("CAST(coalesce(r, 0) AS BIGINT) AS r0")
        .selectExpr(f"{SK.hll_term_sql('r0')} AS term")
        .agg(F.sum("term").cast("long").alias("s"))
    )
    est = s.selectExpr(f"{SK.hll_estimate_sql('s')} AS e").collect()[0].e
    true = len(set(a + b))
    assert abs(est - true) / true < 0.30, (est, true)


def _bloom_bits(val: str):
    h = _h60(val) % P
    return [((a * h + b) % P) % SK.BLOOM_M for a, b in SK.CMS_SALTS]


def test_bloom_no_false_negatives_and_twin_bits(spark):
    """Every member passes (the load-bearing guarantee — a pre-filter
    that could drop a banned row would be useless); bit positions == the
    md5 python twin; non-members mostly fail with some honest false
    positives at small m."""
    members = [f"ban{i}" for i in range(60)]
    others = [f"ok{i}" for i in range(300)]
    bloom = SK.bloom_build(_tok_df(spark, members), "token")
    got_bits = {r.bit for r in bloom.collect()}
    exp_bits = {b for v in members for b in _bloom_bits(v)}
    assert got_bits == exp_bits

    tagged = SK.bloom_contains(
        _tok_df(spark, members + others), bloom, "token"
    )
    got = {r.token: r.in_bloom for r in tagged.collect()}
    assert all(got[v] == 1 for v in members)          # no false negatives
    fps = [v for v in others if got[v] == 1]
    assert all(
        all(b in exp_bits for b in _bloom_bits(v)) for v in fps
    )  # every FP is a genuine all-bits collision
    assert len(fps) < len(others) * 0.2               # small-m honest bound


def test_bloom_repeated_probe_member_is_not_a_false_negative(spark):
    """A member that appears twice among the probes still passes: its k
    bit hits are counted once per distinct item, not once per row."""
    members = [f"ban{i}" for i in range(10)]
    bloom = SK.bloom_build(_tok_df(spark, members), "token")
    probes = _tok_df(spark, ["ban3", "ban3", "ban7"])
    got = [(r.token, r.in_bloom) for r in SK.bloom_contains(
        probes, bloom, "token").collect()]
    assert sorted(got) == [("ban3", 1), ("ban3", 1), ("ban7", 1)]


def test_bloom_union_merge_is_set_or(spark):
    a = [f"x{i}" for i in range(30)]
    b = [f"y{i}" for i in range(30)]
    whole = {r.bit for r in SK.bloom_build(_tok_df(spark, a + b), "token").collect()}
    pa = {r.bit for r in SK.bloom_build(_tok_df(spark, a), "token").collect()}
    pb = {r.bit for r in SK.bloom_build(_tok_df(spark, b), "token").collect()}
    assert whole == pa | pb


def test_bloom_rejects_bad_k():
    with pytest.raises(ValueError):
        SK.bloom_build(None, "token", k=0)


def test_streaming_hll_equals_batch_and_replay_noop(spark, tmp_path):
    """Streamed HLL registers (4 micro-batches) == the batch grid
    bit-for-bit (max is associative+commutative+idempotent), and a
    same-checkpoint rerun is a no-op."""
    from pyspark.sql import types as T
    from gis_shapefile_spark.plans.checkpoint import CheckpointTable
    from gis_shapefile_spark.streaming import sketch_stream as SS

    vals = [f"hs{i}" for i in range(170)] * 2  # duplicates across batches
    d = str(tmp_path / "hfeed")
    _tok_df(spark, vals).repartition(4).write.parquet(d)
    schema = T.StructType([T.StructField("token", T.StringType())])

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )

    table = CheckpointTable(spark, str(tmp_path / "htbl"))
    ck = str(tmp_path / "hck")
    SS.streaming_hll_sink(spark, stream(), table, "hll", "token", ck)
    key = lambda rows: {r.bucket: r.r for r in rows}
    got = key(table.read_stage("hll").collect())
    exp = key(SK.hll_build(spark.read.parquet(d), "token").collect())
    assert got == exp
    SS.streaming_hll_sink(spark, stream(), table, "hll", "token", ck)
    assert key(table.read_stage("hll").collect()) == got
