"""HyperLogLog (operators/sketch.py): exact-twin registers, the
mergeability contract, estimate accuracy and the streaming sink."""

from __future__ import annotations

import hashlib

import pandas as pd

from gis_shapefile_spark.operators import sketch as SK


def _tok_df(spark, tokens):
    return spark.createDataFrame(
        pd.DataFrame({"token": tokens})
    )


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
