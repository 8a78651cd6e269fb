"""Structured Streaming: windowed aggregation + stateful op parity with
the batch twins, replayed across multiple micro-batches."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gis_shapefile_spark.streaming import events as EV
from gis_shapefile_spark.streaming.sink import read_parquet_stream

SRC = "/root/testdata/sf0.001/events.parquet"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """The events table split into 4 files => 4 micro-batches."""
    d = str(tmp_path_factory.mktemp("events_stream") / "events")
    spark.read.parquet(SRC).repartition(4).write.parquet(d)
    return d


def test_windowed_counts_match_batch(spark, events_dir, tmp_path):
    stream = read_parquet_stream(spark, events_dir, EV.EVENTS_SCHEMA, max_files_per_trigger=1)
    win = EV.windowed_event_counts(stream)
    EV.run_to_memory(
        win, "win_test", str(tmp_path / "ckpt"), output_mode="complete"
    )
    got = {
        (r.hour_epoch, r.event_type): (r.n_events, r.sum_value_c)
        for r in spark.sql("SELECT * FROM win_test").collect()
    }
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("s"),
        )
    )
    exp = {(r.hour_epoch, r.event_type): (r.n, r.s) for r in batch.collect()}
    assert got == exp


def test_stateful_running_totals(spark, events_dir, tmp_path):
    stream = read_parquet_stream(spark, events_dir, EV.EVENTS_SCHEMA, max_files_per_trigger=1)
    tot = EV.running_user_totals(stream)
    EV.run_to_memory(tot, "tot_test", str(tmp_path / "ckpt2"), output_mode="update")
    # memory sink accumulates one row per (user, micro-batch); the running
    # totals are monotone, so the max per user is the final state
    rows = spark.sql(
        "SELECT user_id, max(n_events) AS n, max(sum_value_c) AS s "
        "FROM tot_test GROUP BY user_id"
    ).collect()
    got = {r.user_id: (r.n, r.s) for r in rows}

    pdf = spark.read.parquet(events_dir).toPandas()
    for uid, grp in pdf.groupby("user_id"):
        assert got[int(uid)] == (
            len(grp),
            int(np.floor(grp["value"].values * 100).sum()),
        )
    # multiple micro-batches actually happened (rows > distinct users)
    n_rows = spark.sql("SELECT count(*) c FROM tot_test").collect()[0].c
    assert n_rows > len(got)


def test_sessionize_gap_semantics(spark):
    """Hand-built user timelines: session splits exactly at gap > 1800s."""
    import datetime as dt
    from gis_shapefile_spark.operators import sessionize as SE

    base = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: 3 events within gap, then an exactly-gap pause -> split
        # (split iff diff >= gap, matching F.session_window)
        (1, 1, base, 1.0),
        (2, 1, base + dt.timedelta(seconds=1799), 2.0),
        (3, 1, base + dt.timedelta(seconds=3598), 3.0),
        (4, 1, base + dt.timedelta(seconds=3598 + 1800), 4.0),
        # user 2: single event
        (5, 2, base, 5.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, value double")
    got = {
        (r.user_id, r.event_id): r.session_idx
        for r in SE.sessionize(df, gap_s=1800).collect()
    }
    assert got == {(1, 1): 1, (1, 2): 1, (1, 3): 1, (1, 4): 2, (2, 5): 1}

    stats = {
        (r.user_id, r.session_idx): (r.n_events, r.sum_value_c)
        for r in SE.session_stats(df, gap_s=1800).collect()
    }
    assert stats == {(1, 1): (3, 600), (1, 2): (1, 400), (2, 1): (1, 500)}


def test_sessionize_matches_native_session_window(spark):
    """lag-based sessionize partitions events identically to Spark's
    built-in session_window on the real events table."""
    from gis_shapefile_spark.operators import sessionize as SE

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    mine = {
        (r.user_id, r.start_epoch): (r.n_events, r.sum_value_c)
        for r in SE.session_stats(ev, gap_s=1800).collect()
    }
    native = {
        (r.user_id, r.start_epoch): (r.n_events, r.sum_value_c)
        for r in SE.session_stats_native(ev, gap_s=1800).collect()
    }
    assert mine == native and len(mine) > 0


def test_streaming_dedup_across_microbatches(spark, tmp_path):
    """Duplicated events (the whole input written twice, interleaved files)
    collapse to one row per event_id across micro-batches."""
    import pyspark.sql.functions as F

    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(2000)
    d = str(tmp_path / "dup_events")
    src.repartition(2).write.parquet(d)
    src.repartition(3).write.mode("append").parquet(d)

    stream = read_parquet_stream(spark, d, EV.EVENTS_SCHEMA, max_files_per_trigger=2)
    deduped = EV.dedup_events_stream(stream)
    EV.run_to_memory(
        deduped, "dedup_stream", str(tmp_path / "ck"), output_mode="append"
    )
    n = spark.sql("SELECT count(DISTINCT event_id) c, count(*) t FROM dedup_stream").collect()[0]
    assert n.t == n.c == src.select("event_id").distinct().count()


def test_stream_stream_attribution_matches_batch(spark, events_dir, tmp_path):
    """Stream-stream range join replayed over micro-batches == the batch
    join on the full static input."""
    import pyspark.sql.functions as F

    def split(df):
        return (df.where(F.col("event_type") == "click"),
                df.where(F.col("event_type") == "purchase"))

    sc, sp = split(read_parquet_stream(spark, events_dir, EV.EVENTS_SCHEMA, max_files_per_trigger=2))
    out = EV.attribution_join_stream(sc, sp)
    EV.run_to_memory(out, "attr_stream", str(tmp_path / "ck_attr"),
                     output_mode="append")
    got = {
        (r.purchase_id, r.click_id)
        for r in spark.sql("SELECT * FROM attr_stream").collect()
    }
    bc, bp = split(spark.read.parquet(events_dir))
    batch = EV.attribution_join_stream(bc, bp)  # same expr on static frames
    exp = {(r.purchase_id, r.click_id) for r in batch.collect()}
    assert got == exp and len(got) > 0


def test_streaming_ivf_sink_matches_monolithic(spark, tmp_path):
    """Continuous ANN-index maintenance: three stream runs over a growing
    embedding feed — after each, probe-pruned top-k over the streaming
    index equals the inline IVF over every vector seen so far; a
    no-new-files rerun commits no new batch directory; and a replayed
    batch id short-circuits instead of double-inserting (atomic-rename
    exactly-once)."""
    import os

    import pandas as pd

    from gis_shapefile_spark.operators import similarity as SIM
    from gis_shapefile_spark.streaming import index_stream as IS

    feed = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "ivf_stream_idx")
    dim = 16
    cents = SIM.make_centroids(dim, n_centroids=4)

    def mkvecs(lo, n):
        rng = np.random.RandomState(7 + lo)
        v = rng.standard_normal((n, dim)).astype(np.float32)
        return pd.DataFrame(
            {"vec_id": range(lo, lo + n), "embedding": [r.tolist() for r in v]}
        )

    def run():
        stream = spark.readStream.schema(
            "vec_id bigint, embedding array<double>"
        ).parquet(feed)
        IS.streaming_ivf_sink(spark, stream, root, cents, ckpt)

    def batch_dirs():
        return sorted(d for d in os.listdir(root) if d.startswith("batch="))

    seen = 0
    frames = []
    for n in (80, 30, 25):
        pdf = mkvecs(seen, n)
        frames.append(pdf)
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(feed)
        seen += n
        run()
        all_pdf = pd.concat(frames, ignore_index=True)
        corpus = spark.createDataFrame(all_pdf)
        queries = corpus.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        merged = SIM.ivf_topk_indexed(
            spark, root, queries, k=5, centroids=cents, nprobe=2
        )
        inline = SIM.ivf_topk(corpus, queries, k=5, centroids=cents, nprobe=2)
        key = lambda rows: sorted(
            (r.query_id, r.rank, r.vec_id, r.cos_u) for r in rows
        )
        assert key(merged.collect()) == key(inline.collect()), (
            f"diverged after {seen} vectors"
        )
        # the probe set's bucket filter must prune the two-level
        # batch=/bucket= layout at the scan
        plan = merged._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower() or "PartitionFilters: [" in plan

    dirs = batch_dirs()
    run()  # no new files -> no new batch directory
    assert batch_dirs() == dirs

    # checkpoint-recovery replay: a fresh stream checkpoint over the same
    # feed re-delivers already-seen files under already-committed batch
    # ids — the existing batch directories must short-circuit, so nothing
    # is double-inserted
    n_before = spark.read.parquet(root).count()
    ckpt2 = str(tmp_path / "ckpt2")
    stream = spark.readStream.schema(
        "vec_id bigint, embedding array<double>"
    ).parquet(feed)
    IS.streaming_ivf_sink(spark, stream, root, cents, ckpt2)
    assert spark.read.parquet(root).count() == n_before


def test_streaming_ivf_sink_survives_compaction(spark, tmp_path):
    """Maintenance under a live pipeline: stream batches in, compact the
    fragmented index mid-stream, stream MORE batches against the same
    checkpoint — query parity holds throughout, the compacted output
    lands under a negative synthetic batch id that can never collide
    with future stream batch ids, and drained batch dirs survive as
    replay markers."""
    import os

    import pandas as pd

    from gis_shapefile_spark.operators import similarity as SIM
    from gis_shapefile_spark.streaming import index_stream as IS

    feed = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "idx")
    dim = 16
    cents = SIM.make_centroids(dim, n_centroids=4)

    def mkvecs(lo, n):
        rng = np.random.RandomState(31 + lo)
        v = rng.standard_normal((n, dim)).astype(np.float32)
        return pd.DataFrame(
            {"vec_id": range(lo, lo + n), "embedding": [r.tolist() for r in v]}
        )

    def run():
        stream = spark.readStream.schema(
            "vec_id bigint, embedding array<double>"
        ).parquet(feed)
        IS.streaming_ivf_sink(spark, stream, root, cents, ckpt)

    frames = []
    seen = 0
    for n in (60, 40):
        pdf = mkvecs(seen, n)
        frames.append(pdf)
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(feed)
        seen += n
        run()

    stats = SIM.ivf_compact_index(spark, root, max_files_per_bucket=1)
    assert stats  # per-batch files made every touched bucket fragmented
    assert any(d.startswith("batch=-") for d in os.listdir(root))

    # continue streaming against the SAME checkpoint after compaction
    pdf = mkvecs(seen, 30)
    frames.append(pdf)
    spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(feed)
    seen += 30
    run()

    all_pdf = pd.concat(frames, ignore_index=True)
    corpus = spark.createDataFrame(all_pdf)
    queries = corpus.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    key = lambda rows: sorted(
        (r.query_id, r.rank, r.vec_id, r.cos_u) for r in rows
    )
    merged = SIM.ivf_topk_indexed(
        spark, root, queries, k=5, centroids=cents, nprobe=2
    )
    inline = SIM.ivf_topk(corpus, queries, k=5, centroids=cents, nprobe=2)
    assert key(merged.collect()) == key(inline.collect())
    assert spark.read.parquet(root).count() == seen
    # drained stream-batch dirs survive as replay markers
    assert os.path.isdir(os.path.join(root, "batch=0"))


def test_streaming_pyramid_sink_matches_batch_pyramid(spark, tmp_path):
    """Continuous pyramid maintenance: three stream runs over a growing
    point feed — after each, the committed pyramid stage equals a
    from-scratch tile_pyramid over every point seen so far, and a
    no-new-files rerun commits nothing (manifest-fingerprint
    exactly-once)."""
    from pyspark.sql import functions as F

    from gis_shapefile_spark.operators import tiling as TI
    from gis_shapefile_spark.plans.checkpoint import CheckpointTable
    from gis_shapefile_spark.streaming import tiles_stream as TS

    feed = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    table = CheckpointTable(spark, str(tmp_path / "tbl"))
    levels = [8, 5]

    def mkpts(lo, n):
        return spark.range(lo, lo + n).select(
            (F.lit(-110.0) + ((F.col("id") * 7919) % 30000) / 1000.0).alias("lng"),
            (F.lit(28.0) + ((F.col("id") * 104729) % 15000) / 1000.0).alias("lat"),
        )

    def run():
        stream = spark.readStream.schema("lng double, lat double").parquet(feed)
        TS.streaming_pyramid_sink(
            spark, stream, table, "pyr", levels, ckpt
        )

    seen = 0
    for n in (1500, 400, 250):
        mkpts(seen, n).coalesce(1).write.mode("append").parquet(feed)
        seen += n
        run()
        got = {
            (r.res, r.cell): (r.n_points, r.minx, r.maxx, r.miny, r.maxy)
            for r in table.read_stage("pyr").collect()
        }
        want = {
            (r.res, r.cell): (r.n_points, r.minx, r.maxx, r.miny, r.maxy)
            for r in TI.tile_pyramid(mkpts(0, seen), levels).collect()
        }
        assert got == want, f"diverged after {seen} points"

    v = table.manifest()["version"]
    run()  # no new files -> no new manifest version
    assert table.manifest()["version"] == v
