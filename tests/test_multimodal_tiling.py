"""Image payload (multimodal) stages + raster<->vector tiling.

Covers the input_hint invariants (decoded-pixel allclose / PSNR >= 40 dB
for the lossy codec, byte-exact caption, phash recompute equality) and the
tile materialization oracles (numpy histogram / area-fraction).
"""

from __future__ import annotations

import hashlib
import zlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gis_shapefile_spark.functions import cells as C
from gis_shapefile_spark.operators import multimodal as MM
from gis_shapefile_spark.operators import tiling as TI
from gis_shapefile_spark.sources import fixtures as FX

N_IMG = 120


@pytest.fixture(scope="module")
def images_pdf():
    return FX.make_images(N_IMG, w=16, h=16)


@pytest.fixture(scope="module")
def images_df(spark, images_pdf):
    return spark.createDataFrame(images_pdf)


def test_codec_invariants_at_generation():
    """decoded-pixel invariant vs the pre-encode originals (input_hint)."""
    rng = np.random.default_rng(7)
    for fmt in ("raw", "qz", "png", "jpeg"):
        pix = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
        dec = FX.decode_image(FX.encode_image(pix, fmt), 16, 16, fmt)
        if fmt in ("qz", "jpeg"):
            assert FX.psnr(pix, dec) >= 40.0  # lossy codecs clear the bar
        else:
            assert np.array_equal(dec, pix)  # raw and png are lossless
    with pytest.raises(NotImplementedError):
        FX.encode_image(pix, "webp")  # remaining real codecs: loud seam


def test_png_fmt_is_a_real_png_container():
    """fmt='png' bytes are a genuine ISO/IEC 15948 file: correct signature,
    CRC-framed chunks, RGB color type 2 — decodable by the standalone
    container decoder, not just the fixtures wrapper."""
    from gis_shapefile_spark.functions.png import decode_png

    rng = np.random.default_rng(11)
    pix = rng.integers(0, 256, (12, 20, 3), dtype=np.uint8)
    data = FX.encode_image(pix, "png")
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    assert np.array_equal(decode_png(data), pix)
    # metadata mismatch is caught loudly, not silently reshaped
    with pytest.raises(ValueError):
        FX.decode_image(data, 20, 13, "png")


def test_decode_stats_matches_numpy(spark, images_df, images_pdf):
    out = {r.image_id: r for r in MM.decode_stats(images_df).collect()}
    assert len(out) == N_IMG
    for _, r in images_pdf.head(10).iterrows():
        pix = FX.decode_image(r["bytes"], r["w"], r["h"], r["fmt"])
        got = out[r["image_id"]]
        assert got.phash_ok and got.phash_rec == r["phash"]
        assert got.mean_r == int(np.floor(pix[:, :, 0].mean() * 1e6))


def _luma_stats_np(pix: np.ndarray) -> dict:
    lum = (
        2126 * pix[:, :, 0].astype(np.int64)
        + 7152 * pix[:, :, 1].astype(np.int64)
        + 722 * pix[:, :, 2].astype(np.int64)
    )
    lk = lum // 1000
    return dict(
        luma_sum_u=int(lum.sum()),
        luma_sq_sum_k=int((lk * lk).sum()),
        luma_min_u=int(lum.min()),
        luma_max_u=int(lum.max()),
        grad_sum_u=int(
            np.abs(np.diff(lum, axis=1)).sum()
            + np.abs(np.diff(lum, axis=0)).sum()
        ),
    )


def test_image_quality_stats_matches_numpy(spark, images_df, images_pdf):
    """All four codecs through the quality kernel: stats are computed from
    the DECODED pixels, so the numpy oracle decodes independently and
    must agree exactly — including on lossy qz/jpeg rows."""
    out = {r.image_id: r for r in MM.image_quality_stats(images_df).collect()}
    assert len(out) == N_IMG
    fmts_seen = set()
    for _, r in images_pdf.iterrows():
        fmts_seen.add(r["fmt"])
        pix = FX.decode_image(r["bytes"], r["w"], r["h"], r["fmt"])
        want = _luma_stats_np(pix)
        got = out[r["image_id"]]
        for k, v in want.items():
            assert getattr(got, k) == v, (r["image_id"], r["fmt"], k)
    assert fmts_seen == {"raw", "qz", "png", "jpeg"}


def test_image_quality_stats_flat_and_tiny(spark):
    """A flat image has zero gradient and min == max; a 1x1 image has no
    neighbor pairs at all (empty diffs must sum to 0, not crash)."""
    flat = np.full((8, 8, 3), 200, np.uint8)
    tiny = np.array([[[10, 20, 30]]], np.uint8)
    pdf = pd.DataFrame(
        [
            {
                "image_id": "flat", "bytes": FX.encode_image(flat, "raw"),
                "w": 8, "h": 8, "fmt": "raw",
            },
            {
                "image_id": "tiny", "bytes": FX.encode_image(tiny, "raw"),
                "w": 1, "h": 1, "fmt": "raw",
            },
        ]
    )
    out = {
        r.image_id: r
        for r in MM.image_quality_stats(spark.createDataFrame(pdf)).collect()
    }
    lum_flat = 200 * (2126 + 7152 + 722)
    assert out["flat"].grad_sum_u == 0
    assert out["flat"].luma_min_u == out["flat"].luma_max_u == lum_flat
    assert out["flat"].luma_sum_u == 64 * lum_flat
    lum_tiny = 2126 * 10 + 7152 * 20 + 722 * 30
    assert out["tiny"].grad_sum_u == 0
    assert out["tiny"].luma_sum_u == lum_tiny


def test_cross_scale_canonical_phash_identity(spark, images_df, images_pdf):
    """16 -> 32 -> 16 through the REAL codecs lands bit-for-bit on the
    stored phash for every non-jpeg row (nearest grid identity + exact
    raw/png round trip + idempotent qz requantization) — the invariant
    the cross_scale_neardup oracle rests on."""
    non_jpeg = images_df.where(F.col("fmt") != "jpeg")
    up = MM.resize_images(non_jpeg, 32, 32)
    back = MM.resize_images(up, 16, 16)
    got = {r.image_id: r.phash for r in back.select("image_id", "phash").collect()}
    want = {
        r["image_id"]: int(r["phash"])
        for _, r in images_pdf.iterrows()
        if r["fmt"] != "jpeg"
    }
    assert got == want and len(got) > 0


def test_image_quality_stats_carry_passthrough(spark, images_df, images_pdf):
    out = MM.image_quality_stats(images_df, carry=("caption",)).collect()
    want = dict(zip(images_pdf["image_id"], images_pdf["caption"]))
    assert all(r.caption == want[r.image_id] for r in out)


def test_verify_invariants_stage(spark, images_df, images_pdf):
    out = MM.verify_invariants(images_df).collect()
    assert len(out) == N_IMG
    assert all(r.phash_ok for r in out)
    assert all(r.psnr_ok for r in out)
    caps = {r["image_id"]: r["caption"] for _, r in images_pdf.iterrows()}
    for r in out:
        assert r.caption_sha == hashlib.sha256(
            caps[r.image_id].encode()
        ).hexdigest()[:16]


def test_resize_preserves_schema_and_caption(spark, images_df, images_pdf):
    small = MM.resize_images(images_df, 8, 8)
    rows = {r.image_id: r for r in small.collect()}
    assert [f.name for f in small.schema.fields] == [
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
    ]
    caps = {r["image_id"]: r["caption"] for _, r in images_pdf.iterrows()}
    for iid, r in rows.items():
        assert (r.w, r.h) == (8, 8)
        assert r.caption == caps[iid]  # byte-exact passthrough
        pix = FX.decode_image(r.bytes, 8, 8, r.fmt)
        assert pix.shape == (8, 8, 3)
        assert FX.phash64(pix) == r.phash  # phash carried = recomputable


@pytest.fixture(scope="module")
def png_mixed_pdf(images_pdf):
    """A mixed-codec slice: first 30 fixture rows re-encoded as real PNGs
    (lossless, so the carried phash recomputes from the decoded fixture
    pixels), appended to 30 untouched raw/qz rows."""
    import pandas as pd

    png_rows = []
    for _, r in images_pdf.head(30).iterrows():
        pix = FX.decode_image(r["bytes"], r["w"], r["h"], r["fmt"])
        png_rows.append(
            dict(
                image_id="png_" + r["image_id"],
                bytes=FX.encode_image(pix, "png"),
                w=r["w"], h=r["h"], fmt="png",
                caption=r["caption"], phash=FX.phash64(pix),
                lng=r["lng"], lat=r["lat"],
            )
        )
    return pd.concat(
        [pd.DataFrame(png_rows), images_pdf.iloc[30:60]], ignore_index=True
    )


def test_png_rows_through_spark_decode_stages(spark, png_mixed_pdf):
    """The real-PNG codec path through every Arrow-batched stage, mixed
    with raw/qz rows in the same batches (the grouped-stack dispatch)."""
    df = spark.createDataFrame(png_mixed_pdf)
    stats = {r.image_id: r for r in MM.decode_stats(df).collect()}
    assert len(stats) == 60 and all(r.phash_ok for r in stats.values())
    # channel means match a driver-side numpy decode of the SAME png bytes
    for _, r in png_mixed_pdf.head(5).iterrows():
        pix = FX.decode_image(r["bytes"], r["w"], r["h"], r["fmt"])
        assert stats[r["image_id"]].mean_r == int(
            np.floor(pix[:, :, 0].mean() * 1e6)
        )

    inv = MM.verify_invariants(df).collect()
    assert len(inv) == 60
    assert all(r.phash_ok and r.psnr_ok for r in inv)
    # re-encode is idempotent for png/raw (lossless) and qz (bucket centers
    # requantize to themselves) -> inf sentinel; the fixture's jpeg rows in
    # the 30:60 slice take the finite lossy leg (covered in depth by
    # test_jpeg.py) but still clear the >= 40 dB bar
    fmt_of = dict(zip(png_mixed_pdf["image_id"], png_mixed_pdf["fmt"]))
    for r in inv:
        if fmt_of[r.image_id] == "jpeg":
            assert r.psnr_u >= 40_000
        else:
            assert r.psnr_u == 10**9

    small = {r.image_id: r for r in MM.resize_images(df, 8, 8).collect()}
    for _, r in png_mixed_pdf.head(30).iterrows():
        out = small[r["image_id"]]
        assert out.fmt == "png" and out.bytes[:8] == b"\x89PNG\r\n\x1a\n"
        pix = FX.decode_image(out.bytes, 8, 8, "png")
        assert FX.phash64(pix) == out.phash


def test_extract_features_deterministic_unit_norm(spark, images_df):
    a = {r.image_id: r.embedding for r in MM.extract_features(images_df).collect()}
    b = {r.image_id: r.embedding for r in MM.extract_features(images_df).collect()}
    assert a == b
    for v in a.values():
        assert len(v) == 16
        assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-5


def test_rasterize_points_histogram_oracle(spark, images_df, images_pdf):
    res = 4
    out = {r.cell: r for r in TI.rasterize_points(images_df, res, tile_px=8).collect()}
    # python oracle: same cell assignment + histogram
    cells = C.cell_of_numpy(images_pdf["lng"].values, images_pdf["lat"].values, res)
    assert sum(r.n_points for r in out.values()) == N_IMG
    for cell in set(cells[:40].tolist()):
        mask = cells == cell
        minx, miny, maxx, maxy = (float(v[0]) for v in C.cell_bounds(np.asarray([cell])))
        xi = np.clip(((images_pdf["lng"].values[mask] - minx) / (maxx - minx) * 8).astype(int), 0, 7)
        yi = np.clip(((images_pdf["lat"].values[mask] - miny) / (maxy - miny) * 8).astype(int), 0, 7)
        grid = np.zeros((8, 8), dtype=np.uint32)
        np.add.at(grid, (yi, xi), 1)
        got = np.frombuffer(
            zlib.decompress(out[cell].density), dtype=np.uint32
        ).reshape(8, 8)
        assert np.array_equal(got, grid)
        assert out[cell].n_points == int(mask.sum())


def test_rasterize_polygons_area_fraction(spark):
    res = 6
    grid = FX.make_grid_features().head(4)
    px = 32
    out = TI.rasterize_polygons(spark, grid, res, tile_px=px).toPandas()
    assert (out["coverage_px"] <= px * px).all()
    # per-feature total coverage approximates the rect's area (pixel-center
    # sampling => boundary error ~ half a pixel along the perimeter)
    for _, feat in grid.iterrows():
        mine = out[out["record_number"] == feat["record_number"]]
        cell_area = (360.0 / (1 << res)) * (180.0 / (1 << res))
        rect_area = (feat["maxx"] - feat["minx"]) * (feat["maxy"] - feat["miny"])
        covered = mine["coverage_px"].sum() / (px * px) * cell_area
        assert covered == pytest.approx(rect_area, rel=0.10)
        # masks unpack to the counted bits
        m = mine.iloc[0]
        bits = np.unpackbits(
            np.frombuffer(zlib.decompress(m["mask"]), dtype=np.uint8)
        )[: px * px]
        assert int(bits.sum()) == m["coverage_px"]


def test_rasterize_and_clip_empty_inputs(spark):
    """Round-4 advice: with no shape_type-5 features the task list is
    empty; inference can't schema an empty pandas frame, so both task
    builders pin an explicit schema and must degrade to EMPTY results
    (not raise)."""
    grid = FX.make_grid_features().head(2).copy()
    grid["shape_type"] = 3  # polylines only — zero polygon tasks
    out = TI.rasterize_polygons(spark, grid, res=5, tile_px=8).toPandas()
    assert len(out) == 0
    assert list(out.columns) == ["cell", "record_number", "coverage_px", "mask"]
    clipped = TI.clip_polygons_to_tiles(spark, grid, res=5).toPandas()
    assert len(clipped) == 0


def test_image_tiling_pipeline_scans_images_once(spark, images_df, tmp_path):
    """Verify on, over parquet: one scan, one decode (MapInPandas) and one
    hash exchange — the rollup's; no payload or id shuffle."""
    path = str(tmp_path / "images")
    images_df.write.parquet(path)
    out = TI.image_tiling_pipeline(
        spark, spark.read.parquet(path), FX.make_grid_features(), res=6)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.finalPhysicalPlan()
    plan = plan.toString()
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange hashpartitioning(record_number" in plan, plan


def test_image_tiling_pipeline_counts(spark, images_df, images_pdf):
    res = 6
    out = TI.image_tiling_pipeline(
        spark, images_df, FX.make_grid_features(), res=res
    ).toPandas()
    assert out["n_images"].sum() == N_IMG
    assert (out["n_phash_ok"] == out["n_images"]).all()  # invariant holds
    # python oracle: half-open box assignment x cell id
    g = FX.make_grid_features()
    recs = np.full(N_IMG, -1, dtype=np.int64)
    for _, feat in g.iterrows():
        hit = (
            (images_pdf["lng"].values >= feat["minx"])
            & (images_pdf["lng"].values < feat["maxx"])
            & (images_pdf["lat"].values >= feat["miny"])
            & (images_pdf["lat"].values < feat["maxy"])
        )
        recs[hit] = feat["record_number"]
    cells = C.cell_of_numpy(images_pdf["lng"].values, images_pdf["lat"].values, res)
    import collections

    oracle = collections.Counter(
        (int(r) if r > 0 else None, int(c)) for r, c in zip(recs, cells)
    )
    # note: iterrows() would coerce the row to float64 and destroy the
    # 58-bit cell id's low bits — iterate columns instead
    got = {
        (None if rec is None or (isinstance(rec, float) and np.isnan(rec)) else int(rec), int(cell)): int(n)
        for rec, cell, n in zip(out["record_number"], out["cell"], out["n_images"])
    }
    assert got == dict(oracle)


def test_sample_frames_exact_pixels(spark):
    """Frame sampling: fan-out count, deterministic indices, byte-exact
    sampled pixels vs the driver-side stack."""
    import zlib
    import numpy as np
    import pandas as pd
    from gis_shapefile_spark.operators import multimodal as MM

    rng = np.random.RandomState(5)
    vids = []
    stacks = {}
    for i, nf in [(0, 10), (1, 3), (2, 7)]:
        frames = rng.randint(0, 256, size=(nf, 16, 16, 3), dtype=np.uint8)
        stacks[f"v{i}"] = frames
        vids.append((f"v{i}", zlib.compress(frames.tobytes(), 1), 16, 16,
                     "rawv", nf, f"caption {i}"))
    df = spark.createDataFrame(pd.DataFrame(
        vids, columns=["video_id", "bytes", "w", "h", "fmt", "n_frames", "caption"]
    ))
    out = MM.sample_frames(df, n_sample=4).collect()
    # v0: 4 of 10, v1: 3 of 3, v2: 4 of 7
    assert sorted((r.video_id, r.frame_idx) for r in out) == sorted(
        [("v0", i) for i in (0, 2, 5, 7)]
        + [("v1", i) for i in (0, 1, 2)]
        + [("v2", i) for i in (0, 1, 3, 5)]
    )
    for r in out:
        pix = np.frombuffer(zlib.decompress(r.bytes), np.uint8).reshape(16, 16, 3)
        np.testing.assert_array_equal(pix, stacks[r.video_id][r.frame_idx])
        assert r.caption.startswith("caption")


def test_audio_features_match_numpy(spark):
    import zlib
    import numpy as np
    import pandas as pd
    from gis_shapefile_spark.operators import multimodal as MM

    rng = np.random.RandomState(9)
    pcm = (rng.standard_normal(5000) * 8000).astype("<i2")
    df = spark.createDataFrame(pd.DataFrame(
        [("a0", zlib.compress(pcm.tobytes(), 1), 16000, "pcm16z")],
        columns=["audio_id", "bytes", "sample_rate", "fmt"],
    ))
    r = MM.audio_features(df, frame_len=1024).collect()[0]
    assert r.n_samples == 5000 and r.duration_ms == 5000 * 1000 // 16000
    x = pcm[:4096].astype(np.float64).reshape(4, 1024) / 32768.0
    exp_rms = np.floor(np.sqrt((x * x).mean(axis=1)) * 1e6).astype(np.int64)
    exp_zcr = np.floor(
        np.abs(np.diff(np.signbit(x), axis=1)).sum(axis=1) / 1023 * 1e6
    ).astype(np.int64)
    assert list(r.rms_u) == exp_rms.tolist()
    assert list(r.zcr_u) == exp_zcr.tolist()


def test_rasterize_polygons_with_simplify(spark):
    """Simplified rasterization: same tile set, coverage within a small
    band of the full-resolution masks."""
    from gis_shapefile_spark.operators import tiling as TI
    from gis_shapefile_spark.sources import fixtures as FX

    feats = FX.make_features().head(8)
    full = {(r.cell, r.record_number): r.coverage_px
            for r in TI.rasterize_polygons(spark, feats, res=5, tile_px=16).collect()}
    simp = {(r.cell, r.record_number): r.coverage_px
            for r in TI.rasterize_polygons(
                spark, feats, res=5, tile_px=16, simplify_eps=0.01
            ).collect()}
    assert set(full) == set(simp)
    import numpy as np
    diffs = [abs(full[k] - simp[k]) for k in full]
    assert np.mean(diffs) <= 8  # <= 8 of 256 px average drift at eps=0.01


def test_image_near_pairs_matches_bruteforce(spark):
    """Pigeonhole phash block join finds EXACTLY the brute-force pairs on
    the planted near-dup fixture (150 perturbed copies at hamming 0-6,
    unrelated images at >= 14), with phash recomputed from pixels."""
    import itertools

    import pandas as pd
    import pyarrow.parquet as pq

    path = FX.near_dup_images_parquet_path(n=400, n_dup=40)
    pdf = pq.read_table(path).to_pandas()
    got = {
        (r.id_1, r.id_2): r.hamming
        for r in MM.image_near_pairs(
            spark.read.parquet(path), max_hamming=6
        ).collect()
    }
    ph = dict(zip(pdf["image_id"], pdf["phash"].astype(np.int64)))
    exp = {}
    for a, b in itertools.combinations(sorted(ph), 2):
        d = int(bin((ph[a] ^ ph[b]) & ((1 << 64) - 1)).count("1"))
        if d <= 6:
            exp[(a, b)] = d
    assert got == exp
    assert len(exp) >= 30  # the planted copies are actually found


def test_hamming_near_pairs_remainder_widths(spark):
    """nbits not divisible by (max_hamming+1): remainder bits go to the
    low blocks and completeness still holds (pigeonhole over uneven
    widths), including negative int64 signatures (top bit set)."""
    import itertools

    import pandas as pd

    from gis_shapefile_spark.operators import dedup as DD

    rng = np.random.default_rng(7)
    sigs = rng.integers(-(2**63), 2**63, 60, dtype=np.int64)
    u = sigs.view(np.uint64)
    u[10] = u[0] ^ np.uint64(1 << 63) ^ np.uint64(5)  # hamming 3, sign flip
    u[11] = u[1] ^ np.uint64(0b11)                    # hamming 2
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(60, dtype=np.int64), "sig": sigs})
    )
    got = {
        (r.id_1, r.id_2): r.hamming
        for r in DD.hamming_near_pairs(df, "doc_id", "sig", 64, 4).collect()
    }
    ph = dict(enumerate(int(s) for s in sigs))
    exp = {}
    for a, b in itertools.combinations(sorted(ph), 2):
        d = int(bin((ph[a] ^ ph[b]) & ((1 << 64) - 1)).count("1"))
        if d <= 4:
            exp[(a, b)] = d
    assert got == exp and (0, 10) in exp and (1, 11) in exp


def test_decode_stats_carry_passthrough(spark, images_df, images_pdf):
    """carry= columns ride through the decode stage unchanged, keeping
    joint image+metadata analytics a single pass (no id re-join)."""
    out = MM.decode_stats(images_df, carry=("caption", "lng")).collect()
    exp = {r["image_id"]: (r["caption"], r["lng"]) for _, r in images_pdf.iterrows()}
    assert len(out) == len(exp)
    for r in out:
        assert (r.caption, r.lng) == exp[r.image_id]
        assert r.phash_ok


def test_hamming_near_pairs_single_block_exact_dups(spark):
    """max_hamming=0 over 64 bits: one unmasked 64-bit block (the full
    signature — a 2^64-1 mask literal would overflow BIGINT), finding
    exactly the equal-signature pairs including negative values."""
    import pandas as pd

    from gis_shapefile_spark.operators import dedup as DD

    sigs = np.array([-5, -5, 7, 7, 9, -(2**63)], dtype=np.int64)
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(6, dtype=np.int64), "sig": sigs})
    )
    got = {
        (r.id_1, r.id_2): r.hamming
        for r in DD.hamming_near_pairs(df, "doc_id", "sig", 64, 0).collect()
    }
    assert got == {(0, 1): 0, (2, 3): 0}


def test_phash_mismatch_rows_are_detected_and_dropped(spark, images_pdf):
    """The phash_ok invariant is live, not vacuous: a row whose carried
    phash disagrees with the decoded pixels is flagged by decode_stats
    and dropped by the verified-row filter the caption/tiling queries
    apply (the oracle premise 'every fixture row passes' is exactly what
    a decode regression would break)."""
    bad = images_pdf.copy()
    bad.loc[0, "phash"] = bad.loc[0, "phash"] ^ 1  # corrupt one invariant
    df = spark.createDataFrame(bad)
    out = MM.decode_stats(df, means=False)
    flags = {r.image_id: r.phash_ok for r in out.collect()}
    bad_id = bad.loc[0, "image_id"]
    assert flags[bad_id] is False
    assert all(ok for iid, ok in flags.items() if iid != bad_id)
    kept = out.where("phash_ok").count()
    assert kept == len(bad) - 1


def test_vectorize_raster_exact_disjoint_cover(spark):
    """Polygonize property: the output rectangles exactly tile the input
    raster cells per value — every input cell in exactly one rectangle of
    its value, no rectangle covering a non-input or wrong-value cell.
    Adversarial layout: rng rasters mix holes, single cells, long runs,
    and an L-shape that must split into >1 rectangle."""
    import numpy as np
    from gis_shapefile_spark.operators.tiling import vectorize_raster

    rng = np.random.default_rng(7)
    for trial in range(3):
        n = 24
        grid = rng.integers(0, 4, size=(n, n))  # 0..3 values
        grid[rng.random((n, n)) < 0.35] = -1  # holes (absent cells)
        cells = [
            (int(x), int(y), int(grid[y, x]))
            for y in range(n)
            for x in range(n)
            if grid[y, x] >= 0
        ]
        df = spark.createDataFrame(cells, "px long, py long, val long")
        rects = vectorize_raster(df).collect()

        covered = {}
        for r in rects:
            assert r.n_cells == (r.x1 - r.x0 + 1) * (r.y1 - r.y0 + 1)
            for x in range(r.x0, r.x1 + 1):
                for y in range(r.y0, r.y1 + 1):
                    assert (x, y) not in covered, "overlapping rectangles"
                    covered[(x, y)] = r.val
        assert covered == {(x, y): v for x, y, v in cells}


def test_vectorize_raster_merges_solid_block(spark):
    """A solid 6x4 same-value block must come back as ONE rectangle, and
    an L-shape (no hole) as exactly two run-merged rectangles."""
    from gis_shapefile_spark.operators.tiling import vectorize_raster

    block = [(x, y, 1) for x in range(6) for y in range(4)]
    df = spark.createDataFrame(block, "px long, py long, val long")
    out = vectorize_raster(df).collect()
    assert len(out) == 1 and out[0].n_cells == 24

    # L: full rows y=0..1 x=0..5, then x=0..1 for y=2..4
    ell = [(x, y, 7) for y in range(2) for x in range(6)] + [
        (x, y, 7) for y in range(2, 5) for x in range(2)
    ]
    df = spark.createDataFrame(ell, "px long, py long, val long")
    out = sorted(vectorize_raster(df).collect(), key=lambda r: r.n_cells)
    assert [r.n_cells for r in out] == [6, 12]  # (0..5, y0..1) + (0..1, y2..4)


def test_hull_per_cell_known_and_containment(spark):
    """Convex hull aggregate: a square + interior points yields exactly
    the 4 corners (CCW, positive area 2*side^2); every input point lies
    inside-or-on its cell's hull (verified with the engine's own PIP
    kernel on a slightly inflated hull); degenerate 2-point cells emit
    area 0."""
    import numpy as np
    from pyspark.sql import functions as F
    from gis_shapefile_spark.functions import geometry as G
    from gis_shapefile_spark.operators.tiling import hull_per_cell

    # all points inside ONE coarse cell (res 2): a 2x2 square + interior
    sq = [(-100.0, 40.0), (-98.0, 40.0), (-98.0, 42.0), (-100.0, 42.0)]
    interior = [(-99.5, 40.5), (-99.0, 41.0), (-98.5, 41.7), (-99.9, 41.9)]
    rows = [(i, x, y) for i, (x, y) in enumerate(sq + interior)]
    df = spark.createDataFrame(rows, "point_id long, lng double, lat double")
    out = hull_per_cell(df, res=2).collect()
    assert len(out) == 1
    h = out[0]
    assert h.n_points == 8 and len(h.hull_xs) == 4
    assert set(zip(h.hull_xs, h.hull_ys)) == set(sq)
    assert h.hull_area2_u == 2 * 4 * 10**6  # 2 * area(4) at 1e-6 scale

    # containment property on scattered points across many cells
    pts = [(i, -125.0 + (i * 2654435761 % 59000000) / 1e6,
            24.0 + (i * 40503 % 26000000) / 1e6) for i in range(400)]
    df2 = spark.createDataFrame(pts, "point_id long, lng double, lat double")
    hulls = {r.cell: r for r in hull_per_cell(df2, res=4).collect()}
    from gis_shapefile_spark.functions import cells as C
    import numpy as np
    cell_of = C.cell_of_numpy(
        np.array([p[1] for p in pts]), np.array([p[2] for p in pts]), 4
    )
    for (pid, x, y), cell in zip(pts, cell_of):
        h = hulls[int(cell)]
        if len(h.hull_xs) < 3 or abs(h.hull_area2_u) <= len(h.hull_xs):
            # 1-2 points, or exactly-collinear cells (the affine synthetic
            # generator produces these): hull is a segment — membership is
            # boundary-only, which the interior ray-cast can't attest.
            # Degenerate area integerizes to within one floor-unit per
            # edge of zero, not exactly zero.
            continue
        # inflate the hull a hair so boundary points test inside
        cx, cy = np.mean(h.hull_xs), np.mean(h.hull_ys)
        hx = cx + (np.array(h.hull_xs) - cx) * (1 + 1e-9)
        hy = cy + (np.array(h.hull_ys) - cy) * (1 + 1e-9)
        assert G.polygon_contains_points(
            [hx], [hy], np.array([x]), np.array([y])
        )[0], (pid, h.cell)

    # degenerate: two points -> both returned, zero area
    d2 = spark.createDataFrame(
        [(0, -99.0, 40.0), (1, -98.0, 41.0)], "point_id long, lng double, lat double"
    )
    r = hull_per_cell(d2, res=2).collect()[0]
    assert r.hull_area2_u == 0 and len(r.hull_xs) == 2
