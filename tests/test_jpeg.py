"""Real baseline-JPEG codec (functions/jpeg.py): roundtrip invariants,
external anchoring against the JVM's independent javax.imageio decoder
(both directions, over Spark's own bundled mllib camera JPEGs), and the
fmt="jpeg" rows through every Arrow-batched engine stage.

The external tests are the JPEG twin of the real-world DBF/SHX byte
tests: a writer/reader pair can share a wrong assumption, so the
decoder is checked on bytes we did not produce (real 4:2:0 camera
JPEGs) and the encoder's bytes are checked by a decoder we did not
write (ImageIO via ``spark.read.format("image")``).
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
import pytest

from gis_shapefile_spark.functions import jpeg as J
from gis_shapefile_spark.functions.jpeg import (
    AC_LUMA_BITS,
    AC_LUMA_VALS,
    DC_LUMA_BITS,
    DC_LUMA_VALS,
    _BitWriter,
    _canonical_codes,
    decode_jpeg,
    encode_jpeg,
)
from gis_shapefile_spark.operators import multimodal as MM
from gis_shapefile_spark.sources import fixtures as FX

KITTENS = sorted(
    glob.glob("/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/kittens/*.jpg")
)
CHR30 = "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/multi-channel/chr30.4.184.jpg"
PROGRESSIVE = "/usr/share/doc/nodejs/thin-white-stripe.jpg"


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return float(10.0 * np.log10(255.0**2 / mse)) if mse else float("inf")


def _noise(h: int, w: int, seed: int = 0) -> np.ndarray:
    return np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)


def _smooth(h: int, w: int) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [xx * 255.0 / w, yy * 255.0 / h, 128 + 90 * np.sin(xx / 9.0) * np.cos(yy / 7.0)],
        axis=-1,
    )
    return np.clip(img, 0, 255).astype(np.uint8)


def test_roundtrip_psnr_worst_case_noise():
    """Uniform random noise is JPEG's worst content; the fixture default
    (quality 98) must still clear the input_hint 40 dB bar."""
    img = _noise(16, 16)
    out = decode_jpeg(encode_jpeg(img, quality=98))
    assert out.shape == (16, 16, 3) and out.dtype == np.uint8
    assert psnr(img, out) >= 40.0
    # quality monotone: more bits, less error
    scores = [psnr(img, decode_jpeg(encode_jpeg(img, quality=q))) for q in (90, 96, 98, 100)]
    assert scores == sorted(scores)
    assert scores[-1] >= 50.0  # q100 = all-ones tables, only rounding left


def test_roundtrip_non_multiple_of_8_dims():
    for h, w in ((9, 13), (7, 32), (17, 15), (1, 1)):
        img = _smooth(h, w)
        out = decode_jpeg(encode_jpeg(img, quality=95))
        assert out.shape == (h, w, 3)
        assert psnr(img, out) >= 40.0


def test_marker_structure_and_segment_skipping():
    img = _smooth(24, 24)
    data = encode_jpeg(img, quality=98)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    assert b"\xff\xc0" in data and data.count(b"\xff\xc4") >= 4
    base = decode_jpeg(data)
    # a COM segment injected after SOI must be skipped transparently
    com = b"\xff\xfe" + (2 + 11).to_bytes(2, "big") + b"hello world"
    assert np.array_equal(decode_jpeg(data[:2] + com + data[2:]), base)


def test_byte_stuffing_occurs_and_roundtrips():
    """At least one noise image's scan contains a stuffed FF00; the reader
    must consume it (roundtrip equality with the unstuffed-free path)."""
    hit = False
    for seed in range(40):
        img = _noise(16, 16, seed)
        data = encode_jpeg(img, quality=98)
        scan = data[data.find(b"\xff\xda") : -2]
        if b"\xff\x00" in scan:
            hit = True
            assert psnr(img, decode_jpeg(data)) >= 40.0
            break
    assert hit, "no byte-stuffed scan in 40 seeds — encoder suspicious"


def test_restart_interval_decode():
    """Hand-built 16x8 grayscale stream with DRI=1 and an RST0 between the
    two MCUs — covers the restart path (byte realign + DC predictor reset)
    that our encoder never emits but real-world JPEGs use."""
    dc = _canonical_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac = _canonical_codes(AC_LUMA_BITS, AC_LUMA_VALS)

    def block_bits(w: _BitWriter, dc_val: int, prev: int) -> None:
        diff = dc_val - prev
        size = int(abs(diff)).bit_length()
        code, ln = dc[size]
        w.put(code, ln)
        if size:
            w.put(diff if diff >= 0 else diff + (1 << size) - 1, size)
        code, ln = ac[0x00]  # EOB: DC-only block
        w.put(code, ln)

    # two flat blocks: DC quantized values 12 and -5 (predictor RESETS at
    # the RST, so block 2 encodes -5 as a diff from 0, not from 12)
    w1 = _BitWriter(); block_bits(w1, 12, 0)
    w2 = _BitWriter(); block_bits(w2, -5, 0)
    qt_zz = bytes([0]) + bytes([1] * 64)  # table 0, all-ones
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + (2 + len(qt_zz)).to_bytes(2, "big") + qt_zz
    sof = bytes([8]) + (8).to_bytes(2, "big") + (16).to_bytes(2, "big")
    sof += bytes([1, 1, 0x11, 0])
    out += b"\xff\xc0" + (2 + len(sof)).to_bytes(2, "big") + sof
    dht = bytes([0x00]) + bytes(DC_LUMA_BITS) + bytes(DC_LUMA_VALS)
    out += b"\xff\xc4" + (2 + len(dht)).to_bytes(2, "big") + dht
    dht = bytes([0x10]) + bytes(AC_LUMA_BITS) + bytes(AC_LUMA_VALS)
    out += b"\xff\xc4" + (2 + len(dht)).to_bytes(2, "big") + dht
    out += b"\xff\xdd\x00\x04" + (1).to_bytes(2, "big")  # DRI = 1 MCU
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    out += b"\xff\xda" + (2 + len(sos)).to_bytes(2, "big") + sos
    out += w1.finish() + b"\xff\xd0" + w2.finish() + b"\xff\xd9"

    arr = decode_jpeg(bytes(out))
    assert arr.shape == (8, 16, 3)
    # IDCT of a DC-only block with Q=1: pixel = round(dc/8 + 128)
    assert int(arr[0, 0, 0]) == round(12 / 8 + 128)
    assert int(arr[0, 8, 0]) == round(-5 / 8 + 128)
    assert (arr[:, :8] == arr[0, 0, 0]).all() and (arr[:, 8:] == arr[0, 8, 0]).all()


@pytest.mark.skipif(not os.path.exists(PROGRESSIVE), reason="no progressive sample")
def test_progressive_raises_loudly():
    with pytest.raises(NotImplementedError, match="progressive"):
        decode_jpeg(open(PROGRESSIVE, "rb").read())


def test_reject_garbage():
    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg at all")
    with pytest.raises(ValueError):
        encode_jpeg(np.zeros((4, 4), dtype=np.uint8))  # wrong shape


def test_fill_bytes_before_eoi_are_tolerated():
    """B.1.1.2: any number of FF fill bytes may precede a marker. The
    segment splitter leaves a leading fill FF inside the entropy slice,
    where it reads as the same 1-bits that F.2.2.5 padding supplies — the
    decode must be unchanged."""
    img = _noise(16, 16, 3)
    data = encode_jpeg(img, quality=98)
    base = decode_jpeg(data)
    filled = data[:-2] + b"\xff\xff\xff" + data[-2:]
    assert np.array_equal(decode_jpeg(filled), base)


def test_truncated_scan_raises():
    """A stream cut mid-scan has no terminating marker: the reader must
    refuse to 1-pad (that padding is only legal at a real segment end)
    and raise instead of fabricating pixels."""
    img = _noise(32, 32, 5)
    data = encode_jpeg(img, quality=98)
    sos = data.find(b"\xff\xda")
    assert sos > 0
    with pytest.raises(ValueError, match="truncated"):
        decode_jpeg(data[: sos + 20])  # SOS header + a sliver of scan


def test_byte_flip_fuzz_raises_typed_errors_only():
    """Corruption contract: random byte flips anywhere after SOI must
    yield a successful decode, ValueError, or NotImplementedError —
    never KeyError/IndexError/OverflowError, and never a corruption-
    sized allocation (the dimension cap rejects 65535x65535 SOF dims
    BEFORE the coefficient array is allocated)."""
    rng = np.random.default_rng(17)
    data = bytearray(encode_jpeg(_noise(32, 32, 9), quality=98))
    for _ in range(4000):
        b = bytearray(data)
        for _ in range(int(rng.integers(1, 4))):
            b[int(rng.integers(2, len(b)))] = int(rng.integers(0, 256))
        try:
            out = decode_jpeg(bytes(b))
            assert out.dtype == np.uint8 and out.ndim == 3
        except (ValueError, NotImplementedError):
            pass


def test_dimension_cap_rejects_corrupt_sof():
    """A corrupt SOF claiming 65535x65535 must raise before allocating
    the 17 GB coefficient table."""
    data = bytearray(encode_jpeg(_noise(16, 16, 1), quality=98))
    sof = bytes(data).find(b"\xff\xc0")
    assert sof > 0
    data[sof + 5 : sof + 9] = b"\xff\xff\xff\xff"  # h = w = 65535
    with pytest.raises(ValueError, match="implausible"):
        decode_jpeg(bytes(data))


def test_lookahead_cache_flood_guard():
    """Foreign streams could carry unbounded distinct Huffman tables; the
    memo cache must stay bounded and the tables must stay correct across
    the clear."""
    from gis_shapefile_spark.functions.jpeg import (
        _LOOKAHEAD_CACHE,
        _lookahead_table,
    )

    bits = [1] + [0] * 15  # one 1-bit code: slots [0, 0x8000) -> symbol
    for v in range(40):
        sym, ln = _lookahead_table(bits, [v])
        assert ln[0] == 1 and sym[0] == v
        assert ln[0xFFFF] == 0  # unowned slot stays invalid
    assert len(_LOOKAHEAD_CACHE) <= 32


@pytest.mark.skipif(not KITTENS, reason="Spark mllib images not bundled")
def test_decode_real_world_jpegs_matches_jvm_imageio(spark):
    """Real 4:2:0 camera JPEGs (Spark's own mllib test images), decoded by
    two independent implementations: ours (pure numpy) vs the JVM's
    javax.imageio via the built-in image source. Conformant decoders
    differ only in IDCT rounding and chroma-upsample interpolation; with
    the triangular ("fancy") chroma upsampler the two agree at 51-66 dB
    / mean abs diff < 0.6 across all five files (nearest-neighbor
    upsampling diverged to 38 dB on the sharp-chroma chr30 image)."""
    paths = [*KITTENS, CHR30]
    rows = (
        spark.read.format("image")
        .load([p for p in paths if os.path.exists(p)])
        .select("image.*")
        .collect()
    )
    assert len(rows) >= 4
    for r in rows:
        name = os.path.basename(r.origin)
        jvm = np.frombuffer(bytes(r.data), dtype=np.uint8).reshape(
            r.height, r.width, r.nChannels
        )[..., ::-1]  # ImageIO gives BGR
        path = next(p for p in paths if p.endswith(name))
        ours = decode_jpeg(open(path, "rb").read())
        assert ours.shape == jvm.shape, name
        diff = np.abs(ours.astype(np.int16) - jvm.astype(np.int16))
        assert psnr(ours, jvm) >= 48.0, name
        assert diff.mean() <= 0.6, name


def test_encoder_bytes_decoded_by_jvm_imageio(spark, tmp_path):
    """The reverse anchor: ImageIO (a decoder we did not write) reads our
    encoder's bytes back to >= 40 dB vs the source pixels — our output is
    standards-valid JPEG, not merely self-consistent."""
    img = _smooth(120, 160)
    p = tmp_path / "ours.jpg"
    p.write_bytes(encode_jpeg(img, quality=98))
    r = spark.read.format("image").load(str(p)).select("image.*").collect()[0]
    jvm = np.frombuffer(bytes(r.data), dtype=np.uint8).reshape(
        r.height, r.width, r.nChannels
    )[..., ::-1]
    assert jvm.shape == (120, 160, 3)
    assert psnr(jvm, img) >= 40.0
    # and the two decoders agree on our own bytes
    assert psnr(jvm, decode_jpeg(p.read_bytes())) >= 45.0


@pytest.fixture(scope="module")
def jpeg_mixed_pdf():
    """30 fmt='jpeg' rows (phash recomputed from the DECODED pixels, as
    make_images does for every lossy fmt) + 30 raw/qz rows in the same
    batches."""
    base = FX.make_images(60, w=16, h=16)
    rows = []
    for _, r in base.head(30).iterrows():
        pix = FX.decode_image(r["bytes"], r["w"], r["h"], r["fmt"])
        data = FX.encode_image(pix, "jpeg")
        dec = FX.decode_image(data, 16, 16, "jpeg")
        rows.append(
            dict(
                image_id="jpg_" + r["image_id"], bytes=data,
                w=r["w"], h=r["h"], fmt="jpeg",
                caption=r["caption"], phash=FX.phash64(dec),
                lng=r["lng"], lat=r["lat"],
            )
        )
    return pd.concat([pd.DataFrame(rows), base.iloc[30:]], ignore_index=True)


def test_jpeg_rows_through_spark_decode_stages(spark, jpeg_mixed_pdf):
    """fmt='jpeg' rows through decode_stats / verify_invariants /
    resize_images, mixed with raw/qz rows in the same Arrow batches."""
    df = spark.createDataFrame(jpeg_mixed_pdf)
    stats = {r.image_id: r for r in MM.decode_stats(df).collect()}
    assert len(stats) == 60 and all(r.phash_ok for r in stats.values())

    inv = {r.image_id: r for r in MM.verify_invariants(df).collect()}
    assert all(r.phash_ok and r.psnr_ok for r in inv.values())
    fmt_of = dict(zip(jpeg_mixed_pdf["image_id"], jpeg_mixed_pdf["fmt"]))
    finite = 0
    for iid, r in inv.items():
        if fmt_of[iid] == "jpeg":
            # real lossy codec: roundtrip PSNR >= bar; requantization is
            # exactly idempotent for a few images (legit inf sentinel)
            assert r.psnr_u >= 40_000, iid
            finite += (r.psnr_u < 10**9) and iid.startswith("jpg_")
        else:
            assert r.psnr_u == 10**9, iid
    # most jpeg rows exercise the finite lossy-PSNR path (measured 28/30)
    assert finite >= 20

    small = {r.image_id: r for r in MM.resize_images(df, 8, 8).collect()}
    for _, r in jpeg_mixed_pdf.head(30).iterrows():
        out = small[r["image_id"]]
        assert out.fmt == "jpeg" and out.bytes[:2] == b"\xff\xd8"
        pix = FX.decode_image(out.bytes, 8, 8, "jpeg")
        assert FX.phash64(pix) == out.phash


# ---------------------------------------------------------------- batch decode
# decode_jpeg_batch (lockstep entropy decode, one image per lane) against
# the per-image reference: coefficient for coefficient through
# _lockstep_scan at ANY lane count (bypassing the break-even dispatch),
# pixel for pixel through the public batch call.


def _coef_parity(datas: list[bytes]) -> None:
    hdrs = [J._parse_header(d) for d in datas]
    coef, err = J._lockstep_scan(datas, [h.scan_start for h in hdrs], hdrs[0])
    assert all(e is None for e in err)
    for d, h, c in zip(datas, hdrs, coef):
        assert np.array_equal(c, J._decode_scan(d, h))


def _pixel_parity(datas: list[bytes]) -> None:
    batch = J.decode_jpeg_batch(datas)
    assert len(batch) == len(datas)
    for d, b in zip(datas, batch):
        assert b.dtype == np.uint8 and np.array_equal(b, decode_jpeg(d))


@pytest.mark.parametrize(
    "lanes",
    [1, J.LOCKSTEP_MIN_LANES - 1, J.LOCKSTEP_MIN_LANES, 4 * J.LOCKSTEP_MIN_LANES],
)
def test_batch_matches_per_image_q98_noise(lanes):
    datas = [encode_jpeg(_noise(16, 16, seed), quality=98) for seed in range(lanes)]
    _coef_parity(datas)
    _pixel_parity(datas)


@pytest.mark.parametrize("h, w", [(9, 13), (7, 32), (17, 15), (1, 1)])
def test_batch_matches_per_image_odd_dims(h, w):
    datas = [
        encode_jpeg(_noise(h, w, seed), quality=95)
        for seed in range(J.LOCKSTEP_MIN_LANES)
    ]
    _coef_parity(datas)
    _pixel_parity(datas)


def test_batch_chunks_by_block_budget(monkeypatch):
    """A batch larger than the block budget runs as several lockstep calls,
    each within the budget and none below the break-even lane count."""
    lanes = J.LOCKSTEP_MIN_LANES
    monkeypatch.setattr(J, "_BLOCK_BUDGET", 12 * (lanes + 7))  # 16x16 4:4:4: 12 blocks
    calls = []
    real = J._lockstep_scan

    def spy(datas, starts, hdr):
        calls.append(len(datas))
        return real(datas, starts, hdr)

    monkeypatch.setattr(J, "_lockstep_scan", spy)
    _pixel_parity([encode_jpeg(_noise(16, 16, s), quality=98) for s in range(3 * lanes)])
    assert sum(calls) == 3 * lanes
    assert all(lanes <= c and 12 * c <= J._BLOCK_BUDGET for c in calls)


def _gray_stream(
    blocks: np.ndarray,
    ri: int,
    dht=(DC_LUMA_BITS, DC_LUMA_VALS, AC_LUMA_BITS, AC_LUMA_VALS),
    rst_fill: bytes = b"",
) -> bytes:
    """Hand-built 8-row grayscale stream, one block per MCU (zigzag
    ``blocks``, quantizer 1), restart interval ``ri`` MCUs (0: no DRI);
    ``rst_fill`` FF fill bytes go before every RST marker."""
    dc_bits, dc_vals, ac_bits, ac_vals = dht
    codes = (_canonical_codes(dc_bits, dc_vals), _canonical_codes(ac_bits, ac_vals))
    n = len(blocks)
    out = bytearray(b"\xff\xd8")
    qt_zz = bytes([0]) + bytes([1] * 64)
    out += b"\xff\xdb" + (2 + len(qt_zz)).to_bytes(2, "big") + qt_zz
    sof = bytes([8]) + (8).to_bytes(2, "big") + (8 * n).to_bytes(2, "big")
    sof += bytes([1, 1, 0x11, 0])
    out += b"\xff\xc0" + (2 + len(sof)).to_bytes(2, "big") + sof
    for tc, bits, vals in ((0, dc_bits, dc_vals), (1, ac_bits, ac_vals)):
        dht_seg = bytes([tc << 4]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + (2 + len(dht_seg)).to_bytes(2, "big") + dht_seg
    if ri:
        out += b"\xff\xdd\x00\x04" + ri.to_bytes(2, "big")
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    out += b"\xff\xda" + (2 + len(sos)).to_bytes(2, "big") + sos
    step = ri or n
    for start in range(0, n, step):
        if start:
            out += rst_fill + bytes([0xFF, 0xD0 + (start // step - 1) % 8])
        w = _BitWriter()
        prev = [0]  # DC predictor resets at every restart
        for blk in blocks[start : start + step]:
            J._encode_single_block(w, blk, prev, 0, codes)
        out += w.finish()
    return bytes(out + b"\xff\xd9")


def _random_blocks(rng: np.random.Generator, n: int, max_ac: int = 8) -> np.ndarray:
    """n zigzag blocks: DC in [-300, 300], then 0..max_ac consecutive nonzero
    AC values (run 0 only, sizes <= 9), the rest zero."""
    blocks = np.zeros((n, 64), dtype=np.int64)
    blocks[:, 0] = rng.integers(-300, 301, n)
    for b in range(n):
        k = int(rng.integers(0, max_ac + 1))
        vals = rng.integers(1, 300, k) * rng.choice([-1, 1], k)
        blocks[b, 1 : 1 + k] = vals
    return blocks


def test_batch_restart_interval_streams():
    """Several hand-built DRI/RSTn streams (restart every 1, 2 and 3 MCUs,
    partial last intervals, fill bytes before RST) in lockstep: each lane
    re-aligns to its next segment and resets its DC predictor on its own."""
    rng = np.random.default_rng(5)
    mixed = []
    for ri, n in ((1, 4), (2, 5), (3, 7)):
        datas = [
            _gray_stream(_random_blocks(rng, n), ri, rst_fill=b"\xff" * (i % 3))
            for i in range(12)
        ]
        _coef_parity(datas)
        mixed += datas
    mixed.append(_gray_stream(_random_blocks(rng, 4), 0))
    _pixel_parity(mixed)
    # a stream missing its last RST segment raises in both decoders
    short = _gray_stream(_random_blocks(rng, 4), 1)
    short = short[: short.rfind(b"\xff\xd2")] + b"\xff\xd9"  # drop interval 4
    with pytest.raises(ValueError, match="RST"):
        decode_jpeg(short)
    hdr = J._parse_header(short)
    _coef, err = J._lockstep_scan(
        [short, mixed[0]], [hdr.scan_start, J._parse_header(mixed[0]).scan_start], hdr
    )
    assert isinstance(err[0], ValueError) and err[1] is None


@pytest.mark.skipif(not KITTENS, reason="Spark mllib images not bundled")
def test_batch_matches_per_image_real_420_mixed_with_444():
    """Real 4:2:0 camera JPEGs (the mllib images) batched together with
    4:4:4 images of the same sizes from our encoder."""
    reals = [open(p, "rb").read() for p in [*KITTENS, CHR30] if os.path.exists(p)]
    mixed = []
    for d in reals:
        h, w = decode_jpeg(d).shape[:2]
        mixed += [d, encode_jpeg(_smooth(h, w), quality=90), d]
        _coef_parity([d])
    _pixel_parity(mixed)


def test_batch_fuzz_parity_and_reads_ones_past_segment_end():
    """Byte-flipped streams in one lockstep-sized batch: a lane fails
    exactly when the per-image loop raises on it, and otherwise equals it.
    The batch raises the first failing image's error type. One lane's scan
    is empty: past its segment end it must read 1-bits (F.2.2.5), never
    the next lane's bytes."""
    rng = np.random.default_rng(31)
    lanes = 2 * J.LOCKSTEP_MIN_LANES
    bases = [encode_jpeg(_noise(16, 16, 40 + s), quality=98) for s in range(4)]
    datas = []
    for t in range(lanes):
        b = bytearray(bases[t % 4])
        sos = bytes(b).find(b"\xff\xda") + 14  # first entropy-coded byte
        lo = 2 if t % 8 == 0 else sos  # most flips in the scan, some anywhere
        for _ in range(int(rng.integers(1, 4))):
            b[int(rng.integers(lo, len(b)))] = int(rng.integers(0, 256))
        datas.append(bytes(b))

    def outcome(d):
        try:
            return decode_jpeg(d)
        except (ValueError, NotImplementedError) as e:
            return e

    ref = [outcome(d) for d in datas]
    n_fail = sum(isinstance(r, Exception) for r in ref)
    assert 0 < n_fail < lanes
    # per lane, on the images whose header still parses to the base shape
    key = J._parse_header(bases[0]).shape_key
    same = []
    for d in datas:
        try:
            if J._parse_header(d).shape_key == key:
                same.append(d)
        except (ValueError, NotImplementedError, IndexError):
            pass
    assert len(same) >= J.LOCKSTEP_MIN_LANES
    hdrs = [J._parse_header(d) for d in same]
    coef, err = J._lockstep_scan(same, [h.scan_start for h in hdrs], hdrs[0])
    for d, h, c, e in zip(same, hdrs, coef, err):
        try:
            want = J._decode_scan(d, h)
        except ValueError:
            assert isinstance(e, ValueError)
        else:
            assert e is None and np.array_equal(c, want)
    # whole batch: raises the first failure's type; the survivors match
    first = next(r for r in ref if isinstance(r, Exception))
    with pytest.raises(type(first)):
        J.decode_jpeg_batch(datas)
    _pixel_parity([d for d, r in zip(datas, ref) if not isinstance(r, Exception)])

    # Reading past the end: with a code space filled up to the all-ones
    # 16-bit code (DC -> size 16, AC -> run 0 size 15), 1-bits decode
    # successfully, so an empty scan yields DC diff 65535 and AC 32767 in
    # every block. The other lanes' scans are all-zero-ish real data.
    dc_vals = list(range(17))
    ac_vals = [0x00, 0x01, 0x02, 0x03, 0x04, 0x05, 0x06, 0x07, 0x08, 0x09,
               0x0A, 0x11, 0x12, 0x21, 0xF0, 0x31, 0x0F]
    full = [1] * 15 + [2]
    dht = (full, dc_vals, full, ac_vals)
    others = [_gray_stream(_random_blocks(rng, 4), 0, dht) for _ in range(6)]
    empty = others[0]
    empty = empty[: empty.find(b"\xff\xda") + 10] + b"\xff\xd9"
    ones = J._decode_scan(empty, J._parse_header(empty))
    assert (ones[:, 0] == 65535).all() and (ones[:, 1:] == 32767).all()
    batch = [empty, *others, empty]
    _coef_parity(batch)
    # and a lane whose scan ends WITHOUT a marker may not read 1-bits
    cut = others[1][:-6]
    with pytest.raises(ValueError, match="truncated"):
        decode_jpeg(cut)
    h = J._parse_header(cut)
    _c, err = J._lockstep_scan([cut, *others], [h.scan_start] * (1 + len(others)), h)
    assert isinstance(err[0], ValueError) and all(e is None for e in err[1:])
