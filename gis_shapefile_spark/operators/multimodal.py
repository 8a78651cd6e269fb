"""Multimodal (image payload) stages over the input_hint table.

The driver-mandated table is ``(image_id: string, bytes: binary, w: int32,
h: int32, fmt: string, caption: string, phash: int64)`` (BASELINE.json
``input_hint``). Images are opaque binary + typed metadata; every stage
here is ``mapInPandas`` over Arrow batches. Four codecs are supported:
``raw`` (lossless zlib) and ``qz`` (6-bit quantization, PSNR ≈ 47 dB)
from ``sources/fixtures.py``, plus two REAL standard formats — ``png``
(ISO/IEC 15948, ``functions/png.py``, stdlib zlib; lossless) and
``jpeg`` (ISO/IEC 10918-1 baseline, ``functions/jpeg.py``, pure-numpy
DCT; the LOSSY leg of the input_hint invariant, encoded at quality 98
→ PSNR ≥ 40 dB even on uniform-noise fixtures; the decoder handles
real-world 4:2:0 camera JPEGs and is validated both directions against
the JVM's independent javax.imageio decoder in tests/test_jpeg.py).
Remaining real-world codecs (WebP — needs VP8) plug into the same
seam; any unknown ``fmt`` raises ``NotImplementedError`` loudly rather
than guessing.

Per-row invariants (input_hint): decoded-pixel allclose (exact for
``raw``, PSNR >= 40 dB for ``qz``), byte-exact caption, recomputed
``phash`` equality. ``verify_invariants`` is the checkable stage every
pipeline run appends.

Scale notes: stages are embarrassingly parallel (no shuffle), preserve
the input partitioning (so a downstream cell-join reuses it), and the
Arrow batch size bounds executor memory (batch rows x w x h x 3 bytes).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.jpeg import decode_jpeg_batch
from ..sources import fixtures as FX

IMAGE_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)


def _decode_batch(pdf: pd.DataFrame) -> list[np.ndarray]:
    """Decode every row of an Arrow batch to (h, w, 3) uint8 pixels, in
    row order, through the same batch decode as ``_decode_stacks``."""
    out: list = [None] * len(pdf)
    for poss, _fmt, stack in _decode_stacks(pdf):
        for p, pix in zip(poss, stack):
            out[p] = pix
    return out


def _decode_stacks(
    pdf: pd.DataFrame,
) -> Iterator[tuple[np.ndarray, str, np.ndarray]]:
    """Decode an Arrow batch into uniform (w, h, fmt) pixel stacks.

    Yields (row_positions, fmt, (n, h, w, 3) uint8 stack). Per-row work
    is the zlib inflate (raw/qz/png), PNG unfiltering and JPEG header
    checks; a group's JPEGs are entropy-decoded in lockstep, one image
    per lane (``jpeg.decode_jpeg_batch``), and everything downstream
    (phash, stats, PSNR) vectorizes over the stack. Unknown ``fmt``
    raises NotImplementedError (real-codec seam).
    """
    import zlib

    groups: dict[tuple, list[int]] = {}
    for pos, key in enumerate(zip(pdf["w"], pdf["h"], pdf["fmt"])):
        groups.setdefault(key, []).append(pos)
    byts = pdf["bytes"].values
    for (w, h, fmt), poss in groups.items():
        w, h, fmt = int(w), int(h), str(fmt)
        if fmt == "png":
            # real PNG container (functions/png.py): per-payload inflate +
            # unfilter, stacked like the zlib formats; lossless
            from ..functions.png import decode_png

            stack = np.stack([decode_png(byts[p]) for p in poss])
            if stack.shape[1:] != (h, w, 3):
                raise ValueError(
                    f"PNG shape {stack.shape[1:]} != metadata ({h}, {w}, 3)"
                )
            yield np.asarray(poss), fmt, stack
            continue
        if fmt == "jpeg":
            # real baseline JPEG (functions/jpeg.py): the group's images
            # decode together, one lane each
            stack = np.stack(decode_jpeg_batch([byts[p] for p in poss]))
            if stack.shape[1:] != (h, w, 3):
                raise ValueError(
                    f"JPEG shape {stack.shape[1:]} != metadata ({h}, {w}, 3)"
                )
            yield np.asarray(poss), fmt, stack
            continue
        raws = [
            np.frombuffer(zlib.decompress(byts[p]), dtype=np.uint8) for p in poss
        ]
        stack = np.stack(raws).reshape(len(poss), h, w, 3)
        if fmt == "qz":
            stack = (stack.astype(np.uint16) * 4 + 2).clip(0, 255).astype(np.uint8)
        elif fmt != "raw":
            raise NotImplementedError(
                f"codec {fmt!r} not available in this sandbox"
            )
        yield np.asarray(poss), fmt, stack


def decode_stats(
    images: DataFrame, carry: tuple = (), means: bool = True
) -> DataFrame:
    """Decode + recomputed phash, optionally per-image channel stats.

    Output: image_id, [mean_r/g/b (x1e6, integerized) when ``means``],
    phash_rec, phash_ok, plus any ``carry`` columns passed through
    unchanged — the one-pass shape for joint image+metadata analytics:
    carrying e.g. the caption through the decode stage avoids re-joining
    decoded results back to the source by image_id (an id-keyed shuffle
    the pass-through makes unnecessary at any scale). ``means=False``
    skips the full-pixel mean pass for phash-only consumers (near-dup
    pairing, streaming verify) — one shared decode kernel, parameterized
    outputs, so a codec/phash change cannot diverge between paths.
    """
    fields = {f.name: f.dataType.simpleString() for f in images.schema.fields}
    schema = "image_id string"
    if means:
        schema += ", mean_r long, mean_g long, mean_b long"
    schema += ", phash_rec long, phash_ok boolean"
    for c in carry:
        schema += f", {c} {fields[c]}"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mns = np.zeros((len(pdf), 3))
            ph = np.zeros(len(pdf), dtype=np.int64)
            for poss, _fmt, stack in _decode_stacks(pdf):
                if means:
                    mns[poss] = stack.reshape(len(poss), -1, 3).mean(axis=1)
                ph[poss] = FX.phash64_batch(stack)
            out = {"image_id": pdf["image_id"].values}
            if means:
                out["mean_r"] = np.floor(mns[:, 0] * 1e6).astype(np.int64)
                out["mean_g"] = np.floor(mns[:, 1] * 1e6).astype(np.int64)
                out["mean_b"] = np.floor(mns[:, 2] * 1e6).astype(np.int64)
            out["phash_rec"] = ph
            out["phash_ok"] = ph == pdf["phash"].values.astype(np.int64)
            for c in carry:
                out[c] = pdf[c].values
            yield pd.DataFrame(out)

    return images.mapInPandas(fn, schema)


def verify_enrich(images: DataFrame) -> DataFrame:
    """One-pass decode + phash-verify that PASSES THROUGH the tiling
    columns: (image_id, lng, lat, n_bytes, phash_ok).

    ``decode_stats`` with ``means=False`` (the same ``phash_ok`` as
    ``verify_invariants(reencode=False)``) and carry columns: nothing joins
    back by image_id (on a stream that join would be stream-stream). The
    batch flagship (``tiling.image_tiling_pipeline``) and the streaming
    leg (``streaming/image_stream.py``) both run it, so a codec/phash
    change cannot diverge between them — linear, no shuffle.
    """
    enriched = decode_stats(
        images.select("image_id", "bytes", "w", "h", "fmt", "phash", "lng", "lat",
                      F.octet_length("bytes").cast("long").alias("n_bytes")),
        carry=("lng", "lat", "n_bytes"),
        means=False,
    )
    return enriched.select("image_id", "lng", "lat", "n_bytes", "phash_ok")


def image_near_pairs(images: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Image near-duplicate pairs by perceptual-hash hamming distance.

    The phash is RECOMPUTED from the decoded pixels (``decode_stats``, an
    Arrow-batched mapInPandas over source splits — no shuffle), then pairs
    within ``max_hamming`` bits come from the pigeonhole block equi-join
    (``dedup.hamming_near_pairs``) — never a cross join, so at 10^12
    images the cost is decode + one (block, value) shuffle of 64-bit
    signatures, O(near-duplicates) pair expansion.

    Output: (id_1, id_2, hamming) with id_1 < id_2.
    """
    from . import dedup as DD

    sig = decode_stats(images, means=False).select("image_id", "phash_rec")
    return DD.hamming_near_pairs(sig, "image_id", "phash_rec", 64, max_hamming)


def image_quality_stats(images: DataFrame, carry: tuple = ()) -> DataFrame:
    """Per-image quality statistics from DECODED pixels — the LAION-style
    curation filters (too dark / blown out / flat / blurry) as exact
    integer columns:

    - ``luma_sum_u``   — sum over pixels of the BT.709 integer luma
      ``2126*R + 7152*G + 722*B`` (units of 1e-4 luma levels; per-pixel
      max 2,550,000). Brightness = luma_sum_u / (w*h*1e4).
    - ``luma_sq_sum_k`` — sum of ``(luma_u div 1000)^2`` (kilounit
      squares, so the int64 bound holds to >10^10 pixels/image — the
      raw-unit square would overflow past ~1.4 MP). Contrast/variance =
      standard E[x^2]-E[x]^2 on these two sums.
    - ``luma_min_u`` / ``luma_max_u`` — dynamic range.
    - ``grad_sum_u``   — total absolute horizontal + vertical luma
      gradient (sum |dL/dx| + |dL/dy| over the pixel lattice), the
      cheap sharpness/energy proxy: ~0 flags flat/synthetic fills,
      low-per-pixel flags blur.

    All stats are pure integer reductions over the decoded stack, so
    they are exactly reproducible by any engine from the same pixels —
    the ``image_quality`` driver oracle recomputes them in DuckDB from
    the corpus' shared pixel formula, value-checking the encode → decode
    → stats loop end-to-end. One Arrow-batched decode pass over source
    splits, no shuffle; ``carry`` passes metadata through (same
    no-re-join contract as ``decode_stats``).
    """
    fields = {f.name: f.dataType.simpleString() for f in images.schema.fields}
    schema = (
        f"image_id {fields['image_id']}, luma_sum_u long, luma_sq_sum_k long,"
        " luma_min_u long, luma_max_u long, grad_sum_u long"
    )
    for c in carry:
        schema += f", {c} {fields[c]}"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            n = len(pdf)
            sums = np.zeros(n, np.int64)
            sqs = np.zeros(n, np.int64)
            mins = np.zeros(n, np.int64)
            maxs = np.zeros(n, np.int64)
            grads = np.zeros(n, np.int64)
            for poss, _fmt, stack in _decode_stacks(pdf):
                lum = (
                    2126 * stack[..., 0].astype(np.int64)
                    + 7152 * stack[..., 1].astype(np.int64)
                    + 722 * stack[..., 2].astype(np.int64)
                )  # (k, h, w) int64
                sums[poss] = lum.sum(axis=(1, 2))
                lk = lum // 1000
                sqs[poss] = (lk * lk).sum(axis=(1, 2))
                mins[poss] = lum.min(axis=(1, 2))
                maxs[poss] = lum.max(axis=(1, 2))
                grads[poss] = np.abs(np.diff(lum, axis=2)).sum(
                    axis=(1, 2)
                ) + np.abs(np.diff(lum, axis=1)).sum(axis=(1, 2))
            out = {
                "image_id": pdf["image_id"].values,
                "luma_sum_u": sums,
                "luma_sq_sum_k": sqs,
                "luma_min_u": mins,
                "luma_max_u": maxs,
                "grad_sum_u": grads,
            }
            for c in carry:
                out[c] = pdf[c].values
            yield pd.DataFrame(out)

    return images.mapInPandas(fn, schema)


def resize_images(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-pixel resize on a deterministic integer sample grid,
    re-encoded in the same fmt. Output keeps the full input_hint schema;
    phash is recomputed from the resized pixels, caption passes through
    byte-exact."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = []
            for iid, cap, h, w, fmt, pix in zip(
                pdf["image_id"], pdf["caption"], pdf["h"], pdf["w"],
                pdf["fmt"], _decode_batch(pdf),
            ):
                # nearest-pixel sample grid: deterministic for any ratio
                yi = (np.arange(out_h) * int(h) // out_h).astype(np.int64)
                xi = (np.arange(out_w) * int(w) // out_w).astype(np.int64)
                small = pix[yi][:, xi]
                fmt = str(fmt)
                # encode ONCE: the stored bytes and the phash's decode
                # must come from the same encode anyway (lossy fmts), and
                # the encoder is the expensive leg on jpeg rows
                enc = FX.encode_image(small, fmt)
                dec = FX.decode_image(enc, out_w, out_h, fmt)
                rows.append(
                    (iid, enc, out_w, out_h, fmt, cap, FX.phash64(dec))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
                ],
            )

    return images.mapInPandas(fn, IMAGE_SCHEMA)


def resize_to_target(
    images: DataFrame, tw_col: str = "bw", th_col: str = "bh"
) -> DataFrame:
    """Per-ROW-target resize: each image resizes to the (tw_col, th_col)
    dims carried on its own row — the training-prep stage downstream of
    aspect-ratio bucketing (operators/arbucket.py), where every image in
    a bucket must land on that bucket's exact dims to stack into a batch
    tensor. Same deterministic nearest-pixel grid and same-fmt re-encode
    as ``resize_images`` (the fixed-target variant); phash recomputed
    from the resized pixels, caption byte-exact. Arrow-batched
    mapInPandas; parallelism from source splits (never repartition the
    binary payload — measured 10x regression, CLAUDE.md)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = []
            for iid, cap, h, w, fmt, tw, th, pix in zip(
                pdf["image_id"], pdf["caption"], pdf["h"], pdf["w"],
                pdf["fmt"], pdf[tw_col], pdf[th_col], _decode_batch(pdf),
            ):
                tw, th = int(tw), int(th)
                yi = (np.arange(th) * int(h) // th).astype(np.int64)
                xi = (np.arange(tw) * int(w) // tw).astype(np.int64)
                small = pix[yi][:, xi]
                fmt = str(fmt)
                # encode ONCE (see resize_images): bytes and phash decode
                # share the encode; the encoder dominates on jpeg rows
                enc = FX.encode_image(small, fmt)
                dec = FX.decode_image(enc, tw, th, fmt)
                rows.append(
                    (iid, enc, tw, th, fmt, cap, FX.phash64(dec))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
                ],
            )

    return images.mapInPandas(fn, IMAGE_SCHEMA)


def extract_features(images: DataFrame, grid: int = 4) -> DataFrame:
    """Deterministic visual embedding: ``grid x grid`` block-mean luma,
    L2-normalized — the engine's stand-in for a vision encoder (the seam
    where a real model's batch inference plugs in).

    Output: (image_id, embedding: array<float>), dim = grid*grid.
    """
    schema = "image_id string, embedding array<float>"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            embs = np.zeros((len(pdf), grid * grid), dtype=np.float32)
            for poss, _fmt, stack in _decode_stacks(pdf):
                ng, h, w, _ = stack.shape
                luma = stack.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
                bh, bw = max(h // grid, 1), max(w // grid, 1)
                small = luma[:, : bh * grid, : bw * grid].reshape(
                    ng, grid, bh, grid, bw
                ).mean(axis=(2, 4)).reshape(ng, -1)
                norms = np.linalg.norm(small, axis=1, keepdims=True)
                norms[norms == 0] = 1.0
                embs[poss] = (small / norms).astype(np.float32)
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"].values,
                    "embedding": [e.tolist() for e in embs],
                }
            )

    return images.mapInPandas(fn, schema)


def verify_invariants(
    images: DataFrame, reencode: bool = True, min_psnr: float = 40.0
) -> DataFrame:
    """The input_hint per-row invariant stage.

    For each row: decode; recompute phash (must equal the carried column);
    optionally re-encode + re-decode and score PSNR (codec-idempotence —
    for these codecs the roundtrip is exact, so PSNR is inf; a real lossy
    codec would bottom out near its quality setting). The decoded-vs-
    *pre-encode* PSNR >= 40 dB invariant is asserted where the originals
    exist: at fixture generation (tests/test_multimodal_tiling.py).
    Caption hash passes through for byte-exactness checks across stages.

    Output: image_id, phash_ok, psnr_u (x1e3; 10^9 sentinel for inf),
    psnr_ok, caption_sha — one row per input row (no shuffle).
    """
    schema = (
        "image_id string, phash_ok boolean, psnr_u long, psnr_ok boolean, "
        "caption_sha string"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            if len(pdf) == 0:
                continue
            n = len(pdf)
            phash_ok = np.zeros(n, dtype=bool)
            psnr_u = np.full(n, 10**9, dtype=np.int64)
            psnr_ok = np.ones(n, dtype=bool)
            carried = pdf["phash"].values.astype(np.int64)
            for poss, fmt, stack in _decode_stacks(pdf):
                phash_ok[poss] = FX.phash64_batch(stack) == carried[poss]
                if reencode:
                    # re-encode + re-decode, vectorized over the stack (the
                    # zlib wrapper is lossless, so the roundtrip transform
                    # is exactly the codec's pixel map)
                    if fmt == "qz":
                        rt = ((stack >> 2).astype(np.uint16) * 4 + 2).clip(
                            0, 255
                        ).astype(np.uint8)
                    elif fmt == "jpeg":
                        # real lossy roundtrip: re-encode (per image) +
                        # re-decode (one batch); JPEG requantization of
                        # already-decoded pixels at the same quality
                        # bottoms out well above min_psnr
                        rt = np.stack(decode_jpeg_batch(
                            [FX.encode_image(s, "jpeg") for s in stack]
                        ))
                    else:
                        rt = stack
                    err = (
                        (stack.astype(np.float64) - rt.astype(np.float64)) ** 2
                    ).mean(axis=(1, 2, 3))
                    finite = err > 0
                    p = np.full(len(poss), np.inf)
                    p[finite] = 10.0 * np.log10(255.0**2 / err[finite])
                    psnr_u[poss[finite]] = np.floor(p[finite] * 1000).astype(np.int64)
                    psnr_ok[poss] = p >= min_psnr
            cap_sha = [
                hashlib.sha256(str(c).encode()).hexdigest()[:16]
                for c in pdf["caption"].values
            ]
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"].values,
                    "phash_ok": phash_ok,
                    "psnr_u": psnr_u,
                    "psnr_ok": psnr_ok,
                    "caption_sha": cap_sha,
                }
            )

    return images.mapInPandas(fn, schema)


# ---------------------------------------------------------------------------
# video / audio modalities (opaque binary + typed metadata, same seam)
# ---------------------------------------------------------------------------


def sample_frames(videos: DataFrame, n_sample: int) -> DataFrame:
    """Evenly sample ``n_sample`` frames from each video payload, emitting
    one image-schema row per sampled frame (frame re-encoded ``raw``).

    Video payload convention (sandbox codec, real decoders plug in at the
    same seam): ``zlib(frames)`` where frames is (n_frames, h, w, 3) uint8.
    Sampling indices ``i * n_frames // n_sample`` are deterministic for any
    ratio. One input row fans out to ``min(n_sample, n_frames)`` rows —
    pure mapInPandas, no shuffle, partitioning preserved.
    """
    import zlib

    schema = (
        "image_id string, video_id string, frame_idx int, bytes binary, "
        "w int, h int, fmt string, caption string, phash long"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = []
            for vid, data, w, h, fmt, nf, cap in zip(
                pdf["video_id"], pdf["bytes"], pdf["w"], pdf["h"],
                pdf["fmt"], pdf["n_frames"], pdf["caption"],
            ):
                w, h, nf, fmt = int(w), int(h), int(nf), str(fmt)
                if fmt != "rawv":
                    raise NotImplementedError(
                        f"video codec {fmt!r} not available in this sandbox"
                    )
                frames = np.frombuffer(
                    zlib.decompress(data), dtype=np.uint8
                ).reshape(nf, h, w, 3)
                k = min(n_sample, nf)
                idxs = (np.arange(k) * nf // k).astype(np.int64)
                ph = FX.phash64_batch(frames[idxs])
                for j, fi in enumerate(idxs):
                    rows.append(
                        (f"{vid}#f{int(fi)}", vid, int(fi),
                         zlib.compress(frames[fi].tobytes(), 1), w, h,
                         "raw", cap, int(ph[j]))
                    )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["image_id", "video_id", "frame_idx", "bytes",
                             "w", "h", "fmt", "caption", "phash"],
                )

    return videos.mapInPandas(fn, schema)


def audio_features(audio: DataFrame, frame_len: int = 1024) -> DataFrame:
    """Per-clip audio features over fixed windows: RMS energy + zero-crossing
    rate, both integerized (x1e6), plus duration.

    Payload convention: ``zlib(int16 PCM mono)``. Unknown ``fmt`` raises
    NotImplementedError (real audio codecs plug in here).
    Output: (audio_id, n_samples, duration_ms, rms_u array, zcr_u array).
    """
    import zlib

    schema = (
        "audio_id string, n_samples long, duration_ms long, "
        "rms_u array<long>, zcr_u array<long>"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = []
            for aid, data, sr, fmt in zip(
                pdf["audio_id"], pdf["bytes"], pdf["sample_rate"], pdf["fmt"]
            ):
                if str(fmt) != "pcm16z":
                    raise NotImplementedError(
                        f"audio codec {fmt!r} not available in this sandbox"
                    )
                pcm = np.frombuffer(zlib.decompress(data), dtype="<i2")
                n = len(pcm)
                nwin = n // frame_len
                x = pcm[: nwin * frame_len].astype(np.float64).reshape(
                    nwin, frame_len
                ) / 32768.0
                rms = np.sqrt((x * x).mean(axis=1))
                zc = (np.abs(np.diff(np.signbit(x), axis=1)).sum(axis=1)
                      / (frame_len - 1))
                rows.append(
                    (aid, n, int(n * 1000 // int(sr)),
                     np.floor(rms * 1e6).astype(np.int64).tolist(),
                     np.floor(zc * 1e6).astype(np.int64).tolist())
                )
            yield pd.DataFrame(
                rows,
                columns=["audio_id", "n_samples", "duration_ms",
                         "rms_u", "zcr_u"],
            )

    return audio.mapInPandas(fn, schema)
