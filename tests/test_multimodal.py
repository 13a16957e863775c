"""Multimodal pipeline: real container decode (WAV PCM16, PPM P6) against
analytic ground truth, plus the honest stub guard for compressed codecs."""

from __future__ import annotations

import math

import numpy as np
import pytest

from parquet_to_arrow_spark.operators.multimodal import (
    decode_image,
    decode_ppm,
    decode_rawv,
    decode_wav,
    ppm_bytes,
    wav_bytes,
)


def test_wav_roundtrip_and_sine_features():
    # a pure sine: RMS = A/sqrt(2), ZCR = 2f/sr (crossings per sample)
    sr, f, amp, n = 16000, 1000, 10000, 16000
    t = np.arange(n)
    sine = (amp * np.sin(2 * math.pi * f * t / sr)).astype(np.int16)
    rate, back = decode_wav(wav_bytes(sine, sr))
    assert rate == sr
    assert np.array_equal(back, sine)
    x = back.astype(np.float64)
    rms = float(np.sqrt(np.mean(x * x)))
    assert abs(rms - amp / math.sqrt(2)) / (amp / math.sqrt(2)) < 0.01
    zcr = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1])))
    assert abs(zcr - 2 * f / sr) < 0.01


def test_ppm_roundtrip_and_mean_pool():
    img = np.arange(16 * 16 * 3, dtype=np.uint64).reshape(16, 16, 3) % 256
    img = img.astype(np.uint8)
    back = decode_ppm(ppm_bytes(img))
    assert np.array_equal(back, img)
    pooled = back.reshape(4, 4, 4, 4, 3).mean(axis=(1, 3))
    assert pooled.shape == (4, 4, 3)
    assert abs(float(pooled.mean()) - float(img.reshape(-1, 3).mean())) < 1e-9


def test_compressed_media_still_guarded():
    # jpeg, mp3 and h264 payloads are rejected by the container decoders
    for decode, payload in (
        (decode_image, b"\xff\xd8\xff\xe0" + bytes(60)),
        (decode_wav, b"ID3\x04" + bytes(60)),
        (decode_rawv, b"\x00\x00\x00\x01\x67" + bytes(60)),
    ):
        with pytest.raises(ValueError):
            decode(payload)


def test_audio_features_distributed(spark):
    from parquet_to_arrow_spark.operators.multimodal import media_audio_features

    sf = "/root/testdata/sf0.001"
    rows = media_audio_features(spark, sf).collect()
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert len(rows) == n_docs
    for r in rows[:20]:
        assert r["sample_rate"] == 16000
        assert r["n_samples"] > 0 and r["rms"] > 0 and 0 <= r["zcr"] <= 1
        assert r["peak"] <= 32768


def test_image_thumbnails_distributed(spark):
    from parquet_to_arrow_spark.operators.multimodal import (
        documents_as_ppm,
        image_thumbnails,
        media_image_thumbnails,
    )

    sf = "/root/testdata/sf0.001"
    rows = image_thumbnails(documents_as_ppm(spark, sf)).collect()
    for r in rows[:20]:
        assert (r["w"], r["h"]) == (16, 16)
        assert len(r["thumb"]) == 4 * 4 * 3
        # documents are ASCII-ish text: channel means sit in the printable band
        assert 30 <= r["mean_r"] <= 127
    # driver-facing shape: scalar csv rendering (no array column — the
    # driver's rows-only canonicalizer cannot hash lists)
    drows = media_image_thumbnails(spark, sf).limit(5).collect()
    for r in drows:
        vals = r["thumb_csv"].split(",")
        assert len(vals) == 4 * 4 * 3
        assert all(0 <= int(v) <= 255 for v in vals)


def test_png_roundtrip_every_filter_type():
    """Encode/decode bit-exact for each RFC 2083 filter type and the cycling
    mode, on a gradient whose Sub/Up/Average/Paeth predictions all differ."""
    from parquet_to_arrow_spark.operators.multimodal import decode_png, png_bytes

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    grad = (np.arange(16)[:, None, None] * 13 + np.arange(16)[None, :, None] * 7
            + np.arange(3)[None, None, :] * 31).astype(np.uint8)
    for src in (img, grad):
        for mode in ("0", "1", "2", "3", "4", "cycle"):
            back = decode_png(png_bytes(src, filter_mode=mode))
            assert np.array_equal(back, src), mode


def test_png_analytic_truth_planted_gradient():
    """Mean-pool of a planted gradient equals its analytic channel means."""
    from parquet_to_arrow_spark.operators.multimodal import decode_png, png_bytes

    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[:, :, 0] = 100  # R constant
    img[:, :, 1] = np.arange(16)[None, :]  # G = column index
    back = decode_png(png_bytes(img))
    m = back.reshape(-1, 3).mean(axis=0)
    assert m[0] == 100.0 and m[1] == np.arange(16).mean() and m[2] == 0.0


def test_png_decoder_rejects_unsupported():
    from parquet_to_arrow_spark.operators.multimodal import decode_png

    with pytest.raises(ValueError):
        decode_png(b"notapng")
    # 16-bit depth IHDR -> honest NotImplementedError, not silent garbage
    import struct, zlib
    ihdr = struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0)
    chunk = struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + struct.pack(
        ">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    with pytest.raises(NotImplementedError):
        decode_png(b"\x89PNG\r\n\x1a\n" + chunk)


def test_png_features_distributed(spark):
    """PNG and PPM paths decode to the identical grid => identical features."""
    from parquet_to_arrow_spark.operators.multimodal import (
        media_image_thumbnails,
        media_png_features,
    )

    sf = "/root/testdata/sf0.001"
    png = {r["doc_id"]: r for r in media_png_features(spark, sf).collect()}
    ppm = {r["doc_id"]: r for r in media_image_thumbnails(spark, sf).collect()}
    assert set(png) == set(ppm)
    for k in png:
        assert png[k] == ppm[k]


def test_audio_exact_features_vs_numpy():
    """sumsq/n_cross/rms/zcr arithmetic matches a straight numpy reference."""
    from parquet_to_arrow_spark.operators.multimodal import decode_wav, wav_bytes

    rng = np.arange(-40, 37, dtype=np.int16) * 801
    rate, s = decode_wav(wav_bytes(rng))
    x = s.astype(np.int64)
    assert int((x * x).sum()) == int(np.dot(x, x))
    crossings = int(np.count_nonzero((x[1:] < 0) != (x[:-1] < 0)))
    assert crossings == 1  # monotone ramp crosses zero once


def test_rawv_roundtrip_and_framesample_truth(spark):
    """RAWV container round-trips exactly; the frame-sample operator matches
    an independent numpy recompute of the documented closed form."""
    import numpy as np

    from parquet_to_arrow_spark.operators.multimodal import (
        VID_FRAME_STEP,
        VID_H,
        VID_W,
        decode_rawv,
        media_video_framesample,
        rawv_bytes,
    )

    frames = np.arange(5 * VID_H * VID_W * 3, dtype=np.uint8).reshape(5, VID_H, VID_W, 3)
    assert (decode_rawv(rawv_bytes(frames)) == frames).all()

    sf = "/root/testdata/sf0.001"
    docs = {r["doc_id"]: r["text"] for r in
            spark.read.parquet(f"{sf}/documents.parquet").limit(50).collect()}
    out = {r["doc_id"]: r for r in media_video_framesample(spark, sf).collect()}
    need = VID_H * VID_W * 3
    for doc_id, text in docs.items():
        raw = np.frombuffer(text.encode() or b"\x00", dtype=np.uint8)
        nf = 1 + (len(raw) % 7)
        idx = (np.arange(need)[None, :] + 17 * np.arange(nf)[:, None]) % len(raw)
        sampled = raw[idx].reshape(nf, -1, 3)[::VID_FRAME_STEP]
        sums = sampled.reshape(-1, 3).astype(np.int64).sum(axis=0)
        cnt = sampled.shape[0] * VID_H * VID_W
        r = out[doc_id]
        assert r["n_frames"] == nf and r["n_sampled"] == sampled.shape[0]
        assert (r["mean_r"], r["mean_g"], r["mean_b"]) == tuple(
            float(s) / cnt for s in sums
        )
