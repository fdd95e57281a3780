"""Multimodal plumbing tests: schemas, determinism, batch shapes, the
codec gate, and blob-free downstream output."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from week5_datingnlp_big_data_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    return mm.make_fake_media(spark, n=21).cache()


def test_decode_schema_and_rowcount(media):
    out = mm.decode_media(media)
    assert out.count() == 21
    assert set(out.columns) == {
        "media_id", "kind", "width", "height", "n_bytes", "mean_byte", "payload_sha"
    }
    r = out.filter(F.col("media_id") == 0).first()
    assert 64 <= r["width"] <= 255 and r["n_bytes"] > 0


def test_decode_is_deterministic(media):
    a = {r["media_id"]: r["payload_sha"] for r in mm.decode_media(media).collect()}
    b = {r["media_id"]: r["payload_sha"] for r in mm.decode_media(media).collect()}
    assert a == b


def test_real_codec_gate_raises_on_non_image(media):
    # The mixed table contains audio/video rows, which still need an
    # external codec: the real-codec path must raise on them.
    with pytest.raises(Exception) as exc_info:
        mm.decode_media(media, use_real_codec=True).collect()
    assert "NotImplementedError" in str(exc_info.value) or "decode" in str(exc_info.value)


def test_imagecodec_roundtrip():
    import numpy as np

    from week5_datingnlp_big_data_spark.functions import imagecodec as ic

    rng = np.random.default_rng(3)
    for w, h in [(1, 1), (5, 3), (7, 4), (32, 17)]:  # odd widths hit BMP padding
        img = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
        assert np.array_equal(ic.decode_image(ic.encode_bmp(img)), img), (w, h)
        assert np.array_equal(ic.decode_image(ic.encode_ppm(img)), img), (w, h)
    with pytest.raises(ValueError):
        ic.decode_image(b"\x89PNG\r\n\x1a\n not a raster")


def test_real_decode_end_to_end(media):
    # Image payloads in the fixture are genuine BMP/PPM bytes: the real
    # codec must recover the TRUE dimensions recorded in meta.
    images = media.filter(F.col("kind") == "image")
    out = {r["media_id"]: r for r in
           mm.decode_media(images, use_real_codec=True).collect()}
    meta = {r["media_id"]: (r["w"], r["h"]) for r in
            images.select("media_id", F.col("meta.width").alias("w"),
                          F.col("meta.height").alias("h")).collect()}
    assert set(out) == set(meta) and len(out) > 0
    for mid, (w, h) in meta.items():
        assert (out[mid]["width"], out[mid]["height"]) == (w, h)
        assert 0.0 <= out[mid]["mean_byte"] <= 255.0


def test_real_resize_end_to_end(media):
    import numpy as np

    from week5_datingnlp_big_data_spark.functions import imagecodec as ic

    images = media.filter(F.col("kind") == "image")
    out = mm.resize_images(images, 7, 5).collect()
    assert len(out) == images.count()
    originals = {r["media_id"]: bytes(r["payload"]) for r in images.collect()}
    for r in out:
        resized = ic.decode_image(bytes(r["payload"]))
        assert resized.shape == (5, 7, 3)
        expected = ic.resize_nearest(ic.decode_image(originals[r["media_id"]]), 7, 5)
        assert np.array_equal(resized, expected)


def test_feature_extraction_shape_and_determinism(media):
    out = mm.extract_features(media).collect()
    assert len(out) == 21
    assert all(len(r["feature"]) == mm.IMAGE_FEATURE_DIM for r in out)
    again = mm.extract_features(media).collect()
    assert {r["media_id"]: tuple(r["feature"]) for r in out} == {
        r["media_id"]: tuple(r["feature"]) for r in again
    }
    # identical payloads → identical features; distinct payloads → distinct
    feats = {tuple(r["feature"]) for r in out}
    assert len(feats) == 21


def test_frame_sampling_counts(media):
    frames = mm.sample_frames(media, every_ms=1000)
    meta = {r["media_id"]: r["duration_ms"] for r in
            media.select("media_id", F.col("meta.duration_ms").alias("duration_ms"),
                         "kind").filter(F.col("kind") == "video").collect()}
    got = (
        frames.groupBy("media_id").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    got_map = {r["media_id"]: r["n"] for r in got}
    assert set(got_map) == set(meta)
    for mid, dur in meta.items():
        assert got_map[mid] == len(range(0, dur, 1000))


def test_resize_rewrites_payload_and_dims(media):
    images = media.filter(F.col("kind") == "image")
    rows = mm.resize_images(images, 224, 224).collect()
    assert all(r["width"] == 224 and r["height"] == 224 for r in rows)
    orig = {r["media_id"]: bytes(r["payload"]) for r in images.collect()}
    for r in rows:
        assert bytes(r["payload"]) != orig[r["media_id"]]
    assert len(rows) == 7


def test_wav_roundtrip_bit_exact():
    import numpy as np

    from week5_datingnlp_big_data_spark.functions import audiocodec as ac

    rng = np.random.default_rng(11)
    for n_ch in (1, 2, 4):
        for dtype, lo, hi in [(np.uint8, 0, 256), (np.int16, -32768, 32768),
                              (np.int32, -2**31, 2**31)]:
            frames = int(rng.integers(1, 500))
            x = rng.integers(lo, hi, size=(frames, n_ch)).astype(dtype)
            dec, rate = ac.decode_wav(ac.encode_wav(x, 44100))
            assert rate == 44100
            assert np.array_equal(dec, x), (n_ch, dtype)
    # odd-length 8-bit data exercises the word-alignment pad
    x = np.array([1, 2, 3], dtype=np.uint8)
    dec, _ = ac.decode_wav(ac.encode_wav(x, 8000))
    assert np.array_equal(dec[:, 0], x)
    with pytest.raises(ValueError):
        ac.decode_wav(b"not audio at all")


def test_real_audio_decode_end_to_end(media):
    # Audio payloads in the fixture are genuine PCM WAV: the real codec
    # must recover the TRUE sample rate / duration recorded in meta.
    audio = media.filter(F.col("kind") == "audio")
    out = {r["media_id"]: r for r in
           mm.decode_audio(audio).collect()}
    meta = {r["media_id"]: (r["sr"], r["dur"]) for r in
            audio.select("media_id", F.col("meta.sample_rate").alias("sr"),
                         F.col("meta.duration_ms").alias("dur")).collect()}
    assert set(out) == set(meta) and len(out) > 0
    for mid, (sr, dur) in meta.items():
        assert out[mid]["sample_rate"] == sr
        assert out[mid]["duration_ms"] == dur
        assert out[mid]["n_channels"] == 1
        # 0.4 amplitude sine + small noise: RMS near 0.28, peak < 1
        assert 0.15 < out[mid]["rms"] < 0.45
        assert out[mid]["peak"] <= 1.0


def test_audio_real_codec_gate_raises_on_non_wav(spark):
    bad = spark.createDataFrame(
        [(1, bytearray(b"\xffOggS not wav"))], "media_id long, payload binary"
    )
    with pytest.raises(Exception) as exc_info:
        mm.decode_audio(bad).collect()
    assert "NotImplementedError" in str(exc_info.value) or "WAV" in str(exc_info.value)


def test_encode_wav_rejects_lossy_dtypes():
    import numpy as np

    from week5_datingnlp_big_data_spark.functions import audiocodec as ac

    for bad in (np.zeros(4, dtype=np.float32), np.zeros(4, dtype=np.float64),
                np.zeros(4, dtype=np.int8), np.zeros(4, dtype=np.uint16),
                np.zeros(4, dtype=np.uint32)):
        with pytest.raises(ValueError):
            ac.encode_wav(bad, 8000)


def test_y4m_roundtrip_bit_exact():
    import numpy as np

    from week5_datingnlp_big_data_spark.functions import videocodec as vc

    rng = np.random.default_rng(5)
    frames = rng.integers(0, 256, size=(7, 12, 9)).astype(np.uint8)
    dec, w, h, fps = vc.decode_y4m(vc.encode_y4m_mono(frames, (30, 1)))
    assert (w, h, fps) == (9, 12, (30, 1)) and len(dec) == 7
    assert all(np.array_equal(a, b) for a, b in zip(dec, frames))
    with pytest.raises(ValueError):
        vc.decode_y4m(b"\x00\x00 not y4m")


def test_real_frame_sampling_end_to_end(media):
    import numpy as np

    from week5_datingnlp_big_data_spark.functions import videocodec as vc

    videos = media.filter(F.col("kind") == "video")
    out = {}
    for r in mm.sample_frames(videos, every_ms=200).collect():
        out.setdefault(r["media_id"], []).append(r)
    payloads = {r["media_id"]: bytes(r["payload"]) for r in videos.collect()}
    assert set(out) == set(payloads) and len(out) > 0
    for mid, rows in out.items():
        frames, w, h, (num, den) = vc.decode_y4m(payloads[mid])
        # 10 fps stream sampled every 200 ms -> every other frame
        expect = [f for i, f in enumerate(frames) if i % 2 == 0]
        assert len(rows) == len(expect)
        import hashlib
        got_shas = [r["frame_sha"] for r in sorted(rows, key=lambda r: r["frame_idx"])]
        want_shas = [hashlib.sha256(f.tobytes()).hexdigest() for f in expect]
        assert got_shas == want_shas  # hashes of REAL decoded luma planes


def test_frame_sampling_real_gate_raises_on_compressed(spark):
    bad = spark.createDataFrame(
        [(1, "video", bytearray(b"\x00\x00\x01\xba mpeg-ps"),
          {"mime": "video/mp4", "width": 1, "height": 1,
           "sample_rate": None, "duration_ms": 1000})],
        mm.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception) as exc_info:
        mm.sample_frames(bad).collect()
    assert "NotImplementedError" in str(exc_info.value) or "YUV4MPEG2" in str(exc_info.value)


# ---------------------------------------------------------------------------
# Perceptual image hashing (dHash) + Hamming near-dup
# ---------------------------------------------------------------------------


def _image_media(spark, rows):
    """rows: [(media_id, np_image)] -> media frame with BMP payloads."""
    from week5_datingnlp_big_data_spark.functions import imagecodec

    data = [
        (mid, "image", imagecodec.encode_bmp(img),
         {"mime": "image/bmp", "width": img.shape[1], "height": img.shape[0],
          "sample_rate": None, "duration_ms": None})
        for mid, img in rows
    ]
    return spark.createDataFrame(data, mm.MEDIA_SCHEMA)


def _gradient_image(w=64, h=48, shift=0):
    import numpy as np

    x = np.linspace(0, 255, w)
    y = np.linspace(0, 128, h)
    img = (x[None, :] + y[:, None] + shift) % 256
    return np.stack([img] * 3, axis=2).astype(np.uint8)


def test_phash_real_identical_images_hamming_zero(spark):
    import numpy as np

    img = _gradient_image()
    media = _image_media(spark, [(1, img), (2, img.copy()), (3, 255 - img)])
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in mm.image_near_dups(media, max_hamming=3,
                                         use_real_codec=True).collect()}
    assert pairs == {(1, 2): 0}  # inverted image is far away


def test_phash_real_perturbed_image_is_near(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    img = _gradient_image()
    noisy = img.astype(np.int16) + rng.integers(-2, 3, size=img.shape)
    noisy = noisy.clip(0, 255).astype(np.uint8)
    media = _image_media(spark, [(1, img), (2, noisy)])
    hashes = {r.media_id: r.phash
              for r in mm.image_phash(media, use_real_codec=True).collect()}
    ham = bin(hashes[1] ^ hashes[2]).count("1")
    assert ham <= 3  # ±2 noise on a strong gradient barely moves block means
    pairs = mm.image_near_dups(media, max_hamming=3, use_real_codec=True).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 2)]


def test_phash_fake_path_deterministic_and_positive(spark):
    media = mm.make_fake_media(spark, n=9)
    a = {r.media_id: r.phash for r in mm.image_phash(media).collect()}
    b = {r.media_id: r.phash for r in mm.image_phash(media).collect()}
    assert a == b and len(a) == 9
    assert all(0 <= h < 2 ** 63 for h in a.values())


def test_phash_fake_equal_payloads_collide(spark):
    media = spark.createDataFrame(
        [(1, "image", b"same-bytes", None), (2, "image", b"same-bytes", None),
         (3, "image", b"other-bytes", None)],
        mm.MEDIA_SCHEMA,
    )
    h = {r.media_id: r.phash for r in mm.image_phash(media).collect()}
    assert h[1] == h[2] != h[3]


def test_phash_real_gate_raises_on_undecodable(spark):
    media = spark.createDataFrame(
        [(1, "image", b"\x89PNG not really", None)], mm.MEDIA_SCHEMA
    )
    with pytest.raises(Exception, match="NotImplementedError|external codec|decodable"):
        mm.image_phash(media, use_real_codec=True).collect()


# ------------------------------------------------- register_codec seam


def test_register_codec_plugs_jpeg_through_decode_media(spark):
    # The stub decoder is defined INSIDE the test so cloudpickle ships it
    # by value (a test-module top-level function pickles by reference and
    # the Spark workers can't import test_multimodal).
    def _stub_jpeg_decoder(payload: bytes):
        import numpy as np

        h, w = 4, 6
        base = len(payload) % 200
        return (
            np.arange(h * w, dtype=np.uint8).reshape(h, w) + base
        ).astype("uint8")

    fake_jpeg = b"\xff\xd8\xff\xe0" + b"JFIF-ish payload bytes"
    media = spark.createDataFrame(
        [(1, "image", fake_jpeg, None)], mm.MEDIA_SCHEMA
    )
    # gated without the plug-in, and the gate NAMES the hook
    with pytest.raises(Exception, match="register_codec"):
        mm.decode_media(media, use_real_codec=True).collect()

    mm.register_codec("jpeg", _stub_jpeg_decoder)
    try:
        rows = mm.decode_media(media, use_real_codec=True).collect()
        assert len(rows) == 1
        r = rows[0]
        # dims come from the stub decoder's ndarray (W=6, H=4)
        assert (r.width, r.height) == (6, 4)
        expected = _stub_jpeg_decoder(fake_jpeg).mean()
        assert abs(r.mean_byte - float(expected)) < 1e-9
    finally:
        mm.unregister_codec("jpeg")

    # registry restored -> gated again (the snapshot ships per-plan)
    with pytest.raises(Exception, match="register_codec"):
        mm.decode_media(media, use_real_codec=True).collect()


def test_sniff_external_format_magics():
    assert mm.sniff_external_format(b"\xff\xd8\xff\xdb...") == "jpeg"
    assert mm.sniff_external_format(b"\x89PNG\r\n\x1a\n....") == "png"
    assert mm.sniff_external_format(b"GIF89a;") == "gif"
    assert mm.sniff_external_format(b"plain bytes") is None
