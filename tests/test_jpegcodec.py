"""Bundled pure-NumPy baseline JPEG codec (functions/jpegcodec): encode →
decode round-trips within quantization error, restart-marker
resynchronization, honest gates for unsupported JPEG features, and the
register_codec seam end to end through decode_media."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from week5_datingnlp_big_data_spark.functions import jpegcodec as jc


def _gradient(h, w):
    return (np.add.outer(np.arange(h) * 5, np.arange(w) * 3) % 256).astype(
        np.uint8
    )


def test_roundtrip_quality_ladder():
    rng = np.random.default_rng(3)
    imgs = {
        "gradient": _gradient(24, 40),
        "noise": rng.integers(0, 256, (17, 23)).astype(np.uint8),
        "tiny": np.array([[0, 255], [128, 64]], dtype=np.uint8),
        "flat": np.full((8, 8), 77, dtype=np.uint8),
    }
    for name, img in imgs.items():
        enc = jc.encode_jpeg_gray(img, quality=100)
        assert jc.sniff_jpeg(enc)
        dec = jc.decode_jpeg_gray(enc)
        assert dec.shape == img.shape
        # quality 100 -> all-ones quant table: error is DCT rounding only
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 1, name
        # lossy qualities still bound mean error on smooth content
        lossy = jc.decode_jpeg_gray(jc.encode_jpeg_gray(img, quality=50))
        assert lossy.shape == img.shape


def test_lossy_compresses_smooth_content():
    img = _gradient(64, 64)
    hi = jc.encode_jpeg_gray(img, quality=100)
    lo = jc.encode_jpeg_gray(img, quality=50)
    assert len(lo) < len(hi)
    err = np.abs(
        jc.decode_jpeg_gray(lo).astype(int) - img.astype(int)
    ).mean()
    assert err < 3.0  # smooth gradients survive q50 nearly intact


def test_restart_markers_resynchronize():
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (40, 56)).astype(np.uint8)  # 35 MCUs
    base = jc.decode_jpeg_gray(jc.encode_jpeg_gray(img, quality=100))
    for ri in (1, 3, 8, 100):
        enc = jc.encode_jpeg_gray(img, quality=100, restart_interval=ri)
        assert np.array_equal(jc.decode_jpeg_gray(enc), base)


def test_non_multiple_of_8_dimensions():
    for h, w in ((1, 1), (7, 9), (8, 8), (9, 17), (33, 1)):
        img = _gradient(h, w)
        dec = jc.decode_jpeg_gray(jc.encode_jpeg_gray(img, quality=100))
        assert dec.shape == (h, w)
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 1


def test_gates_name_unsupported_features():
    img = _gradient(8, 8)
    enc = bytearray(jc.encode_jpeg_gray(img))
    # patch SOF0 (0xFFC0) into SOF2: progressive now DISPATCHES (real
    # SOF2 streams decode — tests/test_jpegprogressive.py), so a
    # baseline full-band scan inside a progressive frame is a CORRUPT
    # stream (DC scan with Se=63), not a gated feature
    i = bytes(enc).find(b"\xff\xc0")
    enc[i + 1] = 0xC2
    with pytest.raises(ValueError, match="Se=0"):
        jc.decode_jpeg(bytes(enc))
    # SOF1 (extended sequential) stays gated by name
    enc[i + 1] = 0xC1
    with pytest.raises(NotImplementedError, match="BASELINE"):
        jc.decode_jpeg_gray(bytes(enc))
    # a 3-component SOF0 whose scan holds only 1 component is a
    # non-interleaved multi-scan stream: gated by name
    color = bytearray(jc.encode_jpeg_gray(img))
    i = bytes(color).find(b"\xff\xc0")
    seg = struct.pack(">HBHHB", 8 + 9, 8, 8, 8, 3) + bytes(
        [1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    color[i + 2: i + 2 + 11] = seg
    with pytest.raises(NotImplementedError, match="non-interleaved"):
        jc.decode_jpeg_gray(bytes(color))
    # 4-component (CMYK-style) SOF0 gates by component count
    cmyk = bytearray(jc.encode_jpeg_gray(img))
    i = bytes(cmyk).find(b"\xff\xc0")
    seg4 = struct.pack(">HBHHB", 8 + 12, 8, 8, 8, 4) + bytes(
        [1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0, 4, 0x11, 0]
    )
    cmyk[i + 2: i + 2 + 14] = seg4
    with pytest.raises(NotImplementedError, match="component"):
        jc.decode_jpeg_gray(bytes(cmyk))
    # the grayscale entry point gates a real color stream by name
    rgb = np.zeros((8, 8, 3), dtype=np.uint8)
    with pytest.raises(NotImplementedError, match="decode_jpeg"):
        jc.decode_jpeg_gray(jc.encode_jpeg_color(rgb))
    with pytest.raises(ValueError, match="not a JPEG"):
        jc.decode_jpeg_gray(b"BM000")


def _rgb_gradient(h, w):
    r = (np.add.outer(np.arange(h) * 3, np.arange(w) * 2) % 256)
    g = (np.add.outer(np.arange(h) * 5, np.arange(w) * 1) % 256)
    b = (np.add.outer(np.arange(h) * 2, np.arange(w) * 4) % 256)
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def test_color_roundtrip_all_subsamplings():
    # constant-chroma image (R=G=B): chroma planes are flat 128, so
    # subsampling is exact and the round-trip error is luma-only
    gray3 = np.repeat(_gradient(24, 40)[..., None], 3, axis=-1)
    for sub in ("4:4:4", "4:2:2", "4:2:0"):
        dec = jc.decode_jpeg(jc.encode_jpeg_color(gray3, 100, sub))
        assert dec.shape == gray3.shape
        err = np.abs(dec.astype(int) - gray3.astype(int)).max()
        assert err <= 2, (sub, err)


def test_color_roundtrip_smooth_content():
    img = _rgb_gradient(33, 41)  # non-multiple-of-MCU dims
    for sub, bound in (("4:4:4", 3.0), ("4:2:2", 6.0), ("4:2:0", 8.0)):
        dec = jc.decode_jpeg(jc.encode_jpeg_color(img, 95, sub))
        assert dec.shape == img.shape
        err = np.abs(dec.astype(int) - img.astype(int)).mean()
        assert err < bound, (sub, err)


def test_color_restart_markers_resynchronize():
    img = _rgb_gradient(32, 48)
    base = jc.decode_jpeg(jc.encode_jpeg_color(img, 100, "4:2:0"))
    for ri in (1, 2, 5):
        enc = jc.encode_jpeg_color(img, 100, "4:2:0", restart_interval=ri)
        assert np.array_equal(jc.decode_jpeg(enc), base)


def test_color_block_constant_chroma_exact_under_420():
    # 16x16 blocks of solid saturated colors: every 2x2 chroma average
    # equals the pixel value, so 4:2:0 loses nothing at quality 100
    img = np.zeros((32, 32, 3), dtype=np.uint8)
    img[:16, :16] = (200, 30, 30)
    img[:16, 16:] = (30, 200, 30)
    img[16:, :16] = (30, 30, 200)
    img[16:, 16:] = (180, 180, 40)
    dec = jc.decode_jpeg(jc.encode_jpeg_color(img, 100, "4:2:0"))
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 2


def test_decode_jpeg_handles_gray_too():
    img = _gradient(17, 23)
    out = jc.decode_jpeg(jc.encode_jpeg_gray(img, quality=100))
    assert out.ndim == 2
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 1


def test_zigzag_matches_spec_sequence():
    # ITU-T T.81 §A.3.6 zigzag in natural (row-major) indices — the
    # interop pin: a transposed table round-trips internally but makes
    # every stream non-compliant for standard decoders.
    natural = [r * 8 + c for r, c in jc.ZIGZAG]
    assert natural[:16] == [0, 1, 8, 16, 9, 2, 3, 10,
                            17, 24, 32, 25, 18, 11, 4, 5]
    assert natural[-4:] == [47, 55, 62, 63]
    assert sorted(natural) == list(range(64))


def _first_dc(enc: bytes) -> int:
    """Quantized DC of the first block of a baseline grayscale stream."""
    i = enc.find(b"\xff\xda")
    (seg_len,) = struct.unpack_from(">H", enc, i + 2)
    br = jc._BitReader(enc[i + 2 + seg_len:])
    s = br.read_symbol(jc.DC_DEC)
    return jc._extend(br.read_bits(s), s) if s else 0


def test_exact_dc_tie_rounds_to_even():
    # twelve 129s in a block of 128s: S00 = 12/8 = 1.5 exactly and
    # Q00 = 3 at quality 90, so S00/Q00 = 0.5, a tie np.round sends to
    # 0; the float DCT gives 0.5000000000000001 on common BLAS kernels
    img = np.full((8, 8), 128, dtype=np.uint8)
    img[0, :] = 129
    img[1, :4] = 129
    assert jc._quality_table(90)[0, 0] == 3
    assert _first_dc(jc.encode_jpeg_gray(img, quality=90)) == 0


def test_exact_pixel_tie_rounds_to_even():
    # flat 16 at quality 52: Q00 = 15 and DC = round(-896/15) = -60, so
    # every decoded pixel is 128 - 60*15/8 = 15.5 exactly: a tie that
    # rounds to 16 in both decoders; the float IDCT lands below it
    from week5_datingnlp_big_data_spark.functions import jpegprogressive as jp

    img = np.full((8, 8), 16, dtype=np.uint8)
    enc = jc.encode_jpeg_gray(img, quality=52)
    assert _first_dc(enc) == -60
    assert np.array_equal(jc.decode_jpeg_gray(enc), img)
    prog = jp.encode_jpeg_progressive(img, quality=52)
    assert np.array_equal(jc.decode_jpeg(prog), img)


def test_exact_dct_coordinates_match_float_basis():
    # A[u,x]·A[v,y] = Σ_j coords[x,y,u,v,j]·cos(jπ/16) / 32
    coords = jc._DCT_COORDS.reshape(8, 8, 8, 8, 8)
    basis = np.cos(np.arange(8) * np.pi / 16)
    ref = np.einsum("ux,vy->xyuv", jc.DCT_A, jc.DCT_A)
    assert np.abs(coords @ basis / 32 - ref).max() < 1e-15


def test_fill_bytes_and_standalone_markers_tolerated():
    # T.81 §B.1.1.2: any number of 0xFF fill bytes may precede a
    # marker; TEM (0xFF01) is a length-less standalone marker.
    img = _gradient(8, 8)
    enc = jc.encode_jpeg_gray(img)
    base = jc.decode_jpeg_gray(enc)
    i = enc.find(b"\xff\xdb")
    patched = enc[:i] + b"\xff\x01" + b"\xff\xff" + enc[i:]
    assert np.array_equal(jc.decode_jpeg_gray(patched), base)


def test_undefined_table_id_raises_valueerror():
    # SOS referencing a table id no DQT/DHT defined is a corrupt
    # stream: ValueError, never a bare KeyError.
    img = _gradient(8, 8)
    enc = bytearray(jc.encode_jpeg_gray(img))
    i = bytes(enc).find(b"\xff\xda")
    enc[i + 6] = 0x33  # component's Td/Ta -> undefined table 3
    with pytest.raises(ValueError, match="corrupt"):
        jc.decode_jpeg_gray(bytes(enc))


def test_truncated_stream_raises():
    img = _gradient(16, 16)
    enc = jc.encode_jpeg_gray(img)
    with pytest.raises(ValueError):
        jc.decode_jpeg_gray(enc[: len(enc) // 2])


def test_seam_end_to_end_through_decode_media(spark):
    from week5_datingnlp_big_data_spark.operators import multimodal as mm

    img0, img1 = _gradient(12, 20), np.full((9, 9), 200, dtype=np.uint8)
    media = spark.createDataFrame(
        [
            (0, "image", jc.encode_jpeg_gray(img0, restart_interval=2)),
            (1, "image", jc.encode_jpeg_gray(img1)),
        ],
        "media_id long, kind string, payload binary",
    )
    mm.register_bundled_jpeg_codec()
    try:
        out = {
            r["media_id"]: r
            for r in mm.decode_media(media, use_real_codec=True).collect()
        }
    finally:
        mm.unregister_codec("jpeg")
    assert out[0]["width"] == 20 and out[0]["height"] == 12
    assert out[1]["width"] == 9 and out[1]["height"] == 9
    assert abs(out[1]["mean_byte"] - 200.0) <= 1.0
    # without the registration the same plan gates honestly
    with pytest.raises(Exception, match="register"):
        mm.decode_media(media, use_real_codec=True).collect()
