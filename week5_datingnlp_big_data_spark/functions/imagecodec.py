"""Pure-NumPy image codec for UNCOMPRESSED formats: 24-bit BI_RGB BMP and
binary PPM (P6). This is the container-friendly "real codec" behind
``multimodal.decode_media(use_real_codec=True)`` — no PIL/libav needed:
both formats are raster dumps with fixed headers, so decode/encode is
header parsing + one vectorized reshape.

Public formats only (Windows BITMAPINFOHEADER layout; netpbm P6 spec).
Compressed formats (JPEG/PNG/…) still require an external codec and stay
behind the NotImplementedError gate in ``multimodal``.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "decode_image",
    "encode_bmp",
    "encode_ppm",
    "repeat_tile",
    "resize_nearest",
    "sniff_format",
]


def sniff_format(payload: bytes) -> str | None:
    """'bmp' | 'ppm' | None by magic bytes."""
    if payload[:2] == b"BM":
        return "bmp"
    if payload[:2] == b"P6":
        return "ppm"
    return None


def decode_image(payload: bytes) -> np.ndarray:
    """Decode BMP (24-bit uncompressed, bottom-up or top-down) or PPM (P6,
    maxval 255) into an (h, w, 3) uint8 RGB array. Raises ValueError on
    anything else — callers gate on :func:`sniff_format`."""
    fmt = sniff_format(payload)
    if fmt == "bmp":
        return _decode_bmp(payload)
    if fmt == "ppm":
        return _decode_ppm(payload)
    raise ValueError("unsupported image payload (need 24-bit BMP or P6 PPM)")


def _decode_bmp(payload: bytes) -> np.ndarray:
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    header_size = struct.unpack_from("<I", payload, 14)[0]
    width, height = struct.unpack_from("<ii", payload, 18)
    planes, bitcount = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if header_size < 40 or planes != 1 or bitcount != 24 or compression != 0:
        raise ValueError(
            f"unsupported BMP (header={header_size}, bpp={bitcount}, "
            f"compression={compression}); only 24-bit BI_RGB is implemented"
        )
    bottom_up = height > 0
    h, w = abs(height), width
    if w <= 0 or h <= 0:
        raise ValueError("non-positive BMP dimensions")
    stride = (w * 3 + 3) // 4 * 4  # rows padded to 4 bytes
    need = data_offset + stride * h
    if len(payload) < need:
        raise ValueError("truncated BMP pixel data")
    raw = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=data_offset)
    rows = raw.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[..., ::-1].copy()  # BGR -> RGB


def _decode_ppm(payload: bytes) -> np.ndarray:
    # Header: "P6" <ws> width <ws> height <ws> maxval <single ws> raster.
    # Comments (#...) allowed in the header per the netpbm spec.
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PPM header")
        fields.append(int(payload[start:pos]))
    pos += 1  # exactly one whitespace byte before the raster
    w, h, maxval = fields
    if maxval != 255 or w <= 0 or h <= 0:
        raise ValueError("only 8-bit P6 PPM with positive dims is implemented")
    need = w * h * 3
    if len(payload) - pos < need:
        raise ValueError("truncated PPM raster")
    return (
        np.frombuffer(payload, dtype=np.uint8, count=need, offset=pos)
        .reshape(h, w, 3)
        .copy()
    )


def encode_bmp(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> 24-bit BI_RGB BMP bytes (bottom-up)."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("expected (h, w, 3) RGB array")
    h, w = img.shape[:2]
    stride = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    pixel_bytes = rows.tobytes()
    file_header = struct.pack("<2sIHHI", b"BM", 54 + len(pixel_bytes), 0, 0, 54)
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_bytes), 2835, 2835, 0, 0
    )
    return file_header + info_header + pixel_bytes


def encode_ppm(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> binary P6 PPM bytes."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("expected (h, w, 3) RGB array")
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + img.tobytes()


def resize_nearest(img: np.ndarray, target_w: int, target_h: int) -> np.ndarray:
    """Nearest-neighbor resize via index maps — the standard pixel-center
    mapping (src = floor((dst + 0.5) * scale))."""
    h, w = img.shape[:2]
    ys = np.minimum(((np.arange(target_h) + 0.5) * h / target_h).astype(np.int64), h - 1)
    xs = np.minimum(((np.arange(target_w) + 0.5) * w / target_w).astype(np.int64), w - 1)
    return img[ys][:, xs]


def repeat_tile(raw: bytes, w: int, max_h: int, channels: int = 1) -> np.ndarray:
    """Synthetic uint8 raster from a byte string: ``raw`` (non-empty)
    repeated cyclically into ``h`` rows of ``w`` pixels, where
    ``h = max(1, min(len(raw) // w, max_h))``. Shape ``(h, w)`` for one
    channel, ``(h, w, channels)`` otherwise."""
    h = max(1, min(len(raw) // w, max_h))
    need = w * h * channels
    buf = (raw * (need // len(raw) + 1))[:need]
    tile = np.frombuffer(buf, dtype=np.uint8)
    return tile.reshape((h, w) if channels == 1 else (h, w, channels))
