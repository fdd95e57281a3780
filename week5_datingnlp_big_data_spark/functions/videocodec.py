"""Pure-NumPy video codec for UNCOMPRESSED YUV4MPEG2 (.y4m) streams.

Container-friendly "real codec" behind ``multimodal.sample_frames`` and
``scene_changes`` — no pyav/ffmpeg needed: y4m is a plain-text
stream header (``YUV4MPEG2 W<w> H<h> F<num>:<den> ...``) followed by
``FRAME`` records of raw planar YCbCr data (public format: the mjpegtools
YUV4MPEG2 spec). Decode is header parsing + one reshape per frame.

Supports C420 (default, 4:2:0 chroma) and C444 layouts plus Cmono
(luma only). Compressed codecs (H.264/VP9/…) stay behind the
NotImplementedError gate in ``multimodal``.
"""

from __future__ import annotations

import numpy as np

__all__ = ["sniff_y4m", "decode_y4m", "encode_y4m_mono"]

_MAGIC = b"YUV4MPEG2"


def sniff_y4m(payload: bytes) -> bool:
    """True when the payload is a YUV4MPEG2 stream."""
    return payload[:9] == _MAGIC


def _frame_size(w: int, h: int, colorspace: str) -> int:
    if colorspace in ("420", "420jpeg", "420mpeg2", "420paldv"):
        return w * h + 2 * ((w // 2) * (h // 2))
    if colorspace == "444":
        return 3 * w * h
    if colorspace == "mono":
        return w * h
    raise ValueError(f"unsupported y4m colorspace: C{colorspace}")


def decode_y4m(payload: bytes) -> tuple[list[np.ndarray], int, int, tuple[int, int]]:
    """Decode a YUV4MPEG2 payload into ``(luma_frames, width, height,
    (fps_num, fps_den))`` where each luma frame is an (h, w) uint8 array
    (the Y plane — chroma is parsed and skipped; luma carries the
    structure every frame-level feature here needs). Raises ValueError on
    non-y4m payloads — callers gate on :func:`sniff_y4m`."""
    if not sniff_y4m(payload):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = payload.index(b"\n")
    header = payload[:nl].decode("ascii", errors="replace")
    w = h = None
    fps = (25, 1)
    colorspace = "420"
    for tok in header.split()[1:]:
        if tok[0] == "W":
            w = int(tok[1:])
        elif tok[0] == "H":
            h = int(tok[1:])
        elif tok[0] == "F":
            num, den = tok[1:].split(":")
            fps = (int(num), int(den))
        elif tok[0] == "C":
            colorspace = tok[1:]
    if not w or not h:
        raise ValueError("y4m header missing W/H")
    fsize = _frame_size(w, h, colorspace)
    frames: list[np.ndarray] = []
    pos = nl + 1
    while pos < len(payload):
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at byte {pos}")
        fnl = payload.index(b"\n", pos)
        data = payload[fnl + 1 : fnl + 1 + fsize]
        if len(data) < fsize:
            raise ValueError("truncated y4m frame")
        luma = np.frombuffer(data[: w * h], dtype=np.uint8).reshape(h, w)
        frames.append(luma)
        pos = fnl + 1 + fsize
    return frames, w, h, fps


def encode_y4m_mono(frames: np.ndarray, fps: tuple[int, int] = (25, 1)) -> bytes:
    """Encode an (n, h, w) uint8 luma array as a Cmono YUV4MPEG2 stream
    (round-trips through :func:`decode_y4m` bit-exactly)."""
    arr = np.asarray(frames)
    if arr.ndim != 3 or arr.dtype != np.uint8:
        raise ValueError("need (n_frames, h, w) uint8 luma array")
    n, h, w = arr.shape
    out = [f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 Cmono\n".encode("ascii")]
    for i in range(n):
        out.append(b"FRAME\n")
        out.append(arr[i].tobytes())
    return b"".join(out)
