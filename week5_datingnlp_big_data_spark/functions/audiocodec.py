"""Pure-NumPy audio codec for UNCOMPRESSED PCM WAV (RIFF/WAVE).

Container-friendly "real codec" behind ``multimodal.decode_audio`` and
``audio_fingerprint`` — no torchaudio/libsndfile needed: canonical WAV
is a RIFF chunk list with a fixed-layout ``fmt `` chunk and raw little-
endian PCM frames in ``data``, so decode/encode is header parsing + one
vectorized reshape (public format: Microsoft/IBM RIFF spec, WAVE format
category).

Supports PCM (format tag 1) at 8/16/32 bits per sample, any channel
count. Compressed codecs (MP3/AAC/float WAV extensions) stay behind the
NotImplementedError gate in ``multimodal``.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["sniff_wav", "decode_wav", "encode_wav"]

_PCM_DTYPES = {8: np.uint8, 16: np.dtype("<i2"), 32: np.dtype("<i4")}


def sniff_wav(payload: bytes) -> bool:
    """True when the payload is a RIFF/WAVE container."""
    return len(payload) >= 12 and payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode a PCM WAV payload into ``(samples, sample_rate)`` where
    ``samples`` is an (n_frames, n_channels) int array in the container's
    native width (uint8 for 8-bit, int16/int32 otherwise). Raises
    ValueError on non-RIFF or non-PCM payloads — callers gate on
    :func:`sniff_wav`."""
    if not sniff_wav(payload):
        raise ValueError("not a RIFF/WAVE payload")
    pos, end = 12, min(len(payload), 8 + struct.unpack_from("<I", payload, 4)[0])
    fmt = data = None
    while pos + 8 <= end:
        cid, size = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    tag, n_ch, rate, _brate, _align, bits = struct.unpack_from("<HHIIHH", fmt, 0)
    if tag != 1:
        raise ValueError(f"only PCM WAV supported (format tag {tag})")
    if bits not in _PCM_DTYPES:
        raise ValueError(f"unsupported PCM width: {bits} bits")
    if n_ch == 0:
        raise ValueError("WAV declares zero channels")
    arr = np.frombuffer(data, dtype=_PCM_DTYPES[bits])
    n_frames = len(arr) // n_ch
    return arr[: n_frames * n_ch].reshape(n_frames, n_ch), rate


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Encode an (n_frames,) or (n_frames, n_channels) uint8/int16/int32
    array as canonical PCM WAV bytes (round-trips through
    :func:`decode_wav` bit-exactly)."""
    arr = np.asarray(samples)
    if arr.ndim == 1:
        arr = arr[:, None]
    bits = arr.dtype.itemsize * 8
    # Kind+width check, not just width: float32 shares itemsize with
    # int32 and would silently truncate every normalized sample to 0;
    # int8 would wrap into uint8, uint16/uint32 into the signed types.
    # Callers with float waveforms must quantize first.
    ok = (bits == 8 and arr.dtype.kind == "u") or (
        bits in (16, 32) and arr.dtype.kind == "i"
    )
    if not ok:
        raise ValueError(f"unsupported sample dtype: {arr.dtype}")
    arr = arr.astype(_PCM_DTYPES[bits], copy=False)
    n_frames, n_ch = arr.shape
    data = arr.tobytes()
    block_align = n_ch * bits // 8
    fmt = struct.pack(
        "<HHIIHH", 1, n_ch, sample_rate, sample_rate * block_align, block_align, bits
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body
