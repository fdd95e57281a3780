"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed via Arrow-batched ``mapInPandas``.

Extension surface (SURVEY.md section 2.10 north star). Every modality
decodes for real through bundled pure-NumPy codecs, no
PIL/torchaudio/pyav needed: IMAGES via ``functions.imagecodec``
(uncompressed 24-bit BMP + binary PPM), AUDIO via
``functions.audiocodec`` (PCM WAV), VIDEO via ``functions.videocodec``
(YUV4MPEG2). Compressed formats (JPEG/PNG/MP3/H.264/…) raise
NotImplementedError at the first batch unless a decoder is plugged in
with ``register_codec`` (bundled JPEG/PNG/GIF decoders ship for that
seam).

Audio (``decode_audio``, ``audio_fingerprint``, ``audio_near_dups``),
video (``sample_frames``, ``scene_changes``) and ``resize_images`` have
only the real path. The image stats/hash operators (``decode_media``,
``image_phash``, ``image_near_dups``) keep a second one: by default
they derive the stats or the dHash tile from md5s of the payload
bytes. That path is what the registry's ``media_decode_stats`` and
``media_phash_near_dups`` run, because their DuckDB twins recompute the
same md5 tile in SQL; ``use_real_codec=True`` decodes the pixels.

Scale notes: payloads never pass through Python row-at-a-time; mapInPandas
streams Arrow record batches, so executor memory is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` × mean payload size. At
100 TB, process media columns in their own stage (project payload +
media_id only, join features back by id) so Tungsten doesn't carry blobs
through shuffles.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), True),       # image | audio | video
    T.StructField("payload", T.BinaryType(), True),    # opaque encoded bytes
    T.StructField("meta", T.StructType([
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]), True),
])

IMAGE_FEATURE_DIM = 16

_DECODE_SCHEMA = (
    "media_id long, kind string, width int, height int, "
    "n_bytes long, mean_byte double, payload_sha string"
)

_FEATURE_SCHEMA = f"media_id long, feature array<double>"

_FRAME_SCHEMA = "media_id long, frame_idx int, frame_ts_ms int, frame_sha string"


# ----------------------------------------------------------------------
# External-codec plug-in seam. The bundled pure-NumPy codecs cover the
# UNCOMPRESSED formats (BMP/PPM/WAV/YUV4MPEG2); compressed formats need
# libraries this container doesn't ship (PIL, libav). register_codec
# lets a real cluster plug them in without touching this module:
#
#     from PIL import Image; import io, numpy as np
#     register_codec("jpeg", lambda b: np.asarray(Image.open(io.BytesIO(b))))
#
# decode_fn(payload: bytes) -> np.ndarray of shape (H, W) or (H, W, C),
# dtype uint8. The registry is snapshotted into the mapInPandas closure
# at PLAN BUILD time (module globals mutated on the driver never reach
# the Python workers — the closure is what ships), so register before
# building the plan.
_CODECS: dict[str, object] = {}

# magic-byte sniffers for the common compressed containers
_EXTERNAL_MAGIC: list[tuple[bytes, str]] = [
    (b"\xff\xd8\xff", "jpeg"),
    (b"\x89PNG\r\n\x1a\n", "png"),
    (b"GIF87a", "gif"),
    (b"GIF89a", "gif"),
    (b"RIFF", "riff"),       # AVI/WebP share the RIFF envelope
    (b"ID3", "mp3"),
    (b"\xff\xfb", "mp3"),
    (b"\x00\x00\x00", "mp4"),  # ftyp boxes start with a 4-byte length
]


def register_codec(fmt: str, decode_fn) -> None:
    """Register an external decoder for a compressed format (``'jpeg'``,
    ``'png'``, ...). ``decode_fn(payload: bytes)`` must return an
    integer ndarray ``(H, W)`` or ``(H, W, C)`` — uint8, or uint16 for
    deep formats (16-bit PNG). Call BEFORE building the decode plan —
    the registry ships inside the mapInPandas closure."""
    _CODECS[fmt.lower()] = decode_fn


def register_bundled_jpeg_codec() -> None:
    """Plug the bundled pure-NumPy JPEG decoder (functions/jpegcodec,
    ITU-T T.81) into the external-codec seam — a REAL entropy-coded
    format through the same hook a PIL/libav decoder would use, so the
    seam is proven end to end in-container. Handles grayscale AND
    interleaved YCbCr color (4:4:4 / 4:2:2 / 4:2:0), baseline AND
    progressive (SOF2 spectral selection + successive approximation,
    via functions/jpegprogressive); arithmetic-coded/CMYK still raise
    with the feature named."""
    from week5_datingnlp_big_data_spark.functions import jpegcodec

    register_codec("jpeg", jpegcodec.decode_jpeg)


def register_bundled_png_codec() -> None:
    """Plug the bundled PNG decoder (functions/pngcodec: stdlib-zlib
    inflate + spec unfiltering, 8/16-bit gray/RGB/palette/alpha,
    non-interlaced and Adam7) into the external-codec seam. Packed
    sub-byte depths still raise with the feature named."""
    from week5_datingnlp_big_data_spark.functions import pngcodec

    register_codec("png", pngcodec.decode_png)


def register_bundled_gif_codec() -> None:
    """Plug the bundled GIF decoder (functions/gifcodec: variable-width
    LZW, 4-pass interlace, palette compositing; GIF87a/89a) into the
    external-codec seam. Animated GIFs decode as their first frame."""
    from week5_datingnlp_big_data_spark.functions import gifcodec

    register_codec("gif", gifcodec.decode_gif)


def unregister_codec(fmt: str) -> None:
    _CODECS.pop(fmt.lower(), None)


def sniff_external_format(payload: bytes) -> str | None:
    """Magic-byte sniff for formats the bundled codecs DON'T cover."""
    for magic, fmt in _EXTERNAL_MAGIC:
        if payload[: len(magic)] == magic:
            return fmt
    return None


def _fake_pixel_stats(payload: bytes) -> tuple[int, int, float]:
    """Deterministic pseudo-decode: dimensions + mean 'pixel' from the
    payload digest. Stands in for a real codec with stable outputs."""
    d = hashlib.md5(payload).digest()
    width = 64 + d[0] % 192
    height = 64 + d[1] % 192
    mean_byte = float(np.frombuffer(payload, dtype=np.uint8).mean()) if payload else 0.0
    return width, height, mean_byte


def _real_pixel_stats(
    kind: str, payload: bytes, codecs: dict | None = None
) -> tuple[int, int, float]:
    """Real decode for image payloads: bundled codec for BMP/PPM, then a
    ``register_codec``-plugged external decoder for compressed formats;
    everything else stays gated."""
    from week5_datingnlp_big_data_spark.functions import imagecodec

    if kind == "image" and imagecodec.sniff_format(payload):
        img = imagecodec.decode_image(payload)
        return img.shape[1], img.shape[0], float(img.mean())
    ext = sniff_external_format(payload)
    if codecs and ext in codecs:
        # native dtype: a forced uint8 cast would silently truncate
        # 16-bit decodes (pngcodec returns uint16 for depth-16 streams)
        img = np.asarray(codecs[ext](payload))
        return img.shape[1], img.shape[0], float(img.mean())
    raise NotImplementedError(
        f"real decode for kind={kind!r} "
        f"(sniffed format: {ext or 'unknown'}) needs an external codec — "
        "uncompressed BMP/PPM images decode in-container, and BASELINE "
        "grayscale JPEG via register_bundled_jpeg_codec(); plug other "
        "decoders in with multimodal.register_codec(fmt, decode_fn) "
        "BEFORE building the plan (e.g. register_codec('jpeg', "
        "PIL-based fn) for color). Audio has its own real path "
        "(decode_audio, PCM WAV)."
    )


def decode_media(media: DataFrame, use_real_codec: bool = False) -> DataFrame:
    """Decode step: payload → per-item decoded stats. Arrow-batched
    mapInPandas; one output row per input row; blobs dropped on output so
    downstream stages shuffle only scalars. With ``use_real_codec`` the
    width/height/mean come from actually decoded pixels (BMP/PPM)."""

    # snapshot the plug-in registry NOW: module globals mutated on the
    # driver never reach the Python workers, the closure does
    codecs = dict(_CODECS)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if use_real_codec:
                stats = [
                    _real_pixel_stats(k, p if p is not None else b"", codecs)
                    for k, p in zip(pdf["kind"], pdf["payload"])
                ]
            else:
                stats = [
                    _fake_pixel_stats(p if p is not None else b"")
                    for p in pdf["payload"]
                ]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "width": [s[0] for s in stats],
                "height": [s[1] for s in stats],
                "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                "mean_byte": [s[2] for s in stats],
                "payload_sha": [
                    hashlib.sha256(p if p is not None else b"").hexdigest()
                    for p in pdf["payload"]
                ],
            })

    return media.select("media_id", "kind", "payload").mapInPandas(op, _DECODE_SCHEMA)


_AUDIO_SCHEMA = (
    "media_id long, sample_rate int, n_channels int, n_samples long, "
    "duration_ms int, rms double, peak double"
)


def decode_audio(media: DataFrame) -> DataFrame:
    """Audio decode step: payload → per-item waveform stats (sample rate,
    channel/sample counts, duration, RMS and peak amplitude normalized to
    [-1, 1]). The payload is parsed by the bundled pure-NumPy PCM WAV
    codec (``functions.audiocodec``); non-WAV/compressed audio raises at
    the first batch (plug torchaudio or libsndfile there on a real
    cluster). Same scale shape as ``decode_media``: Arrow batches in,
    scalar rows out, blobs never shuffle."""

    def decode(p: bytes) -> tuple[int, int, int, int, float, float]:
        from week5_datingnlp_big_data_spark.functions import audiocodec

        if not audiocodec.sniff_wav(p):
            raise NotImplementedError(
                "real audio decode needs an external codec for non-WAV "
                "payloads — only uncompressed PCM WAV decodes in-container"
            )
        samples, rate = audiocodec.decode_wav(p)
        n_frames, n_ch = samples.shape
        # Normalize to [-1, 1] whatever the container width.
        if samples.dtype == np.uint8:
            x = (samples.astype(np.float64) - 128.0) / 128.0
        else:
            x = samples.astype(np.float64) / float(2 ** (samples.dtype.itemsize * 8 - 1))
        rms = float(np.sqrt((x * x).mean())) if n_frames else 0.0
        peak = float(np.abs(x).max()) if n_frames else 0.0
        dur_ms = int(round(n_frames * 1000 / rate)) if rate else 0
        return rate, n_ch, n_frames, dur_ms, round(rms, 6), round(peak, 6)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            stats = [decode(p if p is not None else b"") for p in pdf["payload"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "sample_rate": [s[0] for s in stats],
                "n_channels": [s[1] for s in stats],
                "n_samples": [s[2] for s in stats],
                "duration_ms": [s[3] for s in stats],
                "rms": [s[4] for s in stats],
                "peak": [s[5] for s in stats],
            })

    return media.select("media_id", "payload").mapInPandas(op, _AUDIO_SCHEMA)


def extract_features(media: DataFrame, dim: int = IMAGE_FEATURE_DIM) -> DataFrame:
    """Feature extraction: payload → fixed-``dim`` float vector
    (md5-seeded deterministic fake of an embedding model). Output is
    joinable back to the media table by media_id."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for p in pdf["payload"]:
                p = p if p is not None else b""
                seed = int.from_bytes(hashlib.md5(p).digest()[:8], "big")
                rng = np.random.default_rng(seed)
                feats.append(rng.standard_normal(dim).round(6).tolist())
            yield pd.DataFrame({"media_id": pdf["media_id"], "feature": feats})

    return media.select("media_id", "payload").mapInPandas(op, _FEATURE_SCHEMA)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling: one output row per sampled frame. The
    payload is parsed by the bundled YUV4MPEG2 codec
    (``functions.videocodec``): frame timestamps come from the stream's
    own frame rate, and ``frame_sha`` hashes the decoded luma plane.
    Compressed containers raise at the first batch (plug pyav/ffmpeg
    there on a real cluster). Non-video rows produce no output."""

    def emit_frames(mid, p: bytes, out) -> None:
        from week5_datingnlp_big_data_spark.functions import videocodec

        if not videocodec.sniff_y4m(p):
            raise NotImplementedError(
                "real frame sampling needs an external codec for compressed "
                "video — only uncompressed YUV4MPEG2 decodes in-container"
            )
        frames, _w, _h, (num, den) = videocodec.decode_y4m(p)
        ms_per_frame = 1000.0 * den / num
        emitted, next_ts = 0, 0.0
        for i, luma in enumerate(frames):
            ts = i * ms_per_frame
            if ts + 1e-9 < next_ts:
                continue
            out["media_id"].append(mid)
            out["frame_idx"].append(emitted)
            out["frame_ts_ms"].append(int(ts))
            out["frame_sha"].append(hashlib.sha256(luma.tobytes()).hexdigest())
            emitted += 1
            next_ts += every_ms

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "frame_ts_ms": [], "frame_sha": []}
            for mid, kind, p in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                if kind == "video":
                    emit_frames(mid, p if p is not None else b"", out)
            yield pd.DataFrame(out)

    return media.select("media_id", "kind", "payload").mapInPandas(op, _FRAME_SCHEMA)


def resize_images(media: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Resize: payload → nearest-neighbour-resized BMP payload with the
    target dims. Decodes with the bundled BMP/PPM codec; any other
    payload (including non-image rows) raises at the first batch —
    exercising the binary-in/binary-out UDF shape end to end."""

    out_schema = (
        "media_id long, kind string, payload binary, "
        "width int, height int"
    )

    def resize(kind: str, payload: bytes) -> bytes:
        from week5_datingnlp_big_data_spark.functions import imagecodec

        if kind == "image" and imagecodec.sniff_format(payload):
            img = imagecodec.decode_image(payload)
            return imagecodec.encode_bmp(
                imagecodec.resize_nearest(img, target_w, target_h)
            )
        raise NotImplementedError(
            f"real resize for kind={kind!r} payload needs an external "
            "codec — only uncompressed BMP/PPM images resize in-container"
        )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "payload": [
                    resize(k, p if p is not None else b"")
                    for k, p in zip(pdf["kind"], pdf["payload"])
                ],
                "width": target_w,
                "height": target_h,
            })

    return media.select("media_id", "kind", "payload").mapInPandas(op, out_schema)


def make_fake_media(spark: SparkSession, n: int = 20, seed: int = 7) -> DataFrame:
    """Deterministic synthetic media table for tests/demos: a third each
    of image/audio/video, every payload a real encoded stream the bundled
    codecs decode — images BMP/PPM alternating (random small dims, random
    pixels), audio PCM WAV (seeded sine + noise), video mono YUV4MPEG2
    (random frames)."""
    from week5_datingnlp_big_data_spark.functions import (
        audiocodec, imagecodec, videocodec,
    )

    rng = np.random.default_rng(seed)
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        if kind == "image":
            w, h = int(rng.integers(4, 33)), int(rng.integers(4, 33))
            img = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
            enc = imagecodec.encode_bmp if i % 2 == 0 else imagecodec.encode_ppm
            payload, mime = enc(img), ("image/bmp" if i % 2 == 0 else "image/x-portable-pixmap")
            meta = {"mime": mime, "width": w, "height": h,
                    "sample_rate": None, "duration_ms": None}
        elif kind == "audio":
            rate = (8000, 16000)[i % 2]
            n_frames = int(rng.integers(rate // 4, rate))  # 0.25-1.0 s
            t = np.arange(n_frames) / rate
            tone = 0.4 * np.sin(2 * np.pi * float(rng.integers(100, 800)) * t)
            wave = ((tone + rng.normal(0, 0.05, n_frames)).clip(-1, 1) * 32767)
            payload = audiocodec.encode_wav(wave.astype(np.int16), rate)
            meta = {"mime": "audio/wav", "width": None, "height": None,
                    "sample_rate": rate,
                    "duration_ms": int(round(n_frames * 1000 / rate))}
        else:
            vw, vh = int(rng.integers(8, 33)), int(rng.integers(8, 33))
            n_frames = int(rng.integers(3, 25))
            fps = (10, 1)
            frames = rng.integers(0, 256, size=(n_frames, vh, vw)).astype(np.uint8)
            payload = videocodec.encode_y4m_mono(frames, fps)
            meta = {
                "mime": "video/x-yuv4mpeg",
                "width": vw,
                "height": vh,
                "sample_rate": None,
                "duration_ms": int(n_frames * 1000 / fps[0]),
            }
        rows.append((i, kind, payload, meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual image hashing (dHash) + Hamming near-dup
# ---------------------------------------------------------------------------

# dHash tile: 8 rows × 9 cols of grayscale block means; each row yields 8
# adjacent-column comparisons → 64 bits. Bit 63 (last comparison of the
# last row) is DROPPED so the fingerprint stays positive in a signed
# BIGINT both engines shift identically (same rationale as
# dedup.BLOOM_BITS_PER_WORD = 63). Mirrored in the registry oracle SQL —
# change together.
PHASH_TILE_ROWS, PHASH_TILE_COLS = 8, 9
PHASH_BITS = 63


def _fake_gray_tile(payload: bytes) -> np.ndarray:
    """Deterministic SQL-twinnable pseudo-decode for the plumbing path:
    tile byte at flat index i is byte (i % 16) of
    md5(hex(md5(payload)) + ':' + str(i // 16)) — five chained md5 calls
    per payload, reproducible in ANSI SQL, so the whole dHash pipeline is
    value-verifiable cross-engine even without a codec."""
    base = hashlib.md5(payload).hexdigest()
    flat = b"".join(
        hashlib.md5(f"{base}:{j}".encode()).digest()
        for j in range((PHASH_TILE_ROWS * PHASH_TILE_COLS + 15) // 16)
    )
    return (
        np.frombuffer(flat[: PHASH_TILE_ROWS * PHASH_TILE_COLS], dtype=np.uint8)
        .reshape(PHASH_TILE_ROWS, PHASH_TILE_COLS)
        .astype(np.float64)
    )


def _real_gray_tile(kind: str, payload: bytes) -> np.ndarray:
    """Real perceptual tile: decode (BMP/PPM), grayscale by channel mean,
    block-mean downsample to 8×9 — the classic dHash front end."""
    from week5_datingnlp_big_data_spark.functions import imagecodec

    if kind != "image" or not imagecodec.sniff_format(payload):
        raise NotImplementedError(
            "real perceptual hash needs a decodable image payload "
            "(uncompressed BMP/PPM in-container; plug PIL in on a cluster)"
        )
    img = imagecodec.decode_image(payload).astype(np.float64)
    gray = img.mean(axis=2)
    h, w = gray.shape
    r_edges = np.linspace(0, h, PHASH_TILE_ROWS + 1).astype(int)
    c_edges = np.linspace(0, w, PHASH_TILE_COLS + 1).astype(int)
    tile = np.empty((PHASH_TILE_ROWS, PHASH_TILE_COLS))
    for r in range(PHASH_TILE_ROWS):
        r0, r1 = r_edges[r], max(r_edges[r + 1], r_edges[r] + 1)
        for c in range(PHASH_TILE_COLS):
            c0, c1 = c_edges[c], max(c_edges[c + 1], c_edges[c] + 1)
            tile[r, c] = gray[r0:r1, c0:c1].mean()
    return tile


def _dhash63(tile: np.ndarray) -> int:
    """Difference hash over the 8×9 tile: bit k (k = r*8 + c, k < 63) set
    iff tile[r, c] < tile[r, c+1]."""
    bits = 0
    for k in range(PHASH_BITS):
        r, c = divmod(k, PHASH_TILE_ROWS)
        if tile[r, c] < tile[r, c + 1]:
            bits |= 1 << k
    return bits


def image_phash(media: DataFrame, use_real_codec: bool = False) -> DataFrame:
    """Per-image 63-bit dHash fingerprint: ``(media_id, phash)``.

    Arrow-batched mapInPandas, blobs dropped on output. With
    ``use_real_codec`` the tile comes from actually decoded pixels
    (BMP/PPM); the default fake tile is md5-derived and SQL-twinnable, so
    the plumbing is oracle-verifiable. Perceptually similar images (crop
    noise, re-encode, slight edits) land within a small Hamming distance —
    the image-side analog of SimHash for text."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for k, p in zip(pdf["kind"], pdf["payload"]):
                p = p if p is not None else b""
                tile = _real_gray_tile(k, p) if use_real_codec else _fake_gray_tile(p)
                hashes.append(_dhash63(tile))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "phash": pd.array(hashes, dtype="int64")}
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        op, "media_id long, phash long"
    )


def image_near_dups(
    media: DataFrame, max_hamming: int = 3, use_real_codec: bool = False
) -> DataFrame:
    """Perceptual image near-dup pairs: dHash fingerprints through the
    generic Hamming pigeonhole join (``dedup.hamming_near_dup_pairs`` —
    block the 63 bits into 16-bit keys, join on block equality, verify
    popcount ≤ max_hamming). Never an n² cross join; the hash table is
    one narrow (id, long) row per image regardless of payload size."""
    from week5_datingnlp_big_data_spark.operators import dedup

    return dedup.hamming_near_dup_pairs(
        image_phash(media, use_real_codec=use_real_codec),
        "phash",
        id_col="media_id",
        max_hamming=max_hamming,
    )


# ---------------------------------------------------------------------------
# Audio spectral fingerprint (Goertzel probe bank) + Hamming near-dup
# ---------------------------------------------------------------------------

# 24 blocks x 8 probe frequencies; the fingerprint is the SYMBOL ARRAY
# of each block's dominant probe (array<int>, values 0..7), and near-dup
# pairing goes through dedup.symbol_near_dup_pairs: m+1 contiguous
# symbol groups, join key = xxhash64 of the WHOLE group, so per-group
# key cardinality is 8^(24/(m+1)) — 8^8 ≈ 1.7e7 at the default m=2 —
# instead of the 256-value cap a fixed 16-bit bit-window would impose
# on a 4-symbol one-hot packing (the round-5 scheme's documented
# quadratic hazard). Candidate pairs stay ~linear in corpus size until
# the corpus approaches the group keyspace; widen AFP_BLOCKS /
# AFP_PROBES (O(1) symbols per decade of corpus) before the corpus.
# Probes sit at fixed fractions of the sample rate so 8 kHz and 16 kHz
# payloads of the same relative tone fingerprint identically.
AFP_BLOCKS, AFP_PROBES = 24, 8
# of sample rate; all < Nyquist, ≥0.03 apart (≥3 cycles of separation
# over a 100-sample block — past the single-bin DFT's leakage lobe)
AFP_PROBE_FRACS = (0.04, 0.07, 0.11, 0.16, 0.22, 0.28, 0.35, 0.43)


def _goertzel_symbols(samples: np.ndarray) -> list[int]:
    """Dominant probe index per block: split the mono waveform into
    AFP_BLOCKS equal blocks and take, per block, the argmax of DFT-bin
    power at the AFP_PROBE_FRACS frequencies (one complex dot product
    per probe — the Goertzel/single-bin-DFT shortcut; Shazam-style
    constellation fingerprints use the same dominant-peak idea). The
    probe frequency is frac*rate, so the exponential e^{-2πi·frac·n}
    is rate-free — 8 kHz and 16 kHz encodings of the same relative
    tone fingerprint identically."""
    x = samples.astype(np.float64)
    if x.ndim == 2:
        x = x.mean(axis=1)
    n = len(x)
    if n == 0:
        return [0] * AFP_BLOCKS
    edges = np.linspace(0, n, AFP_BLOCKS + 1).astype(int)
    out = []
    basis_cache: dict[int, np.ndarray] = {}
    for b in range(AFP_BLOCKS):
        seg = x[edges[b]: max(edges[b + 1], edges[b] + 1)]
        m = len(seg)
        basis = basis_cache.get(m)
        if basis is None:
            # (len, n_probes) single-bin DFT basis; block lengths differ
            # by at most 1, so the cache holds <= 2 entries per clip
            t = np.arange(m)
            basis = np.exp(-2j * np.pi * np.outer(t, AFP_PROBE_FRACS))
            basis_cache[m] = basis
        out.append(int(np.argmax(np.abs(seg @ basis))))
    return out


def audio_fingerprint(media: DataFrame) -> DataFrame:
    """Per-clip spectral fingerprint ``(media_id, afp: array<int>)``:
    AFP_BLOCKS time blocks x the index (0..AFP_PROBES-1) of each
    block's dominant probe frequency. The symbols come from PCM decoded
    by functions/audiocodec through the Goertzel probe bank —
    amplitude-invariant (argmax of linearly scaled powers) and
    rate-invariant (probes are fractions of the sample rate); non-WAV
    payloads raise at the first batch. Arrow-batched mapInPandas, blobs
    dropped on output — the audio-side analog of image_phash. The
    symbol-array form (not a packed bit signature) feeds
    dedup.symbol_near_dup_pairs' group-hash pigeonhole, whose join-key
    entropy grows with the fingerprint width."""
    from week5_datingnlp_big_data_spark.functions import audiocodec

    def symbols(k: str, p: bytes) -> list[int]:
        if k != "audio" or not audiocodec.sniff_wav(p):
            raise NotImplementedError(
                "real audio fingerprint needs a PCM WAV payload "
                "(compressed formats: plug a codec in via "
                "register_codec on a real cluster)"
            )
        samples, _rate = audiocodec.decode_wav(p)
        return _goertzel_symbols(samples)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs = [
                symbols(k, p if p is not None else b"")
                for k, p in zip(pdf["kind"], pdf["payload"])
            ]
            yield pd.DataFrame({"media_id": pdf["media_id"], "afp": sigs})

    return media.select("media_id", "kind", "payload").mapInPandas(
        op, "media_id long, afp array<int>"
    )


def audio_near_dups(media: DataFrame, max_block_mismatch: int = 2) -> DataFrame:
    """Audio near-dup pairs: spectral symbol-array fingerprints through
    the group-hash pigeonhole join (dedup.symbol_near_dup_pairs):
    max_block_mismatch+1 contiguous symbol groups, join key =
    xxhash64(group_idx, whole group), exact mismatch-count verify.
    Output ``(id_a, id_b, n_mismatch)`` with n_mismatch ≤
    ``max_block_mismatch``.

    Scale: per-group key cardinality is AFP_PROBES^(AFP_BLOCKS/(m+1))
    — 8^8 ≈ 1.7e7 at the default m=2 — so candidate pairs stay
    ~linear in corpus size (the round-5 one-hot/bit-window scheme
    capped every join key at 256 values, growing candidates ~n²/256).
    Never an n² cross join; the candidate table is one narrow
    (id, array<int>) row per clip regardless of payload size. The
    mismatch guard keeps every pigeonhole group ≥3 symbols so the
    group keyspace never degrades below alphabet³."""
    if (max_block_mismatch + 1) > AFP_BLOCKS // 3:
        raise ValueError(
            "max_block_mismatch too wide: pigeonhole groups need >= 3 "
            "symbols each to keep join-key entropy"
        )
    from week5_datingnlp_big_data_spark.operators import dedup

    return dedup.symbol_near_dup_pairs(
        audio_fingerprint(media),
        "afp",
        n_symbols=AFP_BLOCKS,
        id_col="media_id",
        max_mismatch=max_block_mismatch,
    )


# ---------------------------------------------------------------------------
# Video temporal segmentation: scene-change detection over luma frames
# ---------------------------------------------------------------------------

def scene_changes(media: DataFrame, threshold: float = 25.0) -> DataFrame:
    """Per-video temporal segmentation stats: decode the frame stream,
    compute the mean absolute luma difference between consecutive
    frames, and count cuts (diff > ``threshold`` of 255) — the
    shot-boundary pass a video training pipeline runs before
    scene-level sampling/dedup. Output one row per video:
    ``(media_id, n_frames, n_cuts, mean_diff, max_diff)``.

    Frames come from the bundled YUV4MPEG2 decoder (functions/videocodec);
    other payloads raise at the first batch. Arrow-batched mapInPandas;
    payloads never leave the stage (only the 5 stat columns ship), so
    executor memory is bounded by the Arrow batch size x payload size,
    not the corpus."""
    from week5_datingnlp_big_data_spark.functions import videocodec

    def frame_diffs(k: str, p: bytes) -> tuple[int, np.ndarray]:
        """(n_frames, per-boundary mean-abs luma diffs)."""
        if k != "video" or not videocodec.sniff_y4m(p):
            raise NotImplementedError(
                "real scene detection needs a YUV4MPEG2 payload "
                "(compressed formats: plug a codec in via "
                "register_codec on a real cluster)"
            )
        frames, _w, _h, _fps = videocodec.decode_y4m(p)
        if len(frames) < 2:
            return len(frames), np.empty(0)
        stack = np.stack([f.astype(np.float64) for f in frames])
        return len(frames), np.abs(stack[1:] - stack[:-1]).mean(axis=(1, 2))

    def diffs(k: str, p: bytes) -> tuple[int, int, float, float]:
        n, d = frame_diffs(k, p)
        if len(d) == 0:
            return n, 0, 0.0, 0.0
        return (
            n,
            int((d > threshold).sum()),
            round(float(d.mean()), 6),
            round(float(d.max()), 6),
        )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                diffs(k, p if p is not None else b"")
                for k, p in zip(pdf["kind"], pdf["payload"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_frames": pd.array([r[0] for r in rows], dtype="int64"),
                    "n_cuts": pd.array([r[1] for r in rows], dtype="int64"),
                    "mean_diff": [r[2] for r in rows],
                    "max_diff": [r[3] for r in rows],
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        op,
        "media_id long, n_frames long, n_cuts long, "
        "mean_diff double, max_diff double",
    )
