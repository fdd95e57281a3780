"""Pure-NumPy BASELINE JPEG codec (ITU-T T.81): a real compressed-format
codec for the ``multimodal.register_codec`` plug-in seam — proving the
seam with an actual entropy-coded format instead of a stub. Everything
here is from the public JPEG specification (ITU-T T.81 / ISO 10918-1)
and JFIF (ITU-T T.871): Annex K quantization + Huffman tables, §F
entropy coding, §A.3.3 DCT, JFIF/BT.601 YCbCr color conversion.

Scope (honest): BASELINE sequential DCT, 8-bit, grayscale AND
interleaved YCbCr color with 4:4:4 / 4:2:2 / 4:2:0 chroma subsampling —
the format the overwhelming majority of real crawl JPEGs use.
Progressive (SOF2), arithmetic coding, 12-bit precision, >2x sampling
factors, and non-interleaved multi-scan streams raise
NotImplementedError with the feature named — plug PIL in for those.
The encoders exist so the decoder is testable end to end in-container
(encode → decode round-trips within quantization + color-convert error;
at quality 100 the quant tables are all-ones).

Rounding ties: every np.round here rounds half to even. Grayscale
samples and dequantized coefficients are integers, and then many DCT
outputs are exact .5 ties (the four u, v ∈ {0, 4} coefficients are
exact multiples of 1/8). The float product ``A @ block @ A.T`` lands an
ulp either side of such a tie, and which side depends on the BLAS
kernel. So the grayscale paths (the baseline and progressive encoders'
quantization and both decoders' pixels) take every rational transform
output from exact integer arithmetic (_fdct / _idct with ``exact``):
an exact tie rounds to even on any host. Irrational outputs are never
ties and keep the float product. Color planes are float YCbCr and keep
the float product throughout.

Performance note: entropy decode is a Python bit reader — fine for the
Arrow-batched test media this engine ships (tiny tiles), and the
decode-per-payload shape is exactly what a C codec would slot into via
register_codec on a real cluster.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "decode_jpeg",
    "decode_jpeg_gray",
    "encode_jpeg_color",
    "encode_jpeg_gray",
    "sniff_jpeg",
]

# ---------------------------------------------------------------- tables
# ITU-T T.81 Annex K.1 — luminance quantization table (natural order).
QTABLE_LUM = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int64)

# Annex K.2 — chrominance quantization table (natural order).
QTABLE_CHROM = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.int64)

# Annex K.3.1 — luminance DC: BITS (codes per length 1..16) + HUFFVAL.
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))

# Annex K.3.3 — chrominance DC.
DC_BITS_C = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_VALS_C = list(range(12))

# Annex K.3.4 — chrominance AC.
AC_BITS_C = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_VALS_C = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# Annex K.3.2 — luminance AC.
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# §A.3.6 zigzag: ZIGZAG[k] = (row, col) of the k-th coefficient.
# Odd anti-diagonals run top-right → bottom-left (row ascending), even
# ones bottom-left → top-right (col ascending), giving the spec
# sequence 0,1,8,16,9,2,3,10,... in natural (row-major) indices.
def _zigzag_order() -> list[tuple[int, int]]:
    order = sorted(
        ((r, c) for r in range(8) for c in range(8)),
        key=lambda rc: (rc[0] + rc[1],
                        rc[0] if (rc[0] + rc[1]) % 2 else rc[1]),
    )
    return order


ZIGZAG = _zigzag_order()

# Orthonormal DCT-II basis: A @ block @ A.T = DCT, A.T @ coef @ A = IDCT.
def _dct_matrix() -> np.ndarray:
    k = np.arange(8)
    a = np.sqrt(2.0 / 8.0) * np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16.0)
    a[0, :] = np.sqrt(1.0 / 8.0)
    return a


DCT_A = _dct_matrix()


# Exact 2-D DCT of integer blocks, in integer coordinates over the basis
# cos(jπ/16), j = 0..7 (linearly independent over Q: cos(jπ/16) is a
# degree-j polynomial in cos(π/16), whose minimal polynomial has degree
# 8). A[u, x]·A[v, y] = Σ_j _DCT_COORDS[8x+y, 8u+v, j]·cos(jπ/16) / 32,
# so an output is rational exactly when its coordinates j ≥ 1 vanish.
# Stored as float64 for the BLAS matmul: entries are integers of size
# ≤ 4, so for integer inputs below 2^45 in size every product and
# partial sum is an integer below 2^53, exact in any summation order.
def _dct_coords() -> np.ndarray:
    t = np.zeros((8, 8, 8, 8, 8))                       # x, y, u, v, j
    for x, y, u, v in np.ndindex(8, 8, 8, 8):
        a, b = (2 * x + 1) * u, (2 * y + 1) * v
        if u and v:        # (1/4)·cos a·cos b
            terms, w = (a - b, a + b), 4
        elif u or v:       # (√2/8)·cos a·cos b, with √2 = 2·cos(4π/16)
            terms, w = (a - b - 4, a - b + 4, a + b - 4, a + b + 4), 2
        else:              # 1/8
            terms, w = (0, 0), 2
        for m in terms:
            m = min(m % 32, -m % 32)                      # cos even, 2π-periodic
            if m < 8:
                t[x, y, u, v, m] += w
            elif m > 8:                                   # cos(π − θ) = −cos θ
                t[x, y, u, v, 16 - m] -= w
    return t.reshape(64, 64 * 8)


_DCT_COORDS = _dct_coords()
_IDCT_COORDS = (
    _DCT_COORDS.reshape(64, 64, 8).transpose(1, 0, 2).reshape(64, 64 * 8)
)


def _exact_rationals(out: np.ndarray, block: np.ndarray, coords) -> np.ndarray:
    """``out``, the float transform of the integer-valued 8x8 ``block``,
    with each rational output replaced by its exact value. Exact ties of
    a later np.round are all rational, so they then round to even
    whatever BLAS kernel computed ``out``."""
    c = (block.reshape(64) @ coords).reshape(8, 8, 8)
    return np.where(c[..., 1:].any(axis=-1), out, c[..., 0] / 32.0)


def _fdct(block: np.ndarray, exact: bool = False) -> np.ndarray:
    """2-D DCT of one level-shifted 8x8 block; ``exact`` for
    integer-valued samples (see the module docstring's tie rule)."""
    out = DCT_A @ block @ DCT_A.T
    return _exact_rationals(out, block, _DCT_COORDS) if exact else out


def _idct(coef: np.ndarray, exact: bool = False) -> np.ndarray:
    """2-D inverse DCT of one dequantized 8x8 block (not level-shifted);
    ``exact`` as for _fdct."""
    out = DCT_A.T @ coef @ DCT_A
    return _exact_rationals(out, coef, _IDCT_COORDS) if exact else out


def sniff_jpeg(payload: bytes) -> bool:
    return len(payload) >= 3 and payload[:3] == b"\xff\xd8\xff"


def _scale_qtable(base: np.ndarray, quality: int) -> np.ndarray:
    # IJG quality scaling (public libjpeg convention).
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    tbl = (base * scale + 50) // 100
    return np.clip(tbl, 1, 255).astype(np.int64)


def _quality_table(quality: int) -> np.ndarray:
    return _scale_qtable(QTABLE_LUM, quality)


def _quality_table_chroma(quality: int) -> np.ndarray:
    return _scale_qtable(QTABLE_CHROM, quality)


def _build_huffman(bits: list[int], vals: list[int]):
    """(symbol -> (code, length), (length, code) -> symbol) per §C.2."""
    enc, dec = {}, {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            enc[vals[i]] = (code, length)
            dec[(length, code)] = vals[i]
            code += 1
            i += 1
        code <<= 1
    return enc, dec


DC_ENC, DC_DEC = _build_huffman(DC_BITS, DC_VALS)
AC_ENC, AC_DEC = _build_huffman(AC_BITS, AC_VALS)
DC_ENC_C, DC_DEC_C = _build_huffman(DC_BITS_C, DC_VALS_C)
AC_ENC_C, AC_DEC_C = _build_huffman(AC_BITS_C, AC_VALS_C)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:          # §F.1.2.3 byte stuffing
                self.out.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def read_bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy stream truncated")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data):
                    raise ValueError("JPEG entropy stream truncated at 0xFF")
                marker = self.data[self.pos]
                self.pos += 1
                if marker != 0x00:  # stuffing removed; RST handled by caller
                    raise ValueError(f"unexpected marker 0xFF{marker:02X} in scan")
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def read_bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.read_bit()
        return v

    def read_symbol(self, table: dict) -> int:
        code, length = 0, 0
        while length <= 16:
            code = (code << 1) | self.read_bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in JPEG scan")


def _magnitude(v: int) -> tuple[int, int]:
    """(category, value-bits) per §F.1.2.1."""
    s = int(abs(v)).bit_length()
    bits = v if v >= 0 else v + (1 << s) - 1
    return s, bits


def _extend(bits: int, s: int) -> int:
    """Inverse of _magnitude per §F.2.2.1."""
    if s == 0:
        return 0
    return bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1


def _encode_block(bw, block, qtbl, dc_enc, ac_enc, prev_dc: int,
                  exact: bool = False) -> int:
    """DCT → quantize → zigzag → Huffman one 8x8 block (level-shifted
    input); returns the new DC predictor."""
    q = np.round(_fdct(block - 128.0, exact) / qtbl).astype(np.int64)
    seq = [int(q[r, c]) for r, c in ZIGZAG]
    s, bits_v = _magnitude(seq[0] - prev_dc)
    code, length = dc_enc[s]
    bw.write(code, length)
    if s:
        bw.write(bits_v, s)
    run = 0
    last_nz = max((i for i in range(1, 64) if seq[i]), default=0)
    for i in range(1, last_nz + 1):
        v = seq[i]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_enc[0xF0]                   # ZRL
            bw.write(code, length)
            run -= 16
        s, bits_v = _magnitude(v)
        code, length = ac_enc[(run << 4) | s]
        bw.write(code, length)
        bw.write(bits_v, s)
        run = 0
    if last_nz < 63:
        code, length = ac_enc[0x00]                       # EOB
        bw.write(code, length)
    return seq[0]


def encode_jpeg_gray(
    img: np.ndarray, quality: int = 90, restart_interval: int = 0
) -> bytes:
    """Encode an (h, w) uint8 array as a baseline grayscale JFIF stream
    (single component, Annex K Huffman tables). ``restart_interval`` > 0
    emits a DRI segment and RST markers every N MCUs (§B.2.4.4 /
    §E.2.4) — restart markers are how real encoders bound error
    propagation, and they exercise the decoder's resynchronization
    path."""
    arr = np.asarray(img)
    if arr.ndim != 2 or arr.dtype != np.uint8:
        raise ValueError("need an (h, w) uint8 grayscale array")
    h, w = arr.shape
    if h == 0 or w == 0:
        raise ValueError("empty image")
    qtbl = _quality_table(quality)
    ph, pw = -h % 8, -w % 8
    padded = np.pad(arr, ((0, ph), (0, pw)), mode="edge").astype(np.float64)
    out = bytearray()
    out += b"\xff\xd8"                                   # SOI
    # DQT (one 8-bit table, id 0), zigzag order
    zz = bytes(int(qtbl[r, c]) for r, c in ZIGZAG)
    out += b"\xff\xdb" + struct.pack(">HB", 2 + 1 + 64, 0x00) + zz
    # SOF0: 8-bit precision, 1 component (id 1, sampling 1x1, qtable 0)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3, 8, h, w, 1)
    out += struct.pack("BBB", 1, 0x11, 0)
    # DHT: DC table class 0 id 0, AC table class 1 id 0
    for cls, bits, vals in ((0, DC_BITS, DC_VALS), (1, AC_BITS, AC_VALS)):
        body = bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">HB", 2 + 1 + len(body), cls << 4) + body
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS: 1 component, DC/AC table 0, spectral 0..63
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2, 1)
    out += struct.pack("BBBBB", 1, 0x00, 0, 63, 0)
    bw = _BitWriter()
    prev_dc = 0
    mcu = 0
    rst = 0
    for by in range(0, padded.shape[0], 8):
        for bx in range(0, padded.shape[1], 8):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.flush()
                out += bw.out
                out += bytes((0xFF, 0xD0 + rst))
                rst = (rst + 1) % 8
                bw = _BitWriter()
                prev_dc = 0
            mcu += 1
            prev_dc = _encode_block(
                bw, padded[by:by + 8, bx:bx + 8], qtbl, DC_ENC, AC_ENC, prev_dc,
                exact=True,
            )
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"                                   # EOI
    return bytes(out)


# JFIF / ITU-R BT.601 full-range color conversion (ITU-T T.871 §7).
def _rgb_to_ycbcr(rgb: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    r, g, b = (rgb[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b
    return y, cb, cr


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136286 * (cb - 128.0) - 0.714136286 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


_SUBSAMPLING = {"4:4:4": (1, 1), "4:2:2": (2, 1), "4:2:0": (2, 2)}


def encode_jpeg_color(
    img: np.ndarray,
    quality: int = 90,
    subsampling: str = "4:2:0",
    restart_interval: int = 0,
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an interleaved baseline
    YCbCr JFIF stream: luma with sampling (sh, sv) per ``subsampling``
    ('4:4:4' | '4:2:2' | '4:2:0'), chroma 1x1 box-averaged, Annex K
    luma/chroma quant + Huffman tables, optional DRI/RSTn restarts."""
    arr = np.asarray(img)
    if arr.ndim != 3 or arr.shape[2] != 3 or arr.dtype != np.uint8:
        raise ValueError("need an (h, w, 3) uint8 RGB array")
    if subsampling not in _SUBSAMPLING:
        raise ValueError(f"subsampling must be one of {sorted(_SUBSAMPLING)}")
    sh, sv = _SUBSAMPLING[subsampling]
    h, w = arr.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    y, cb, cr = _rgb_to_ycbcr(arr)
    # pad full-res planes to whole MCUs (8*sh x 8*sv pixels), then
    # box-average chroma down to its (multiple-of-8) plane
    ph, pw = -h % (8 * sv), -w % (8 * sh)
    pad = lambda p: np.pad(p, ((0, ph), (0, pw)), mode="edge")  # noqa: E731
    y, cb, cr = pad(y), pad(cb), pad(cr)
    fh, fw = y.shape
    if (sh, sv) != (1, 1):
        cb = cb.reshape(fh // sv, sv, fw // sh, sh).mean(axis=(1, 3))
        cr = cr.reshape(fh // sv, sv, fw // sh, sh).mean(axis=(1, 3))
    q_lum, q_chr = _quality_table(quality), _quality_table_chroma(quality)

    out = bytearray()
    out += b"\xff\xd8"                                    # SOI
    # APP0 JFIF header (T.871): version 1.1, no density, no thumbnail
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + \
        struct.pack(">HHBB", 1, 1, 0, 0)
    for tid, tbl in ((0, q_lum), (1, q_chr)):             # DQT x2
        zz = bytes(int(tbl[r, c]) for r, c in ZIGZAG)
        out += b"\xff\xdb" + struct.pack(">HB", 2 + 1 + 64, tid) + zz
    # SOF0: 3 components — Y id1 (sh,sv) qt0; Cb id2 1x1 qt1; Cr id3 1x1 qt1
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 9, 8, h, w, 3)
    out += struct.pack("BBB", 1, (sh << 4) | sv, 0)
    out += struct.pack("BBB", 2, 0x11, 1)
    out += struct.pack("BBB", 3, 0x11, 1)
    for cls_id, bits, vals in (
        (0x00, DC_BITS, DC_VALS), (0x10, AC_BITS, AC_VALS),
        (0x01, DC_BITS_C, DC_VALS_C), (0x11, AC_BITS_C, AC_VALS_C),
    ):
        body = bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">HB", 2 + 1 + len(body), cls_id) + body
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS: 3 components — Y tables 0/0, Cb and Cr tables 1/1
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * 3, 3)
    out += struct.pack("BB", 1, 0x00) + struct.pack("BB", 2, 0x11)
    out += struct.pack("BB", 3, 0x11) + struct.pack("BBB", 0, 63, 0)

    mcux, mcuy = fw // (8 * sh), fh // (8 * sv)
    bw = _BitWriter()
    dc = [0, 0, 0]
    rst = 0
    for mcu in range(mcux * mcuy):
        if restart_interval and mcu and mcu % restart_interval == 0:
            bw.flush()
            out += bw.out
            out += bytes((0xFF, 0xD0 + rst))
            rst = (rst + 1) % 8
            bw = _BitWriter()
            dc = [0, 0, 0]
        my, mx = divmod(mcu, mcux)
        for by in range(sv):                              # luma blocks
            for bx in range(sh):
                r0, c0 = (my * sv + by) * 8, (mx * sh + bx) * 8
                dc[0] = _encode_block(
                    bw, y[r0:r0 + 8, c0:c0 + 8], q_lum, DC_ENC, AC_ENC, dc[0]
                )
        for ci, plane in ((1, cb), (2, cr)):              # chroma blocks
            r0, c0 = my * 8, mx * 8
            dc[ci] = _encode_block(
                bw, plane[r0:r0 + 8, c0:c0 + 8], q_chr, DC_ENC_C, AC_ENC_C,
                dc[ci],
            )
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"                                    # EOI
    return bytes(out)


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Decode a baseline OR progressive (SOF2, Huffman) JPEG: (h, w)
    uint8 for grayscale, (h, w, 3) uint8 RGB for interleaved YCbCr color
    (any luma sampling up to 2x2 with 1x1 chroma — 4:4:4 / 4:2:2 / 4:2:0
    and the transposed 4:4:0). Progressive streams dispatch on a marker
    pre-scan to functions/jpegprogressive.py. Arithmetic-coded, 12-bit,
    >2x-sampled, and non-interleaved multi-scan SEQUENTIAL streams raise
    NotImplementedError with the unsupported feature named;
    corrupt/truncated streams raise ValueError."""
    if not sniff_jpeg(payload):
        raise ValueError("not a JPEG payload")
    from week5_datingnlp_big_data_spark.functions import jpegprogressive

    if jpegprogressive.has_progressive_sof(payload):
        return jpegprogressive.decode_jpeg_progressive(payload)
    try:
        return _decode_jpeg(payload)
    except (IndexError, KeyError, struct.error) as ex:
        # KeyError covers an SOS referencing an undefined quant/Huffman
        # table id — a structural defect of the stream, not of the codec.
        raise ValueError(f"corrupt JPEG stream: {ex}") from ex


def decode_jpeg_gray(payload: bytes) -> np.ndarray:
    """Back-compat grayscale entry point: like :func:`decode_jpeg` but
    gates color streams by name (callers that require a single plane)."""
    out = decode_jpeg(payload)
    if out.ndim == 3:
        raise NotImplementedError(
            "color JPEG decoded — use decode_jpeg for color; "
            "decode_jpeg_gray is the single-plane (grayscale) entry point"
        )
    return out


def _decode_jpeg(payload: bytes) -> np.ndarray:
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    dc_dec: dict[int, dict] = {}
    ac_dec: dict[int, dict] = {}
    h = w = None
    comps: list[dict] = []      # SOF0 components: {cid, hs, vs, tq}
    restart_interval = 0
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at byte {pos}")
        # §B.1.1.2: any number of 0xFF fill bytes may precede a marker
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:                                # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD8:      # TEM/RSTn/SOI
            continue                                       # length-less
        seg_len = struct.unpack_from(">H", payload, pos)[0]
        body = payload[pos + 2: pos + seg_len]
        if marker == 0xDB:                                # DQT
            bpos = 0
            while bpos < len(body):
                pq, tq = body[bpos] >> 4, body[bpos] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables unsupported")
                tbl = np.zeros((8, 8), dtype=np.int64)
                for k, (r, c) in enumerate(ZIGZAG):
                    tbl[r, c] = body[bpos + 1 + k]
                qtables[tq] = tbl
                bpos += 65
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"only BASELINE sequential JPEG supported (SOF{marker - 0xC0})"
            )
        elif marker == 0xC0:                              # SOF0
            precision, h, w, n_comp = struct.unpack_from(">BHHB", body, 0)
            if precision != 8:
                raise NotImplementedError("only 8-bit precision supported")
            if n_comp not in (1, 3):
                raise NotImplementedError(
                    f"{n_comp}-component JPEG unsupported (grayscale and "
                    "YCbCr only — plug PIL in via register_codec for CMYK)"
                )
            comps = []
            for i in range(n_comp):
                cid, samp, tq = body[6 + 3 * i: 9 + 3 * i]
                hs, vs = samp >> 4, samp & 0x0F
                if hs not in (1, 2) or vs not in (1, 2):
                    raise NotImplementedError(
                        f"sampling factor {hs}x{vs} unsupported (1-2 only)"
                    )
                comps.append({"cid": cid, "hs": hs, "vs": vs, "tq": tq})
            hmax = max(c["hs"] for c in comps)
            vmax = max(c["vs"] for c in comps)
            if any(hmax % c["hs"] or vmax % c["vs"] for c in comps):
                raise NotImplementedError(
                    "non-integer chroma upsampling ratios unsupported"
                )
            if n_comp == 1 and (hmax, vmax) != (1, 1):
                # single-component scans are non-interleaved per §A.2.2:
                # sampling factors are irrelevant; normalize to 1x1
                comps[0]["hs"] = comps[0]["vs"] = 1
        elif marker == 0xC4:                              # DHT
            bpos = 0
            while bpos < len(body):
                cls, tid = body[bpos] >> 4, body[bpos] & 0x0F
                bits = list(body[bpos + 1: bpos + 17])
                n_vals = sum(bits)
                vals = list(body[bpos + 17: bpos + 17 + n_vals])
                _enc, dec = _build_huffman(bits, vals)
                (dc_dec if cls == 0 else ac_dec)[tid] = dec
                bpos += 17 + n_vals
        elif marker == 0xDD:                              # DRI
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:                              # SOS
            ns = body[0]
            if ns != len(comps):
                raise NotImplementedError(
                    "non-interleaved multi-scan JPEG unsupported "
                    f"(scan has {ns} of {len(comps)} components)"
                )
            by_id = {c["cid"]: i for i, c in enumerate(comps)}
            scan = []
            for i in range(ns):
                cs, tdta = body[1 + 2 * i], body[2 + 2 * i]
                if cs not in by_id:
                    raise ValueError(f"SOS references unknown component {cs}")
                scan.append((by_id[cs], tdta >> 4, tdta & 0x0F))
            planes = _decode_scan(
                payload, pos + seg_len, h, w, comps, scan,
                qtables, dc_dec, ac_dec, restart_interval,
            )
            if len(planes) == 1:
                return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
            return _ycbcr_to_rgb(*planes)
        pos += seg_len
    raise ValueError("no SOS marker — empty JPEG scan")


def _decode_scan(payload, pos, h, w, comps, scan, qtables, dc_dec, ac_dec,
                 restart_interval):
    """Interleaved baseline scan → list of full-resolution float planes
    (cropped to (h, w), chroma pixel-replicated up to full size)."""
    if h is None:
        raise ValueError("SOS before SOF0")
    hmax = max(c["hs"] for c in comps)
    vmax = max(c["vs"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    mcu_total = mcux * mcuy
    gray = len(comps) == 1
    planes = [
        np.zeros((mcuy * c["vs"] * 8, mcux * c["hs"] * 8), dtype=np.float64)
        for c in comps
    ]
    # split the entropy stream at restart markers; bit reader per segment
    segments: list[bytes] = []
    if restart_interval:
        cur = bytearray()
        i = pos
        while i < len(payload):
            b = payload[i]
            if b == 0xFF and i + 1 < len(payload):
                nxt = payload[i + 1]
                if 0xD0 <= nxt <= 0xD7:
                    segments.append(bytes(cur))
                    cur = bytearray()
                    i += 2
                    continue
                if nxt == 0xD9:
                    break
            cur.append(b)
            i += 1
        segments.append(bytes(cur))
    else:
        end = payload.rfind(b"\xff\xd9")
        segments.append(payload[pos: end if end > pos else len(payload)])
    mcu = 0
    for seg in segments:
        br = _BitReader(seg)
        prev_dc = [0] * len(comps)
        limit = (
            min(mcu + restart_interval, mcu_total)
            if restart_interval else mcu_total
        )
        while mcu < limit:
            my, mx = divmod(mcu, mcux)
            for ci, td, ta in scan:
                c = comps[ci]
                for by in range(c["vs"]):
                    for bx in range(c["hs"]):
                        block, prev_dc[ci] = _decode_block(
                            br, dc_dec[td], ac_dec[ta],
                            qtables[c["tq"]], prev_dc[ci], gray,
                        )
                        r0 = (my * c["vs"] + by) * 8
                        c0 = (mx * c["hs"] + bx) * 8
                        planes[ci][r0:r0 + 8, c0:c0 + 8] = block
            mcu += 1
    if mcu != mcu_total:
        raise ValueError(f"decoded {mcu} of {mcu_total} MCUs")
    return _finish_planes(planes, comps, h, w)


def _finish_planes(planes, comps, h, w):
    """Crop each component plane to its own resolution, pixel-replicate
    chroma back up to full size, crop to (h, w). Shared by the baseline
    scan decoder and the progressive final assembly."""
    hmax = max(c["hs"] for c in comps)
    vmax = max(c["vs"] for c in comps)
    out = []
    for ci, c in enumerate(comps):
        cw = -(-w * c["hs"] // hmax)
        ch = -(-h * c["vs"] // vmax)
        p = planes[ci][:ch, :cw]
        ry, rx = vmax // c["vs"], hmax // c["hs"]
        if (ry, rx) != (1, 1):
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        out.append(p[:h, :w])
    return out


def _decode_block(br, dc_table, ac_table, qtbl, prev_dc, exact=False):
    """Huffman → dezigzag → dequantize → IDCT one 8x8 block; returns
    (level-shifted pixel block, new DC predictor)."""
    s = br.read_symbol(dc_table)
    diff = _extend(br.read_bits(s), s) if s else 0
    prev_dc += diff
    seq = [0] * 64
    seq[0] = prev_dc
    k = 1
    while k < 64:
        rs = br.read_symbol(ac_table)
        run, size = rs >> 4, rs & 0x0F
        if rs == 0x00:                                    # EOB
            break
        if rs == 0xF0:                                    # ZRL
            k += 16
            continue
        k += run
        if k > 63:
            raise ValueError("AC run past end of block")
        seq[k] = _extend(br.read_bits(size), size)
        k += 1
    coef = np.zeros((8, 8), dtype=np.float64)
    for i, (r, c) in enumerate(ZIGZAG):
        coef[r, c] = seq[i] * qtbl[r, c]
    return _idct(coef, exact) + 128.0, prev_dc
