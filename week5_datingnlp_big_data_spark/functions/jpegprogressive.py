"""Progressive JPEG (ITU-T T.81 SOF2, Huffman): multi-scan spectral
selection + successive approximation, decode and encode, pure NumPy.

Everything here is from the public specification: §G (progressive DCT
modes) defines the four scan kinds —

  * DC first   (Ss=0, Ah=0): DC diffs of ``coef >> Al`` (arithmetic
    shift), interleaved or single-component;
  * DC refine  (Ss=0, Ah>0): one raw bit per block, appended at
    position Al — no Huffman table at all;
  * AC first   (Ss>0, Ah=0, single component per §G.1.1.1.1): the
    baseline run/size coding over the band Ss..Se of ``coef`` magnitude-
    shifted by Al, plus EOBn codes — symbol (r<<4)|0 means "this and the
    next 2^r−1+ext blocks have no nonzero coefficient left in the band";
  * AC refine  (Ah=Al+1): newly-significant coefficients arrive as
    run/size-1 codes (run counts only zero-history positions) with a
    sign bit, and every already-nonzero coefficient passed — including
    those skipped by ZRL and EOB runs — contributes one correction bit
    appended after the symbol, in position order (§G.1.2.3).

Coefficients accumulate across scans in per-component (by, bx, 64)
arrays (zigzag index space); one vectorized dequantize + IDCT pass at
EOI produces the planes, which then ride the same crop/upsample/color
pipeline as the baseline decoder (jpegcodec._finish_planes).

The encoder exists so the decoder is testable end to end in-container
(no image libraries ship here). Its scan script is the conventional
one: interleaved DC first at Al=1, per-component AC first in two bands
at Al=1, then AC refinement and DC refinement down to Al=0 — so every
decode path above is exercised by round-trips, and the decoded pixels
are pinned EQUAL to the baseline decode of the same image (both modes
reconstruct the identical quantized coefficients, and the baseline path
is already spec-pinned by the zigzag/interop tests). ``spectral_only``
encodes Al=0 scans (no successive approximation) for the simpler legal
variant. Restart markers resync every scan independently (predictors
and EOB run reset per §G.1.2.3 / §E.2.4).

Signed-shift conventions (the interop trap): DC uses the ARITHMETIC
shift (floor) — refinement ORs bit Al back in, which reconstructs
exactly in two's complement; AC uses the MAGNITUDE shift (toward zero)
with a separate sign, and refinement grows magnitude by 1<<Al — the
same conventions every spec-compliant codec uses.
"""

from __future__ import annotations

import struct

import numpy as np

from week5_datingnlp_big_data_spark.functions.jpegcodec import (
    AC_BITS,
    AC_BITS_C,
    AC_VALS,
    AC_VALS_C,
    DC_BITS,
    DC_BITS_C,
    DC_VALS,
    DC_VALS_C,
    ZIGZAG,
    _BitReader,
    _BitWriter,
    _build_huffman,
    _extend,
    _fdct,
    _finish_planes,
    _idct,
    _magnitude,
    _quality_table,
    _quality_table_chroma,
    _rgb_to_ycbcr,
    _ycbcr_to_rgb,
    sniff_jpeg,
)

__all__ = ["decode_jpeg_progressive", "encode_jpeg_progressive"]

_SUBSAMPLING = {"4:4:4": (1, 1), "4:2:2": (2, 1), "4:2:0": (2, 2)}


def has_progressive_sof(payload: bytes) -> bool:
    """Marker pre-scan: True iff the stream's frame header is SOF2."""
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            return False
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xC2:
            return True
        if marker in (0xC0, 0xC1, 0xC3, 0xDA, 0xD9):
            return False
        if marker == 0x01 or 0xD0 <= marker <= 0xD8:
            continue
        pos += struct.unpack_from(">H", payload, pos)[0]
    return False


# ------------------------------------------------------------------ decode

def decode_jpeg_progressive(payload: bytes) -> np.ndarray:
    """Decode a progressive (SOF2, Huffman) JPEG: (h, w) uint8 grayscale
    or (h, w, 3) uint8 RGB. Raises ValueError on corrupt streams; other
    frame types should go through jpegcodec.decode_jpeg (which dispatches
    here on SOF2)."""
    if not sniff_jpeg(payload):
        raise ValueError("not a JPEG payload")
    try:
        return _decode_progressive(payload)
    except (IndexError, KeyError, struct.error) as ex:
        raise ValueError(f"corrupt JPEG stream: {ex}") from ex


def _decode_progressive(payload: bytes) -> np.ndarray:
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    dc_dec: dict[int, dict] = {}
    ac_dec: dict[int, dict] = {}
    h = w = None
    comps: list[dict] = []
    coef: list[np.ndarray] = []
    mcux = mcuy = 0
    restart_interval = 0
    saw_scan = False
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at byte {pos}")
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:                                 # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD8:       # TEM/RSTn/SOI
            continue
        seg_len = struct.unpack_from(">H", payload, pos)[0]
        body = payload[pos + 2: pos + seg_len]
        if marker == 0xDB:                                 # DQT
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
        elif marker == 0xC4:                               # DHT
            bpos = 0
            while bpos < len(body):
                cls, tid = body[bpos] >> 4, body[bpos] & 0x0F
                bits = list(body[bpos + 1: bpos + 17])
                n_vals = sum(bits)
                vals = list(body[bpos + 17: bpos + 17 + n_vals])
                _enc, dec = _build_huffman(bits, vals)
                (dc_dec if cls == 0 else ac_dec)[tid] = dec
                bpos += 17 + n_vals
        elif marker == 0xDD:                               # DRI
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xC2:                               # SOF2
            precision, h, w, n_comp = struct.unpack_from(">BHHB", body, 0)
            if precision != 8:
                raise NotImplementedError("only 8-bit precision supported")
            if n_comp not in (1, 3):
                raise NotImplementedError(
                    f"{n_comp}-component JPEG unsupported"
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
            if n_comp == 1:
                comps[0]["hs"] = comps[0]["vs"] = 1
            hmax = max(c["hs"] for c in comps)
            vmax = max(c["vs"] for c in comps)
            if any(hmax % c["hs"] or vmax % c["vs"] for c in comps):
                raise NotImplementedError(
                    "non-integer chroma upsampling ratios unsupported"
                )
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            coef = [
                np.zeros((mcuy * c["vs"], mcux * c["hs"], 64), dtype=np.int64)
                for c in comps
            ]
        elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "non-progressive SOF in progressive decode path"
            )
        elif marker == 0xDA:                               # SOS
            if not comps:
                raise ValueError("SOS before SOF2")
            ns = body[0]
            by_id = {c["cid"]: i for i, c in enumerate(comps)}
            scan = []
            for i in range(ns):
                cs, tdta = body[1 + 2 * i], body[2 + 2 * i]
                if cs not in by_id:
                    raise ValueError(f"SOS references unknown component {cs}")
                scan.append((by_id[cs], tdta >> 4, tdta & 0x0F))
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah_al = body[3 + 2 * ns]
            ah, al = ah_al >> 4, ah_al & 0x0F
            pos = _decode_scan_progressive(
                payload, pos + seg_len, comps, scan, ss, se, ah, al,
                coef, mcux, mcuy, h, w, dc_dec, ac_dec, restart_interval,
            )
            saw_scan = True
            continue
        pos += seg_len
    if not saw_scan:
        raise ValueError("no SOS marker — empty JPEG scan")
    planes = _idct_planes(coef, comps, qtables)
    planes = _finish_planes(planes, comps, h, w)
    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    return _ycbcr_to_rgb(*planes)


def _idct_planes(coef, comps, qtables):
    """Vectorized dequantize + IDCT of every accumulated block."""
    # natural-order index of zigzag position k
    nat = np.array([r * 8 + c for r, c in ZIGZAG], dtype=np.int64)
    gray = len(comps) == 1
    planes = []
    for ci, c in enumerate(comps):
        arr = coef[ci]
        by, bx = arr.shape[:2]
        blocks = np.zeros((by, bx, 64), dtype=np.float64)
        blocks[:, :, nat] = arr.astype(np.float64)
        blocks = blocks.reshape(by, bx, 8, 8) * qtables[c["tq"]]
        # per-block _idct, NOT einsum/stacked-matmul: only the EXACT
        # operation the baseline decoder runs is guaranteed to round
        # identically at exact-.5 pixel boundaries of color planes —
        # stacked kernels reassociate the sums and flip last-ulp pixels,
        # breaking the cross-path equality the tests pin (gray planes
        # take their rational pixels exactly either way). Block count is
        # bounded by the test-tile sizes this bundled codec exists for.
        pix = np.empty_like(blocks)
        for m in range(by):
            for n in range(bx):
                pix[m, n] = _idct(blocks[m, n], gray)
        pix += 128.0
        planes.append(
            pix.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        )
    return planes


def _entropy_segments(payload: bytes, pos: int):
    """Split one scan's entropy data at RSTn markers; stop at the first
    other marker. Returns (segments, position_of_next_marker)."""
    segs: list[bytes] = []
    cur = bytearray()
    i = pos
    while i < len(payload):
        b = payload[i]
        if b == 0xFF and i + 1 < len(payload):
            nxt = payload[i + 1]
            if nxt == 0x00:
                cur += payload[i: i + 2]                   # stuffed 0xFF
                i += 2
                continue
            if nxt == 0xFF:                                # fill byte
                i += 1
                continue
            if 0xD0 <= nxt <= 0xD7:                        # RSTn
                segs.append(bytes(cur))
                cur = bytearray()
                i += 2
                continue
            break                                          # next segment
        cur.append(b)
        i += 1
    segs.append(bytes(cur))
    return segs, i


def _scan_units(comps, scan, mcux, mcuy, h, w):
    """The ordered (ci, by, bx) block sequence of one scan, grouped into
    restart units: MCU order when interleaved, component raster order
    (non-interleaved dims, §A.2.2) for a single-component scan."""
    units = []
    if len(scan) > 1:
        for mcu in range(mcux * mcuy):
            my, mx = divmod(mcu, mcux)
            unit = []
            for ci, _td, _ta in scan:
                c = comps[ci]
                for by in range(c["vs"]):
                    for bx in range(c["hs"]):
                        unit.append((ci, my * c["vs"] + by, mx * c["hs"] + bx))
            units.append(unit)
    else:
        ci = scan[0][0]
        c = comps[ci]
        hmax = max(x["hs"] for x in comps)
        vmax = max(x["vs"] for x in comps)
        cw = -(-w * c["hs"] // hmax)
        ch = -(-h * c["vs"] // vmax)
        nbw, nbh = -(-cw // 8), -(-ch // 8)
        for b in range(nbw * nbh):
            by, bx = divmod(b, nbw)
            units.append([(ci, by, bx)])
    return units


def _decode_scan_progressive(payload, pos, comps, scan, ss, se, ah, al,
                             coef, mcux, mcuy, h, w, dc_dec, ac_dec,
                             restart_interval):
    is_dc = ss == 0
    if is_dc and se != 0:
        raise ValueError("DC scan must have Se=0")
    if not is_dc and len(scan) != 1:
        raise ValueError("AC scan must be single-component (§G.1.1.1.1)")
    if se > 63 or ss > se:
        raise ValueError(f"bad spectral band {ss}..{se}")
    units = _scan_units(comps, scan, mcux, mcuy, h, w)
    segments, end = _entropy_segments(payload, pos)
    per_seg = restart_interval or len(units)
    u = 0
    for seg in segments:
        br = _BitReader(seg)
        pred = [0] * len(comps)
        eobrun = 0
        limit = min(u + per_seg, len(units))
        while u < limit:
            for ci, by, bx in units[u]:
                td, ta = next(
                    (t, a) for c2, t, a in scan if c2 == ci
                )
                block = coef[ci][by, bx]
                if is_dc and ah == 0:
                    s = br.read_symbol(dc_dec[td])
                    diff = _extend(br.read_bits(s), s) if s else 0
                    pred[ci] += diff
                    block[0] = pred[ci] << al
                elif is_dc:
                    if br.read_bit():
                        block[0] |= 1 << al
                elif ah == 0:
                    eobrun = _ac_first_block(
                        br, ac_dec[ta], block, ss, se, al, eobrun
                    )
                else:
                    eobrun = _ac_refine_block(
                        br, ac_dec[ta], block, ss, se, al, eobrun
                    )
            u += 1
    if u != len(units):
        raise ValueError(f"decoded {u} of {len(units)} scan units")
    return end


def _ac_first_block(br, ac_table, block, ss, se, al, eobrun):
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = br.read_symbol(ac_table)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:                                    # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1                          # EOBn; this
            if r:                                          # block counted
                eobrun += br.read_bits(r)
            break
        k += r
        if k > se:
            raise ValueError("AC run past end of band")
        block[k] = _extend(br.read_bits(s), s) << al
        k += 1
    return eobrun


def _ac_refine_block(br, ac_table, block, ss, se, al, eobrun):
    p1 = 1 << al
    k = ss

    def correct(idx):
        # §G.1.2.3: one appended bit per already-nonzero coefficient
        # passed; a 1-bit grows the magnitude by 1<<Al exactly once
        if br.read_bit() and (abs(int(block[idx])) & p1) == 0:
            block[idx] += p1 if block[idx] > 0 else -p1

    if eobrun == 0:
        while k <= se:
            rs = br.read_symbol(ac_table)
            r, s = rs >> 4, rs & 0x0F
            val = 0
            if s == 0:
                if r != 15:
                    eobrun = (1 << r)
                    if r:
                        eobrun += br.read_bits(r)
                    break
                # r == 15: ZRL passes 16 zero-history coefficients
            elif s == 1:
                val = p1 if br.read_bit() else -p1
            else:
                raise ValueError("refinement size must be 1")
            while k <= se:
                if block[k] != 0:
                    correct(k)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                block[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            if block[k] != 0:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


# ------------------------------------------------------------------ encode

def encode_jpeg_progressive(
    img: np.ndarray,
    quality: int = 90,
    subsampling: str = "4:2:0",
    spectral_only: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Encode (h, w) uint8 grayscale or (h, w, 3) uint8 RGB as a
    progressive (SOF2) JFIF stream. Scan script: interleaved DC first,
    per-component AC first (two bands for luma), then — unless
    ``spectral_only`` — AC refinement per component and a DC refinement
    scan, taking every point transform from Al=1 down to 0.
    ``restart_interval`` > 0 emits DRI + RSTn resyncs inside every scan."""
    arr = np.asarray(img)
    gray = arr.ndim == 2
    if not gray and (arr.ndim != 3 or arr.shape[2] != 3):
        raise ValueError("need (h, w) gray or (h, w, 3) RGB uint8 array")
    if arr.dtype != np.uint8:
        raise ValueError("need a uint8 array")
    if subsampling not in _SUBSAMPLING:
        raise ValueError(f"subsampling must be one of {sorted(_SUBSAMPLING)}")
    h, w = arr.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    sh, sv = (1, 1) if gray else _SUBSAMPLING[subsampling]
    if gray:
        planes = [arr.astype(np.float64)]
        tqs, comps_samp = [0], [(1, 1, 1)]
    else:
        y, cb, cr = _rgb_to_ycbcr(arr)
        ph, pw = -h % (8 * sv), -w % (8 * sh)
        pad = lambda p: np.pad(p, ((0, ph), (0, pw)), mode="edge")  # noqa: E731
        y, cb, cr = pad(y), pad(cb), pad(cr)
        fh, fw = y.shape
        if (sh, sv) != (1, 1):
            cb = cb.reshape(fh // sv, sv, fw // sh, sh).mean(axis=(1, 3))
            cr = cr.reshape(fh // sv, sv, fw // sh, sh).mean(axis=(1, 3))
        planes = [y, cb, cr]
        tqs, comps_samp = [0, 1, 1], [(1, sh, sv), (2, 1, 1), (3, 1, 1)]
    q_lum, q_chr = _quality_table(quality), _quality_table_chroma(quality)
    qtabs = [q_lum, q_chr]
    hmax, vmax = sh, sv
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    # quantized coefficient grids (zigzag order), MCU-padded per component
    coef = []
    for p, tq, (_cid, chs, cvs) in zip(planes, tqs, comps_samp):
        gy, gx = mcuy * cvs, mcux * chs
        padded = np.pad(
            p,
            ((0, gy * 8 - p.shape[0]), (0, gx * 8 - p.shape[1])),
            mode="edge",
        )
        blocks = padded.reshape(gy, 8, gx, 8).transpose(0, 2, 1, 3)
        # per-block 2D DCT — the baseline encoder's own _fdct, so both
        # modes quantize to IDENTICAL coefficients and decode to
        # pixel-identical output. Gray samples are integers, so their
        # exact .5 ties are settled on the exact value (exact=True) and
        # no BLAS kernel flips np.round there; color planes keep the
        # float product, where stacked kernels would reassociate the
        # sums and flip np.round at .5 boundaries
        shifted = blocks - 128.0
        dct = np.empty_like(shifted)
        for m in range(gy):
            for n in range(gx):
                dct[m, n] = _fdct(shifted[m, n], gray)
        q = np.round(dct / qtabs[tq]).astype(np.int64)
        zz = np.array([r * 8 + c for r, c in ZIGZAG], dtype=np.int64)
        coef.append(q.reshape(gy, gx, 64)[:, :, zz])
    comps = [
        {"cid": cid, "hs": chs, "vs": cvs, "tq": tq}
        for (cid, chs, cvs), tq in zip(comps_samp, tqs)
    ]

    out = bytearray()
    out += b"\xff\xd8"
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + \
        struct.pack(">HHBB", 1, 1, 0, 0)
    used_tq = sorted(set(tqs))
    for tid in used_tq:
        zzq = bytes(int(qtabs[tid][r, c]) for r, c in ZIGZAG)
        out += b"\xff\xdb" + struct.pack(">HB", 2 + 1 + 64, tid) + zzq
    # SOF2 frame header
    out += b"\xff\xc2" + struct.pack(">HBHHB", 8 + 3 * len(comps), 8, h, w,
                                     len(comps))
    for c in comps:
        out += struct.pack("BBB", c["cid"], (c["hs"] << 4) | c["vs"], c["tq"])
    tables = [(0x00, DC_BITS, DC_VALS), (0x10, AC_BITS, AC_VALS)]
    if not gray:
        tables += [(0x01, DC_BITS_C, DC_VALS_C), (0x11, AC_BITS_C, AC_VALS_C)]
    for cls_id, bits, vals in tables:
        body = bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">HB", 2 + 1 + len(body), cls_id) + body
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    dc_encs = [_build_huffman(DC_BITS, DC_VALS)[0],
               _build_huffman(DC_BITS_C, DC_VALS_C)[0]]
    ac_encs = [_build_huffman(AC_BITS, AC_VALS)[0],
               _build_huffman(AC_BITS_C, AC_VALS_C)[0]]

    al_top = 0 if spectral_only else 1
    scans: list[tuple] = [("dc_first", list(range(len(comps))), 0, 0, 0, al_top)]
    for ci in range(len(comps)):
        if ci == 0:
            scans.append(("ac_first", [ci], 1, 5, 0, al_top))
            scans.append(("ac_first", [ci], 6, 63, 0, al_top))
        else:
            scans.append(("ac_first", [ci], 1, 63, 0, al_top))
    if not spectral_only:
        for ci in range(len(comps)):
            scans.append(("ac_refine", [ci], 1, 63, 1, 0))
        scans.append(("dc_refine", list(range(len(comps))), 0, 0, 1, 0))

    for kind, cis, ss, se, ah, al in scans:
        scan = [(ci, 0 if comps[ci]["tq"] == 0 else 1) for ci in cis]
        out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(scan), len(scan))
        for ci, t in scan:
            td_ta = 0 if kind.startswith("dc") else t
            # DC scans set Td (AC unused); AC scans set Ta (DC unused)
            pack = (t << 4) if kind.startswith("dc") else td_ta
            out += struct.pack("BB", comps[ci]["cid"], pack)
        out += struct.pack("BBB", ss, se, (ah << 4) | al)
        units = _scan_units(comps, [(ci, t, t) for ci, t in scan],
                            mcux, mcuy, h, w)
        bw = _BitWriter()
        pred = [0] * len(comps)
        rst = 0
        for ui, unit in enumerate(units):
            if restart_interval and ui and ui % restart_interval == 0:
                bw.flush()
                out += bw.out
                out += bytes((0xFF, 0xD0 + rst))
                rst = (rst + 1) % 8
                bw = _BitWriter()
                pred = [0] * len(comps)
            for ci, by, bx in unit:
                block = coef[ci][by, bx]
                t = 0 if comps[ci]["tq"] == 0 else 1
                if kind == "dc_first":
                    v = int(block[0]) >> al                # arithmetic shift
                    s, bits_v = _magnitude(v - pred[ci])
                    pred[ci] = v
                    code, length = dc_encs[t][s]
                    bw.write(code, length)
                    if s:
                        bw.write(bits_v, s)
                elif kind == "dc_refine":
                    bw.write((int(block[0]) >> al) & 1, 1)
                elif kind == "ac_first":
                    _encode_ac_first(bw, ac_encs[t], block, ss, se, al)
                else:
                    _encode_ac_refine(bw, ac_encs[t], block, ss, se, al)
        bw.flush()
        out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def _encode_ac_first(bw, ac_enc, block, ss, se, al):
    run = 0
    wrote = False
    for k in range(ss, se + 1):
        v = int(block[k])
        t = abs(v) >> al                                   # magnitude shift
        if t == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_enc[0xF0]
            bw.write(code, length)
            run -= 16
        tv = t if v > 0 else -t
        s, bits_v = _magnitude(tv)
        code, length = ac_enc[(run << 4) | s]
        bw.write(code, length)
        bw.write(bits_v, s)
        run = 0
        wrote = True
    if run > 0 or not wrote:                               # EOB (run 1)
        code, length = ac_enc[0x00]
        bw.write(code, length)


def _encode_ac_refine(bw, ac_enc, block, ss, se, al):
    run = 0
    pending: list[int] = []
    emitted_any = False
    for k in range(ss, se + 1):
        v = int(block[k])
        t = abs(v) >> al
        if t == 0:
            run += 1
            continue
        # ZRL check comes at EVERY nonzero coefficient, BEFORE buffering
        # its correction bit: the decoder consumes correction bits inside
        # each 16-zero-history window in position order, so bits for
        # coefficients past the window must ride a LATER symbol.
        while run > 15:
            code, length = ac_enc[0xF0]
            bw.write(code, length)
            for b in pending:
                bw.write(b, 1)
            pending = []
            run -= 16
        if t > 1:
            # already nonzero in the prior approximation: correction bit
            pending.append(t & 1)
            continue
        # newly significant (|coef|>>Al == 1): run/size-1 + sign + pending
        code, length = ac_enc[(run << 4) | 1]
        bw.write(code, length)
        bw.write(1 if v > 0 else 0, 1)
        for b in pending:
            bw.write(b, 1)
        pending = []
        run = 0
        emitted_any = True
    if run > 0 or pending or not emitted_any:
        code, length = ac_enc[0x00]                        # EOB (run 1)
        bw.write(code, length)
        for b in pending:
            bw.write(b, 1)
