"""Baseline JPEG codec in stdlib + numpy — closes the last multimodal
pixel-decode stub (the env has no PIL/cv2, but baseline JPEG is just
Huffman + quantized DCT, both implementable directly from the public
ITU T.81 spec; quant/Huffman tables are the spec's own Annex K
defaults).

Scope (returns None outside it, so callers can tell "decodable
natively" from "genuinely needs an external codec"):

- decode: baseline sequential DCT (SOF0/SOF1) AND progressive DCT
  (SOF2 — spectral selection, successive approximation, EOB runs,
  per T.81 §G.2), 8-bit, Huffman-coded, 1 component (grayscale) or 3
  components (YCbCr/JFIF), sampling factors whose ratio to the max is
  integral (covers 4:4:4, 4:2:2, 4:2:0), restart intervals honored.
  Arithmetic coding, 12-bit, lossless/hierarchical and CMYK payloads
  are out of scope.
- encode: baseline 4:4:4 (or single-component grayscale), Annex K
  tables scaled by the libjpeg quality curve, optional restart
  interval. The progressive encoder that builds the SOF2 round-trip
  fixtures lives with the tests (``tests/media_encoders.py``).

Determinism: the DCT/IDCT are float64 matrix products of a fixed 8×8
basis followed by rounding — IEEE-deterministic on any host, so the
same payload always decodes to the same pixels (the property every
other codec in this module guarantees, and what keeps Spark-side
results partition-invariant).

Scale shape is inherited from the caller (`multimodal.image_phash`,
`video_fp.video_phash`): the codec runs inside Arrow `mapInPandas`
batches, payload bytes never enter a shuffle before decode.
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag position k -> raster index, generated (not transcribed) from
# the anti-diagonal walk the spec defines
def _zigzag() -> list[int]:
    out = []
    for s in range(15):
        diag = [(y, s - y) for y in range(8) if 0 <= s - y < 8]
        if s % 2 == 0:
            diag.reverse()
        out.extend(y * 8 + x for y, x in diag)
    return out


_ZIG = np.array(_zigzag(), dtype=np.int64)

# ITU T.81 Annex K.1 default quantization tables (raster order)
_Q_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
_Q_CHROMA = np.array(
    [17, 18, 24, 47, 99, 99, 99, 99,
     18, 21, 26, 66, 99, 99, 99, 99,
     24, 26, 56, 99, 99, 99, 99, 99,
     47, 66, 99, 99, 99, 99, 99, 99]
    + [99] * 32,
    dtype=np.int64,
)

# Annex K.3 default Huffman specs: (bits[1..16], values)
_H_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_H_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_H_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
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
    ],
)
_H_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
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
    ],
)

# orthonormal DCT-II basis: F = C @ f @ C.T, f = C.T @ F @ C
_C = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _C[_u, _x] = (np.sqrt(1 / 8) if _u == 0 else 0.5) * np.cos(
            (2 * _x + 1) * _u * np.pi / 16
        )


def _canonical_codes(bits: list[int], vals: list[int]) -> dict:
    """value -> (length, code) canonical Huffman assignment (F.2.2.3)."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (ln, code)
            k += 1
            code += 1
        code <<= 1
    return out


def _decode_table(bits: list[int], vals: list[int]) -> dict:
    """(length, code) -> value, the inverse mapping for the decoder."""
    return {lc: v for v, lc in _canonical_codes(bits, vals).items()}


class _BitReader:
    __slots__ = ("d", "pos", "buf", "n")

    def __init__(self, data: bytes):
        self.d, self.pos, self.buf, self.n = data, 0, 0, 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.d):
                raise EOFError("entropy data exhausted")
            self.buf = self.d[self.pos]
            self.pos += 1
            self.n = 8
        self.n -= 1
        return (self.buf >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v


def _huff_decode(br: _BitReader, table: dict) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | br.bit()
        v = table.get((ln, code))
        if v is not None:
            return v
    raise ValueError("invalid Huffman code")


def _extend(v: int, size: int) -> int:
    # F.2.2.1: received `size` bits encode [-2^size+1, 2^size-1] \ band
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_jpeg_pixels(raw: bytes) -> np.ndarray | None:
    """Baseline-sequential OR progressive JPEG → ``(height, width, 3)``
    uint8 RGB ndarray (grayscale replicated to 3 channels), or None
    when the payload is not a JPEG this codec covers (arithmetic
    coding, 12-bit, lossless/hierarchical, CMYK, fractional-ratio
    sampling) — callers use None to route to a real codec / the
    documented stand-in path. Progressive decoding (SOF2) accumulates
    every scan — spectral selection bands, successive-approximation
    first passes and refinement passes, EOB runs — into per-component
    coefficient buffers before one final IDCT, per ITU T.81 §G.2."""
    try:
        return _decode(raw)
    except Exception:
        return None


def _scan_entropy(raw: bytes, start: int) -> tuple[list[bytes], int]:
    """Split one scan's entropy stream into restart segments (unstuffing
    0xFF00); returns (segments, position of the marker that ended the
    scan)."""
    segments: list[bytes] = []
    cur = bytearray()
    p = start
    while p < len(raw):
        b = raw[p]
        if b == 0xFF and p + 1 < len(raw):
            nxt = raw[p + 1]
            if nxt == 0x00:
                cur.append(0xFF)
                p += 2
                continue
            if 0xD0 <= nxt <= 0xD7:  # RSTn: segment boundary
                segments.append(bytes(cur))
                cur = bytearray()
                p += 2
                continue
            break  # any other marker ends the scan (EOI, DNL, ...)
        cur.append(b)
        p += 1
    segments.append(bytes(cur))
    return segments, p


class _ScanState:
    """Per-restart-segment entropy state: DC predictors + the AC EOB
    run counter (both reset at every restart boundary, T.81 §G.1.2.2)."""

    __slots__ = ("pred", "eobrun")

    def __init__(self, n: int):
        self.pred = [0] * n
        self.eobrun = 0


def _decode_block(
    br: _BitReader,
    st: _ScanState,
    coef: np.ndarray,  # (64,) int32 raster-order view for this block
    pi: int,  # predictor slot (index within scan)
    dct: dict | None,
    act: dict | None,
    ss: int,
    se: int,
    ah: int,
    al: int,
) -> None:
    """Decode one block's contribution for the current scan — the four
    progressive modes of T.81 §G.2, with the baseline full-band scan
    falling out as (ss=0, se=63, ah=al=0)."""
    if ss == 0:
        if ah == 0:  # DC first (or baseline)
            s = _huff_decode(br, dct)
            st.pred[pi] += _extend(br.bits(s), s)
            coef[0] = st.pred[pi] << al
        else:  # DC refinement: one correction bit
            if br.bit():
                coef[0] = int(coef[0]) | (1 << al)
        k = 1
    else:
        k = ss
    if se == 0 or ss > se:
        return
    if ah == 0:  # AC first pass (or baseline AC)
        if st.eobrun > 0:
            st.eobrun -= 1
            return
        while k <= se:
            rs = _huff_decode(br, act)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                st.eobrun = (1 << r) - 1
                if r:
                    st.eobrun += br.bits(r)
                return
            k += r
            if k > se:
                raise ValueError("AC run past band end")
            coef[_ZIG[k]] = _extend(br.bits(s), s) << al
            k += 1
        return
    # AC refinement (T.81 §G.2 / the correction-bit walk)
    p1, m1 = 1 << al, -1 << al
    if st.eobrun == 0:
        while k <= se:
            rs = _huff_decode(br, act)
            r, s = rs >> 4, rs & 0xF
            val = 0
            if s == 0:
                if r != 15:
                    st.eobrun = 1 << r
                    if r:
                        st.eobrun += br.bits(r)
                    break
                # r == 15: skip 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError("AC refine magnitude must be 1")
                val = p1 if br.bit() else m1
            while k <= se:
                c = int(coef[_ZIG[k]])
                if c != 0:
                    # history coefficient: consume its correction bit
                    if br.bit() and (c & p1) == 0:
                        coef[_ZIG[k]] = c + (p1 if c >= 0 else m1)
                else:
                    if r == 0:
                        if val:
                            coef[_ZIG[k]] = val
                        k += 1
                        break
                    r -= 1
                k += 1
    if st.eobrun > 0:
        # block inside an EOB run: history coefficients still consume
        # correction bits
        while k <= se:
            c = int(coef[_ZIG[k]])
            if c != 0:
                if br.bit() and (c & p1) == 0:
                    coef[_ZIG[k]] = c + (p1 if c >= 0 else m1)
            k += 1
        st.eobrun -= 1


def _decode(raw: bytes) -> np.ndarray | None:
    if len(raw) < 4 or raw[0:2] != b"\xff\xd8":
        return None
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> decode table
    sof = None
    restart = 0
    pos = 2
    coeffs: dict[int, np.ndarray] | None = None  # ci -> (nby, nbx, 64) int32
    geom = None
    saw_scan = False
    while pos + 4 <= len(raw):
        if raw[pos] != 0xFF:
            return None
        marker = raw[pos + 1]
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:  # SOI/RSTn: bare
            pos += 2
            continue
        if marker == 0xD9:  # EOI
            break
        ln = struct.unpack(">H", raw[pos + 2 : pos + 4])[0]
        seg = raw[pos + 4 : pos + 2 + ln]
        if marker == 0xDB:  # DQT: one or more tables per segment
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0xF
                if pq != 0:  # 16-bit tables: out of scope
                    return None
                z = np.frombuffer(seg[i + 1 : i + 65], dtype=np.uint8)
                tbl = np.zeros(64, dtype=np.int64)
                tbl[_ZIG] = z  # stored zigzag -> raster
                qt[tq] = tbl.reshape(8, 8)
                i += 65
        elif marker in (0xC0, 0xC1, 0xC2):  # baseline / ext seq / progressive
            if sof is not None:
                return None  # multi-frame: out of scope
            prec, h, w, nf = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if prec != 8 or nf not in (1, 3) or h == 0 or w == 0:
                return None
            comps = []
            for c in range(nf):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            if hmax > 4 or vmax > 4 or hmax < 1 or vmax < 1:
                return None
            for _, ch, cv, _tq in comps:
                if ch < 1 or cv < 1 or hmax % ch or vmax % cv:
                    return None  # fractional upsampling ratio: out of scope
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            sof = (h, w, comps)
            geom = (hmax, vmax, mcux, mcuy)
            # the padded MCU grid is the storage; non-interleaved scans
            # cover only each component's ACTUAL block dims inside it
            coeffs = {
                i: np.zeros((mcuy * cv, mcux * ch, 64), dtype=np.int32)
                for i, (_, ch, cv, _) in enumerate(comps)
            }
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            return None  # lossless / arithmetic / hierarchical
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                bits = list(seg[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(seg[i + 17 : i + 17 + nv])
                huff[(tc, th)] = _decode_table(bits, vals)
                i += 17 + nv
        elif marker == 0xDD:  # DRI
            restart = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS
            if sof is None or coeffs is None:
                return None
            h, w, comps = sof
            hmax, vmax, mcux, mcuy = geom
            ns = seg[0]
            scan_sel = [
                (seg[1 + 2 * c], seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 0xF)
                for c in range(ns)
            ]
            ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            if ss > se or se > 63:
                return None
            # resolve scan component ids to frame component indices
            by_id = {cid: i for i, (cid, _, _, _) in enumerate(comps)}
            sel = []
            for cid, td, ta in scan_sel:
                if cid not in by_id:
                    return None
                sel.append((by_id[cid], td, ta))
            segments, pos = _scan_entropy(raw, pos + 2 + ln)
            if not _run_scan(
                segments, sel, ss, se, ah, al, restart, comps,
                (h, w, hmax, vmax, mcux, mcuy), huff, coeffs,
            ):
                return None
            saw_scan = True
            continue
        pos += 2 + ln
    if sof is None or coeffs is None or not saw_scan:
        return None
    h, w, comps = sof
    hmax, vmax, mcux, mcuy = geom

    planes = []
    for ci, (_cid, ch, cv, tq) in enumerate(comps):
        q = qt.get(tq)
        if q is None:
            return None
        rows, cols = mcuy * cv, mcux * ch
        blk = coeffs[ci].astype(np.float64).reshape(rows, cols, 8, 8)
        coef = blk * q  # dequantize (broadcast 8x8 table)
        # f[x,y] = Σ_u Σ_v C[u,x]·F[u,v]·C[v,y]  (orthonormal DCT-III)
        spatial = np.einsum("ux,nmuv,vy->nmxy", _C, coef, _C)
        plane = spatial.transpose(0, 2, 1, 3).reshape(rows * 8, cols * 8)
        plane = np.clip(np.round(plane + 128.0), 0, 255)
        plane = np.repeat(np.repeat(plane, vmax // cv, 0), hmax // ch, 1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        g = planes[0].astype(np.uint8)
        return np.ascontiguousarray(np.stack([g, g, g], axis=-1))
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _run_scan(
    segments: list[bytes],
    sel: list[tuple[int, int, int]],  # (comp index, dc table id, ac table id)
    ss: int,
    se: int,
    ah: int,
    al: int,
    restart: int,
    comps: list,
    geom: tuple[int, int, int, int, int, int],
    huff: dict,
    coeffs: dict[int, np.ndarray],
) -> bool:
    """Decode one scan (interleaved MCU order or single-component block
    order) into the coefficient buffers. Returns False on any
    structural error."""
    h, w, hmax, vmax, mcux, mcuy = geom
    interleaved = len(sel) > 1
    tables = []
    for ci, td, ta in sel:
        dct = huff.get((0, td)) if ss == 0 and ah == 0 else None
        act = huff.get((1, ta)) if se > 0 else None
        if ss == 0 and ah == 0 and dct is None:
            return False
        if se > 0 and act is None:
            return False
        tables.append((dct, act))
    if interleaved:
        units = mcux * mcuy
    else:
        ci = sel[0][0]
        _, ch, cv, _ = comps[ci]
        # the component's ACTUAL block dims (T.81 A.1.1), not the
        # padded MCU grid
        nbx = -(-(-(-w * ch // hmax)) // 8)
        nby = -(-(-(-h * cv // vmax)) // 8)
        units = nbx * nby
    seg_idx = 0
    br = _BitReader(segments[0])
    st = _ScanState(len(sel))
    for u in range(units):
        if restart and u and u % restart == 0:
            seg_idx += 1
            if seg_idx >= len(segments):
                return False
            br = _BitReader(segments[seg_idx])
            st = _ScanState(len(sel))
        if interleaved:
            my, mx = divmod(u, mcux)
            for pi, (ci, _td, _ta) in enumerate(sel):
                _, ch, cv, _ = comps[ci]
                dct, act = tables[pi]
                for by in range(cv):
                    for bx in range(ch):
                        _decode_block(
                            br, st,
                            coeffs[ci][my * cv + by, mx * ch + bx],
                            pi, dct, act, ss, se, ah, al,
                        )
        else:
            by, bx = divmod(u, nbx)
            dct, act = tables[0]
            _decode_block(
                br, st, coeffs[ci][by, bx], 0, dct, act, ss, se, ah, al
            )
    return True


class _BitWriter:
    __slots__ = ("out", "buf", "n")

    def __init__(self):
        self.out, self.buf, self.n = bytearray(), 0, 0

    def write(self, value: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.buf = (self.buf << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.buf)
                if self.buf == 0xFF:  # byte stuffing
                    self.out.append(0x00)
                self.buf, self.n = 0, 0

    def flush(self) -> None:
        if self.n:
            self.buf = (self.buf << (8 - self.n)) | ((1 << (8 - self.n)) - 1)
            self.out.append(self.buf)
            if self.buf == 0xFF:
                self.out.append(0x00)
            self.buf, self.n = 0, 0


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """libjpeg's public quality curve over the Annex K base tables."""
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    out = []
    for base in (_Q_LUMA, _Q_CHROMA):
        t = (base * scale + 50) // 100
        out.append(np.clip(t, 1, 255).reshape(8, 8))
    return out[0], out[1]


def _encode_component_block(
    bw: _BitWriter, blk_q: np.ndarray, pred: int, dc_codes: dict, ac_codes: dict
) -> int:
    zz = blk_q.reshape(64)[_ZIG]
    dc = int(zz[0])
    diff = dc - pred
    size = int(abs(diff)).bit_length()
    ln, code = dc_codes[size]
    bw.write(code, ln)
    if size:
        bw.write(diff if diff >= 0 else diff + (1 << size) - 1, size)
    nz = np.nonzero(zz[1:])[0]
    last = nz[-1] + 1 if len(nz) else 0
    k = 1
    while k <= last:
        run = 0
        while int(zz[k]) == 0:
            run += 1
            k += 1
        while run >= 16:
            ln, code = ac_codes[0xF0]
            bw.write(code, ln)
            run -= 16
        v = int(zz[k])
        size = abs(v).bit_length()
        ln, code = ac_codes[(run << 4) | size]
        bw.write(code, ln)
        bw.write(v if v >= 0 else v + (1 << size) - 1, size)
        k += 1
    if last < 63:
        ln, code = ac_codes[0x00]
        bw.write(code, ln)
    return dc


def _prepare_qblocks(
    px: np.ndarray, quality: int, subsampling: str
) -> tuple:
    """Shared encoder front half: color transform, MCU padding,
    per-component downsampling, forward DCT, quantization. Returns
    (gray, h, w, factors, qblocks, ql, qc, hmax, vmax, mcux, mcuy)."""
    gray = px.ndim == 2
    h, w = px.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    if subsampling not in ("444", "420"):
        raise ValueError(f"subsampling must be '444' or '420', got {subsampling}")
    ql, qc = _quality_tables(quality)
    if gray:
        planes = [px.astype(np.float64)]
        qtabs = [ql]
        factors = [(1, 1)]
    else:
        f = px.astype(np.float64)
        r, g, b = f[..., 0], f[..., 1], f[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y, cb, cr]
        qtabs = [ql, qc, qc]
        factors = (
            [(1, 1)] * 3 if subsampling == "444" else [(2, 2), (1, 1), (1, 1)]
        )
    hmax = max(fa[0] for fa in factors)
    vmax = max(fa[1] for fa in factors)
    ph = -(-h // (8 * vmax)) * 8 * vmax
    pw = -(-w // (8 * hmax)) * 8 * hmax
    mcuy, mcux = ph // (8 * vmax), pw // (8 * hmax)
    qblocks = []
    for plane, q, (ch, cv) in zip(planes, qtabs, factors):
        p = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
        sy, sx = vmax // cv, hmax // ch
        if sy > 1 or sx > 1:
            p = p.reshape(ph // sy, sy, pw // sx, sx).mean(axis=(1, 3))
        p = p - 128.0
        rows, cols = p.shape[0] // 8, p.shape[1] // 8
        blks = p.reshape(rows, 8, cols, 8).transpose(0, 2, 1, 3)
        coef = np.einsum("ux,nmxy,yv->nmuv", _C, blks, _C.T.copy())
        qblocks.append(np.round(coef / q).astype(np.int64))
    return gray, h, w, factors, qblocks, ql, qc, hmax, vmax, mcux, mcuy


def encode_jpeg(
    px: np.ndarray,
    quality: int = 90,
    restart_interval: int = 0,
    subsampling: str = "444",
) -> bytes:
    """``(h, w, 3)`` uint8 RGB (or ``(h, w)`` grayscale) → baseline
    sequential JFIF bytes — the inverse of ``decode_jpeg_pixels`` up
    to quantization (and, for 4:2:0, chroma-resolution) loss. Annex K
    default Huffman tables, quality-scaled Annex K quant tables.
    ``subsampling``: ``"444"`` (one block per component per MCU) or
    ``"420"`` (2×2 luma blocks + box-averaged chroma — the layout most
    real-world JPEGs use, and what exercises the decoder's upsampling
    path). ``restart_interval`` > 0 emits DRI + RSTn markers every
    that many MCUs (exercises the decoder's restart path)."""
    (gray, h, w, factors, qblocks, ql, qc, hmax, vmax, mcux, mcuy) = (
        _prepare_qblocks(px, quality, subsampling)
    )

    dc_l = _canonical_codes(*_H_DC_LUMA)
    ac_l = _canonical_codes(*_H_AC_LUMA)
    dc_c = _canonical_codes(*_H_DC_CHROMA)
    ac_c = _canonical_codes(*_H_AC_CHROMA)
    codes = [(dc_l, ac_l)] + [(dc_c, ac_c)] * (0 if gray else 2)

    bw = _BitWriter()
    pred = [0] * len(factors)
    mcu = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.flush()
                bw.out += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
                pred = [0] * len(factors)
            for ci, (ch, cv) in enumerate(factors):
                for byi in range(cv):
                    for bxi in range(ch):
                        pred[ci] = _encode_component_block(
                            bw,
                            qblocks[ci][my * cv + byi, mx * ch + bxi],
                            pred[ci],
                            *codes[ci],
                        )
            mcu += 1
    bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes(ql.reshape(64)[_ZIG].astype(np.uint8)))
    if not gray:
        out += seg(
            0xDB, bytes([0x01]) + bytes(qc.reshape(64)[_ZIG].astype(np.uint8))
        )
    nf = 1 if gray else 3
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([nf])
    for c in range(nf):
        ch, cv = factors[c]
        sof += bytes([c + 1, (ch << 4) | cv, 0 if c == 0 else 1])
    out += seg(0xC0, sof)
    for tc_th, (bits, vals) in (
        ((0x00, _H_DC_LUMA), (0x10, _H_AC_LUMA))
        + (((0x01, _H_DC_CHROMA), (0x11, _H_AC_CHROMA)) if not gray else ())
    ):
        out += seg(0xC4, bytes([tc_th]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([nf])
    for c in range(nf):
        sos += bytes([c + 1, 0x00 if c == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)
