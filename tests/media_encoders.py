"""Media encoders that only build test fixtures for the package's
decoders: an MP4 with a JPEG-coded track (``mp4_jpeg_track``), a
progressive JPEG (``decode_jpeg_pixels``' SOF2 path) and FLAC
(``decode_flac_samples``). Each is a spec-conforming writer, kept out
of the package because no pipeline writes these formats.
"""

from __future__ import annotations

import struct

import numpy as np

from hospital_stain_tracker_data_pipeline_spark.operators.flac import (
    _FIXED_COEFS,
    _crc8,
    _crc16,
)
from hospital_stain_tracker_data_pipeline_spark.operators.jpeg import (
    _ZIG,
    _BitWriter,
    _canonical_codes,
    _prepare_qblocks,
)


# ---------------------------------------------------------------------------
# MP4 with a JPEG-coded video track
# ---------------------------------------------------------------------------


def build_mjpeg_mp4(
    frames: list[bytes], width: int, height: int, fps: float = 10.0
) -> bytes:
    """Assemble JPEG frames into a minimal ISO-BMFF file with a
    'jpeg'-coded video track (ftyp + mdat + moov with the full stbl:
    stsd/stts/stsc/stsz/stco) — the write-side of the real MP4 frame
    path and its test rig. One sample per chunk; absolute stco offsets
    point into the mdat that precedes moov."""
    if not frames:
        raise ValueError("at least one frame required")
    scale = 1000
    delta = int(round(scale / fps))

    def box(typ: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", len(payload) + 8) + typ + payload

    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    mdat_payload = b"".join(frames)
    offsets = []
    off = len(ftyp) + 8
    for f in frames:
        offsets.append(off)
        off += len(f)
    mdat = box(b"mdat", mdat_payload)
    n = len(frames)
    dur = n * delta
    full = b"\x00\x00\x00\x00"  # version+flags
    mvhd = box(
        b"mvhd", full + bytes(8) + struct.pack(">II", scale, dur) + bytes(80)
    )
    tkhd = box(b"tkhd", full + bytes(92))
    mdhd = box(
        b"mdhd", full + bytes(8) + struct.pack(">II", scale, dur) + bytes(4)
    )
    hdlr = box(b"hdlr", full + bytes(4) + b"vide" + bytes(12) + b"\x00")
    entry = (
        struct.pack(">I", 86) + b"jpeg" + bytes(6) + struct.pack(">H", 1)
        + bytes(16) + struct.pack(">HH", width, height) + bytes(50)
    )
    stsd = box(b"stsd", full + struct.pack(">I", 1) + entry)
    stts = box(b"stts", full + struct.pack(">III", 1, n, delta))
    stsc = box(b"stsc", full + struct.pack(">IIII", 1, 1, 1, 1))
    stsz = box(
        b"stsz",
        full + struct.pack(">II", 0, n)
        + b"".join(struct.pack(">I", len(f)) for f in frames),
    )
    stco = box(
        b"stco",
        full + struct.pack(">I", n)
        + b"".join(struct.pack(">I", o) for o in offsets),
    )
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = box(b"minf", stbl)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


# ---------------------------------------------------------------------------
# Progressive JPEG encoder (T.81 §G.1), the round-trip rig for the
# progressive decoder
# ---------------------------------------------------------------------------

# Flat Huffman tables that include the EOBn symbols (0x10..0xE0) the
# Annex K tables lack — progressive EOB runs > 1 cannot be coded with
# Annex K. DC: 12 categories at 4 bits. AC: all 256 rs values, 255 at
# 9 bits + 1 at 10 (a DHT bits byte caps at 255), so no code is
# all-ones. Compression efficiency is irrelevant here; correctness and
# decoder-table generality are what matter.
_H_DC_FLAT = ([0, 0, 0, 12] + [0] * 12, list(range(12)))
_H_AC_FLAT = ([0] * 8 + [255, 1] + [0] * 6, list(range(256)))


def _emit_sym(bw: _BitWriter, codes: dict, sym: int) -> None:
    ln, code = codes[sym]
    bw.write(code, ln)


def _flush_eob(
    bw: _BitWriter, codes: dict, eobrun: int, be: list[int]
) -> tuple[int, list[int]]:
    """Emit a pending EOBn code plus the correction bits buffered for
    the blocks inside the run (G.1.2.3)."""
    if eobrun > 0:
        rb = eobrun.bit_length() - 1
        _emit_sym(bw, codes, rb << 4)
        if rb:
            bw.write(eobrun - (1 << rb), rb)
        for b in be:
            bw.write(b, 1)
    return 0, []


def _enc_ac_first(
    bw: _BitWriter,
    blocks: list[np.ndarray],
    ss: int,
    se: int,
    al: int,
    codes: dict,
) -> None:
    """AC first pass (Ah=0): baseline run/size coding plus EOBn runs;
    the point transform is |v| >> Al with the sign re-applied."""
    eobrun = 0
    for blk in blocks:
        r = 0
        for k in range(ss, se + 1):
            v = int(blk[_ZIG[k]])
            t = (v if v >= 0 else -v) >> al
            if t == 0:
                r += 1
                continue
            if eobrun:
                eobrun, _ = _flush_eob(bw, codes, eobrun, [])
            while r > 15:
                _emit_sym(bw, codes, 0xF0)
                r -= 16
            s = t.bit_length()
            _emit_sym(bw, codes, (r << 4) | s)
            mask = (1 << s) - 1
            bw.write(t if v >= 0 else mask - t, s)
            r = 0
        if r > 0:
            eobrun += 1
            if eobrun == 0x7FFF:
                eobrun, _ = _flush_eob(bw, codes, eobrun, [])
    if eobrun:
        _flush_eob(bw, codes, eobrun, [])


def _enc_ac_refine(
    bw: _BitWriter,
    blocks: list[np.ndarray],
    ss: int,
    se: int,
    al: int,
    codes: dict,
) -> None:
    """AC refinement pass (Ah=Al+1): newly-significant coefficients as
    run/1 codes with a sign bit; already-significant ones as buffered
    correction bits. The ZRL flush runs at EVERY nonzero coefficient
    (not only newly-significant ones) — that is what keeps each
    buffered correction bit inside the 16-zero window the decoder's
    ZRL walk covers (the subtle ordering invariant of G.1.2.3)."""
    eobrun = 0
    be: list[int] = []
    for blk in blocks:
        absv = [(abs(int(blk[_ZIG[k]])) >> al) for k in range(ss, se + 1)]
        eob = -1
        for i, t in enumerate(absv):
            if t == 1:
                eob = i
        r = 0
        br: list[int] = []
        for i, t in enumerate(absv):
            if t == 0:
                r += 1
                continue
            while r > 15 and i <= eob:
                eobrun, be = _flush_eob(bw, codes, eobrun, be)
                _emit_sym(bw, codes, 0xF0)
                r -= 16
                for b in br:
                    bw.write(b, 1)
                br = []
            if t > 1:
                br.append(t & 1)
                continue
            eobrun, be = _flush_eob(bw, codes, eobrun, be)
            _emit_sym(bw, codes, (r << 4) | 1)
            bw.write(1 if int(blk[_ZIG[ss + i]]) >= 0 else 0, 1)
            for b in br:
                bw.write(b, 1)
            br = []
            r = 0
        if r > 0 or br:
            eobrun += 1
            be.extend(br)
            if eobrun == 0x7FFF:
                eobrun, be = _flush_eob(bw, codes, eobrun, be)
    if eobrun:
        _flush_eob(bw, codes, eobrun, be)


def encode_jpeg_progressive(
    px: np.ndarray,
    quality: int = 90,
    successive: bool = True,
    subsampling: str = "444",
) -> bytes:
    """``(h, w, 3)`` uint8 RGB (or ``(h, w)`` grayscale) → progressive
    JFIF bytes (SOF2). Scan script: one interleaved DC scan, per-
    component AC scans with the luma band split in two (spectral
    selection); with ``successive=True`` every first pass runs at
    Al=1 and is followed by DC/AC refinement scans (successive
    approximation) — together the scans exercise every branch of the
    progressive decoder: band limits, EOB runs, correction bits, the
    ZRL-with-history walk."""
    (gray, h, w, factors, qblocks, ql, qc, hmax, vmax, mcux, mcuy) = (
        _prepare_qblocks(px, quality, subsampling)
    )
    nf = 1 if gray else 3
    dc_codes = _canonical_codes(*_H_DC_FLAT)
    ac_codes = _canonical_codes(*_H_AC_FLAT)

    def comp_blocks(ci: int) -> list[np.ndarray]:
        ch, cv = factors[ci]
        nbx = -(-(-(-w * ch // hmax)) // 8)
        nby = -(-(-(-h * cv // vmax)) // 8)
        return [
            qblocks[ci][by, bx].reshape(64)
            for by in range(nby)
            for bx in range(nbx)
        ]

    def dc_scan(bw: _BitWriter, al: int) -> None:
        pred = [0] * nf
        for my in range(mcuy):
            for mx in range(mcux):
                for ci in range(nf):
                    ch, cv = factors[ci]
                    for by in range(cv):
                        for bx in range(ch):
                            dc = int(qblocks[ci][my * cv + by, mx * ch + bx, 0, 0])
                            t = dc >> al  # arithmetic shift per spec
                            diff = t - pred[ci]
                            pred[ci] = t
                            s = abs(diff).bit_length()
                            _emit_sym(bw, dc_codes, s)
                            if s:
                                bw.write(
                                    diff if diff >= 0 else diff + (1 << s) - 1,
                                    s,
                                )

    def dc_refine(bw: _BitWriter, al: int) -> None:
        for my in range(mcuy):
            for mx in range(mcux):
                for ci in range(nf):
                    ch, cv = factors[ci]
                    for by in range(cv):
                        for bx in range(ch):
                            dc = int(qblocks[ci][my * cv + by, mx * ch + bx, 0, 0])
                            bw.write((dc >> al) & 1, 1)

    # scan script: (kind, comps, ss, se, ah, al). The successive
    # script mirrors libjpeg's standard one — AC first passes at Al=2,
    # then a 2→1 refinement over the FULL band (deliberately not the
    # same band split as the first passes) and a final 1→0 pass — so a
    # round-trip exercises multi-level refinement and band-boundary
    # independence in the decoder, not just a single correction pass.
    scans: list[tuple]
    if not successive:
        scans = [("dc_first", list(range(nf)), 0, 0, 0, 0)]
        ac_bands = [(0, 1, 5), (0, 6, 63)] + (
            [(1, 1, 63), (2, 1, 63)] if not gray else []
        )
        for ci, ss, se in ac_bands:
            scans.append(("ac_first", [ci], ss, se, 0, 0))
    else:
        scans = [("dc_first", list(range(nf)), 0, 0, 0, 1)]
        if gray:
            scans += [
                ("ac_first", [0], 1, 5, 0, 2),
                ("ac_first", [0], 6, 63, 0, 2),
                ("ac_refine", [0], 1, 63, 2, 1),
                ("dc_refine", [0], 0, 0, 1, 0),
                ("ac_refine", [0], 1, 63, 1, 0),
            ]
        else:
            scans += [
                ("ac_first", [0], 1, 5, 0, 2),
                ("ac_first", [1], 1, 63, 0, 1),
                ("ac_first", [2], 1, 63, 0, 1),
                ("ac_first", [0], 6, 63, 0, 2),
                ("ac_refine", [0], 1, 63, 2, 1),
                ("dc_refine", list(range(nf)), 0, 0, 1, 0),
                ("ac_refine", [2], 1, 63, 1, 0),
                ("ac_refine", [1], 1, 63, 1, 0),
                ("ac_refine", [0], 1, 63, 1, 0),
            ]

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes(ql.reshape(64)[_ZIG].astype(np.uint8)))
    if not gray:
        out += seg(
            0xDB, bytes([0x01]) + bytes(qc.reshape(64)[_ZIG].astype(np.uint8))
        )
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([nf])
    for c in range(nf):
        ch, cv = factors[c]
        sof += bytes([c + 1, (ch << 4) | cv, 0 if c == 0 else 1])
    out += seg(0xC2, sof)
    bits_dc, vals_dc = _H_DC_FLAT
    bits_ac, vals_ac = _H_AC_FLAT
    out += seg(0xC4, bytes([0x00]) + bytes(bits_dc) + bytes(vals_dc))
    out += seg(0xC4, bytes([0x10]) + bytes(bits_ac) + bytes(vals_ac))

    for kind, cis, ss, se, ah, al in scans:
        sos = bytes([len(cis)])
        for ci in cis:
            sos += bytes([ci + 1, 0x00])  # DC table 0 / AC table 0
        sos += bytes([ss, se, (ah << 4) | al])
        out += seg(0xDA, sos)
        bw = _BitWriter()
        if kind == "dc_first":
            dc_scan(bw, al)
        elif kind == "dc_refine":
            dc_refine(bw, al)
        elif kind == "ac_first":
            _enc_ac_first(bw, comp_blocks(cis[0]), ss, se, al, ac_codes)
        else:
            _enc_ac_refine(bw, comp_blocks(cis[0]), ss, se, al, ac_codes)
        bw.flush()
        out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# FLAC encoder: 16-bit, fixed blocking, CONSTANT / VERBATIM / FIXED
# subframes (optionally a legal order-2 LPC one), every stereo mode
# ---------------------------------------------------------------------------

class _BitsW:
    __slots__ = ("out", "buf", "n")

    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.n = 0

    def u(self, v: int, bits: int) -> None:
        for i in range(bits - 1, -1, -1):
            self.buf = (self.buf << 1) | ((v >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.buf)
                self.buf, self.n = 0, 0

    def s(self, v: int, bits: int) -> None:
        self.u(v & ((1 << bits) - 1), bits)

    def unary(self, q: int) -> None:
        for _ in range(q):
            self.u(0, 1)
        self.u(1, 1)

    def align(self) -> None:
        while self.n:
            self.u(0, 1)


def _utf8_number(v: int) -> bytes:
    if v < 0x80:
        return bytes([v])
    out = []
    nbytes = 1
    while v >= (1 << (6 + 5 * nbytes)) and nbytes < 6:
        nbytes += 1
    lead_bits = 6 - nbytes
    shift = 6 * nbytes
    lead = (0xFF << (lead_bits + 1)) & 0xFF | (v >> shift)
    out.append(lead)
    for i in range(nbytes - 1, -1, -1):
        out.append(0x80 | ((v >> (6 * i)) & 0x3F))
    return bytes(out)


def _rice_cost(res: list[int], param: int) -> int:
    c = 0
    for e in res:
        zz = (e << 1) if e >= 0 else (((-e) << 1) - 1)
        c += (zz >> param) + 1 + param
    return c


def _write_residual(
    bw: _BitsW, res: list[int], order: int, n: int, partition_order: int
) -> None:
    """Rice method 0 (4-bit params), per-partition parameter chosen by
    exact cost; escapes to raw storage when rice would be worse."""
    while partition_order > 0 and (
        n % (1 << partition_order) or (n >> partition_order) <= order
    ):
        partition_order -= 1
    bw.u(0, 2)
    bw.u(partition_order, 4)
    nparts = 1 << partition_order
    idx = 0
    for part in range(nparts):
        cnt = (n >> partition_order) - (order if part == 0 else 0)
        chunk = res[idx : idx + cnt]
        idx += cnt
        best_p, best_c = 0, None
        for p in range(15):
            c = _rice_cost(chunk, p)
            if best_c is None or c < best_c:
                best_p, best_c = p, c
        maxabs = max((abs(e) for e in chunk), default=0)
        rawbits = max(maxabs.bit_length() + 1, 1) if maxabs else 0
        if rawbits and best_c > 5 + rawbits * cnt:
            bw.u(15, 4)  # escape
            bw.u(rawbits, 5)
            for e in chunk:
                bw.s(e, rawbits)
        elif not chunk:
            bw.u(best_p, 4)
        else:
            bw.u(best_p, 4)
            for e in chunk:
                zz = (e << 1) if e >= 0 else (((-e) << 1) - 1)
                bw.unary(zz >> best_p)
                if best_p:
                    bw.u(zz & ((1 << best_p) - 1), best_p)


def _encode_subframe(
    bw: _BitsW,
    x: np.ndarray,
    bps: int,
    partition_order: int,
    force_lpc: bool,
) -> None:
    vals = [int(v) for v in x]
    n = len(vals)
    if all(v == vals[0] for v in vals):
        bw.u(0, 1)
        bw.u(0, 6)  # CONSTANT
        bw.u(0, 1)
        bw.s(vals[0], bps)
        return
    if force_lpc and n > 2:
        # a legal order-2 LPC subframe with the fixed-order-2
        # coefficients (2, -1) at shift 0 — exercises the decoder's
        # LPC path with exact integer prediction
        order, coefs, shift, prec = 2, [2, -1], 0, 15
        bw.u(0, 1)
        bw.u(32 + order - 1, 6)
        bw.u(0, 1)
        for v in vals[:order]:
            bw.s(v, bps)
        bw.u(prec - 1, 4)
        bw.s(shift, 5)
        for c in coefs:
            bw.s(c, prec)
        res = [
            vals[i] - ((coefs[0] * vals[i - 1] + coefs[1] * vals[i - 2]) >> shift)
            for i in range(order, n)
        ]
        _write_residual(bw, res, order, n, partition_order)
        return
    # pick the cheapest FIXED order 0-2 by total |residual|
    best = None
    for order in range(0, min(3, n)):
        coefs = _FIXED_COEFS[order]
        res = [
            vals[i] - sum(c * vals[i - 1 - j] for j, c in enumerate(coefs))
            for i in range(order, n)
        ]
        cost = sum(abs(e) for e in res)
        if best is None or cost < best[2]:
            best = (order, res, cost)
    order, res, _ = best
    # FIXED residuals of 16-bit input fit rice; if any residual would
    # overflow the escape's 31-bit raw cap, fall back to VERBATIM
    if any(abs(e) > (1 << 30) for e in res):
        bw.u(0, 1)
        bw.u(1, 6)  # VERBATIM
        bw.u(0, 1)
        for v in vals:
            bw.s(v, bps)
        return
    bw.u(0, 1)
    bw.u(8 + order, 6)
    bw.u(0, 1)
    for v in vals[:order]:
        bw.s(v, bps)
    _write_residual(bw, res, order, n, partition_order)


def encode_flac(
    samples: np.ndarray,
    rate: int,
    blocksize: int = 4096,
    stereo: str = "independent",
    partition_order: int = 0,
    force_lpc: bool = False,
) -> bytes:
    """``(n_frames, channels)`` int16 → FLAC bytes (fixed blocking,
    16-bit). ``stereo``: ``independent`` / ``left_side`` /
    ``right_side`` / ``mid_side`` (2-channel input only) — the four
    channel assignments the decoder supports. ``partition_order`` sets
    the rice partitioning of every residual section (clamped per block
    when it does not divide). ``force_lpc`` encodes non-constant
    subframes as a legal order-2 LPC subframe instead of FIXED."""
    if samples.ndim == 1:
        samples = samples[:, None]
    if samples.dtype != np.int16:
        raise ValueError("encode_flac expects int16 samples")
    nfr, nch = samples.shape
    if nch not in (1, 2):
        raise ValueError("1 or 2 channels only")
    if stereo != "independent" and nch != 2:
        raise ValueError("stereo decorrelation needs 2 channels")
    if nfr == 0:
        raise ValueError("empty audio")
    out = bytearray(b"fLaC")
    # STREAMINFO (last metadata block)
    si = _BitsW()
    si.u(blocksize, 16)
    si.u(blocksize, 16)
    si.u(0, 24)
    si.u(0, 24)
    si.u(rate, 20)
    si.u(nch - 1, 3)
    si.u(15, 5)  # bps - 1
    si.u(nfr, 36)
    body = bytes(si.out) + bytes(16)  # md5 unset (all zero = unknown)
    out += bytes([0x80]) + len(body).to_bytes(3, "big") + body

    chan_code = {
        "independent": nch - 1,
        "left_side": 8,
        "right_side": 9,
        "mid_side": 10,
    }[stereo]
    x = samples.astype(np.int64)
    frame_no = 0
    for start in range(0, nfr, blocksize):
        blk = x[start : start + blocksize]
        n = blk.shape[0]
        hdr = _BitsW()
        hdr.u(0x3FFE, 14)
        hdr.u(0, 1)
        hdr.u(0, 1)  # fixed blocking
        hdr.u(7, 4)  # blocksize: 16-bit at end of header
        hdr.u(0, 4)  # rate: from STREAMINFO
        hdr.u(chan_code, 4)
        hdr.u(4, 3)  # bps 16
        hdr.u(0, 1)
        hdr.align()
        head = bytes(hdr.out) + _utf8_number(frame_no) + struct.pack(">H", n - 1)
        head += bytes([_crc8(head)])
        bw = _BitsW()
        if stereo == "independent":
            chans = [(blk[:, c], 16) for c in range(nch)]
        elif stereo == "left_side":
            chans = [(blk[:, 0], 16), (blk[:, 0] - blk[:, 1], 17)]
        elif stereo == "right_side":
            chans = [(blk[:, 0] - blk[:, 1], 17), (blk[:, 1], 16)]
        else:  # mid_side
            s = blk[:, 0] - blk[:, 1]
            m = (blk[:, 0] + blk[:, 1]) >> 1
            chans = [(m, 16), (s, 17)]
        for cx, cbps in chans:
            _encode_subframe(bw, cx, cbps, partition_order, force_lpc)
        bw.align()
        frame = head + bytes(bw.out)
        frame += struct.pack(">H", _crc16(frame))
        out += frame
        frame_no += 1
    return bytes(out)
