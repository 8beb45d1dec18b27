"""FLAC codec in stdlib + numpy — closes the compressed-audio half of
the multimodal stub (the env has no audio libs, but FLAC is a fully
public format: rice-coded residuals over fixed/LPC predictors, spec at
xiph.org / RFC 9639).

Scope (``decode_flac_samples`` returns None outside it, so callers can
tell "decodable natively" from "genuinely needs an audio library"):

- decode: 16-bit streams (the encoder's own envelope and the dominant
  real-world depth), 1-2 channels, all four channel assignments
  (independent, left/side, right/side, mid/side), CONSTANT / VERBATIM /
  FIXED (orders 0-4) / LPC subframes, rice + rice2 residual coding with
  partitions and the escape (verbatim-residual) code, wasted-bits
  shifts, UTF-8 frame numbers, frame-header CRC-8 and frame CRC-16
  verified.

No pipeline writes FLAC, so the encoder that builds the round-trip
fixtures lives with the tests (``tests/media_encoders.py``).

Determinism: pure integer arithmetic end-to-end — the same payload
always yields the same samples on any host (the partition-invariance
property every codec in this package guarantees).

Throughput honesty: the entropy layer is a Python bit loop (rice codes
are not byte-aligned, and numpy cannot vectorize data-dependent unary
runs without major contortions); that bounds single-payload decode
speed well below a C codec. The Spark-side shape is unchanged — the
codec runs inside Arrow ``mapInPandas`` batches, payloads decode where
they land, bytes never shuffle — so scale-out is by partition count,
which is the property that matters at 100 TB.
"""

from __future__ import annotations

import struct

import numpy as np

_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}

_BLOCKSIZE_TAB = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096, 13: 8192,
    14: 16384, 15: 32768,
}
_BPS_TAB = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def _crc8(data: bytes) -> int:
    """CRC-8, poly 0x07, init 0 (the FLAC frame-header CRC)."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16, poly 0x8005, init 0 (the FLAC frame CRC)."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
            )
    return crc


class _Bits:
    """MSB-first bit reader over bytes, with a byte-position anchor so
    frame CRCs can be computed over the exact consumed span."""

    __slots__ = ("d", "bitpos")

    def __init__(self, data: bytes, bitpos: int = 0):
        self.d = data
        self.bitpos = bitpos

    def u(self, n: int) -> int:
        v = 0
        d, p = self.d, self.bitpos
        for _ in range(n):
            byte = d[p >> 3]
            v = (v << 1) | ((byte >> (7 - (p & 7))) & 1)
            p += 1
        self.bitpos = p
        return v

    def s(self, n: int) -> int:
        v = self.u(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def unary(self) -> int:
        d, p = self.d, self.bitpos
        q = 0
        while ((d[p >> 3] >> (7 - (p & 7))) & 1) == 0:
            q += 1
            p += 1
        self.bitpos = p + 1
        return q

    def align(self) -> None:
        self.bitpos = (self.bitpos + 7) & ~7


def _read_utf8_number(br: _Bits) -> int:
    """FLAC's UTF-8-style frame/sample number coding (extended to 36
    bits — up to 6 continuation bytes)."""
    b0 = br.u(8)
    if b0 < 0x80:
        return b0
    n = 0
    mask = 0x40
    while b0 & mask:
        n += 1
        mask >>= 1
    if n == 0 or n > 6:
        raise ValueError("bad UTF-8 coded number")
    v = b0 & (mask - 1)
    for _ in range(n):
        c = br.u(8)
        if (c & 0xC0) != 0x80:
            raise ValueError("bad UTF-8 continuation")
        v = (v << 6) | (c & 0x3F)
    return v


def _read_residual(br: _Bits, n: int, order: int) -> list[int]:
    """Rice-coded residual section: 2-bit method, 4-bit partition
    order, 2^po partitions with per-partition rice parameter (or the
    escape → raw s-bit residuals)."""
    method = br.u(2)
    if method > 1:
        raise ValueError("reserved residual method")
    pbits, escape = (4, 15) if method == 0 else (5, 31)
    po = br.u(4)
    nparts = 1 << po
    if n % nparts:
        raise ValueError("block size not divisible by partitions")
    out: list[int] = []
    for part in range(nparts):
        cnt = (n >> po) - (order if part == 0 else 0)
        if cnt < 0:
            raise ValueError("negative partition count")
        param = br.u(pbits)
        if param == escape:
            raw = br.u(5)
            if raw == 0:
                out.extend([0] * cnt)
            else:
                for _ in range(cnt):
                    out.append(br.s(raw))
        else:
            for _ in range(cnt):
                q = br.unary()
                r = br.u(param) if param else 0
                zz = (q << param) | r
                out.append((zz >> 1) ^ -(zz & 1))  # unzigzag
    return out


def _decode_subframe(br: _Bits, n: int, bps: int) -> np.ndarray:
    if br.u(1):
        raise ValueError("subframe padding bit set")
    sft = br.u(6)
    wasted = 0
    if br.u(1):
        wasted = br.unary() + 1
    eff = bps - wasted
    if sft == 0:  # CONSTANT
        v = br.s(eff)
        out = np.full(n, v, dtype=np.int64)
    elif sft == 1:  # VERBATIM
        out = np.array([br.s(eff) for _ in range(n)], dtype=np.int64)
    elif 8 <= sft <= 12:  # FIXED, order 0-4
        order = sft - 8
        warm = [br.s(eff) for _ in range(order)]
        res = _read_residual(br, n, order)
        coefs = _FIXED_COEFS[order]
        samples = list(warm)
        for i, e in enumerate(res):
            pred = 0
            for j, c in enumerate(coefs):
                pred += c * samples[order + i - 1 - j]
            samples.append(pred + e)
        out = np.array(samples, dtype=np.int64)
    elif sft >= 32:  # LPC, order 1-32
        order = sft - 31
        warm = [br.s(eff) for _ in range(order)]
        prec = br.u(4) + 1
        if prec == 16:
            raise ValueError("invalid LPC precision")
        shift = br.s(5)
        if shift < 0:
            raise ValueError("negative LPC shift")
        coefs = [br.s(prec) for _ in range(order)]
        res = _read_residual(br, n, order)
        samples = list(warm)
        for i, e in enumerate(res):
            acc = 0
            for j, c in enumerate(coefs):
                acc += c * samples[order + i - 1 - j]
            samples.append((acc >> shift) + e)
        out = np.array(samples, dtype=np.int64)
    else:
        raise ValueError(f"reserved subframe type {sft}")
    if wasted:
        out = out << wasted
    return out


def sniff_flac(raw: bytes) -> dict | None:
    """STREAMINFO header decode, stdlib-only: rate / channels / bit
    depth / total samples → duration. None when not a FLAC stream."""
    info = _streaminfo(raw)
    if info is None:
        return None
    rate, channels, bps, total, _ = info
    return {
        "mime": "audio/flac",
        "sample_rate": rate,
        "channels": channels,
        "bits_per_sample": bps,
        "n_frames": total,
        "duration_s": (total / rate) if rate else None,
    }


def _streaminfo(raw: bytes) -> tuple[int, int, int, int, int] | None:
    """(rate, channels, bps, total_samples, first_frame_offset)."""
    if len(raw) < 42 or raw[:4] != b"fLaC":
        return None
    pos = 4
    found = None
    while pos + 4 <= len(raw):
        hdr = raw[pos]
        last = hdr & 0x80
        btype = hdr & 0x7F
        ln = int.from_bytes(raw[pos + 1 : pos + 4], "big")
        body = raw[pos + 4 : pos + 4 + ln]
        if btype == 0 and len(body) >= 34:
            br = _Bits(body)
            br.u(16)  # min blocksize
            br.u(16)  # max blocksize
            br.u(24)  # min framesize
            br.u(24)  # max framesize
            rate = br.u(20)
            channels = br.u(3) + 1
            bps = br.u(5) + 1
            total = br.u(36)
            found = (rate, channels, bps, total)
        pos += 4 + ln
        if last:
            break
    if found is None or pos > len(raw):
        return None
    rate, channels, bps, total = found
    return rate, channels, bps, total, pos


def decode_flac_samples(raw: bytes) -> tuple[int, np.ndarray] | None:
    """FLAC → ``(sample_rate, (n_frames, channels) int16 ndarray)``, or
    None when the payload is not a FLAC stream this codec covers
    (non-16-bit, >2 channels, corrupt CRC)."""
    try:
        return _decode(raw)
    except Exception:
        return None


def _decode(raw: bytes) -> tuple[int, np.ndarray] | None:
    info = _streaminfo(raw)
    if info is None:
        return None
    rate, channels, bps, total, pos = info
    if bps != 16 or channels not in (1, 2) or rate == 0:
        return None
    chans: list[np.ndarray] = []
    got = 0
    # total_samples == 0 is LEGAL (RFC 9639: "0 means unknown" — a
    # streaming encoder that can't seek back writes it); decode until
    # the byte stream runs out instead of refusing the file
    while (total == 0 or got < total) and pos + 4 <= len(raw):
        frame_start = pos
        br = _Bits(raw, pos * 8)
        sync = br.u(14)
        if sync != 0x3FFE:
            if total == 0 and chans:
                # unknown-length stream: non-frame trailing bytes
                # (ID3v1 tag, padding) mark end-of-stream, not
                # corruption — keep what decoded
                break
            return None
        br.u(1)  # reserved
        br.u(1)  # blocking strategy
        bs_code = br.u(4)
        rate_code = br.u(4)
        chan_code = br.u(4)
        bps_code = br.u(3)
        br.u(1)  # reserved
        _read_utf8_number(br)
        if bs_code == 0:
            return None
        elif bs_code == 6:
            n = br.u(8) + 1
        elif bs_code == 7:
            n = br.u(16) + 1
        else:
            n = _BLOCKSIZE_TAB[bs_code]
        if rate_code == 12:
            br.u(8)
        elif rate_code in (13, 14):
            br.u(16)
        elif rate_code == 15:
            return None
        fbps = _BPS_TAB.get(bps_code, bps if bps_code == 0 else None)
        if fbps is None or fbps != 16:
            return None
        hdr_end = (br.bitpos + 7) // 8
        if _crc8(raw[frame_start:hdr_end]) != raw[hdr_end]:
            raise ValueError("frame header CRC mismatch")
        br.bitpos = (hdr_end + 1) * 8
        if chan_code < 8:
            nch = chan_code + 1
            if nch != channels:
                return None
            subs = [_decode_subframe(br, n, 16) for _ in range(nch)]
        elif chan_code in (8, 9, 10):
            if channels != 2:
                return None
            # side channel carries one extra bit
            if chan_code == 8:  # left/side
                left = _decode_subframe(br, n, 16)
                side = _decode_subframe(br, n, 17)
                subs = [left, left - side]
            elif chan_code == 9:  # right/side
                side = _decode_subframe(br, n, 17)
                right = _decode_subframe(br, n, 16)
                subs = [right + side, right]
            else:  # mid/side
                mid = _decode_subframe(br, n, 16)
                side = _decode_subframe(br, n, 17)
                m2 = (mid << 1) | (side & 1)
                subs = [(m2 + side) >> 1, (m2 - side) >> 1]
        else:
            return None
        br.align()
        crc_pos = br.bitpos // 8
        if crc_pos + 2 > len(raw):
            return None
        want = struct.unpack(">H", raw[crc_pos : crc_pos + 2])[0]
        if _crc16(raw[frame_start:crc_pos]) != want:
            raise ValueError("frame CRC mismatch")
        pos = crc_pos + 2
        take = min(n, total - got) if total else n
        frame = np.stack([s[:take] for s in subs], axis=1)
        chans.append(frame)
        got += take
    if not chans:
        return None
    out = np.concatenate(chans, axis=0)
    if np.any(out < -32768) or np.any(out > 32767):
        raise ValueError("sample out of 16-bit range")
    return rate, out.astype(np.int16)
