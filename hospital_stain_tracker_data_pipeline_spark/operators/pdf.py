"""PDF text extraction — REAL parsing for the dominant real-world
case, stdlib-only (the ingestion surface a pretraining corpus needs
beside HTML and WARC: academic and document corpora arrive as PDF).

What is real here (PDF 1.4+, ISO 32000 subset):
- object scan (``N G obj ... endobj``) with direct-/Length stream
  extraction and a lazy ``endstream`` fallback;
- the Catalog → Pages → Kids page-tree walk (nested Pages nodes,
  Contents as one ref or an array of refs) so pages come out in
  DOCUMENT order, not file order;
- object streams (``/Type /ObjStm``, PDF 1.5+): Flate-compressed
  containers whose member objects (typically the Catalog, Pages and
  Page dicts of every modern writer) are unpacked and merged into the
  object map before the page-tree walk — native extraction covers
  xref-stream PDFs, not just classic-xref 1.4 files;
- the full non-image filter suite for content streams (round 14):
  FlateDecode (stdlib zlib — by far the most common), LZWDecode
  (spec-verified variable-width codes, /EarlyChange honored),
  ASCIIHexDecode, ASCII85Decode, RunLengthDecode, multi-stage
  /Filter chains applied in array order, and the /DecodeParms
  Predictor pre-transform (TIFF 2 + PNG 10-15) for Flate/LZW;
- the text-showing operators: ``Tj``, ``'``, ``"``, and ``TJ`` arrays,
  with full literal-string unescaping (nested parens, ``\\(``-style
  escapes, octal codes, line continuations) and ``<hex>`` strings;
  text-positioning operators (``Td``/``TD``/``T*``/``Tm``) break
  lines, ``ET`` breaks blocks.

Loud ceilings (the multimodal module's decode policy): encrypted
documents (``/Encrypt`` in a trailer or xref-stream dict — page TEXT
merely mentioning ``/Encrypt 5 0 R`` is not refused), the image/crypt
codecs (DCTDecode/JPXDecode/CCITTFax/JBIG2/Crypt — pixels or
key-dependent, never text), and CID/Type0 composite fonts
whose strings are not byte-per-glyph come out wrong or not at all —
extraction raises unless ``fake_decode`` (deterministic stand-in,
``extracted=False``). Strings decode as Latin-1 (PDFDocEncoding
agrees with it over the printable range; a full encoding map needs
the font program this environment lacks).

Scale shape: one Arrow-batched ``mapInPandas`` pass; PDF bytes never
cross a shuffle; downstream the extracted text joins the ordinary
document pipeline (quality/dedup/packing).

Reference parity note: the reference pipeline has no PDF surface;
this module is part of the prompt-mandated training-data extension
set (source connectors).
"""

from __future__ import annotations

import hashlib
import re
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b(.*?)endobj", re.DOTALL)
_STREAM_RE = re.compile(rb"stream\r?\n")


def _find_objects(raw: bytes) -> dict[int, bytes]:
    """Object number -> body bytes (dict + optional stream), LAST
    definition BY FILE OFFSET wins — incremental updates append
    re-definitions, so later-in-file is newer in either direction:
    a top-level redefinition appended after an ObjStm supersedes the
    stale packed copy, AND a newer copy packed into an appended
    ``/Type /ObjStm`` supersedes a stale top-level object from the
    base revision (members rank by their CONTAINER's offset). This is
    the offset generalization of the classic last-def-wins heuristic;
    exact resolution would walk the xref chain, but appended-later ==
    newer holds for every conforming incremental writer."""
    best: dict[int, tuple[int, bytes]] = {}

    def put(num: int, offset: int, body: bytes) -> None:
        if num not in best or offset >= best[num][0]:
            best[num] = (offset, body)

    containers: list[tuple[int, bytes]] = []
    for m in _OBJ_RE.finditer(raw):
        put(int(m.group(1)), m.start(), m.group(3))
        containers.append((m.start(), m.group(3)))
    for offset, body in containers:
        for num, member in _objstm_members(body).items():
            put(num, offset, member)
    return {num: body for num, (_off, body) in best.items()}


def _objstm_members(body: bytes) -> dict[int, bytes]:
    """Member objects of one ``/Type /ObjStm`` object body (PDF 1.5+):
    the decoded stream opens with ``/N`` pairs of integers
    ``objnum offset`` (offsets relative to ``/First``), followed by
    the concatenated member bodies. Returns {} for non-ObjStm objects
    and for torn/undecodable containers (the caller treats that as
    "no members", so damage degrades to the classic object scan)."""
    sm = _STREAM_RE.search(body)
    if sm is None:
        return {}
    prefix = body[: sm.start()]
    if re.search(rb"/Type\s*/ObjStm\b", prefix) is None:
        return {}
    nm = re.search(rb"/N\s+(\d+)", prefix)
    fm = re.search(rb"/First\s+(\d+)", prefix)
    data = _decode_stream(body)
    if nm is None or fm is None or data is None:
        return {}
    n, first = int(nm.group(1)), int(fm.group(1))
    header = data[:first].split()
    if len(header) < 2 * n:
        return {}
    try:
        nums = [int(x) for x in header[: 2 * n]]
    except ValueError:
        return {}
    out: dict[int, bytes] = {}
    for i in range(n):
        objnum, off = nums[2 * i], nums[2 * i + 1]
        end = first + nums[2 * i + 3] if i + 1 < n else len(data)
        if not 0 <= first + off <= end <= len(data):
            return {}  # torn offsets: refuse the whole container
        out[objnum] = data[first + off : end]
    return out


_TRAILER_KW_RE = re.compile(rb"trailer\s*<<")
_ENCRYPT_REF_RE = re.compile(rb"/Encrypt\s+\d+\s+\d+\s+R")
_MASK_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)")


def _skip_literal_string(buf: bytes, i: int) -> int:
    """Index just past the PDF literal string opening at ``buf[i]``
    (which must be ``(``): honors backslash escapes (``\\)`` does not
    close) and nested balanced parens, per ISO 32000 §7.3.4.2. A
    torn/unterminated string consumes to end-of-buffer — the caller's
    depth scan then comes up unbalanced and refuses, which is the
    right failure mode for a torn file."""
    depth, i = 1, i + 1
    while depth and i < len(buf):
        c = buf[i]
        if c == 0x5C:  # backslash: the next byte is never a delimiter
            i += 2
        elif c == 0x28:  # (
            depth += 1
            i += 1
        elif c == 0x29:  # )
            depth -= 1
            i += 1
        else:
            i += 1
    return i


def _skip_comment(buf: bytes, i: int) -> int:
    """Index just past the PDF comment opening at ``buf[i]`` (which
    must be ``%``): comments run to end-of-line (ISO 32000 §7.2.4) and
    their bytes — including unmatched ``(`` or stray ``>>`` — are
    content, not tokens. Skipping them keeps a paren inside a comment
    from being taken for a literal-string opener (which would swallow
    the rest of the dict and read an encrypted file as unencrypted)."""
    while i < len(buf) and buf[i] not in (0x0A, 0x0D):
        i += 1
    return i


def _trailer_dict_bodies(masked: bytes):
    """Balanced trailer dictionary bodies. ``<<``/``>>`` nest (a
    trailer may legally carry an inline dictionary value before
    /Encrypt), so a first-``>>`` regex truncates the scan and an
    encrypted file reads as unencrypted — depth-count instead.
    Literal-string values are skipped whole: ``>>`` or ``<<`` BYTES
    inside ``/Producer (a>>b)`` are string content, not delimiters,
    and counting them would truncate the scan before ``/Encrypt``
    (the same residual class the old first-``>>`` regex had).
    Unterminated dicts (torn file) yield nothing."""
    for m in _TRAILER_KW_RE.finditer(masked):
        depth, i, start = 1, m.end(), m.end()
        while depth and i < len(masked):
            if masked.startswith(b"<<", i):
                depth += 1
                i += 2
            elif masked.startswith(b">>", i):
                depth -= 1
                i += 2
            elif masked[i] == 0x28:  # ( — literal string value
                i = _skip_literal_string(masked, i)
            elif masked[i] == 0x25:  # % — comment runs to end-of-line
                i = _skip_comment(masked, i)
            else:
                i += 1
        if depth == 0:
            yield masked[start : i - 2]


def _dict_immediately_before(window: bytes) -> bytes | None:
    """The balanced ``<< ... >>`` dictionary whose close is the LAST
    token in ``window`` (modulo trailing whitespace) — i.e. the stream
    object's own dict when ``window`` ends where the ``stream`` keyword
    begins. None when the window does not end on a dict close or the
    dict opens beyond the window (truncated — the caller falls back to
    the ``endstream`` scan rather than trusting a /Length from an
    EARLIER object's dict). Literal strings are skipped exactly as in
    ``_trailer_dict_bodies`` so string content never unbalances the
    scan."""
    t = window.rstrip(b"\r\n \t\x00")
    if not t.endswith(b">>"):
        return None
    i, depth, start = 0, 0, None
    last_span = None
    while i < len(t):
        if t.startswith(b"<<", i):
            if depth == 0:
                start = i
            depth += 1
            i += 2
        elif t.startswith(b">>", i):
            if depth > 0:
                depth -= 1
                if depth == 0:
                    last_span = (start, i + 2)
            i += 2  # stray close (dict opened before the window): skip
        elif t[i] == 0x28:  # ( — literal string value
            i = _skip_literal_string(t, i)
        elif t[i] == 0x25:  # % — comment runs to end-of-line
            i = _skip_comment(t, i)
        else:
            i += 1
    if last_span is not None and last_span[1] == len(t):
        return t[last_span[0] : last_span[1]]
    return None


def _mask_stream_payloads(raw: bytes) -> bytes:
    """``raw`` with every ``stream ... endstream`` PAYLOAD blanked to
    spaces — structural scans (trailer dicts, object dict prefixes)
    must never match bytes that are really page content. An
    UNCOMPRESSED content stream containing the literal text
    'trailer << /Encrypt 5 0 R >>' (a PDF about PDF internals) is the
    confirmed false-positive this guards; a genuine trailer is outside
    every stream by construction, so masking can't hide one.

    The payload extent honors the enclosing dict's direct ``/Length``
    when the declared end is immediately followed by ``endstream``
    (so a payload CONTAINING the literal bytes 'endstream' is still
    masked in full — the first-occurrence scan would stop inside it
    and leave the tail unmasked); a corrupt /Length whose end does NOT
    land on ``endstream`` is ignored and the scan takes over. The
    /Length lookup reads the MASKED-so-far buffer, so '/Length N'
    bytes inside a previous stream's payload can never be mistaken for
    the current dict's entry — only structural bytes influence the
    extent — and it is confined to the balanced dict immediately
    preceding the keyword (``_dict_immediately_before``), so an
    EARLIER object's never-masked dict cannot supply the length when
    the stream's own dict lacks a direct one. (Trust boundary: this defends structural scans against
    untrusted page CONTENT; a hostile structural layer — a forged
    /Length in the object's own dict — is out of scope, exactly as it
    is for every heuristic in this module: such a file can already
    misdescribe itself in ways no scan can detect without a full
    renderer.) Indirect or absent /Length falls back to the
    first-``endstream`` scan."""
    out = bytearray(raw)
    pos = 0
    while True:
        m = _STREAM_RE.search(raw, pos)
        if m is None:
            return bytes(out)
        end = None
        # the object dict immediately precedes the keyword; a bounded
        # window keeps the per-stream cost O(1) (dicts that put
        # /Length further back simply fall through to the scan).
        # Window reads `out`, not `raw`: earlier payloads are blanked
        # there, so their content cannot supply a bogus /Length. The
        # /Length is honored ONLY when it sits inside the balanced
        # dict whose close immediately precedes the keyword — a
        # window-wide "last /Length" would pick up an EARLIER object's
        # (never-masked) dict when the current stream's dict lacks a
        # direct /Length, and a bogus end that coincidentally lands on
        # an 'endstream' token would leave part of the payload
        # unmasked.
        # the window widens geometrically when the balanced scan can't
        # see the dict's own ``<<`` (long /DecodeParms arrays, big
        # inline metadata push it past 2 KB): a truncated window must
        # fall back to the endstream scan only when the dict REALLY
        # is absent, not merely large — otherwise a payload containing
        # the literal bytes 'endstream' goes partially unmasked, the
        # false-positive class this masking exists to kill. 128 KB
        # caps the per-stream cost; dicts beyond that are not real.
        own_dict = None
        for win in (2048, 8192, 32768, 131072):
            lo = max(0, m.start() - win)
            window = bytes(out[lo : m.start()])
            own_dict = _dict_immediately_before(window)
            if own_dict is not None or lo == 0:
                break
        lm = None
        if own_dict is not None:
            for lm in _MASK_LENGTH_RE.finditer(own_dict):
                pass  # last direct /Length inside the stream's own dict
        if lm is not None:
            cand = m.end() + int(lm.group(1))
            if cand <= len(raw):
                tail = raw[cand : cand + 16].lstrip(b"\r\n \t")
                if tail.startswith(b"endstream"):
                    end = cand
        if end is None:
            end = raw.find(b"endstream", m.end())
            if end < 0:
                end = len(raw)
        out[m.end():end] = b" " * (end - m.end())
        # advance PAST the keyword: "endstream\n" itself contains
        # "stream\n", which would otherwise re-match and blank the
        # rest of the file (trailer included)
        es = raw.find(b"endstream", end)
        pos = es + len(b"endstream") if es >= 0 else len(raw)


def pdf_is_encrypted(raw: bytes) -> bool:
    """True when a trailer dictionary or an xref-stream
    (``/Type /XRef``) object dict carries ``/Encrypt`` — the two
    places the spec puts it. Deliberately NOT a whole-file scan, and
    stream PAYLOADS are masked out first: page text (compressed OR
    raw) and superseded incremental-update bodies that merely mention
    ``/Encrypt 5 0 R`` must not flag the document."""
    masked = _mask_stream_payloads(raw)
    for body in _trailer_dict_bodies(masked):
        if _ENCRYPT_REF_RE.search(body):
            return True
    for m in _OBJ_RE.finditer(masked):
        body = m.group(3)
        sm = _STREAM_RE.search(body)
        prefix = body[: sm.start()] if sm else body
        if re.search(rb"/Type\s*/XRef\b", prefix) and _ENCRYPT_REF_RE.search(
            prefix
        ):
            return True
    return False


def _stream_bytes(body: bytes) -> bytes | None:
    """The (still encoded) stream payload of an object body, honoring
    a direct integer /Length when present, else scanning to the final
    ``endstream``. None for stream-less objects."""
    m = _STREAM_RE.search(body)
    if m is None:
        return None
    start = m.end()
    # (?!\d) blocks the backtrack that would split an INDIRECT length
    # ("/Length 50 0 R" must not parse as direct length 5 — verified
    # failure mode of a plain negative lookahead); indirect lengths
    # fall through to the endstream scan below
    lm = re.search(
        rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)", body[: m.start()]
    )
    if lm is not None:
        return body[start:start + int(lm.group(1))]
    end = body.rfind(b"endstream")
    if end < 0:
        return None
    chunk = body[start:end]
    # the spec puts an EOL before endstream; strip exactly one
    if chunk.endswith(b"\r\n"):
        return chunk[:-2]
    if chunk.endswith(b"\n") or chunk.endswith(b"\r"):
        return chunk[:-1]
    return chunk


def _ascii_hex_decode(data: bytes) -> bytes | None:
    """ASCIIHexDecode (ISO 32000 §7.4.2): hex pairs, whitespace
    ignored, ``>`` is EOD, an odd trailing digit is padded with 0."""
    end = data.find(b">")
    if end >= 0:
        data = data[:end]
    digits = bytes(c for c in data if not chr(c).isspace())
    try:
        if len(digits) % 2:
            digits += b"0"
        return bytes.fromhex(digits.decode("ascii"))
    except (ValueError, UnicodeDecodeError):
        return None


def _ascii85_decode(data: bytes) -> bytes | None:
    """ASCII85Decode (ISO 32000 §7.4.3): stdlib ``base64.a85decode``
    does the group math (``z`` zero-groups, partial-group padding);
    this wrapper handles the PDF framing — optional legacy ``<~``
    opener, ``~>`` EOD, whitespace — and maps every malformed-input
    ValueError to the module's None ceiling."""
    import base64

    data = data.strip()
    if data.startswith(b"<~"):
        data = data[2:]
    end = data.find(b"~>")
    if end >= 0:
        data = data[:end]
    try:
        return base64.a85decode(data, ignorechars=b" \t\n\r\x0b\x0c")
    except ValueError:
        return None


def _run_length_decode(data: bytes) -> bytes | None:
    """RunLengthDecode (ISO 32000 §7.4.5): length byte L — L ≤ 127
    copies the next L+1 bytes, L ≥ 129 repeats the next byte 257−L
    times, 128 is EOD."""
    out = bytearray()
    i = 0
    while i < len(data):
        length = data[i]
        if length == 128:
            return bytes(out)
        if length < 128:
            chunk = data[i + 1 : i + 2 + length]
            if len(chunk) != length + 1:
                return None
            out += chunk
            i += 2 + length
        else:
            if i + 1 >= len(data):
                return None
            out += bytes([data[i + 1]]) * (257 - length)
            i += 2
    return bytes(out)  # spec requires EOD, but a torn tail decodes fine


def _lzw_decode(data: bytes, early: int = 1) -> bytes | None:
    """LZWDecode (ISO 32000 §7.4.4): MSB-first variable-width codes
    (9→12 bits), 256 = clear table, 257 = EOD; ``early`` is the
    /EarlyChange parameter (default 1: the code width bumps one code
    before the table actually fills, matching every mainstream
    encoder). Verified against the spec's own worked example."""
    out = bytearray()
    table: dict[int, bytes] = {}
    next_code, width = 258, 9
    prev: bytes | None = None
    acc = nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                table.clear()
                next_code, width, prev = 258, 9, None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                if code > 255:
                    return None
                entry = bytes([code])
            elif code < 256:
                entry = bytes([code])
            elif code in table:
                entry = table[code]
            elif code == next_code:
                entry = prev + prev[:1]  # the KwKwK case
            else:
                return None  # corrupt: code beyond the table
            if prev is not None:
                table[next_code] = prev + entry[:1]
                next_code += 1
            out += entry
            prev = entry
            # the decoder's table lags the encoder's by one entry (the
            # first code after a clear adds nothing), so its bump test
            # reads one higher than the encoder's `next_code + early`:
            # TIFF/PDF EarlyChange=1 switches to w+1 bits as soon as
            # the encoder ASSIGNS code (1<<w)-1
            if width < 12 and next_code + early + 1 >= (1 << width):
                width += 1
    return bytes(out)  # torn tail (no EOD): emit what decoded


def _apply_predictor(
    data: bytes, predictor: int, colors: int, bpc: int, columns: int
) -> bytes | None:
    """Undo the /Predictor pre-transform (ISO 32000 Table 10) applied
    before Flate/LZW: 2 = TIFF horizontal differencing (8-bit
    components only here), 10-15 = the PNG per-row filters (None/Sub/
    Up/Average/Paeth — the row's filter byte decides, so all five are
    implemented regardless of the declared variant)."""
    if predictor <= 1:
        return data
    if colors < 1 or bpc < 1 or columns < 1:
        return None  # malformed parms: the loud ceiling, never a crash
    if bpc != 8 and predictor == 2:
        return None  # sub-byte TIFF differencing: not worth the risk
    rowlen = (colors * bpc * columns + 7) // 8
    bpp = max(1, (colors * bpc + 7) // 8)
    if predictor == 2:
        out = bytearray(data)
        for r in range(0, len(out), rowlen):
            row = out[r : r + rowlen]
            for i in range(bpp, len(row)):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
            out[r : r + rowlen] = row
        return bytes(out)
    if not 10 <= predictor <= 15:
        return None
    # PNG predictors: each encoded row is 1 filter byte + rowlen data
    out = bytearray()
    prior = bytearray(rowlen)
    i = 0
    while i < len(data):
        ftype = data[i]
        row = bytearray(data[i + 1 : i + 1 + rowlen])
        if len(row) != rowlen:
            return None
        i += 1 + rowlen
        if ftype == 1:  # Sub
            for j in range(bpp, rowlen):
                row[j] = (row[j] + row[j - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for j in range(rowlen):
                row[j] = (row[j] + prior[j]) & 0xFF
        elif ftype == 3:  # Average
            for j in range(rowlen):
                left = row[j - bpp] if j >= bpp else 0
                row[j] = (row[j] + (left + prior[j]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for j in range(rowlen):
                a = row[j - bpp] if j >= bpp else 0
                b = prior[j]
                c = prior[j - bpp] if j >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                row[j] = (row[j] + pred) & 0xFF
        elif ftype != 0:
            return None
        out += row
        prior = row
    return bytes(out)


def _int_param(parm: bytes, name: bytes, default: int) -> int:
    m = re.search(rb"/" + name + rb"\s+(-?\d+)(?!\d)(?!\s+\d+\s+R)", parm)
    return int(m.group(1)) if m else default


def _parse_decode_parms(prefix: bytes, n: int) -> list[bytes]:
    """Per-filter /DecodeParms (or legacy /DP) dict bytes, b"" when
    absent/null — array elements align with the /Filter array. Only
    direct inline dicts are honored; an indirect parms object yields
    b"" and the affected filter falls back to its defaults (predictor
    1), which matches the overwhelmingly common case (parms are only
    meaningful for Flate/LZW predictors)."""
    m = re.search(rb"/(?:DecodeParms|DP)\s*(\[|<<|null)", prefix)
    if m is None:
        return [b""] * n
    if m.group(1) == b"null":
        return [b""] * n
    i = m.start(1)
    if m.group(1) == b"<<":
        body = _balanced_dict_at(prefix, i)
        return [body if body is not None else b""] + [b""] * (n - 1)
    # array form: null / << ... >> / indirect-ref elements in filter
    # order — every element consumes exactly one slot, so a skipped
    # (indirect or malformed) element yields b"" IN PLACE and later
    # dicts stay aligned with their filters
    out: list[bytes] = []
    i += 1
    while i < len(prefix) and len(out) < n:
        if prefix.startswith(b"<<", i):
            body = _balanced_dict_at(prefix, i)
            if body is None:
                break
            out.append(body)
            i += len(body)
        elif prefix.startswith(b"null", i):
            out.append(b"")
            i += 4
        elif prefix[i] == 0x5D:  # ]
            break
        elif prefix[i : i + 1].isspace():
            i += 1
        else:
            m2 = re.match(rb"\d+\s+\d+\s+R", prefix[i:])
            if m2 is not None:  # indirect parms object: defaults apply
                out.append(b"")
                i += m2.end()
            else:  # any other stray token: one placeholder, move on
                m2 = re.match(rb"\S+", prefix[i:])
                out.append(b"")
                i += m2.end() if m2 else 1
    while len(out) < n:
        out.append(b"")
    return out


def _balanced_dict_at(buf: bytes, i: int) -> bytes | None:
    """The balanced ``<< ... >>`` bytes opening at ``buf[i]``
    (inclusive of the delimiters), or None if unterminated."""
    depth, j = 0, i
    while j < len(buf):
        if buf.startswith(b"<<", j):
            depth += 1
            j += 2
        elif buf.startswith(b">>", j):
            depth -= 1
            j += 2
            if depth == 0:
                return buf[i:j]
        elif buf[j] == 0x28:
            j = _skip_literal_string(buf, j)
        else:
            j += 1
    return None


def _apply_filter(name: bytes, data: bytes, parm: bytes) -> bytes | None:
    if name == b"FlateDecode":
        try:
            data = zlib.decompress(data)
        except zlib.error:
            return None
    elif name == b"LZWDecode":
        data = _lzw_decode(data, _int_param(parm, b"EarlyChange", 1))
        if data is None:
            return None
    elif name == b"ASCIIHexDecode":
        return _ascii_hex_decode(data)  # predictors never apply
    elif name == b"ASCII85Decode":
        return _ascii85_decode(data)
    elif name == b"RunLengthDecode":
        return _run_length_decode(data)
    else:
        # image/crypt codecs (DCTDecode, JPXDecode, CCITTFaxDecode,
        # JBIG2Decode, Crypt) are pixel streams or key-dependent, and
        # anything unknown: the loud-ceiling path, never silent garbage
        return None
    # Flate/LZW honor the predictor pre-transform
    predictor = _int_param(parm, b"Predictor", 1)
    if predictor > 1:
        return _apply_predictor(
            data,
            predictor,
            _int_param(parm, b"Colors", 1),
            _int_param(parm, b"BitsPerComponent", 8),
            _int_param(parm, b"Columns", 1),
        )
    return data


def _decode_stream(body: bytes) -> bytes | None:
    """Decoded stream payload. Real decoders (round 14 widened the
    set from Flate-only): FlateDecode, LZWDecode (spec-verified
    variable-width codes + EarlyChange), ASCIIHexDecode,
    ASCII85Decode, RunLengthDecode, multi-stage chains applied in
    /Filter array order (``[/ASCII85Decode /FlateDecode]`` — the
    classic mail-safe wrapping), and the /DecodeParms Predictor
    pre-transform for Flate/LZW (TIFF 2 + PNG 10-15). Image/crypt
    codecs (DCT/JPX/CCITTFax/JBIG2/Crypt) return None — they carry
    pixels or need keys, so the caller's loud ceiling is correct.

    The /Filter lookup scans the DICT PREFIX only — a raw stream whose
    payload happens to contain the bytes "/Filter /FlateDecode"
    (e.g. text about PDF internals) must not be inflated."""
    sm = _STREAM_RE.search(body)
    if sm is None:
        return None
    data = _stream_bytes(body)
    if data is None:
        return None
    prefix = body[: sm.start()]
    fm = re.search(rb"/Filter\s*(\[[^\]]*\]|/\w+)", prefix)
    if fm is None:
        return data
    names = re.findall(rb"/(\w+)", fm.group(1))
    if not names:
        return data  # "/Filter []" — the spec's explicit no-filter form
    parms = _parse_decode_parms(prefix, len(names))
    for name, parm in zip(names, parms):
        data = _apply_filter(name, data, parm)
        if data is None:
            return None
    return data


def _ref(body: bytes, name: bytes) -> int | None:
    m = re.search(rb"/" + name + rb"\s+(\d+)\s+\d+\s+R", body)
    return int(m.group(1)) if m else None


def _refs_array(body: bytes, name: bytes) -> list[int]:
    """Object numbers in ``/Name [a 0 R b 0 R ...]`` (or the single
    ``/Name a 0 R`` form)."""
    m = re.search(rb"/" + name + rb"\s*\[(.*?)\]", body, re.DOTALL)
    if m is not None:
        return [int(x) for x in re.findall(rb"(\d+)\s+\d+\s+R", m.group(1))]
    one = _ref(body, name)
    return [one] if one is not None else []


def _page_objects(objs: dict[int, bytes]) -> list[int]:
    """Page object numbers in DOCUMENT order via the Catalog →
    Pages → Kids walk; falls back to file order of /Type /Page
    objects when the tree is unwalkable (damaged files)."""
    root = None
    for num, body in objs.items():
        if re.search(rb"/Type\s*/Catalog\b", body):
            root = _ref(body, b"Pages")
    pages: list[int] = []

    def walk(num: int, depth: int = 0) -> None:
        if depth > 64 or num not in objs:
            return  # cycle/overflow guard
        body = objs[num]
        if re.search(rb"/Type\s*/Pages\b", body):
            for kid in _refs_array(body, b"Kids"):
                walk(kid, depth + 1)
        elif re.search(rb"/Type\s*/Page\b", body):
            pages.append(num)

    if root is not None:
        walk(root)
    if not pages:
        pages = [
            n for n, b in objs.items()
            if re.search(rb"/Type\s*/Page(?!s)\b", b)
        ]
    return pages


def _unescape_literal(s: bytes) -> str:
    out = bytearray()
    i = 0
    while i < len(s):
        c = s[i]
        if c != 0x5C:  # backslash
            out.append(c)
            i += 1
            continue
        i += 1
        if i >= len(s):
            break
        e = s[i]
        mapped = {
            0x6E: 0x0A, 0x72: 0x0D, 0x74: 0x09, 0x62: 0x08, 0x66: 0x0C,
            0x28: 0x28, 0x29: 0x29, 0x5C: 0x5C,
        }.get(e)
        if mapped is not None:
            out.append(mapped)
            i += 1
        elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
            j = i
            while j < len(s) and j < i + 3 and 0x30 <= s[j] <= 0x37:
                j += 1
            out.append(int(s[i:j], 8) & 0xFF)
            i = j
        elif e in (0x0A, 0x0D):  # line continuation
            i += 1
            if e == 0x0D and i < len(s) and s[i] == 0x0A:
                i += 1
        else:
            out.append(e)
            i += 1
    return out.decode("latin-1")


_OPERATOR_RE = re.compile(rb"[A-Za-z'\"*]+")


def _tokenize_content(content: bytes):
    """Sequential content-stream tokenizer: ``("str", decoded)`` for
    literal strings (ARBITRARY balanced-paren nesting, escape-aware —
    a regex caps nesting depth and silently garbles deeper strings),
    hex strings, ``("[", None)`` / ``("]", None)`` array delimiters,
    and ``("op", name)`` operator-ish runs. Dict delimiters (``<<``
    ``>>``) and numbers are skipped — the text extractor doesn't need
    them."""
    i, n = 0, len(content)
    while i < n:
        c = content[i]
        if c == 0x28:  # (
            depth, j = 1, i + 1
            while j < n and depth:
                ch = content[j]
                if ch == 0x5C:  # escape: skip next byte blindly
                    j += 2
                    continue
                if ch == 0x28:
                    depth += 1
                elif ch == 0x29:
                    depth -= 1
                j += 1
            yield ("str", _unescape_literal(content[i + 1:j - 1]))
            i = j
        elif c == 0x3C:  # < — hex string, or << dict open (skip)
            if i + 1 < n and content[i + 1] == 0x3C:
                i += 2
                continue
            j = content.find(b">", i + 1)
            if j < 0:
                break
            hx = re.sub(rb"\s", b"", content[i + 1:j])
            if len(hx) % 2:
                hx += b"0"
            try:
                yield (
                    "str",
                    bytes.fromhex(hx.decode("ascii")).decode("latin-1"),
                )
            except ValueError:
                pass  # not a hex string (e.g. inside binary data)
            i = j + 1
        elif c == 0x5B:  # [
            yield ("[", None)
            i += 1
        elif c == 0x5D:  # ]
            yield ("]", None)
            i += 1
        else:
            m = _OPERATOR_RE.match(content, i)
            if m is not None:
                yield ("op", m.group(0))
                i = m.end()
            else:
                i += 1


def _extract_content_text(content: bytes) -> str:
    """Text from one decoded content stream: strings buffer until a
    show operator consumes them (Tj / ' / " / TJ-array), positioning
    operators emit line breaks."""
    parts: list[str] = []
    pending: list[str] = []
    in_array = False

    def show() -> None:
        if pending:
            parts.append("".join(pending))
            pending.clear()

    for kind, val in _tokenize_content(content):
        if kind == "str":
            pending.append(val)
        elif kind == "[":
            in_array = True
        elif kind == "]":
            in_array = False
        elif val in (b"Tj", b"TJ", b"'", b'"'):
            if val in (b"'", b'"') and parts and not (
                parts and parts[-1].endswith("\n")
            ):
                parts.append("\n")  # ' and " imply T* first
            show()
        elif val in (b"Td", b"TD", b"T*", b"Tm", b"ET") and not in_array:
            if pending:
                show()
            if parts and not parts[-1].endswith("\n"):
                parts.append("\n")
    show()
    return "".join(parts)


def sniff_pdf(raw: bytes) -> dict | None:
    """Header + object-scan metadata, no stream decode: ``(mime,
    version, n_pages, encrypted, n_bytes)``. None when the payload is
    not a PDF."""
    m = re.match(rb"%PDF-(\d+\.\d+)", raw[:16])
    if m is None:
        return None
    objs = _find_objects(raw)
    return {
        "mime": "application/pdf",
        "version": m.group(1).decode("ascii"),
        "n_pages": len(_page_objects(objs)),
        "encrypted": pdf_is_encrypted(raw),
        "n_bytes": len(raw),
    }


def extract_pdf_text_bytes(raw: bytes) -> tuple[int, str] | None:
    """(n_pages, text) for a parseable, unencrypted PDF whose content
    streams use the non-image filter suite (raw, Flate, LZW, ASCIIHex,
    ASCII85, RunLength — chains and predictors included); None
    otherwise (the mapInPandas wrapper applies the module decode
    policy). Pages join with form feeds, in page-tree order."""
    if re.match(rb"%PDF-", raw[:8]) is None:
        return None
    if pdf_is_encrypted(raw):
        return None
    objs = _find_objects(raw)
    pages = _page_objects(objs)
    if not pages:
        return None
    page_texts: list[str] = []
    for p in pages:
        chunks: list[bytes] = []
        for c in _refs_array(objs[p], b"Contents"):
            if c not in objs:
                return None
            dec = _decode_stream(objs[c])
            if dec is None:
                return None  # unsupported filter / torn stream
            chunks.append(dec)
        page_texts.append(_extract_content_text(b"\n".join(chunks)))
    return len(pages), "\f".join(page_texts)


PDF_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("n_pages", T.IntegerType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("extracted", T.BooleanType(), False),
    ]
)


def extract_pdf_text(media: DataFrame, fake_decode: bool = False) -> DataFrame:
    """PDF → text over the media table — ``(media_id, n_pages, text,
    extracted)``, one row per document, the HTML-extraction analog for
    the PDF slice of a crawl. Decode policy is the module standard:
    real extraction for unencrypted raw/Flate PDFs, deterministic
    payload-hash stand-in text with ``extracted=False`` under
    ``fake_decode=True``, loud NotImplementedError otherwise
    (encrypted / exotic filters need a PDF library this environment
    lacks). NULL payloads and non-PDFs yield NULL text (they are not
    PDFs to fail on — filter by ``classify`` upstream or let them
    pass). Output joins the ordinary document pipeline
    (quality/dedup/packing) directly."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_batch in batches:
            rows = []
            for media_id, payload in zip(
                pdf_batch["media_id"], pdf_batch["payload"]
            ):
                raw = bytes(payload) if payload is not None else b""
                if re.match(rb"%PDF-", raw[:8]) is None:
                    rows.append(
                        {
                            "media_id": media_id,
                            "n_pages": None,
                            "text": None,
                            "extracted": False,
                        }
                    )
                    continue
                got = extract_pdf_text_bytes(raw)
                if got is not None:
                    n_pages, text = got
                    extracted = True
                elif fake_decode:
                    seed = hashlib.sha256(raw).hexdigest()
                    n_pages, text, extracted = 1, f"pdf:{seed[:16]}", False
                else:
                    raise NotImplementedError(
                        "extract_pdf_text handles unencrypted PDFs with "
                        "raw/Flate/LZW/ASCIIHex/ASCII85/RunLength "
                        "content streams (chains + predictors included) "
                        "natively, plus ObjStm/xref-stream (PDF 1.5+); "
                        "this payload (encrypted, image-codec filter "
                        "chains, or damaged) needs a PDF library, not "
                        "available in this environment — pass "
                        "fake_decode=True for the deterministic stand-in"
                    )
                rows.append(
                    {
                        "media_id": media_id,
                        "n_pages": n_pages,
                        "text": text,
                        "extracted": extracted,
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in PDF_TEXT_SCHEMA.fields]
            )

    return media.select("media_id", "payload").mapInPandas(
        run, schema=PDF_TEXT_SCHEMA
    )


def build_simple_pdf(
    pages: list[list[str]], compress: bool = True, encrypted: bool = False
) -> bytes:
    """Spec-conformant minimal PDF writer — the test rig that lets the
    extractor be pinned without a PDF library (the ``build_mjpeg_avi``
    pattern): Catalog → Pages → one Page + one content stream per
    page, Helvetica, one ``Td``+``Tj`` per line, correct xref table
    and startxref. ``pages`` is a list of pages, each a list of text
    lines. ``compress`` Flate-encodes the content streams;
    ``encrypted`` plants a (non-functional) /Encrypt trailer entry to
    exercise the extractor's refusal path."""

    def esc(s: str) -> bytes:
        return (
            s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
        ).encode("latin-1")

    objs: list[bytes] = []  # bodies; object number = index + 1
    n_pages = len(pages)
    page_nums = [4 + 2 * i for i in range(n_pages)]
    kids = b" ".join(b"%d 0 R" % n for n in page_nums)
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")  # 1
    objs.append(
        b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages
    )  # 2
    objs.append(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )  # 3
    for i, lines in enumerate(pages):
        body = [b"BT /F1 11 Tf 72 720 Td"]
        for j, line in enumerate(lines):
            if j:
                body.append(b"0 -14 Td")
            body.append(b"(" + esc(line) + b") Tj")
        body.append(b"ET")
        content = b"\n".join(body)
        filt = b""
        if compress:
            content = zlib.compress(content)
            filt = b" /Filter /FlateDecode"
        objs.append(
            b"<< /Type /Page /Parent 2 0 R /Resources << /Font "
            b"<< /F1 3 0 R >> >> /MediaBox [0 0 612 792] /Contents "
            b"%d 0 R >>" % (page_nums[i] + 1)
        )
        objs.append(
            b"<< /Length %d%s >>\nstream\n" % (len(content), filt)
            + content
            + b"\nendstream"
        )
    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for n, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % n + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    enc = b" /Encrypt 99 0 R" if encrypted else b""
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R%s >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, enc, xref_at)
    )
    return bytes(out)


def build_objstm_pdf(
    pages: list[list[str]], compress: bool = True, encrypted: bool = False
) -> bytes:
    """``build_simple_pdf``'s PDF-1.5 twin — the writer rig for the
    ObjStm path: the Catalog, Pages tree, Font, and every Page dict
    are packed into ONE Flate-compressed ``/Type /ObjStm`` container
    (what every modern writer emits), content streams stay top-level
    (the spec forbids streams inside ObjStm), and the cross-reference
    is an xref STREAM (``/Type /XRef``, ``/W [1 4 2]``, type-2
    entries pointing members at their container) — no ``trailer``
    keyword anywhere. Same text in ⇒ the 1.4 and 1.5 serializations
    must extract identical text. ``encrypted`` plants a
    (non-functional) ``/Encrypt`` in the xref-stream dict, the only
    trailer-equivalent such a file has, to exercise the refusal
    path."""

    def esc(s: str) -> bytes:
        return (
            s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
        ).encode("latin-1")

    n_pages = len(pages)
    page_nums = list(range(4, 4 + n_pages))
    content_nums = list(range(4 + n_pages, 4 + 2 * n_pages))
    objstm_num = 4 + 2 * n_pages
    xref_num = objstm_num + 1

    kids = b" ".join(b"%d 0 R" % n for n in page_nums)
    members: list[tuple[int, bytes]] = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages),
        (3, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"),
    ]
    contents: list[bytes] = []
    for i, lines in enumerate(pages):
        members.append(
            (
                page_nums[i],
                b"<< /Type /Page /Parent 2 0 R /Resources << /Font "
                b"<< /F1 3 0 R >> >> /MediaBox [0 0 612 792] /Contents "
                b"%d 0 R >>" % content_nums[i],
            )
        )
        body = [b"BT /F1 11 Tf 72 720 Td"]
        for j, line in enumerate(lines):
            if j:
                body.append(b"0 -14 Td")
            body.append(b"(" + esc(line) + b") Tj")
        body.append(b"ET")
        contents.append(b"\n".join(body))

    # ObjStm payload: "num off num off ..." header, then member bodies
    offsets_in_stm: list[tuple[int, int]] = []
    packed = bytearray()
    for num, body in members:
        offsets_in_stm.append((num, len(packed)))
        packed += body + b"\n"
    header = b" ".join(
        b"%d %d" % pair for pair in offsets_in_stm
    ) + b"\n"
    stm_payload = zlib.compress(bytes(header + packed))

    out = bytearray(b"%PDF-1.5\n")
    byte_offsets: dict[int, int] = {}

    def emit(num: int, dict_bytes: bytes, stream: bytes | None = None) -> None:
        byte_offsets[num] = len(out)
        out.extend(b"%d 0 obj\n" % num + dict_bytes)
        if stream is not None:
            out.extend(b"\nstream\n" + stream + b"\nendstream")
        out.extend(b"\nendobj\n")

    for i, content in enumerate(contents):
        filt = b""
        if compress:
            content = zlib.compress(content)
            filt = b" /Filter /FlateDecode"
        emit(
            content_nums[i],
            b"<< /Length %d%s >>" % (len(content), filt),
            content,
        )
    emit(
        objstm_num,
        b"<< /Type /ObjStm /N %d /First %d /Length %d "
        b"/Filter /FlateDecode >>"
        % (len(members), len(header), len(stm_payload)),
        stm_payload,
    )

    # xref stream: /W [1 4 2] — type, offset-or-container, gen-or-index
    size = xref_num + 1
    entries = bytearray()

    def entry(t: int, f2: int, f3: int) -> None:
        entries.append(t)
        entries.extend(f2.to_bytes(4, "big"))
        entries.extend(f3.to_bytes(2, "big"))

    xref_at = len(out)
    entry(0, 0, 65535)  # object 0: free
    for num in range(1, xref_num + 1):
        in_stm = next(
            (i for i, (m, _o) in enumerate(offsets_in_stm) if m == num), None
        )
        if in_stm is not None:
            entry(2, objstm_num, in_stm)
        elif num == xref_num:
            entry(1, xref_at, 0)
        else:
            entry(1, byte_offsets[num], 0)
    xref_payload = zlib.compress(bytes(entries))
    enc = b" /Encrypt 99 0 R" if encrypted else b""
    emit(
        xref_num,
        b"<< /Type /XRef /Size %d /W [1 4 2] /Root 1 0 R%s /Length %d "
        b"/Filter /FlateDecode >>" % (size, enc, len(xref_payload)),
        xref_payload,
    )
    out += b"startxref\n%d\n%%%%EOF\n" % xref_at
    return bytes(out)
