"""PDF text extraction: real object-scan + page-tree walk +
FlateDecode + content-stream text operators, pinned against the
module's own spec-conformant writer (the build_mjpeg_avi rig pattern).

Pins:
- round-trip: text written through the rig comes back exactly (lines,
  page order via the Kids walk, form-feed page joins), Flate and raw
  streams alike;
- string machinery: parenthesis escapes, backslash escapes, octal
  codes, hex strings, and TJ arrays all decode;
- policy: encrypted PDFs refuse extraction (sniff flags them),
  non-PDFs yield NULL rows, fake_decode gives the deterministic
  stand-in, no-fake raises loudly;
- tag_media_modality routes PDFs as document modality with
  native == not encrypted;
- the extracted frame joins the ordinary document pipeline (a
  quality-signal pass runs on it unchanged).
"""

from __future__ import annotations

import zlib

import pandas as pd
import pytest

from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
    tag_media_modality,
    to_media_table,
)
from hospital_stain_tracker_data_pipeline_spark.operators.pdf import (
    build_objstm_pdf,
    build_simple_pdf,
    extract_pdf_text,
    extract_pdf_text_bytes,
    pdf_is_encrypted,
    sniff_pdf,
)


def _media(spark, payloads, ids=None):
    ids = list(range(len(payloads))) if ids is None else ids
    pdf = pd.DataFrame({"media_id": ids, "payload": payloads})
    return to_media_table(
        spark.createDataFrame(pdf), "media_id", "payload", source="test"
    )


def test_pdf_roundtrip_and_sniff():
    pages = [
        ["Hello, world!", "Second line (with parens)"],
        ["Page two \\ backslash", "and more"],
        ["Page three"],
    ]
    for compress in (True, False):
        raw = build_simple_pdf(pages, compress=compress)
        sn = sniff_pdf(raw)
        assert sn["mime"] == "application/pdf"
        assert sn["version"] == "1.4"
        assert sn["n_pages"] == 3 and sn["encrypted"] is False
        n_pages, text = extract_pdf_text_bytes(raw)
        assert n_pages == 3
        got_pages = [p.strip().split("\n") for p in text.split("\f")]
        assert got_pages == pages, compress
    assert sniff_pdf(b"not a pdf") is None
    assert extract_pdf_text_bytes(b"not a pdf") is None


def test_pdf_string_machinery():
    """Octal escapes, hex strings, and TJ arrays — hand-built content
    stream (the rig only emits literal Tj), raw (uncompressed) so the
    bytes are exactly what the tokenizer sees."""
    content = (
        b"BT /F1 11 Tf 72 720 Td "
        b"(octal: \\101\\102\\103) Tj "
        b"0 -14 Td "
        b"<48 65 6C 6C 6F> Tj "
        b"0 -14 Td "
        b"[(kern) -120 (ed)] TJ "
        b"ET"
    )
    raw = build_simple_pdf([["placeholder"]], compress=False)
    # splice our content in place of the rig's page-1 stream
    old = raw[raw.index(b"stream\n") + 7:raw.index(b"\nendstream")]
    assert b"placeholder" in old
    raw2 = raw.replace(old, content).replace(
        b"/Length %d" % len(old), b"/Length %d" % len(content)
    )
    _, text = extract_pdf_text_bytes(raw2)
    assert text.split("\n")[:3] == ["octal: ABC", "Hello", "kerned"]


def test_pdf_page_tree_order_not_file_order():
    """Kids order wins: reversing /Kids reverses the output pages even
    though the objects sit in the same file positions."""
    raw = build_simple_pdf([["first"], ["second"]], compress=False)
    # the rig emits /Kids [4 0 R 6 0 R]; reverse it
    swapped = raw.replace(b"/Kids [4 0 R 6 0 R]", b"/Kids [6 0 R 4 0 R]")
    _, text = extract_pdf_text_bytes(swapped)
    assert [p.strip() for p in text.split("\f")] == ["second", "first"]


def test_extract_pdf_text_dataframe_policy(spark):
    good = build_simple_pdf([["alpha"], ["beta"]])
    enc = build_simple_pdf([["secret"]], encrypted=True)
    media = _media(spark, [good, enc, b"just bytes", None])

    rows = {
        r["media_id"]: r
        for r in extract_pdf_text(media, fake_decode=True).collect()
    }
    assert rows[0]["extracted"] is True and rows[0]["n_pages"] == 2
    assert [p.strip() for p in rows[0]["text"].split("\f")] == [
        "alpha", "beta"
    ]
    assert rows[1]["extracted"] is False  # encrypted -> stand-in
    assert rows[1]["text"].startswith("pdf:")
    assert rows[2]["text"] is None and rows[3]["text"] is None

    with pytest.raises(Exception, match="NotImplementedError|PDF library"):
        extract_pdf_text(media).collect()

    # deterministic stand-in
    again = {
        r["media_id"]: r["text"]
        for r in extract_pdf_text(media, fake_decode=True).collect()
    }
    assert again == {k: v["text"] for k, v in rows.items()}


def test_pdf_unsupported_filter_refuses():
    raw = build_simple_pdf([["plain"]], compress=False)
    old = raw[raw.index(b"stream\n") + 7:raw.index(b"\nendstream")]
    lzw = zlib.compress(old)  # bytes are irrelevant; the filter name is
    raw2 = raw.replace(
        b"/Length %d" % len(old),
        b"/Length %d /Filter /LZWDecode" % len(lzw),
    ).replace(old, lzw)
    assert extract_pdf_text_bytes(raw2) is None


def test_pdf_filter_chain_refuses():
    """A MULTI-stage /Filter array ([/FlateDecode /ASCII85Decode])
    must refuse, not inflate one stage and emit still-encoded bytes
    as 'extracted' text; the spec's explicit no-filter form
    ('/Filter []') stays raw and extracts."""
    raw = build_simple_pdf([["chain victim"]], compress=False)
    old = raw[raw.index(b"stream\n") + 7:raw.index(b"\nendstream")]
    flated = zlib.compress(old)
    chained = raw.replace(
        b"/Length %d" % len(old),
        b"/Length %d /Filter [/FlateDecode /ASCII85Decode]" % len(flated),
    ).replace(old, flated)
    assert extract_pdf_text_bytes(chained) is None

    # single-name ARRAY form still decodes
    single = raw.replace(
        b"/Length %d" % len(old),
        b"/Length %d /Filter [/FlateDecode]" % len(flated),
    ).replace(old, flated)
    assert extract_pdf_text_bytes(single)[1].strip() == "chain victim"

    empty = raw.replace(
        b"/Length %d" % len(old), b"/Length %d /Filter []" % len(old)
    )
    assert extract_pdf_text_bytes(empty)[1].strip() == "chain victim"


def test_pdf_encrypt_scan_is_trailer_scoped():
    """Page TEXT mentioning '/Encrypt 5 0 R' must not refuse the
    document (the lookup is trailer/xref-dict scoped, not a whole-file
    grep); a real trailer /Encrypt still refuses."""
    tricky = build_simple_pdf([["see /Encrypt 5 0 R for details"]])
    assert pdf_is_encrypted(tricky) is False
    assert sniff_pdf(tricky)["encrypted"] is False
    _, text = extract_pdf_text_bytes(tricky)
    assert "/Encrypt 5 0 R" in text

    enc = build_simple_pdf([["x"]], encrypted=True)
    assert pdf_is_encrypted(enc) is True
    assert extract_pdf_text_bytes(enc) is None


def test_pdf_objstm_roundtrip_matches_classic_twin():
    """PDF 1.5 writer rig: the Catalog/Pages/Page dicts live inside a
    Flate-compressed /Type /ObjStm container and the xref is a stream
    (no 'trailer' keyword) — extraction must produce EXACTLY the text
    of the same pages serialized through the classic 1.4 writer."""
    pages = [
        ["ObjStm page one", "line (two)"],
        ["packed \\ objects"],
        ["third page"],
    ]
    for compress in (True, False):
        raw15 = build_objstm_pdf(pages, compress=compress)
        raw14 = build_simple_pdf(pages, compress=compress)
        assert raw15.startswith(b"%PDF-1.5")
        assert b"trailer" not in raw15  # genuinely xref-stream-only
        assert b"/ObjStm" in raw15
        assert extract_pdf_text_bytes(raw15) == extract_pdf_text_bytes(raw14)
    sn = sniff_pdf(build_objstm_pdf(pages))
    assert sn["n_pages"] == 3 and sn["encrypted"] is False


def test_pdf_objstm_encrypted_refuses():
    """An xref-STREAM document has no trailer keyword; /Encrypt sits
    in the /Type /XRef dict and must still refuse extraction and
    route native=False."""
    enc = build_objstm_pdf([["secret"]], encrypted=True)
    assert pdf_is_encrypted(enc) is True
    assert sniff_pdf(enc)["encrypted"] is True
    assert extract_pdf_text_bytes(enc) is None


def test_pdf_objstm_incremental_update_wins():
    """A top-level redefinition APPENDED to an ObjStm document
    (incremental update) wins over the stale packed copy: replace
    page 4's packed dict with a top-level one whose /Contents points
    at a new stream."""
    raw = build_objstm_pdf([["original"]])
    new_content = b"BT /F1 11 Tf 72 720 Td (updated) Tj ET"
    body = raw.rstrip()
    assert body.endswith(b"%%EOF")
    appended = raw + (
        b"8 0 obj\n<< /Length %d >>\nstream\n" % len(new_content)
        + new_content
        + b"\nendstream\nendobj\n"
        b"4 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 8 0 R >>\nendobj\n"
    )
    _, text = extract_pdf_text_bytes(appended)
    assert text.strip() == "updated"


def test_tag_media_modality_routes_pdfs(spark):
    media = _media(
        spark,
        [
            build_simple_pdf([["x"]]),
            build_simple_pdf([["y"]], encrypted=True),
        ],
    )
    got = {
        r["media_id"]: (r["modality"], r["native"])
        for r in tag_media_modality(media).collect()
    }
    assert got[0] == ("document", True)
    assert got[1] == ("document", False)


def test_pdf_text_joins_document_pipeline(spark):
    """The extracted frame is an ordinary documents frame: the quality
    signal pass runs on it unchanged (the whole point of extraction)."""
    from hospital_stain_tracker_data_pipeline_spark.functions.text import (
        quality_score,
    )

    media = _media(
        spark,
        [build_simple_pdf([["The quick brown fox jumps over the lazy dog."]])],
    )
    docs = extract_pdf_text(media).select(
        "media_id", "text"
    ).withColumn("q", quality_score("text"))
    [row] = docs.collect()
    assert row["q"] is not None


def test_pdf_indirect_length_and_filter_in_payload():
    """Two real-world parser traps: (1) an INDIRECT /Length ref
    ('/Length 6 0 R') must not backtrack-parse as a truncated direct
    length — extraction falls back to the endstream scan; (2) a RAW
    stream whose TEXT mentions '/Filter /FlateDecode' must not be
    inflated (the filter lookup reads the dict prefix only)."""
    raw = build_simple_pdf([["indirect length works"]], compress=False)
    old = raw[raw.index(b"stream\n") + 7:raw.index(b"\nendstream")]
    # rewrite the direct length as an indirect reference (object 6
    # need not exist — the parser must just not misparse it)
    raw2 = raw.replace(b"/Length %d" % len(old), b"/Length 6 0 R")
    n_pages, text = extract_pdf_text_bytes(raw2)
    assert (n_pages, text.strip()) == (1, "indirect length works")

    tricky = build_simple_pdf(
        [["this page discusses /Filter /FlateDecode internals"]],
        compress=False,
    )
    _, text = extract_pdf_text_bytes(tricky)
    assert "internals" in text


def test_pdf_deeply_nested_literal_strings():
    """ISO 32000 allows unescaped BALANCED parens at any depth; the
    sequential tokenizer must return the whole string (a regex caps
    the depth and silently drops the outer content)."""
    content = b"BT /F1 11 Tf 72 720 Td (a(b(c(d)e)f)g) Tj ET"
    raw = build_simple_pdf([["x"]], compress=False)
    old = raw[raw.index(b"stream\n") + 7:raw.index(b"\nendstream")]
    raw2 = raw.replace(old, content).replace(
        b"/Length %d" % len(old), b"/Length %d" % len(content)
    )
    _, text = extract_pdf_text_bytes(raw2)
    assert text.strip() == "a(b(c(d)e)f)g"


def test_pdf_encrypt_scan_masks_stream_payloads():
    """Regression (round-12 review, confirmed repro): an UNCOMPRESSED
    content stream whose page text contains a trailer-like phrase
    ('trailer << /Encrypt 5 0 R >>' — a PDF about PDF internals) must
    not flag the document; stream payloads are masked before the
    structural scan, and a genuine trailer (outside every stream by
    construction) still detects."""
    tricky = build_simple_pdf(
        [["trailer << /Encrypt 5 0 R >>"]], compress=False
    )
    assert pdf_is_encrypted(tricky) is False
    assert extract_pdf_text_bytes(tricky)[1].startswith("trailer <<")
    assert pdf_is_encrypted(build_simple_pdf([["x"]], encrypted=True))
    assert pdf_is_encrypted(build_objstm_pdf([["x"]], encrypted=True))


def test_pdf_appended_objstm_supersedes_stale_toplevel():
    """Regression (round-12 review): the OTHER incremental-update
    direction — a 1.4 base whose page object is superseded by a copy
    packed into an APPENDED ObjStm (what a 1.5 writer produces when
    updating a classic file) must extract the NEW text, not silently
    return the stale base revision. Definitions rank by file offset,
    members by their container's offset."""
    base = build_simple_pdf([["original text"]])
    new_content = b"BT /F1 11 Tf 72 720 Td (updated) Tj ET"
    content_obj = (
        b"8 0 obj\n<< /Length %d >>\nstream\n" % len(new_content)
        + new_content
        + b"\nendstream\nendobj\n"
    )
    member = (
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 8 0 R >>"
    )
    header = b"4 0\n"
    payload = zlib.compress(header + member)
    objstm = (
        b"9 0 obj\n<< /Type /ObjStm /N 1 /First %d /Length %d "
        b"/Filter /FlateDecode >>\nstream\n" % (len(header), len(payload))
        + payload
        + b"\nendstream\nendobj\n"
    )
    _, text = extract_pdf_text_bytes(base + content_obj + objstm)
    assert text.strip() == "updated"


def test_pdf_mask_honors_declared_length_past_payload_endstream():
    """An UNCOMPRESSED stream whose PAYLOAD contains the literal bytes
    'endstream ... trailer << /Encrypt ... >>' must not false-positive
    the encryption sniff: with a direct /Length the masker blanks
    exactly Length bytes, so the decoy trailer inside the payload is
    masked even PAST the payload's own 'endstream' literal (the
    first-occurrence scan used to stop there and leave the tail
    unmasked)."""
    payload = b"endstream decoy trailer << /Encrypt 5 0 R >> padding"
    obj = (
        b"1 0 obj\n<< /Length %d >>\nstream\n" % len(payload)
        + payload
        + b"\nendstream\nendobj\n"
    )
    raw = b"%PDF-1.4\n" + obj + b"trailer\n<< /Size 2 /Root 1 0 R >>\n%%EOF"
    assert pdf_is_encrypted(raw) is False


def test_pdf_mask_ignores_hostile_length():
    """A corrupt/hostile /Length whose declared end does NOT land on
    'endstream' must be ignored (fallback scan), so it can never blank
    structural bytes: the genuine trailer /Encrypt is still seen."""
    obj = b"1 0 obj\n<< /Length 4000 >>\nstream\nhello\nendstream\nendobj\n"
    enc = b"%PDF-1.4\n" + obj + b"trailer\n<< /Size 2 /Encrypt 5 0 R >>\n%%EOF"
    assert pdf_is_encrypted(enc) is True


def test_pdf_trailer_nested_dict_is_balance_scanned():
    """A trailer carrying an inline dictionary VALUE before /Encrypt is
    legal; the first-'>>' regex used to truncate the scan there and
    report the file unencrypted. The balanced scan sees the whole
    dict. Torn (unterminated) trailers yield nothing — not a crash."""
    enc = (
        b"%PDF-1.4\ntrailer\n"
        b"<< /Info << /Foo (bar) >> /Encrypt 5 0 R /Size 2 >>\n%%EOF"
    )
    assert pdf_is_encrypted(enc) is True
    plain = (
        b"%PDF-1.4\ntrailer\n"
        b"<< /Info << /Foo (bar) >> /Size 2 >>\n%%EOF"
    )
    assert pdf_is_encrypted(plain) is False
    torn = b"%PDF-1.4\ntrailer\n<< /Info << /Encrypt 5 0 R"
    assert pdf_is_encrypted(torn) is False


def test_pdf_mask_length_lookup_ignores_previous_payload():
    """The /Length lookup must read only STRUCTURAL bytes: a '/Length
    N' planted inside a PREVIOUS stream's (already masked) payload
    must not define the next stream's extent. Here the planted length
    would stretch an indirect-length stream's mask across the genuine
    trailer onto a later stream's 'endstream' — an encrypted file
    reading as unencrypted — if the lookup scanned raw bytes."""
    bogus = b"/Length 000"  # fixed width; digits patched below
    obj_a = (
        b"1 0 obj\n<< /Length %d >>\nstream\nx %s y\nendstream\nendobj\n"
        % (len(bogus) + 4, bogus)
    )
    obj_b = (
        b"2 0 obj\n<< /Length 9 0 R >>\nstream\nhi\nendstream\nendobj\n"
    )
    trailer = b"trailer\n<< /Size 4 /Encrypt 5 0 R >>\n"
    obj_c = b"3 0 obj\n<< /Length 5 >>\nstream\nworld\nendstream\nendobj\n"
    raw = b"%PDF-1.4\n" + obj_a + obj_b + trailer + obj_c + b"%%EOF"
    # patch the planted length so (B's stream start + N) lands exactly
    # on C's endstream — the hostile geometry
    b_payload_start = raw.index(b"stream\n", raw.index(b"2 0 obj")) + len(
        b"stream\n"
    )
    c_endstream = raw.index(b"endstream", raw.index(b"3 0 obj"))
    n = c_endstream - b_payload_start
    patched = raw.replace(b"/Length 000", b"/Length %03d" % n)
    assert b"/Length %03d" % n in patched and len(patched) == len(raw)
    # the file IS encrypted; the planted length must not hide that
    assert pdf_is_encrypted(patched) is True


def test_pdf_mask_length_confined_to_streams_own_dict():
    """A direct /Length in an EARLIER object's dict (structural bytes,
    never masked) must not define the extent of a LATER stream whose
    own dict carries only an indirect /Length: the lookup is confined
    to the balanced dict immediately preceding the 'stream' keyword.
    Hostile geometry: A's declared length, applied from B's payload
    start, lands exactly on C's 'endstream' — the mask would swallow
    the genuine trailer and an encrypted file would read unencrypted
    if the window-wide last-/Length scan were still in effect."""
    obj_a = b"1 0 obj\n<< /Length 000 >>\nstream\nalpha\nendstream\nendobj\n"
    obj_b = b"2 0 obj\n<< /Length 9 0 R >>\nstream\nhi\nendstream\nendobj\n"
    trailer = b"trailer\n<< /Size 4 /Encrypt 5 0 R >>\n"
    obj_c = b"3 0 obj\n<< /Length 5 >>\nstream\nworld\nendstream\nendobj\n"
    raw = b"%PDF-1.4\n" + obj_a + obj_b + trailer + obj_c + b"%%EOF"
    b_payload_start = raw.index(b"stream\n", raw.index(b"2 0 obj")) + len(
        b"stream\n"
    )
    c_endstream = raw.index(b"endstream", raw.index(b"3 0 obj"))
    n = c_endstream - b_payload_start
    # from A's own payload start the declared end must NOT land on an
    # 'endstream' (A then falls back to its own scan and stays sane)
    a_payload_start = raw.index(b"stream\n") + len(b"stream\n")
    assert not raw[a_payload_start + n :].lstrip(b"\r\n \t").startswith(
        b"endstream"
    )
    patched = raw.replace(b"/Length 000", b"/Length %03d" % n)
    assert len(patched) == len(raw)
    # B's own dict has no DIRECT length -> fallback scan; A's length
    # must not leak across. The trailer stays visible: encrypted.
    assert pdf_is_encrypted(patched) is True


def test_pdf_trailer_literal_strings_do_not_unbalance_the_scan():
    """'>>' / '<<' bytes inside a literal-string VALUE in the trailer
    (e.g. /Producer (a>>b)) are string content, not dict delimiters:
    counting them used to truncate the balance scan before /Encrypt so
    an encrypted file read as unencrypted. Escaped ')' inside the
    string must not end the skip early either."""
    enc = (
        b"%PDF-1.4\ntrailer\n"
        b"<< /Producer (a>>b) /Encrypt 5 0 R /Size 2 >>\n%%EOF"
    )
    assert pdf_is_encrypted(enc) is True
    enc2 = (
        b"%PDF-1.4\ntrailer\n"
        b"<< /Producer (x\\)>>y <<) /Encrypt 5 0 R /Size 2 >>\n%%EOF"
    )
    assert pdf_is_encrypted(enc2) is True
    plain = (
        b"%PDF-1.4\ntrailer\n"
        b"<< /Producer (a>>b (nested) \\( done) /Size 2 >>\n%%EOF"
    )
    assert pdf_is_encrypted(plain) is False
    # torn string -> unbalanced scan -> refuse (no crash, no match)
    torn = b"%PDF-1.4\ntrailer\n<< /Producer (never closed /Encrypt 5 0 R"
    assert pdf_is_encrypted(torn) is False


def test_pdf_trailer_comment_parens_do_not_swallow_the_dict():
    """An unmatched '(' inside a %-comment in the trailer dict is
    comment CONTENT (ISO 32000 7.2.4), not a literal-string opener:
    taking it for one swallows the rest of the dict (including
    /Encrypt and the close) and an encrypted file reads unencrypted."""
    enc = (
        b"%PDF-1.4\ntrailer\n"
        b"<< % note ( \n/Encrypt 5 0 R /Size 2 >>\n%%EOF"
    )
    assert pdf_is_encrypted(enc) is True
    plain = (
        b"%PDF-1.4\ntrailer\n"
        b"<< % odd ) and ( bytes\n/Size 2 >>\n%%EOF"
    )
    assert pdf_is_encrypted(plain) is False
    # a '%' INSIDE a literal string is string content, not a comment:
    # the value after it must still be scanned (dict stays balanced)
    enc2 = (
        b"%PDF-1.4\ntrailer\n"
        b"<< /Producer (100% pure) /Encrypt 5 0 R /Size 2 >>\n%%EOF"
    )
    assert pdf_is_encrypted(enc2) is True


def test_pdf_mask_widens_window_for_oversized_stream_dict():
    """A stream object whose dict exceeds the 2 KB lookback (long
    /DecodeParms-style padding) with a direct /Length and a payload
    containing the literal bytes 'endstream ... /Encrypt ...': the
    window must widen until the dict's own '<<' is visible so the
    declared length masks the full payload — a truncated window that
    silently fell back to the first-'endstream' scan would leave the
    decoy trailer unmasked and flag the document encrypted."""
    pad = b"/P" + b"a" * 3000 + b" 1 "
    payload = b"endstream decoy trailer << /Encrypt 5 0 R >> padding"
    obj = (
        b"1 0 obj\n<< "
        + pad
        + b"/Length %d >>\nstream\n" % len(payload)
        + payload
        + b"\nendstream\nendobj\n"
    )
    raw = b"%PDF-1.4\n" + obj + b"trailer\n<< /Size 2 /Root 1 0 R >>\n%%EOF"
    assert pdf_is_encrypted(raw) is False


# ---------------------------------------------------------------------------
# Round 14: the non-image filter suite (LZW/ASCIIHex/ASCII85/RunLength,
# chains, predictors) — each decoder pinned against an independent
# encoder (stdlib base64.a85encode, hand-written RLE/LZW/PNG-filter
# encoders) or the spec's own worked example, then end-to-end through
# extract_pdf_text on handcrafted files.
# ---------------------------------------------------------------------------

from hospital_stain_tracker_data_pipeline_spark.operators.pdf import (  # noqa: E402
    _apply_predictor,
    _ascii85_decode,
    _ascii_hex_decode,
    _lzw_decode,
    _run_length_decode,
)


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """Independent PDF-LZW encoder (test rig): MSB-first variable
    width, clear code first, EOD last, EarlyChange semantics."""
    out = bytearray()
    acc = nbits = 0

    def emit(code, width):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    emit(256, width)
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        table[wc] = next_code
        next_code += 1
        if width < 12 and next_code + early >= (1 << width):
            width += 1
        w = bytes([b])
    if w:
        emit(table[w], width)
        # the phantom post-emit increment (libtiff's LZWPostEncode
        # free_ent++): the DECODER adds a table entry for every code
        # after the first and may bump its width before reading EOD,
        # so the encoder must mirror that bump or the two desync at
        # every 2^w boundary (the ~1/256 payload-length class the
        # boundary sweep below walks through)
        next_code += 1
        if width < 12 and next_code + early >= (1 << width):
            width += 1
    emit(257, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def test_pdf_lzw_decode_spec_vector_and_roundtrip():
    # the worked example from ISO 32000 §7.4.4.2
    enc = bytes([0x80, 0x0B, 0x60, 0x50, 0x22, 0x0C, 0x0C, 0x85, 0x01])
    assert _lzw_decode(enc) == bytes([45, 45, 45, 45, 45, 65, 45, 45, 45, 66])
    # independent-encoder round trips, including a table big enough to
    # cross the 9->10->11-bit width bumps
    for payload in (
        b"",
        b"a",
        b"TOBEORNOTTOBEORTOBEORNOT" * 3,
        bytes(range(256)) * 8,
        b"the same sentence repeated " * 200,
    ):
        assert _lzw_decode(_lzw_encode(payload)) == payload
    # EarlyChange=0 encodes with the late width bump; the decoder must
    # honor the declared parameter to stay in sync
    payload = bytes(range(256)) * 4
    assert _lzw_decode(_lzw_encode(payload, early=0), early=0) == payload
    # corrupt: a code beyond the table refuses instead of garbling
    assert _lzw_decode(bytes([0xFF, 0xFF, 0xFF])) is None


def test_pdf_lzw_roundtrip_across_width_bump_boundaries():
    """Incompressible payloads whose code count walks through the
    9→10-bit bump boundary (and, longer, 10→11): the encoder's
    phantom post-final-code increment must keep the EOD width in sync
    with the decoder's post-entry bump — without it every payload
    landing exactly ON a boundary decoded to None (round-14 review
    repro: 253 data codes)."""
    for early in (1, 0):
        for n in list(range(245, 262)) + list(range(505, 522)):
            payload = bytes(i % 256 for i in range(n))
            got = _lzw_decode(_lzw_encode(payload, early), early)
            assert got == payload, (early, n)


def test_pdf_ascii85_and_hex_decode():
    import base64

    for payload in (b"", b"x", b"hello world", bytes(range(256)) * 3):
        assert _ascii85_decode(base64.a85encode(payload) + b"~>") == payload
    assert _ascii85_decode(b"z~>") == b"\x00\x00\x00\x00"  # zero group
    assert _ascii85_decode(b"<~87cUR~>") == b"Hell"  # legacy opener
    assert _ascii85_decode(b"\xff~>") is None  # out-of-alphabet byte
    assert _ascii_hex_decode(b"48 65 6C\n6c 6F>") == b"Hello"
    assert _ascii_hex_decode(b"48656C6C6F7>") == b"Hello\x70"  # odd pad
    assert _ascii_hex_decode(b"zz>") is None


def test_pdf_run_length_decode():
    def rle(b: bytes) -> bytes:
        out, i = bytearray(), 0
        while i < len(b):
            run = 1
            while i + run < len(b) and b[i + run] == b[i] and run < 127:
                run += 1
            if run >= 2:
                out += bytes([257 - run, b[i]])
                i += run
            else:
                j = i + 1
                while (
                    j < len(b)
                    and (j + 1 >= len(b) or b[j + 1] != b[j])
                    and j - i < 128
                ):
                    j += 1
                out += bytes([j - i - 1]) + b[i:j]
                i = j
        out.append(128)
        return bytes(out)

    for payload in (b"", b"aaaaabbbccdefg", bytes(range(200)), b"x" * 999):
        assert _run_length_decode(rle(payload)) == payload
    assert _run_length_decode(bytes([5, 1, 2])) is None  # torn literal


def test_pdf_predictors_roundtrip():
    rows = [bytes(range(12)), bytes((x * 7) % 256 for x in range(12))]
    flat = b"".join(rows)

    def png_encode(rows, ftype, bpp=1):
        out, prior = bytearray(), bytes(len(rows[0]))
        for r in rows:
            out.append(ftype)
            enc = bytearray(r)
            if ftype == 1:
                for j in range(len(r) - 1, bpp - 1, -1):
                    enc[j] = (r[j] - r[j - bpp]) & 0xFF
            elif ftype == 2:
                for j in range(len(r)):
                    enc[j] = (r[j] - prior[j]) & 0xFF
            elif ftype == 3:
                for j in range(len(r)):
                    left = r[j - bpp] if j >= bpp else 0
                    enc[j] = (r[j] - (left + prior[j]) // 2) & 0xFF
            elif ftype == 4:
                for j in range(len(r)):
                    a = r[j - bpp] if j >= bpp else 0
                    b = prior[j]
                    c = prior[j - bpp] if j >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    enc[j] = (r[j] - pred) & 0xFF
            out += enc
            prior = r
        return bytes(out)

    for ftype in (0, 1, 2, 3, 4):  # None/Sub/Up/Average/Paeth
        enc = png_encode(rows, ftype)
        assert _apply_predictor(enc, 12, 1, 8, 12) == flat, ftype
    # TIFF horizontal differencing, colors=2
    raw = bytes([10, 20, 15, 25, 5, 30])
    enc = bytes([10, 20, (15 - 10) & 0xFF, (25 - 20) & 0xFF,
                 (5 - 15) & 0xFF, (30 - 25) & 0xFF])
    assert _apply_predictor(enc, 2, 2, 8, 3) == raw


def _one_page_pdf(content_obj: bytes) -> bytes:
    return (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
        + content_obj
        + b"trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF"
    )


def test_pdf_filter_chain_and_predictor_extract_end_to_end():
    """A content stream wrapped [/ASCII85Decode /FlateDecode] (the
    classic mail-safe chain, decode applied in array order), an LZW
    stream with EarlyChange, and a Flate stream under a PNG Up
    predictor all extract real text; a DCTDecode stream still hits
    the loud ceiling."""
    import base64
    import zlib

    content = b"BT (chained hello) Tj ET"
    chained = base64.a85encode(zlib.compress(content)) + b"~>"
    obj = (
        b"4 0 obj\n<< /Filter [/ASCII85Decode /FlateDecode] /Length %d "
        b">>\nstream\n" % len(chained) + chained + b"\nendstream\nendobj\n"
    )
    got = extract_pdf_text_bytes(_one_page_pdf(obj))
    assert got is not None and "chained hello" in got[1]

    lzw = _lzw_encode(b"BT (lzw hello) Tj ET")
    obj = (
        b"4 0 obj\n<< /Filter /LZWDecode /Length %d >>\nstream\n"
        % len(lzw) + lzw + b"\nendstream\nendobj\n"
    )
    got = extract_pdf_text_bytes(_one_page_pdf(obj))
    assert got is not None and "lzw hello" in got[1]

    # PNG Up predictor over a Flate stream: columns = row width
    content = b"BT (predicted hello) Tj ET"
    cols = len(content)
    pred_rows = bytes([2]) + content  # one row, Up against zero prior
    flated = zlib.compress(pred_rows)
    obj = (
        b"4 0 obj\n<< /Filter /FlateDecode "
        b"/DecodeParms << /Predictor 12 /Columns %d >> /Length %d "
        b">>\nstream\n" % (cols, len(flated))
        + flated + b"\nendstream\nendobj\n"
    )
    got = extract_pdf_text_bytes(_one_page_pdf(obj))
    assert got is not None and "predicted hello" in got[1]

    # image codec: still the loud-ceiling path (None from bytes-level)
    obj = (
        b"4 0 obj\n<< /Filter /DCTDecode /Length 4 >>\nstream\n"
        b"\xff\xd8\xff\xd9\nendstream\nendobj\n"
    )
    assert extract_pdf_text_bytes(_one_page_pdf(obj)) is None


def test_pdf_malformed_predictor_parms_hit_the_ceiling_not_a_crash():
    """/Columns 0 (or negative Colors/BitsPerComponent) must land on
    the None->loud-ceiling/fake_decode path, never raise through the
    decode — a crafted PDF must not fail the whole extraction job."""
    import zlib

    content = zlib.compress(b"BT (x) Tj ET")
    for parms in (b"/Predictor 2 /Columns 0", b"/Predictor 12 /Columns 0",
                  b"/Predictor 2 /Colors 0", b"/Predictor 12 /Colors -1"):
        obj = (
            b"4 0 obj\n<< /Filter /FlateDecode /DecodeParms << "
            + parms
            + b" >> /Length %d >>\nstream\n" % len(content)
            + content + b"\nendstream\nendobj\n"
        )
        assert extract_pdf_text_bytes(_one_page_pdf(obj)) is None, parms


def test_pdf_decode_parms_array_aligns_past_indirect_elements():
    """An indirect ref element in the /DecodeParms array consumes its
    slot (defaults for that filter) instead of shifting the NEXT
    filter's predictor dict one position left — which would leave the
    predictor un-undone and emit garbled text with extracted=True."""
    import base64
    import zlib

    content = b"BT (aligned hello) Tj ET"
    pred_rows = bytes([2]) + content  # PNG Up against zero prior
    wrapped = base64.a85encode(zlib.compress(pred_rows)) + b"~>"
    obj = (
        b"4 0 obj\n<< /Filter [/ASCII85Decode /FlateDecode] "
        b"/DecodeParms [5 0 R << /Predictor 12 /Columns %d >>] "
        b"/Length %d >>\nstream\n" % (len(content), len(wrapped))
        + wrapped + b"\nendstream\nendobj\n"
    )
    got = extract_pdf_text_bytes(_one_page_pdf(obj))
    assert got is not None and "aligned hello" in got[1]


def test_pdf_lzw_roundtrip_property():
    """Hypothesis property: decode(encode(x)) == x for arbitrary byte
    payloads under both EarlyChange settings — the generative sibling
    of the boundary sweep (which pins the known 2^w failure class
    deterministically)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=150, deadline=None)
    @given(
        payload=st.binary(min_size=0, max_size=2048),
        early=st.sampled_from([1, 0]),
    )
    def check(payload, early):
        assert _lzw_decode(_lzw_encode(payload, early), early) == payload

    check()
