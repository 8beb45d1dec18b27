"""WARC (ISO 28500 / WARC 1.0) source — the container format web
crawls actually arrive in (CommonCrawl ships per-record-gzipped
``.warc.gz`` members, ~1 GB per file). This closes the front of the
crawl-to-tokens composition: WARC file → (url, html/text payload)
frame → ``pipeline.curate.curate_documents(html_col=...)``.

The reference has no crawl ingestion at all (its sources are HHS CSVs,
``backend/app/etl/ingest_capacity_csv.py``); this module follows the
repo's extension pattern for binary formats (multimodal/jpeg/flac):
a pure-stdlib parser with its own spec-conformant writer as the
round-trip test rig, and Spark-side plumbing that is real at scale.

Scale shape (100 TB = ~100k x 1 GB warc.gz files): the unit of
parallelism is the FILE — a driver-side listing is tiny (one row per
file), repartitioned so each task stream-parses its files with
``mapInPandas``. Parsing is streaming on both axes: gzip members
decode incrementally (one record's bytes in memory at a time, never
the whole file) and records are emitted in Arrow batches as they
parse, so executor memory is bounded by the largest single record,
not the file. Per-record gzip members (the CommonCrawl layout) also
give random access: the reported ``record_offset`` for ``.gz`` input
is the compressed member offset — exactly the pointer the public CC
index format (CDXJ) stores — so a downstream fetch of one record
seeks straight to it.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterable, Iterator
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

WARC_SCHEMA = T.StructType(
    [
        T.StructField("warc_file", T.StringType(), False),
        # record start: compressed member offset for .gz input (the
        # CommonCrawl CDXJ index convention), raw byte offset otherwise
        T.StructField("record_offset", T.LongType(), False),
        # ordinal within the gzip member (0 in the CC layout; records
        # of a multi-record/whole-file-gzip member share an offset, so
        # (offset, seq) is the unique record address in every layout)
        T.StructField("record_seq", T.IntegerType(), False),
        T.StructField("warc_type", T.StringType(), True),
        T.StructField("record_id", T.StringType(), True),
        T.StructField("target_uri", T.StringType(), True),
        T.StructField("warc_date", T.StringType(), True),
        T.StructField("content_type", T.StringType(), True),
        # HTTP envelope (response/request records only, else NULL)
        T.StructField("http_status", T.IntegerType(), True),
        T.StructField("http_content_type", T.StringType(), True),
        # payload = HTTP body for application/http records (headers
        # stripped, chunked transfer-coding decoded), raw block
        # otherwise
        T.StructField("payload", T.BinaryType(), True),
    ]
)

_CRLF = b"\r\n"
_GZIP_MAGIC = b"\x1f\x8b"


# ---------------------------------------------------------------- writer


def write_warc(
    path: str,
    records: Iterable[dict],
    compress: bool = True,
) -> list[int]:
    """Spec-conformant WARC/1.0 writer — the round-trip rig for the
    reader (same role as the MJPEG/FLAC encoders). Each record dict:
    ``warc_type`` (required), ``block`` (bytes, required) plus optional
    ``record_id, target_uri, warc_date, content_type`` header fields.

    ``compress=True`` emits one gzip member PER RECORD (the CommonCrawl
    layout — the resulting file is valid multi-member gzip). Returns
    the list of record start offsets in the written file (compressed
    member offsets when compressed), so tests can pin the reader's
    ``record_offset`` contract exactly."""
    offsets: list[int] = []
    with open(path, "wb") as f:
        for rec in records:
            block = rec["block"]
            headers = [b"WARC/1.0"]
            headers.append(b"WARC-Type: " + rec["warc_type"].encode())
            for key, field in (
                ("record_id", b"WARC-Record-ID"),
                ("target_uri", b"WARC-Target-URI"),
                ("warc_date", b"WARC-Date"),
                ("content_type", b"Content-Type"),
            ):
                if rec.get(key) is not None:
                    headers.append(field + b": " + rec[key].encode())
            headers.append(b"Content-Length: " + str(len(block)).encode())
            raw = _CRLF.join(headers) + _CRLF + _CRLF + block + _CRLF + _CRLF
            offsets.append(f.tell())
            if compress:
                comp = zlib.compressobj(9, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
                f.write(comp.compress(raw) + comp.flush())
            else:
                f.write(raw)
    return offsets


def http_response_block(
    body: bytes,
    status: int = 200,
    content_type: str = "text/html; charset=utf-8",
    chunked: bool = False,
) -> bytes:
    """Build an HTTP/1.1 response block (what a ``response`` record's
    WARC block holds). ``chunked`` applies chunked transfer-coding to
    the body — the reader must undo it."""
    if chunked:
        payload = b""
        # split into two chunks to make the decode loop real
        half = max(1, len(body) // 2)
        for part in (body[:half], body[half:]):
            if part:
                payload += f"{len(part):x}".encode() + _CRLF + part + _CRLF
        payload += b"0" + _CRLF + _CRLF
        te = b"Transfer-Encoding: chunked" + _CRLF
        cl = b""
    else:
        payload = body
        te = b""
        cl = b"Content-Length: " + str(len(body)).encode() + _CRLF
    return (
        b"HTTP/1.1 " + str(status).encode() + b" OK" + _CRLF
        + b"Content-Type: " + content_type.encode() + _CRLF
        + te + cl + _CRLF + payload
    )


# ---------------------------------------------------------------- parser


def _iter_gzip_members(stream) -> Iterator[tuple[int, bytes]]:
    """(compressed_member_offset, decompressed_bytes) per gzip member,
    streaming: only one member's decompressed bytes (one WARC record
    for CC-layout files) are held at a time. A CORRUPT member (bit-rot,
    non-gzip garbage between members) does not kill the file: the
    iterator resyncs by scanning forward for the next gzip magic —
    the malformed-record-skip contract applied at the member level."""
    offset = 0
    buf = b""
    chunk_size = 1 << 20
    eof = False
    while True:
        while len(buf) < 2 and not eof:
            got = stream.read(chunk_size)
            if not got:
                eof = True
            buf += got
        if not buf:
            return
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        out = bytearray()
        consumed_into = 0  # bytes of buf fed so far for this member
        corrupt = False
        while True:
            if consumed_into == len(buf) and not eof:
                got = stream.read(chunk_size)
                if not got:
                    eof = True
                buf += got
            feed = buf[consumed_into:]
            if not feed and d.eof is False:
                # truncated final member: surface what decoded cleanly
                if out:
                    yield offset, bytes(out)
                return
            try:
                out += d.decompress(feed)
            except zlib.error:
                corrupt = True
                consumed_into = len(buf)
                break
            consumed_into = len(buf)
            if d.eof:
                tail = d.unused_data
                member_len = len(buf) - len(tail)
                yield offset, bytes(out)
                offset += member_len
                buf = tail
                break
        if corrupt:
            # resync: skip forward to the next gzip member magic
            # (deflate magic byte \x08 required to cut false positives)
            while True:
                idx = buf.find(_GZIP_MAGIC + b"\x08", 1)
                if idx >= 0:
                    offset += idx
                    buf = buf[idx:]
                    break
                if eof:
                    return
                # keep the last 2 bytes in case the magic straddles reads
                offset += max(0, len(buf) - 2)
                buf = buf[-2:] if len(buf) > 2 else buf
                got = stream.read(chunk_size)
                if not got:
                    eof = True
                buf += got


def _iter_plain_records_raw(stream) -> Iterator[tuple[int, bytes]]:
    """(byte_offset, record_bytes) from an uncompressed WARC stream.
    Splits on the version line + Content-Length header. Buffer work is
    amortized: a read cursor advances through the chunk buffer and the
    buffer compacts once per chunk, not once per record — per-record
    cost is O(record), not O(buffer)."""
    offset = 0
    buf = bytearray()
    start = 0  # read cursor into buf
    chunk_size = 1 << 20
    eof = False
    while True:
        # compact once the consumed prefix exceeds a chunk
        if start >= chunk_size:
            del buf[:start]
            start = 0
        # ensure we have the full header block (terminated by CRLFCRLF)
        while buf.find(b"\r\n\r\n", start) < 0 and not eof:
            got = stream.read(chunk_size)
            if not got:
                eof = True
            buf += got
        if not bytes(buf[start:]).strip():
            return
        head_end = buf.find(b"\r\n\r\n", start)
        if head_end < 0:
            return  # trailing garbage without a header block
        clen = _content_length(bytes(buf[start:head_end]))
        if clen is None:
            return  # unrecoverable: cannot find the block boundary
        # block + trailing CRLFCRLF
        need = head_end + 4 + clen + 4
        while len(buf) < need and not eof:
            got = stream.read(chunk_size)
            if not got:
                eof = True
            buf += got
        end = min(need, len(buf))
        yield offset, bytes(buf[start:end])
        offset += end - start
        start = end
        if eof and not bytes(buf[start:]).strip():
            return


def _parse_headers(head: bytes) -> dict[str, str]:
    """WARC/HTTP header block → {name_lower: value} with FIRST-wins
    duplicate semantics and folded-continuation handling. A hand-rolled
    parser instead of ``email``: raw UTF-8 in header values (ubiquitous
    in real crawls — non-ASCII target URIs) must come back as plain
    ``str``, never ``email.header.Header`` objects that poison the
    Arrow conversion. Values decode as UTF-8 with replacement."""
    out: dict[str, str] = {}
    last: str | None = None
    for line in head.split(_CRLF):
        if not line:
            continue
        if line[:1] in (b" ", b"\t") and last is not None:
            out[last] += " " + line.strip().decode("utf-8", "replace")
            continue
        k, sep, v = line.partition(b":")
        if not sep:
            last = None
            continue
        key = k.strip().decode("utf-8", "replace").lower()
        if key not in out:  # first occurrence wins
            out[key] = v.strip().decode("utf-8", "replace")
            last = key
        else:
            last = None
    return out


def _content_length(head: bytes) -> int | None:
    """Content-Length from a header block via the SAME parser the
    record parser uses — one length authority, so the splitter and the
    field parser can never disagree on record boundaries."""
    v = _parse_headers(head).get("content-length")
    if v is None:
        return None
    try:
        return int(v.strip())
    except ValueError:
        return None


def _dechunk(body: bytes) -> bytes:
    """Undo HTTP chunked transfer-coding; returns ``body`` unchanged if
    it doesn't parse as chunks (bad captures exist in real crawls)."""
    out = bytearray()
    i = 0
    try:
        while True:
            j = body.index(_CRLF, i)
            size = int(body[i:j].split(b";")[0], 16)
            if size == 0:
                return bytes(out)
            out += body[j + 2 : j + 2 + size]
            i = j + 2 + size + 2
    except (ValueError, IndexError):
        return body


def _parse_record(raw: bytes, pos: int = 0) -> tuple[dict | None, int]:
    """Parse one WARC record at byte offset ``pos`` of ``raw``.
    Returns ``(fields, next_pos)`` — or ``(None, len(raw))`` if
    malformed (which also terminates a multi-record walk: record
    boundaries come from Content-Length, so a record whose length
    can't be trusted makes everything after it unaddressable).
    Offset-based (no per-record slice copies) and the SAME
    ``_content_length`` authority as the plain-stream splitter."""
    if not raw.startswith(b"WARC/", pos):
        return None, len(raw)
    head_end = raw.find(b"\r\n\r\n", pos)
    if head_end < 0:
        return None, len(raw)
    first_nl = raw.find(_CRLF, pos)
    fields = _parse_headers(raw[first_nl + 2 : head_end])
    clen = _content_length(raw[first_nl + 2 : head_end])
    if clen is None:
        return None, len(raw)
    block = raw[head_end + 4 : head_end + 4 + clen]
    if len(block) < clen:
        return None, len(raw)  # truncated record
    next_pos = head_end + 4 + clen + 4
    ctype = fields.get("content-type")
    rec = {
        "warc_type": fields.get("warc-type"),
        "record_id": fields.get("warc-record-id"),
        "target_uri": fields.get("warc-target-uri"),
        "warc_date": fields.get("warc-date"),
        "content_type": ctype,
        "http_status": None,
        "http_content_type": None,
        "payload": block,
    }
    if ctype and ctype.split(";")[0].strip().lower() == "application/http":
        split = block.find(b"\r\n\r\n")
        if split >= 0:
            status_line, _, header_bytes = block[:split].partition(_CRLF)
            http = _parse_headers(header_bytes)
            body = block[split + 4 :]
            parts = status_line.split()
            if len(parts) >= 2 and parts[0].startswith(b"HTTP/"):
                try:
                    rec["http_status"] = int(parts[1])
                except ValueError:
                    pass
            rec["http_content_type"] = http.get("content-type")
            if (http.get("transfer-encoding") or "").lower().strip() == "chunked":
                body = _dechunk(body)
            rec["payload"] = body
    return rec, next_pos


def iter_warc_records(path: str) -> Iterator[tuple[int, int, dict]]:
    """(record_offset, record_seq, fields) for every well-formed record
    in a local or ``pyarrow.fs``-resolvable WARC file; malformed
    records are skipped (crawl files DO carry truncated captures — one
    bad record must not kill a 1 GB file, the op-validate-row
    philosophy applied to a binary source).

    ``record_seq`` is the record's ordinal WITHIN its gzip member
    (always 0 for the CommonCrawl one-record-per-member layout; 0..n
    for whole-file-gzipped or multi-record members, which all share
    the member's compressed offset) — ``(offset, seq)`` is therefore a
    unique record address in every layout. Memory is bounded by the
    largest gzip MEMBER (== one record for the CC layout; a
    whole-file-gzip degrades to file-sized, which is why CC shards
    per-record — noted, not hidden)."""
    stream = _open_stream(path)
    try:
        head = stream.read(2)
        stream = _Unread(head, stream)
        members = (
            _iter_gzip_members(stream)
            if head == _GZIP_MAGIC
            else _iter_plain_records_raw(stream)
        )
        for offset, raw in members:
            pos = 0
            seq = 0
            while pos < len(raw):
                rec, pos = _parse_record(raw, pos)
                if rec is None:
                    break
                yield offset, seq, rec
                seq += 1
    finally:
        stream.close()


class _Unread:
    """Prepend already-read bytes back onto a stream."""

    def __init__(self, head: bytes, stream):
        self._head = head
        self._stream = stream

    def read(self, n: int = -1) -> bytes:
        if self._head:
            if n is None or n < 0 or n >= len(self._head):
                out, self._head = self._head, b""
                return out + self._stream.read(
                    -1 if n is None or n < 0 else n - len(out)
                )
            out, self._head = self._head[:n], self._head[n:]
            return out
        return self._stream.read(n)

    def close(self) -> None:
        self._stream.close()


def _open_stream(path: str):
    if "://" in path:
        from pyarrow import fs as pafs

        filesystem, p = pafs.FileSystem.from_uri(path)
        return filesystem.open_input_stream(p)
    return open(path, "rb")


# ----------------------------------------------------------- spark side


def read_warc(
    spark: SparkSession,
    paths: str | list[str],
    warc_types: tuple[str, ...] = ("response",),
    parallelism: int | None = None,
) -> DataFrame:
    """Distributed WARC scan: expand ``paths`` (a list, a file, or a
    glob) driver-side — listing is one tiny row per file even at
    100 TB — then stream-parse each file in ``mapInPandas`` tasks.
    ``warc_types`` filters record types during the parse (response
    records are the corpus; request/metadata/warcinfo are bookkeeping),
    so filtered records never materialize in Arrow.

    A glob that matches nothing raises ``FileNotFoundError`` (Spark's
    own readers fail on an empty glob too) — a 100 TB ingest must
    never silently become an empty corpus. List elements are expanded
    the same way (each may itself be a glob; each must match).
    Remote-URI globs (``s3://bucket/crawl/*.warc.gz``) list via
    ``pyarrow.fs`` + fnmatch and support ``*``/``?`` wildcards in the
    FINAL path segment only; the directory component is always listed
    LITERALLY where the URI parses (``*``/``?`` are legal in
    object-store key segments, so a prefix named ``crawl-*/`` still
    lists literally — but ``[`` is rejected by pyarrow's URI parser
    itself, so bracket-named prefixes are unreachable through the URI
    form; pass an explicit path list for those). When the literal
    listing yields nothing (or the URI won't parse) and the path
    contains glob characters, the failure is an explanatory
    ``ValueError`` ("directory-component wildcards are unsupported")
    instead of an opaque FileNotFoundError/ArrowInvalid. Local paths
    get full ``glob.glob`` semantics. An explicit empty list is the
    only way to get an empty (typed) frame.
    """
    import fnmatch
    import glob as globmod
    import posixpath

    def expand_one(p: str) -> list[str]:
        # one path → its file list; a glob that matches nothing fails
        # loud (a 100 TB ingest must never silently shrink), a literal
        # path passes through (the executor's open() reports missing
        # files with the real OS error)
        if not any(ch in p for ch in "*?["):
            hits = [p]
        elif "://" in p:
            from pyarrow import fs as pafs

            scheme = p.split("://", 1)[0]
            try:
                filesystem, pat = pafs.FileSystem.from_uri(p)
            except Exception as exc:  # pyarrow raises ArrowInvalid on '['
                raise ValueError(
                    f"remote-URI glob {p!r} does not parse as a URI "
                    "(pyarrow rejects '[' anywhere in a URI path) — "
                    "only '*'/'?' wildcards are supported in the final "
                    "segment; enumerate bracket-named prefixes via an "
                    "explicit path list"
                ) from exc
            dirname, base = posixpath.split(pat)
            # the dirname is listed LITERALLY (glob chars are legal in
            # object-store key segments, so `crawl[2024]/` must keep
            # working); only when that literal listing can't produce a
            # match does a glob char in the dirname get the explanatory
            # error instead of a confusing FileNotFoundError
            def _dirname_glob_error() -> Exception:
                if any(ch in dirname for ch in "*?["):
                    return ValueError(
                        f"remote-URI glob {p!r} has a wildcard in a "
                        "directory component and no directory literally "
                        "named that exists — directory-component "
                        "wildcards are unsupported (the listing is "
                        "non-recursive); enumerate the directories "
                        "explicitly or pass a path list"
                    )
                return FileNotFoundError(f"no WARC files match {p!r}")

            try:
                infos = filesystem.get_file_info(
                    pafs.FileSelector(dirname, recursive=False)
                )
            except (FileNotFoundError, OSError) as exc:
                raise _dirname_glob_error() from exc
            hits = sorted(
                f"{scheme}://{i.path}"
                for i in infos
                if i.is_file
                and fnmatch.fnmatch(posixpath.basename(i.path), base)
            )
            if not hits:
                raise _dirname_glob_error()
        else:
            hits = sorted(globmod.glob(p))
        if not hits:
            raise FileNotFoundError(f"no WARC files match {p!r}")
        return hits

    if isinstance(paths, str):
        listed = expand_one(paths)
    else:
        # each list element gets the same expansion + fail-loud as a
        # bare string; only an explicit [] yields the empty frame
        listed = sorted(h for p in paths for h in expand_one(p))
    if not listed:
        return spark.createDataFrame([], WARC_SCHEMA)
    want = set(warc_types) if warc_types else None

    files = spark.createDataFrame(
        [(p,) for p in listed], "warc_file string"
    ).repartition(min(len(listed), parallelism or len(listed)))

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path in pdf["warc_file"]:
                rows = []
                for offset, seq, rec in iter_warc_records(path):
                    if want is not None and rec["warc_type"] not in want:
                        continue
                    rows.append(
                        {
                            "warc_file": path,
                            "record_offset": offset,
                            "record_seq": seq,
                            **{
                                k: rec[k]
                                for k in (
                                    "warc_type", "record_id", "target_uri",
                                    "warc_date", "content_type",
                                    "http_status", "http_content_type",
                                    "payload",
                                )
                            },
                        }
                    )
                    if len(rows) >= 256:  # bound Arrow batch memory
                        yield pd.DataFrame(rows)
                        rows = []
                if rows:
                    yield pd.DataFrame(rows)

    return files.mapInPandas(parse, WARC_SCHEMA)


def warc_payload_text(
    df: DataFrame,
    payload_col: str = "payload",
    http_ct_col: str = "http_content_type",
    out_col: str = "text",
) -> DataFrame:
    """Decode payload bytes to a string column using the charset from
    the HTTP Content-Type header (``charset=...``), defaulting to
    UTF-8 with replacement — crawl bytes are never trusted to decode
    cleanly. Arrow-batched; one pass."""

    @F.pandas_udf("string")
    def decode(payload: pd.Series, ct: pd.Series) -> pd.Series:
        out = []
        for raw, c in zip(payload, ct):
            if raw is None:
                out.append(None)
                continue
            charset = "utf-8"
            if isinstance(c, str) and "charset=" in c.lower():
                # strip RFC 9110 quoting: charset="iso-8859-1" is legal
                # and common — quotes left in would LookupError every
                # such page into mojibake-by-fallback
                charset = (
                    c.lower().split("charset=")[1].split(";")[0]
                    .strip().strip("\"'").strip()
                ) or "utf-8"
            try:
                out.append(bytes(raw).decode(charset, errors="replace"))
            except LookupError:  # unknown charset label in the wild
                out.append(bytes(raw).decode("utf-8", errors="replace"))
        return pd.Series(out)

    return df.withColumn(out_col, decode(F.col(payload_col), F.col(http_ct_col)))


def _records_to_documents(recs: DataFrame, out_col: str) -> DataFrame:
    """THE doc_id recipe, in one place: decode the payload and project
    the 4-column documents shape. Both front-doors (and any caller
    holding a pre-read ``read_warc`` frame) go through here, so the
    (file, offset, seq) hash can never drift between them."""
    return warc_payload_text(recs, out_col=out_col).select(
        F.xxhash64("warc_file", "record_offset", "record_seq").alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.col("warc_date").alias("fetch_date"),
        out_col,
    )


def warc_to_documents(
    spark: SparkSession,
    paths: str | list[str] | None = None,
    parallelism: int | None = None,
    records: DataFrame | None = None,
) -> DataFrame:
    """The crawl front-door: WARC response records →
    ``(doc_id, url, fetch_date, html)`` ready for
    ``curate_documents(..., html_col="html", url_col="url")``.
    ``doc_id`` is the 64-bit hash of (file, offset, seq) —
    deterministic and unique for every layout incl. multi-record gzip
    members, where records share the member offset and only ``seq``
    separates them. Pass ``records`` (an already-read ``read_warc``
    frame, response records) to derive documents WITHOUT a second
    scan — the one-parse path a caller producing multiple outputs
    (docs + CDX sidecar) should use."""
    if records is None:
        if paths is None:
            raise ValueError("need paths or records")
        records = read_warc(
            spark, paths, warc_types=("response",), parallelism=parallelism
        )
    return _records_to_documents(records, out_col="html")


def wet_to_documents(
    spark: SparkSession,
    paths: str | list[str] | None = None,
    parallelism: int | None = None,
    records: DataFrame | None = None,
) -> DataFrame:
    """The WET front-door: ``conversion`` records (the pre-extracted
    plain-text sidecar CommonCrawl publishes as ``*.warc.wet.gz`` —
    most public LLM corpora start here, not from raw HTML) →
    ``(doc_id, url, fetch_date, text)`` ready for
    ``curate_documents(..., url_col="url")`` with NO ``html_col`` —
    the text is already extracted.

    A WET record has no HTTP envelope (``http_content_type`` is NULL),
    and its payload is UTF-8 ``text/plain`` by the CC convention, so
    ``warc_payload_text``'s utf-8-with-replacement default is exactly
    the right decode. ``doc_id`` uses the same (file, offset, seq)
    hash as ``warc_to_documents`` — a WET-derived corpus and a
    WARC-derived one never collide on doc_id because the hash input
    carries the file path. The leading ``warcinfo`` record every WET
    file starts with is dropped by the type filter, not by position —
    robust to files that lack it. ``records`` short-circuits the scan
    exactly as in ``warc_to_documents``."""
    if records is None:
        if paths is None:
            raise ValueError("need paths or records")
        records = read_warc(
            spark, paths, warc_types=("conversion",), parallelism=parallelism
        )
    return _records_to_documents(records, out_col="text")


def warc_cdx_index(records: DataFrame) -> DataFrame:
    """Derive the CDX-style capture index from a ``read_warc`` frame —
    the lookup table crawl archives ship beside the WARC files
    (public CDXJ convention: canonical URL → file + compressed member
    offset). One narrow projection; persist it as the corpus's
    random-access sidecar: a row's ``(warc_file, record_offset,
    record_seq)`` points at its record without scanning the file."""
    from ..operators.web import canonicalize_url

    return records.select(
        canonicalize_url(F.col("target_uri")).alias("url_key"),
        F.col("target_uri").alias("url"),
        F.col("warc_date"),
        F.col("warc_file"),
        F.col("record_offset"),
        F.col("record_seq"),
        F.col("http_status"),
        F.col("http_content_type").alias("mime"),
        F.length("payload").alias("payload_len"),
    )

