"""WARC (Web ARChive, ISO 28500) source — the Common-Crawl ingestion
path for a web-scale training-data pipeline.

The reference has no web-archive surface (its sources are JSON/text —
SURVEY.md §2.2); this extends the engine per the build brief's
training-pipeline mandate.  Format knowledge is from the public WARC/1.1
specification (ISO 28500 / IIPC warc-specifications) and the Common
Crawl dataset layout; the parser is written from scratch on stdlib
``zlib`` only.

Scale shape: WARC segments are independently parseable files (Common
Crawl ships ~1 GB gzipped segments, tens of thousands per crawl), so the
natural Spark decomposition is ONE TASK PER FILE — the same shape every
published Common Crawl Spark pipeline uses (e.g. cc-pyspark).  Files
load through the built-in ``binaryFile`` source and records stream out
of an Arrow-batched ``mapInPandas``.

Memory contract (per task, enforced by tests/test_warc.py):

* the COMPRESSED segment bytes (that is ``binaryFile``'s contract — it
  hands the task one in-memory ``content`` column value);
* ONE inflate chunk (``_CHUNK`` = 1 MiB) fed to ``zlib.decompressobj``
  at a time — the inflated stream is never materialized;
* ONE in-flight record (header block + ``Content-Length`` payload) in
  the reassembly buffer — records are parsed and released as the
  inflater produces bytes, so peak buffering is
  ``O(chunk + largest_record)``, not ``O(inflated_segment)``;
* ONE pending Arrow batch (``batch_rows`` rows / ``batch_bytes`` payload
  bytes, whichever fills first) — records stream out in bounded pandas
  frames instead of one frame per file.

So a 100 TB crawl parallelizes across however many segment files it
has, with no shuffle, and a task's footprint is the compressed segment
plus small constants — a pathological single record (one giant page) is
the only way to grow it, and ``max_payload_bytes`` caps what leaves the
parser even then.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from inception_spark.sources.compression import CodecError, decompress

WARC_SCHEMA = T.StructType(
    [
        T.StructField("warc_file", T.StringType(), False),
        T.StructField("record_offset", T.LongType(), False),
        T.StructField("warc_type", T.StringType(), True),
        T.StructField("record_id", T.StringType(), True),
        T.StructField("target_uri", T.StringType(), True),
        T.StructField("warc_date", T.StringType(), True),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("content_length", T.LongType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

_CHUNK = 1 << 20  # compressed bytes fed to the inflater per step
_MAX_HEADER_BYTES = 1 << 20  # a WARC header block larger than this is garbage


class WarcFormatError(ValueError):
    """Raised on a structurally invalid WARC record."""


def _iter_inflated_chunks(
    data: bytes, *, chunk_size: int = _CHUNK, strict: bool = True
) -> Iterator[bytes]:
    """Incrementally inflate a stream of CONCATENATED gzip members (the
    WARC .gz convention: one member per record), yielding plain-bytes
    chunks as they decompress.

    Never materializes the inflated stream: compressed input is fed to
    ``zlib.decompressobj`` ``chunk_size`` bytes at a time via a moving
    ``memoryview`` (no tail re-slicing), and member boundaries hand
    ``unused_data`` straight to a fresh decompressor.  A corrupt member
    (bad CRC / garbage bytes) raises :class:`WarcFormatError` when
    ``strict``, else ends the stream after the bytes inflated so far
    (quarantine semantics).  A TRUNCATED final member simply ends the
    stream — the record parser downstream reports the truncated record.
    """
    view = memoryview(data)
    pos = 0
    d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
    feed: bytes | memoryview = b""
    while True:
        if not len(feed):
            if pos >= len(view):
                break
            feed = view[pos : pos + chunk_size]
            pos += len(feed)
        try:
            out = d.decompress(feed)
        except zlib.error as exc:
            if strict:
                raise WarcFormatError(f"corrupt gzip member: {exc}") from exc
            return
        feed = b""
        if out:
            yield out
        if d.eof:
            feed = d.unused_data  # start of the NEXT member (may be b"")
            d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)


class _RecordBuffer:
    """Bounded reassembly buffer between the inflater and the record
    parser: holds the not-yet-parsed tail of the stream, which the
    parser keeps to at most one in-flight record (+ one chunk of
    lookahead).  ``peak`` records the high-water mark so tests can
    assert the bound."""

    __slots__ = ("_chunks", "buf", "base", "eof", "peak")

    def __init__(self, chunks: Iterable[bytes]):
        self._chunks = iter(chunks)
        self.buf = bytearray()
        self.base = 0  # absolute stream offset of buf[0]
        self.eof = False
        self.peak = 0

    def _pull(self) -> bool:
        try:
            chunk = next(self._chunks)
        except StopIteration:
            self.eof = True
            return False
        self.buf += chunk
        if len(self.buf) > self.peak:
            self.peak = len(self.buf)
        return True

    def ensure(self, n: int) -> bool:
        """Buffer at least ``n`` bytes; False if the stream ends first."""
        while len(self.buf) < n and not self.eof:
            self._pull()
        return len(self.buf) >= n

    def find(self, pat: bytes, *, limit: int) -> int:
        """Index of ``pat`` in the buffer, pulling chunks as needed; -1
        at EOF or once more than ``limit`` bytes were scanned without a
        match (malformed input guard)."""
        scan_from = 0
        while True:
            i = self.buf.find(pat, scan_from)
            if i >= 0:
                return i
            if len(self.buf) > limit:
                return -1
            scan_from = max(0, len(self.buf) - len(pat) + 1)
            if not self._pull():
                return -1

    def consume(self, n: int) -> None:
        del self.buf[:n]
        self.base += n


def iter_warc_records(
    chunks: Iterable[bytes], *, strict: bool = True, stats: dict | None = None
) -> Iterator[dict]:
    """Yield one dict per WARC record from an iterator of (inflated)
    byte chunks, buffering at most one in-flight record at a time.

    A record is ``WARC/1.x CRLF`` + ``Name: value CRLF`` header block +
    empty line + exactly ``Content-Length`` payload bytes + two CRLFs.
    Header names are case-insensitive per the spec.  ``strict=False``
    stops at the first malformed record instead of raising (quarantine
    semantics for truncated segments).  ``stats``, if given, receives
    ``peak_buffer_bytes`` — the reassembly buffer's high-water mark —
    when iteration finishes."""
    rb = _RecordBuffer(chunks)
    try:
        while True:
            # skip inter-record CRLF padding
            while rb.ensure(1) and rb.buf[0] in (0x0D, 0x0A):
                rb.consume(1)
            if not rb.ensure(1):
                return  # clean EOF
            start = rb.base
            rb.ensure(5)
            if bytes(rb.buf[:5]) != b"WARC/":
                if strict:
                    raise WarcFormatError(
                        f"expected WARC/ version line at offset {start}"
                    )
                return
            hdr_end = rb.find(b"\r\n\r\n", limit=_MAX_HEADER_BYTES)
            if hdr_end < 0:
                if strict:
                    raise WarcFormatError("unterminated WARC header block")
                return
            headers: dict[str, str] = {}
            for line in bytes(rb.buf[:hdr_end]).split(b"\r\n")[1:]:
                k, _, v = line.partition(b":")
                headers[k.strip().lower().decode("ascii", "replace")] = (
                    v.strip().decode("utf-8", "replace")
                )
            try:
                length = int(headers.get("content-length", ""))
            except ValueError:
                if strict:
                    raise WarcFormatError(
                        f"missing/invalid Content-Length at offset {start}"
                    )
                return
            body_start = hdr_end + 4
            if not rb.ensure(body_start + length):
                if strict:
                    raise WarcFormatError(
                        f"truncated payload at offset {start}"
                    )
                return
            yield {
                "record_offset": start,
                "warc_type": headers.get("warc-type"),
                "record_id": headers.get("warc-record-id"),
                "target_uri": headers.get("warc-target-uri"),
                "warc_date": headers.get("warc-date"),
                "content_type": headers.get("content-type"),
                "content_length": length,
                "payload": bytes(rb.buf[body_start : body_start + length]),
            }
            rb.consume(body_start + length)
    finally:
        if stats is not None:
            stats["peak_buffer_bytes"] = rb.peak


def parse_warc_records(
    data: bytes, *, strict: bool = True, stats: dict | None = None
) -> Iterator[dict]:
    """Yield one dict per WARC record from raw segment bytes (gzipped,
    zstd, or plain — sniffed from the magic).  Thin composition of the
    streaming inflater and the streaming record parser; peak memory is
    ``O(chunk + largest record)`` past the compressed input for gzip.

    ``.warc.zst`` (the IIPC warc-zstd variant) decodes through
    pyarrow's bundled zstd, INCLUDING the variant's shared-dictionary
    form: a leading ``0x184D2A5D`` skippable frame carries the zstd
    dictionary (itself possibly zstd-compressed, per the spec), which
    seeds every following frame through libzstd.  Frames decompress
    whole before parsing (record iteration stays streaming past
    that)."""
    if data[:2] == b"\x1f\x8b":
        chunks: Iterable[bytes] = _iter_inflated_chunks(data, strict=strict)
    elif data[:4] == b"\x28\xb5\x2f\xfd" or data[:4] == b"\x5d\x2a\x4d\x18":
        try:
            dictionary = None
            if data[:4] == b"\x5d\x2a\x4d\x18":
                import struct as _struct

                if len(data) < 8:
                    raise CodecError("truncated dictionary frame")
                (dsz,) = _struct.unpack_from("<I", data, 4)
                if 8 + dsz > len(data):
                    raise CodecError("dictionary frame larger than segment")
                dictionary = data[8 : 8 + dsz]
                if dictionary[:4] == b"\x28\xb5\x2f\xfd":
                    # spec: the dictionary may itself be zstd-compressed
                    dictionary = decompress(dictionary, "zstd")
            chunks = (decompress(data, "zstd", dictionary=dictionary),)
        except CodecError as exc:
            if strict:
                raise WarcFormatError(f"corrupt zstd segment: {exc}") from exc
            chunks = (b"",)
    else:
        chunks = (data,)
    yield from iter_warc_records(chunks, strict=strict, stats=stats)


def read_warc(
    spark: SparkSession,
    path: str,
    *,
    record_types: list[str] | None = None,
    max_payload_bytes: int | None = None,
    strict: bool = True,
    batch_rows: int = 1024,
    batch_bytes: int = 64 << 20,
) -> DataFrame:
    """WARC directory/glob → one row per record (``WARC_SCHEMA``).

    * ``record_types`` — keep only these WARC-Type values (typical:
      ``["response"]`` — Common Crawl segments are mostly request/
      response/metadata triples and only responses carry page bodies).
      Filtering INSIDE the parser task avoids materializing unwanted
      payload bytes into Arrow batches at all.
    * ``max_payload_bytes`` — truncate oversized payloads (a single
      outlier page must not blow the Arrow batch budget).
    * ``strict=False`` — per-file quarantine semantics: a malformed,
      truncated, or gzip-corrupt segment yields its valid prefix instead
      of failing the task (the bad-UTF8 contract of
      ``read_documents_text``).
    * ``batch_rows`` / ``batch_bytes`` — Arrow batch bounds: a pandas
      frame is emitted when either fills, so a million-record segment
      streams out as many small frames instead of one giant one (the
      module-docstring memory contract).

    Downstream composition is ordinary DataFrame code: filter
    content_type, decode payload, ``html_to_text`` the markup, feed the
    cleaning/dedup/quality operators."""
    import pandas as pd

    keep = set(record_types) if record_types is not None else None

    def mapper(batches):
        for pdf in batches:
            for fname, content in zip(pdf["path"], pdf["content"]):
                rows: list[dict] = []
                nbytes = 0
                for rec in parse_warc_records(bytes(content), strict=strict):
                    if keep is not None and rec["warc_type"] not in keep:
                        continue
                    if (
                        max_payload_bytes is not None
                        and len(rec["payload"]) > max_payload_bytes
                    ):
                        rec["payload"] = rec["payload"][:max_payload_bytes]
                    rows.append({"warc_file": fname, **rec})
                    nbytes += len(rec["payload"])
                    if len(rows) >= batch_rows or nbytes >= batch_bytes:
                        yield pd.DataFrame(rows)
                        rows, nbytes = [], 0
                if rows:
                    yield pd.DataFrame(rows)

    files = spark.read.format("binaryFile").load(path)
    return files.select("path", "content").mapInPandas(mapper, WARC_SCHEMA)


def build_warc_record(
    warc_type: str,
    payload: bytes,
    *,
    target_uri: str | None = None,
    record_id: str = "<urn:uuid:0>",
    warc_date: str = "2024-01-01T00:00:00Z",
    content_type: str = "application/octet-stream",
) -> bytes:
    """Serialize one WARC/1.1 record (the write side of the grammar
    ``parse_warc_records`` reads).  Pure function — used by tests and by
    fixture synthesis for the driver's ``warc_record_stats`` oracle."""
    head = (
        "WARC/1.1\r\n"
        f"WARC-Type: {warc_type}\r\n"
        f"WARC-Record-ID: {record_id}\r\n"
        f"WARC-Date: {warc_date}\r\n"
        + (f"WARC-Target-URI: {target_uri}\r\n" if target_uri else "")
        + f"Content-Type: {content_type}\r\n"
        f"Content-Length: {len(payload)}\r\n"
        "\r\n"
    ).encode()
    return head + payload + b"\r\n\r\n"


# ---------------------------------------------------------------------------
# HTTP response decoding — the glue between a WARC response record's
# payload (an HTTP/1.x message) and the text pipeline.  Transfer
# decoding (chunked) and content decoding (gzip/deflate/br/zstd — the
# real Common Crawl distribution) both handled; br and zstd route
# through pyarrow's bundled codecs (sources/compression.py).
# ---------------------------------------------------------------------------


class HttpFormatError(ValueError):
    """Malformed HTTP message inside a WARC payload."""


def _dechunk(body: bytes) -> bytes:
    """Decode a chunked transfer-encoded body (RFC 9112 §7.1)."""
    out = bytearray()
    pos = 0
    while True:
        nl = body.find(b"\r\n", pos)
        if nl < 0:
            raise HttpFormatError("truncated chunk-size line")
        size_tok = body[pos:nl].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError as exc:
            raise HttpFormatError(f"bad chunk size {size_tok!r}") from exc
        pos = nl + 2
        if size == 0:
            return bytes(out)  # trailers (if any) are ignored
        if pos + size > len(body):
            raise HttpFormatError("truncated chunk body")
        out += body[pos : pos + size]
        pos += size
        if body[pos : pos + 2] != b"\r\n":
            raise HttpFormatError("missing chunk terminator")
        pos += 2


def parse_http_response(payload: bytes, *, strict: bool = True) -> dict:
    """Parse one HTTP/1.x response message: status line, headers,
    transfer-decoded and content-decoded body.

    Returns ``{"status", "content_type", "content_encoding", "body"}``.
    ``content_encoding`` is the (lowercased) encoding that was APPLIED
    (the body really was decoded), ``"identity"`` if none.  In lenient
    mode an unknown or broken encoding yields the RAW body with
    ``content_encoding`` set to ``"failed:<declared>"`` — consumers can
    quarantine those rows instead of mistaking still-compressed bytes
    for decoded text (ADVICE r11) — so a 100 TB crawl pass degrades
    per-record instead of failing the task.
    """
    sep = payload.find(b"\r\n\r\n")
    if sep < 0:
        raise HttpFormatError("no header/body separator")
    head = payload[:sep].decode("latin-1")
    body = payload[sep + 4 :]
    lines = head.split("\r\n")
    parts = lines[0].split(None, 2)
    if len(parts) < 2 or not parts[0].startswith("HTTP/"):
        raise HttpFormatError(f"bad status line {lines[0]!r}")
    try:
        status = int(parts[1])
    except ValueError as exc:
        raise HttpFormatError(f"bad status code {parts[1]!r}") from exc
    headers: dict[str, str] = {}
    for line in lines[1:]:
        k, _, v = line.partition(":")
        headers[k.strip().lower()] = v.strip()
    if "chunked" in headers.get("transfer-encoding", "").lower():
        body = _dechunk(body)
    enc = headers.get("content-encoding", "").strip().lower() or "identity"
    applied = enc
    try:
        if enc in ("gzip", "x-gzip"):
            import gzip as _gz

            body = _gz.decompress(body)
        elif enc == "deflate":
            import zlib as _zl

            try:
                body = _zl.decompress(body)
            except _zl.error:  # raw-deflate servers (common misconfig)
                body = _zl.decompress(body, -15)
        elif enc in ("br", "zstd"):
            body = decompress(body, "brotli" if enc == "br" else "zstd")
        elif enc != "identity":
            raise HttpFormatError(f"unknown content-encoding {enc!r}")
    except HttpFormatError:
        if strict:
            raise
        applied = f"failed:{enc}"  # body stays RAW — quarantine marker
    except Exception as exc:
        if strict:
            raise HttpFormatError(
                f"content-encoding {enc!r} failed: {exc}"
            ) from exc
        applied = f"failed:{enc}"
    return {
        "status": status,
        "content_type": headers.get("content-type", ""),
        "content_encoding": applied,
        "body": body,
    }


HTTP_RESPONSE_SCHEMA = T.StructType(
    [
        T.StructField("warc_file", T.StringType(), False),
        T.StructField("target_uri", T.StringType(), True),
        T.StructField("status", T.IntegerType(), True),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("content_encoding", T.StringType(), True),
        T.StructField("body", T.BinaryType(), True),
    ]
)


def decode_http_responses(
    records: DataFrame, *, strict: bool = False
) -> DataFrame:
    """WARC response rows → decoded HTTP rows (``HTTP_RESPONSE_SCHEMA``).

    One Arrow-batched pass, no shuffle; rows whose payload is not a
    parseable HTTP message are dropped in lenient mode (the per-record
    quarantine contract), raised in strict."""
    import pandas as pd

    cols = records.select(
        "warc_file", "target_uri", "payload"
    )

    def mapper(batches):
        for pdf in batches:
            rows = []
            for f, uri, p in zip(
                pdf["warc_file"], pdf["target_uri"], pdf["payload"]
            ):
                try:
                    r = parse_http_response(bytes(p), strict=strict)
                except Exception:
                    if strict:
                        raise
                    continue
                rows.append(
                    {
                        "warc_file": f,
                        "target_uri": uri,
                        "status": r["status"],
                        "content_type": r["content_type"],
                        "content_encoding": r["content_encoding"],
                        "body": r["body"],
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return cols.mapInPandas(mapper, HTTP_RESPONSE_SCHEMA)


# ---------------------------------------------------------------------------
# Oracle-checked HTTP decode rollup (the lz4/zstd-shard discipline):
# synthesize WARC-wrapped HTTP responses from the documents table,
# decode them back through the FULL stack (WARC grammar → HTTP headers
# → chunked transfer → content encoding), fold per-encoding counters.
# ---------------------------------------------------------------------------

_HTTP_ENCODINGS = ("identity", "gzip", "br", "zstd")

_HTTP_CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("encoding", T.StringType(), False),
        T.StructField("record", T.BinaryType(), False),
    ]
)


def _encode_http_body(raw: bytes, enc: str) -> bytes:
    if enc == "gzip":
        import gzip as _gz

        return _gz.compress(raw, compresslevel=6)
    if enc == "br":
        return pa.Codec("brotli", compression_level=5).compress(
            raw, asbytes=True
        )
    if enc == "zstd":
        return pa.Codec("zstd", compression_level=3).compress(
            raw, asbytes=True
        )
    return raw


def synth_warc_http_corpus(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic per-document WARC response record whose payload is
    an HTTP/1.1 message: content-encoding rotates identity/gzip/br/zstd
    by doc_id mod 4, and even doc_ids additionally use chunked transfer
    encoding (split at byte 7).  Worker-side synthesis."""
    src = docs.select(id_col, text_col).where(
        F.col(text_col).isNotNull()
    )
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            encs, recs = [], []
            for i, t in zip(ids, pdf[text_col]):
                enc = _HTTP_ENCODINGS[int(i) % 4]
                body = _encode_http_body(str(t).encode("utf-8"), enc)
                head = f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                if enc != "identity":
                    head += f"Content-Encoding: {enc}\r\n"
                if int(i) % 2 == 0:
                    head += "Transfer-Encoding: chunked\r\n\r\n"
                    cut = min(7, len(body))
                    a, b = body[:cut], body[cut:]
                    wire = b"".join(
                        b"%x\r\n%s\r\n" % (len(c), c) for c in (a, b) if c
                    ) + b"0\r\n\r\n"
                else:
                    head += f"Content-Length: {len(body)}\r\n\r\n"
                    wire = body
                payload = head.encode() + wire
                recs.append(
                    build_warc_record(
                        "response", payload,
                        target_uri=f"http://ex.test/{int(i)}",
                        content_type="application/http; msgtype=response",
                    )
                )
                encs.append(enc)
            yield pd.DataFrame(
                {"doc_id": ids.to_numpy(), "encoding": encs,
                 "record": recs}
            )

    # fan out before the per-record HTTP-message + WARC-record build
    # (guide §2.5): encoding partials are summed downstream, so the
    # round-robin exchange is invisible to the result.
    from inception_spark.sources import fanout

    return fanout(src).mapInPandas(gen, _HTTP_CORPUS_SCHEMA)


_HTTP_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("content_encoding", T.StringType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("body_bytes", T.LongType(), False),
        T.StructField("n_t", T.LongType(), False),
    ]
)


def warc_http_partials(corpus: DataFrame) -> DataFrame:
    """Per-encoding counters from REAL full-stack decodes of one batch:
    each record runs the WARC grammar, HTTP header parse, chunked
    de-transfer, and content decode; ``n_t`` counts 't' in the DECODED
    body, so every stage is load-bearing."""
    import pandas as pd

    def fold(batches):
        for pdf in batches:
            acc: dict[str, list[int]] = {}
            for rec in pdf["record"]:
                rows = list(parse_warc_records(bytes(rec)))
                assert len(rows) == 1
                r = parse_http_response(bytes(rows[0]["payload"]))
                a = acc.setdefault(r["content_encoding"], [0, 0, 0])
                a[0] += 1
                a[1] += len(r["body"])
                a[2] += r["body"].count(b"t")
            if acc:
                yield pd.DataFrame(
                    [
                        {"content_encoding": e, "n_docs": a[0],
                         "body_bytes": a[1], "n_t": a[2]}
                        for e, a in acc.items()
                    ]
                )

    return corpus.mapInPandas(fold, _HTTP_PARTIAL_SCHEMA)


def warc_http_from_partials(parts: DataFrame) -> DataFrame:
    return (
        parts.groupBy("content_encoding")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("body_bytes").cast("long").alias("body_bytes"),
            F.sum("n_t").cast("long").alias("n_t"),
        )
        .orderBy("content_encoding")
    )


def warc_http_stats(docs: DataFrame) -> DataFrame:
    """REAL crawl-payload decode, driver-visibly oracle-checked: the
    oracle reads the same per-encoding stats straight off
    documents.text — a defect anywhere in the WARC/HTTP/transfer/
    content-decode stack hash-mismatches or fails outright."""
    return warc_http_from_partials(
        warc_http_partials(synth_warc_http_corpus(docs))
    )
