"""Avro Object Container File ingest — spec-transcribed.

Avro ``.avro`` files are THE row-major interchange format of Hadoop-era
training-data drops (event logs, Common Crawl derivatives, Kafka dumps).
This Spark build ships the avro *core* jars but not the ``spark-avro``
DataSource module, so ``spark.read.format("avro")`` is unavailable;
this fills that gap with a pure-Python reader/writer for the
Object Container File layout (Avro 1.12 spec, "Object Container Files"
chapter; public documentation, no code consulted).

Format recap (all public spec):

* header = magic ``Obj\\x01`` + metadata map + 16-byte sync marker.
  The map is avro-encoded: blocks of (zigzag-varint count, then count
  string→bytes pairs), ``count 0`` terminates; a negative count means
  ``|count|`` items preceded by a byte size (skippable fast-path).
  Required key ``avro.schema`` (JSON), optional ``avro.codec``.
* each data block = (zigzag count of records, zigzag byte size,
  payload, sync marker).  Payload codecs: ``null``, ``deflate``
  (RAW deflate, no zlib wrapper — RFC 1951), ``snappy`` (snappy bytes
  + 4-byte BIG-endian CRC32 of the UNCOMPRESSED payload).
* record encoding = fields in schema order; long/int are zigzag
  varints, string/bytes are length-prefixed, double is 8-byte LE
  IEEE-754, boolean one byte, null empty.

Spark shape (the bz2shard discipline): corpora synthesize WORKER-side
(one ``applyInPandas`` per shard key), decode walks blocks inside one
Arrow batch pass and folds mergeable per-shard counters, and the only
shuffle is the shard groupBy.  At 100 TB: one container per task,
per-task memory = one block's decompressed payload (blocks decode one
at a time) — size blocks like parquet row groups.  The deflate path
uses stdlib zlib and snappy uses pyarrow's bundled codec, both in C.
"""

from __future__ import annotations

import json
import struct
import zlib
from typing import Iterator

import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from inception_spark.sources.compression import CodecError, decompress

MAGIC = b"Obj\x01"
_SYNC = bytes(range(16))  # deterministic sync marker for synthesis


class AvroFormatError(ValueError):
    """Typed error for corrupt/truncated container bytes."""


# ---------------------------------------------------------------------------
# zigzag varints + primitive codecs (Avro binary encoding, spec §Binary)
# ---------------------------------------------------------------------------


def _emit_long(out: bytearray, n: int) -> None:
    z = (n << 1) ^ (n >> 63)
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _read_long(data: bytes, pos: int) -> tuple[int, int]:
    shift, acc = 0, 0
    while True:
        if pos >= len(data):
            raise AvroFormatError("truncated varint")
        b = data[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 70:
            raise AvroFormatError("varint too long")
    return (acc >> 1) ^ -(acc & 1), pos


def _read_bytes(data: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = _read_long(data, pos)
    if n < 0 or pos + n > len(data):
        raise AvroFormatError("truncated bytes/string")
    return data[pos : pos + n], pos + n


# ---------------------------------------------------------------------------
# writer (synthesis side)
# ---------------------------------------------------------------------------


def _encode_codec(payload: bytes, codec: str) -> bytes:
    if codec == "null":
        return payload
    if codec == "deflate":
        # raw deflate: no zlib header/adler (spec mandates RFC 1951)
        c = zlib.compressobj(6, zlib.DEFLATED, -15)
        return c.compress(payload) + c.flush()
    if codec == "snappy":
        crc = struct.pack(">I", zlib.crc32(payload) & 0xFFFFFFFF)
        return pa.Codec("snappy").compress(payload, asbytes=True) + crc
    raise ValueError(f"unknown avro codec {codec!r}")


def _decode_codec(payload: bytes, codec: str) -> bytes:
    if codec == "null":
        return payload
    if codec == "deflate":
        try:
            return zlib.decompress(payload, -15)
        except zlib.error as exc:
            raise AvroFormatError(f"bad deflate block: {exc}") from exc
    if codec == "snappy":
        if len(payload) < 4:
            raise AvroFormatError("snappy block too short for CRC")
        try:
            raw = decompress(payload[:-4], "snappy")
        except CodecError as exc:
            raise AvroFormatError(f"bad snappy block: {exc}") from exc
        (want,) = struct.unpack(">I", payload[-4:])
        if zlib.crc32(raw) & 0xFFFFFFFF != want:
            raise AvroFormatError("snappy block CRC mismatch")
        return raw
    raise AvroFormatError(f"unknown avro codec {codec!r}")


def encode_avro_container(
    records: list[dict],
    schema: dict,
    *,
    codec: str = "deflate",
    records_per_block: int = 64,
) -> bytes:
    """Serialize ``records`` (dicts keyed by field name) under a record
    ``schema`` (parsed JSON dict with ``fields``) into one container
    blob.  Supports the primitive field types the reader supports."""
    meta = bytearray()
    pairs = [
        (b"avro.schema", json.dumps(schema).encode()),
        (b"avro.codec", codec.encode()),
    ]
    _emit_long(meta, len(pairs))
    for k, v in pairs:
        _emit_long(meta, len(k))
        meta += k
        _emit_long(meta, len(v))
        meta += v
    _emit_long(meta, 0)

    out = bytearray(MAGIC)
    out += meta
    out += _SYNC
    fields = schema["fields"]
    for start in range(0, len(records), records_per_block):
        chunk = records[start : start + records_per_block]
        body = bytearray()
        for rec in chunk:
            for f in fields:
                _encode_field(body, rec[f["name"]], f["type"])
        payload = _encode_codec(bytes(body), codec)
        _emit_long(out, len(chunk))
        _emit_long(out, len(payload))
        out += payload
        out += _SYNC
    return bytes(out)


def _encode_field(out: bytearray, value, ftype: str) -> None:
    if ftype in ("long", "int"):
        _emit_long(out, int(value))
    elif ftype == "string":
        raw = str(value).encode("utf-8")
        _emit_long(out, len(raw))
        out += raw
    elif ftype == "bytes":
        _emit_long(out, len(value))
        out += bytes(value)
    elif ftype == "boolean":
        out.append(1 if value else 0)
    elif ftype == "double":
        out += struct.pack("<d", float(value))
    elif ftype == "null":
        pass
    else:
        raise ValueError(f"unsupported field type {ftype!r}")


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------


def _read_meta_map(data: bytes, pos: int) -> tuple[dict[str, bytes], int]:
    meta: dict[str, bytes] = {}
    while True:
        count, pos = _read_long(data, pos)
        if count == 0:
            return meta, pos
        if count < 0:
            # negative count: a byte-size prefix precedes the items
            _, pos = _read_long(data, pos)
            count = -count
        for _ in range(count):
            k, pos = _read_bytes(data, pos)
            v, pos = _read_bytes(data, pos)
            meta[k.decode("utf-8")] = v


def _decode_field(data: bytes, pos: int, ftype: str) -> tuple[object, int]:
    if ftype in ("long", "int"):
        return _read_long(data, pos)
    if ftype in ("string", "bytes"):
        raw, pos = _read_bytes(data, pos)
        if ftype == "bytes":
            return raw, pos
        try:
            return raw.decode("utf-8"), pos
        except UnicodeDecodeError as exc:
            # the null codec has no block checksum, so corruption can
            # reach the field decode — keep the typed-error contract
            raise AvroFormatError(f"invalid UTF-8 in string: {exc}") from exc
    if ftype == "boolean":
        if pos >= len(data):
            raise AvroFormatError("truncated boolean")
        return data[pos] == 1, pos + 1
    if ftype == "double":
        if pos + 8 > len(data):
            raise AvroFormatError("truncated double")
        return struct.unpack_from("<d", data, pos)[0], pos + 8
    if ftype == "null":
        return None, pos
    raise AvroFormatError(f"unsupported field type {ftype!r}")


def iter_avro_records(blob: bytes) -> Iterator[dict]:
    """Walk a container blob record by record: header parse, per-block
    codec decode, sync-marker verify after EVERY block (the spec's
    corruption fence), binary-decode each record against the embedded
    schema.  Raises :class:`AvroFormatError` on any structural defect
    — truncation, sync mismatch, bad codec payload, record bytes left
    over after the declared count."""
    if blob[:4] != MAGIC:
        raise AvroFormatError("bad magic (not an Avro container)")
    meta, pos = _read_meta_map(blob, 4)
    try:
        schema = json.loads(meta["avro.schema"])
    except (KeyError, ValueError) as exc:
        raise AvroFormatError(f"bad avro.schema metadata: {exc}") from exc
    if schema.get("type") != "record":
        raise AvroFormatError("only record schemas supported")
    fields = schema.get("fields")
    if not isinstance(fields, list) or not all(
        isinstance(f, dict) and isinstance(f.get("name"), str)
        and isinstance(f.get("type"), str)
        for f in fields
    ):
        raise AvroFormatError("malformed record schema field list")
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if pos + 16 > len(blob):
        raise AvroFormatError("truncated header sync marker")
    sync = blob[pos : pos + 16]
    pos += 16
    while pos < len(blob):
        count, pos = _read_long(blob, pos)
        size, pos = _read_long(blob, pos)
        if count < 0 or size < 0 or pos + size + 16 > len(blob):
            raise AvroFormatError("truncated data block")
        body = _decode_codec(blob[pos : pos + size], codec)
        pos += size
        if blob[pos : pos + 16] != sync:
            raise AvroFormatError("sync marker mismatch")
        pos += 16
        bpos = 0
        for _ in range(count):
            rec = {}
            for f in fields:
                rec[f["name"]], bpos = _decode_field(body, bpos, f["type"])
            yield rec
        if bpos != len(body):
            raise AvroFormatError(
                f"block decoded {bpos} of {len(body)} bytes "
                f"for {count} records"
            )


# ---------------------------------------------------------------------------
# Spark operators (the bz2shard partial/finalize discipline)
# ---------------------------------------------------------------------------

_DOC_SCHEMA = {
    "type": "record",
    "name": "doc",
    "fields": [
        {"name": "doc_id", "type": "long"},
        {"name": "text", "type": "string"},
    ],
}

_CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.LongType(), False),
        T.StructField("n_records", T.LongType(), False),
        T.StructField("blob", T.BinaryType(), False),
    ]
)


def synth_avro_corpus(
    docs: DataFrame,
    *,
    codec: str = "deflate",
    n_shards: int = 4,
    n_subshards: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-shard Avro container over (doc_id long, text string) records
    in doc_id order (shard = doc_id mod n_shards), worker-side.

    Each logical shard is built as ``n_subshards`` independent
    sub-containers (multiple rows sharing a ``shard`` key — the
    synth_mbox_corpus discipline): the per-record encode + block
    framing runs at shard x sub parallelism instead of ``n_shards``
    tasks, and the stats fold per shard so sub-container boundaries
    are invisible to the result.  The group exchange is pinned with an
    EXPLICIT-count repartition on the group keys so AQE's coalescing
    cannot fuse the build back to a handful of tasks (guide §2.5)."""
    if n_subshards is None:
        par = docs.sparkSession.sparkContext.defaultParallelism
        n_subshards = max(1, (int(par) + n_shards - 1) // n_shards)
    src = (
        docs.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        )
        .where(F.col("text").isNotNull())
        .withColumn(
            "shard", (F.col("doc_id") % F.lit(int(n_shards))).cast("long")
        )
        .withColumn(
            "subshard",
            F.expr(
                f"CAST((doc_id DIV {int(n_shards)}) "
                f"% {int(n_subshards)} AS BIGINT)"
            ),
        )
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        recs = [
            {"doc_id": int(i), "text": str(t)}
            for i, t in zip(pdf["doc_id"], pdf["text"])
        ]
        blob = encode_avro_container(recs, _DOC_SCHEMA, codec=codec)
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "n_records": [len(recs)],
                "blob": [blob],
            }
        )

    n_groups = int(n_shards) * int(n_subshards)
    return (
        src.repartition(n_groups, "shard", "subshard")
        .groupBy("shard", "subshard")
        .applyInPandas(build, _CORPUS_SCHEMA)
    )


_STATS_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.LongType(), False),
        T.StructField("n_records", T.LongType(), False),
        T.StructField("sum_doc_id", T.LongType(), False),
        T.StructField("decoded_bytes", T.LongType(), False),
        T.StructField("n_a", T.LongType(), False),
    ]
)


def avro_partials(corpus: DataFrame) -> DataFrame:
    """Walk every container's records and fold per-shard counters.
    ``sum_doc_id`` proves the varint/zigzag field decode; ``n_a``
    (letter 'a' count over decoded text bytes) proves the payload
    codec + string decode — neither is producible from the blob
    without a correct walk.  Mergeable sums."""

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for sh, nr, blob in zip(
                pdf["shard"], pdf["n_records"], pdf["blob"]
            ):
                n, sid, nbytes, n_a = 0, 0, 0, 0
                for rec in iter_avro_records(bytes(blob)):
                    n += 1
                    sid += rec["doc_id"]
                    raw = rec["text"].encode("utf-8")
                    nbytes += len(raw)
                    n_a += raw.count(b"a")
                if n != int(nr):
                    raise AvroFormatError(
                        f"shard {sh}: walked {n} records, wrote {nr}"
                    )
                rows.append(
                    {
                        "shard": int(sh),
                        "n_records": n,
                        "sum_doc_id": sid,
                        "decoded_bytes": nbytes,
                        "n_a": n_a,
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return corpus.mapInPandas(walk, _STATS_SCHEMA)


def avro_from_partials(parts: DataFrame) -> DataFrame:
    return (
        parts.groupBy("shard")
        .agg(
            F.sum("n_records").cast("long").alias("n_records"),
            F.sum("sum_doc_id").cast("long").alias("sum_doc_id"),
            F.sum("decoded_bytes").cast("long").alias("decoded_bytes"),
            F.sum("n_a").cast("long").alias("n_a"),
        )
        .orderBy("shard")
    )


def avro_ingest_stats(
    docs: DataFrame, *, codec: str = "deflate"
) -> DataFrame:
    """REAL Avro container decode, oracle-checked: write every document
    as a (doc_id, text) record in per-shard containers, walk them back
    through the spec-transcribed reader and aggregate (shard,
    n_records, sum_doc_id, decoded_bytes, n_a).  The oracle reads the
    same stats straight off ``documents`` — a header, varint, block,
    codec, or sync defect hash-mismatches."""
    return avro_from_partials(
        avro_partials(synth_avro_corpus(docs, codec=codec))
    )


def avro_stats_sql(*, n_shards: int = 4) -> str:
    """DuckDB twin — strlen is BYTES (= decoded UTF-8 length), and
    0x61 'a' never occurs inside a UTF-8 continuation byte."""
    return f"""
SELECT CAST(doc_id % {int(n_shards)} AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_records,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(SUM(strlen(text)) AS BIGINT) AS decoded_bytes,
       CAST(SUM(strlen(text) - strlen(replace(text, 'a', '')))
            AS BIGINT) AS n_a
FROM documents
WHERE text IS NOT NULL
GROUP BY 1
ORDER BY 1
"""
