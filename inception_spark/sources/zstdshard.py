"""Zstd-framed payload ingestion — the data-lake default codec, decoded
worker-side through pyarrow's bundled zstd
(:func:`inception_spark.sources.compression.decompress`).

The corpus synthesis compresses with pyarrow's zstd at real levels
(1 and 19), so the payloads exercise the full entropy path — Huffman
literals, FSE sequence tables, repeat offsets.  The shared-dictionary
variant trains and compresses through libzstd (ctypes), since pyarrow
has no dictionary API.

Spark shape (the lz4shard discipline): corpus synthesized worker-side
from the documents table, decode + per-row reduction fused in one
Arrow batch pass, final tiny groupBy on the shard key.  At 100 TB the
decode is embarrassingly parallel per row and the 128 KiB block
ceiling bounds per-member transient memory.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

import pyarrow as pa

from inception_spark.sources import fanout
from inception_spark.sources.compression import _libzstd, decompress

_CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("shard", T.LongType(), False),
        T.StructField("hi_level", T.BooleanType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)

def _compress(text: bytes, level: int) -> bytes:
    return pa.Codec("zstd", compression_level=level).compress(
        text, asbytes=True
    )


def synth_zstd_corpus(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic per-document zstd frame of the UTF-8 text: level
    19 on doc_id % 3 == 0 (denser entropy tables), level 1 otherwise;
    shard = doc_id mod 5.  Worker-side synthesis."""
    src = docs.select(id_col, text_col).where(F.col(text_col).isNotNull())

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            his, payloads = [], []
            for i, t in zip(ids, pdf[text_col]):
                hi = int(i) % 3 == 0
                payloads.append(
                    _compress(str(t).encode("utf-8"), 19 if hi else 1)
                )
                his.append(hi)
            yield pd.DataFrame(
                {
                    "doc_id": ids.to_numpy(),
                    "shard": (ids % 5).to_numpy(),
                    "hi_level": his,
                    "payload": payloads,
                }
            )

    # fan the (doc_id, text) projection out BEFORE the per-record
    # compression pass: a single-file documents scan otherwise runs it
    # at effective parallelism 1 (guide §2.5, the r12 MIME-cliff shape).
    return fanout(src).mapInPandas(gen, _CORPUS_SCHEMA)


_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.LongType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("decoded_bytes", T.LongType(), False),
        T.StructField("n_a", T.LongType(), False),
        T.StructField("n_hi_level", T.LongType(), False),
    ]
)


def _decode_reduce(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Decode one Arrow batch of zstd frames and fold to per-shard
    counters.  ``n_a`` counts the letter 'a' in the DECODED bytes — a
    value only a correct decode can produce."""
    for pdf in batches:
        rows: dict[int, list[int]] = {}
        for sh, hi, p in zip(pdf["shard"], pdf["hi_level"], pdf["payload"]):
            decoded = decompress(bytes(p), "zstd")
            acc = rows.setdefault(int(sh), [0, 0, 0, 0])
            acc[0] += 1
            acc[1] += len(decoded)
            acc[2] += decoded.count(b"a")
            acc[3] += int(bool(hi))
        if rows:
            yield pd.DataFrame(
                [
                    {
                        "shard": sh,
                        "n_docs": a[0],
                        "decoded_bytes": a[1],
                        "n_a": a[2],
                        "n_hi_level": a[3],
                    }
                    for sh, a in rows.items()
                ]
            )


def zstd_partials(corpus: DataFrame) -> DataFrame:
    """Mergeable per-shard counters from REAL frame decodes of one
    batch — pure sums, any micro-batching re-merges exactly."""
    return corpus.mapInPandas(_decode_reduce, _PARTIAL_SCHEMA)


def zstd_from_partials(parts: DataFrame) -> DataFrame:
    """Re-merge (possibly duplicated per shard) partial counters."""
    return (
        parts.groupBy("shard")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("decoded_bytes").cast("long").alias("decoded_bytes"),
            F.sum("n_a").cast("long").alias("n_a"),
            F.sum("n_hi_level").cast("long").alias("n_hi_level"),
        )
        .orderBy("shard")
    )


def zstd_shard_stats(docs: DataFrame) -> DataFrame:
    """REAL zstd decode, driver-visibly oracle-checked: compress every
    document's text worker-side (levels 1/19 — the full Huffman/FSE
    path), decode it back, and aggregate per shard.
    The oracle computes the same stats directly from documents.text —
    a decoder defect hash-mismatches or fails the decode outright."""
    return zstd_from_partials(zstd_partials(synth_zstd_corpus(docs)))


# ---------------------------------------------------------------------------
# Dictionary-compressed variant: the .warc.zst shared-dictionary class,
# driver-visibly oracle-checked.
# ---------------------------------------------------------------------------


def _train_dict(samples: list[bytes], capacity: int = 8192) -> bytes:
    """Train a real zstd dictionary via ZDICT (control-plane sized:
    the sample list is a capped driver-side collect, the repo's
    kmeans-centroid discipline)."""
    import ctypes

    z = _libzstd()
    if z is None:
        return b""  # dict-less fallback downstream
    z.ZDICT_trainFromBuffer.restype = ctypes.c_size_t
    z.ZDICT_isError.restype = ctypes.c_uint
    flat = b"".join(samples)
    sizes = (ctypes.c_size_t * len(samples))(*[len(s) for s in samples])
    buf = ctypes.create_string_buffer(capacity)
    n = z.ZDICT_trainFromBuffer(buf, capacity, flat, sizes, len(samples))
    if z.ZDICT_isError(n):
        return b""  # tiny corpora can refuse to train
    return buf.raw[:n]


def _compress_with_dict(raw: bytes, d: bytes, level: int) -> bytes:
    import ctypes

    z = _libzstd()
    if z is None or not d:
        return _compress(raw, level)
    if not hasattr(z, "_dict_sig"):
        z.ZSTD_createCCtx.restype = ctypes.c_void_p
        z.ZSTD_freeCCtx.argtypes = [ctypes.c_void_p]
        z.ZSTD_compress_usingDict.restype = ctypes.c_size_t
        z.ZSTD_compress_usingDict.argtypes = [
            ctypes.c_void_p, ctypes.c_char_p, ctypes.c_size_t,
            ctypes.c_char_p, ctypes.c_size_t, ctypes.c_char_p,
            ctypes.c_size_t, ctypes.c_int,
        ]
        z._dict_sig = True
    c = z.ZSTD_createCCtx()
    try:
        cap = z.ZSTD_compressBound(len(raw))
        dst = ctypes.create_string_buffer(cap)
        n = z.ZSTD_compress_usingDict(
            c, dst, cap, raw, len(raw), d, len(d), level
        )
        if z.ZSTD_isError(n):
            raise RuntimeError("dictionary compression failed")
        return dst.raw[:n]
    finally:
        z.ZSTD_freeCCtx(c)


def zstd_dict_stats(docs: DataFrame, *, n_train: int = 200) -> DataFrame:
    """The shared-dictionary decode path proven driver-visibly: a REAL
    ZDICT dictionary is trained on the first ``n_train`` docs (by
    doc_id — a deterministic, control-plane-sized collect), broadcast
    as plan state, and every document's text is dict-compressed
    worker-side with libzstd, then decoded back through libzstd's
    dictionary decoder (dict entropy seeding + dict-window matches).
    Stats mirror zstd_shard_stats so the oracle is the same closed
    form — a dictionary-path defect hash-mismatches or fails outright."""
    from typing import Iterator as _It

    sample = [
        str(r["text"]).encode("utf-8")
        for r in docs.select("doc_id", "text")
        .where(F.col("text").isNotNull())
        .orderBy("doc_id")
        .limit(n_train)
        .collect()
    ]
    d = _train_dict(sample)
    src = docs.select("doc_id", "text").where(F.col("text").isNotNull())

    def fold(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            rows: dict[int, list[int]] = {}
            for i, t in zip(pdf["doc_id"].astype("int64"), pdf["text"]):
                raw = str(t).encode("utf-8")
                frame = _compress_with_dict(raw, d, 3)
                decoded = decompress(frame, "zstd", dictionary=d or None)
                assert decoded == raw
                acc = rows.setdefault(int(i) % 5, [0, 0, 0, 0])
                acc[0] += 1
                acc[1] += len(decoded)
                acc[2] += decoded.count(b"a")
                acc[3] += int(int(i) % 3 == 0)
            if rows:
                yield pd.DataFrame(
                    [
                        {
                            "shard": sh,
                            "n_docs": a[0],
                            "decoded_bytes": a[1],
                            "n_a": a[2],
                            "n_hi_level": a[3],
                        }
                        for sh, a in rows.items()
                    ]
                )

    return (
        fanout(src).mapInPandas(fold, _PARTIAL_SCHEMA)
        .groupBy("shard")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("decoded_bytes").cast("long").alias("decoded_bytes"),
            F.sum("n_a").cast("long").alias("n_a"),
            F.sum("n_hi_level").cast("long").alias("n_hi_level"),
        )
        .orderBy("shard")
    )
