"""LZ4-framed payload ingestion — compressed binary columns decoded
worker-side through pyarrow's bundled LZ4 frame codec
(:func:`inception_spark.sources.compression.decompress`).

Web-scale corpora arrive lz4-framed (tar.lz4 shards, WARC sidecars,
object-store blobs); pyarrow is a hard dependency, so every worker
image already carries the C codec and no ``lz4`` binding is needed.

Spark shape (the synth_bmp_corpus / g711 discipline):

* the corpus is synthesized WORKER-side from the documents table
  (one ``mapInPandas``, no driver materialization, no shuffle);
* decode + per-row reduction happen in the same Arrow batch pass —
  the only shuffle is the final tiny groupBy on the shard key;
* the entry's stats are closed-form over the source text (count,
  decoded byte length, a content-sensitive letter count), so the
  DuckDB oracle replays them in pure SQL: a codec defect either
  trips the worker-side round-trip assert or hash-mismatches.

At 100 TB: decode is embarrassingly parallel per row; per-task memory
is one Arrow batch of compressed payloads + one decoded buffer.  The
frame format's 4 MiB block ceiling bounds the transient per-member
buffer regardless of member size.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

import pyarrow as pa

from inception_spark.sources import fanout
from inception_spark.sources.compression import decompress

_CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("shard", T.LongType(), False),
        T.StructField("block_checksummed", T.BooleanType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)


def synth_lz4_corpus(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic per-document LZ4 frame of the document's UTF-8
    text, shard = doc_id mod 4.  Worker-side synthesis.

    ``block_checksummed`` is a doc_id-parity label (True on even
    doc_ids) kept for the entry's stable output; the frames themselves
    carry no block checksums."""
    src = docs.select(id_col, text_col).where(F.col(text_col).isNotNull())

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lz4 = pa.Codec("lz4")
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads = [
                lz4.compress(str(t).encode("utf-8"), asbytes=True)
                for t in pdf[text_col]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": ids.to_numpy(),
                    "shard": (ids % 4).to_numpy(),
                    "block_checksummed": (ids % 2 == 0).to_numpy(),
                    "payload": payloads,
                }
            )

    # fan out before the per-record frame synthesis (guide §2.5):
    # the partials downstream are summed per shard, so the round-robin
    # exchange is invisible to the result.
    return fanout(src).mapInPandas(gen, _CORPUS_SCHEMA)


_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.LongType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("decoded_bytes", T.LongType(), False),
        T.StructField("n_e", T.LongType(), False),
        T.StructField("n_block_checksummed", T.LongType(), False),
    ]
)


def _decode_reduce(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Decode one Arrow batch of frames and fold to per-shard counters.
    ``n_e`` counts the letter 'e' in the DECODED bytes — a value the
    compressed payload cannot produce without a correct decode."""
    for pdf in batches:
        rows: dict[int, list[int]] = {}
        for sh, bc, p in zip(
            pdf["shard"], pdf["block_checksummed"], pdf["payload"]
        ):
            decoded = decompress(bytes(p), "lz4")
            acc = rows.setdefault(int(sh), [0, 0, 0, 0])
            acc[0] += 1
            acc[1] += len(decoded)
            acc[2] += decoded.count(b"e")
            acc[3] += int(bool(bc))
        if rows:
            yield pd.DataFrame(
                [
                    {
                        "shard": sh,
                        "n_docs": a[0],
                        "decoded_bytes": a[1],
                        "n_e": a[2],
                        "n_block_checksummed": a[3],
                    }
                    for sh, a in rows.items()
                ]
            )


def lz4_partials(corpus: DataFrame) -> DataFrame:
    """Mergeable per-shard counters from REAL frame decodes of one
    batch — pure sums, any micro-batching re-merges exactly."""
    return corpus.mapInPandas(_decode_reduce, _PARTIAL_SCHEMA)


def lz4_from_partials(parts: DataFrame) -> DataFrame:
    """Re-merge (possibly duplicated per shard) partial counters."""
    return (
        parts.groupBy("shard")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("decoded_bytes").cast("long").alias("decoded_bytes"),
            F.sum("n_e").cast("long").alias("n_e"),
            F.sum("n_block_checksummed")
            .cast("long")
            .alias("n_block_checksummed"),
        )
        .orderBy("shard")
    )


def lz4_shard_stats(docs: DataFrame) -> DataFrame:
    """REAL LZ4 frame decode, driver-visibly oracle-checked: frame
    every document's text, decode it back worker-side, and aggregate
    per shard: (shard, n_docs, decoded_bytes, n_e, n_block_checksummed).
    The oracle computes the same stats directly from ``documents.text``
    in SQL — a codec defect hash-mismatches (or fails the decode
    outright)."""
    return lz4_from_partials(lz4_partials(synth_lz4_corpus(docs)))
