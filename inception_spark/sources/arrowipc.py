"""Arrow IPC stream ingest — pyarrow-backed shard blobs.

Arrow IPC ("Feather v2" / ``.arrows`` streams) is the interchange
format of the modern data-tooling stack (HuggingFace datasets cache,
DuckDB/Polars exports, Flight payloads), and Spark has no DataSource
for it — DataFrames cross into Spark via Arrow only through the Python
UDF boundary.  That boundary is exactly where this reader lives: shard
blobs decode worker-side with ``pyarrow.ipc`` (zero-copy over the blob
buffer), and per-batch aggregation happens VECTORIZED with pyarrow
compute before anything reaches Python scalars — unlike the
per-record container walks, this path runs at native speed and is a
legitimate BULK route at scale, not just a portability one.

Spark shape: the shard-source discipline (synthesis per shard key via
applyInPandas, one mapInPandas walk, shard-key shuffle only), with the
decode loop reading one record batch at a time — per-task memory is
one batch, and the stream format's batch framing is what makes that
possible (the FILE format's footer would also allow random access;
streams cover the append/pipe cases)."""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class ArrowIpcFormatError(ValueError):
    """Typed error for corrupt/unreadable IPC bytes."""


def encode_arrow_stream(
    ids: list[int], texts: list[str], *, batch_rows: int = 64
) -> bytes:
    import pyarrow as pa
    import pyarrow.ipc as ipc

    schema = pa.schema(
        [pa.field("doc_id", pa.int64()), pa.field("text", pa.string())]
    )
    sink = pa.BufferOutputStream()
    with ipc.new_stream(sink, schema) as w:
        for start in range(0, len(ids), batch_rows):
            w.write_batch(
                pa.record_batch(
                    [
                        pa.array(ids[start : start + batch_rows],
                                 pa.int64()),
                        pa.array(texts[start : start + batch_rows],
                                 pa.string()),
                    ],
                    schema=schema,
                )
            )
    return sink.getvalue().to_pybytes()


def iter_arrow_batches(blob: bytes):
    """Yield record batches from an IPC stream blob, zero-copy.
    Typed errors for non-IPC bytes and mid-stream truncation."""
    import pyarrow as pa
    import pyarrow.ipc as ipc

    try:
        reader = ipc.open_stream(pa.py_buffer(blob))
    except (pa.ArrowException, OSError) as exc:
        raise ArrowIpcFormatError(f"not an IPC stream: {exc}") from exc
    try:
        yield from reader
    except (pa.ArrowException, OSError) as exc:
        # the whole pyarrow error taxonomy maps to the typed contract:
        # ArrowIOError (truncation) is an OSError, ArrowInvalid is
        # structural corruption, and a corrupted schema message can
        # even surface as ArrowNotImplementedError (fuzz-pinned)
        raise ArrowIpcFormatError(f"corrupt IPC stream: {exc}") from exc


_CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.LongType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("blob", T.BinaryType(), False),
    ]
)


def synth_arrow_corpus(
    docs: DataFrame,
    *,
    n_shards: int = 4,
    n_subshards: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-shard Arrow IPC stream blob (shard = doc_id mod n_shards),
    worker-side.

    Each logical shard is built as ``n_subshards`` independent
    sub-blobs (multiple rows sharing a ``shard`` key — the
    synth_mbox_corpus discipline): the per-record Python encode runs
    at shard x sub parallelism instead of ``n_shards`` tasks, and the
    stats fold per shard so sub-blob boundaries are invisible to the
    result.  The group exchange is pinned with an EXPLICIT-count
    repartition on the group keys so AQE's coalescing cannot fuse the
    build back to a handful of tasks (guide §2.5)."""
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
        blob = encode_arrow_stream(
            [int(i) for i in pdf["doc_id"]],
            [str(t) for t in pdf["text"]],
        )
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "n_rows": [len(pdf)],
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
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("sum_doc_id", T.LongType(), False),
        T.StructField("decoded_bytes", T.LongType(), False),
        T.StructField("n_a", T.LongType(), False),
    ]
)


def arrow_ipc_partials(corpus: DataFrame) -> DataFrame:
    """Walk every blob batch-by-batch and fold counters with pyarrow
    COMPUTE kernels (sum, binary length, substring count) — the batch
    loop touches Python once per batch, not per row."""

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.compute as pc

        for pdf in batches:
            rows = []
            for sh, nr, blob in zip(
                pdf["shard"], pdf["n_rows"], pdf["blob"]
            ):
                n, sid, nbytes, n_a = 0, 0, 0, 0
                for rb in iter_arrow_batches(bytes(blob)):
                    n += rb.num_rows
                    sid += pc.sum(rb.column("doc_id")).as_py() or 0
                    nbytes += (
                        pc.sum(
                            pc.binary_length(
                                pc.cast(rb.column("text"), "binary")
                            )
                        ).as_py()
                        or 0
                    )
                    n_a += (
                        pc.sum(
                            pc.count_substring(rb.column("text"), "a")
                        ).as_py()
                        or 0
                    )
                if n != int(nr):
                    raise ArrowIpcFormatError(
                        f"shard {sh}: walked {n} rows, wrote {nr}"
                    )
                rows.append(
                    {
                        "shard": int(sh),
                        "n_rows": n,
                        "sum_doc_id": sid,
                        "decoded_bytes": nbytes,
                        "n_a": n_a,
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return corpus.mapInPandas(walk, _STATS_SCHEMA)


def arrow_ipc_from_partials(parts: DataFrame) -> DataFrame:
    return (
        parts.groupBy("shard")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("sum_doc_id").cast("long").alias("sum_doc_id"),
            F.sum("decoded_bytes").cast("long").alias("decoded_bytes"),
            F.sum("n_a").cast("long").alias("n_a"),
        )
        .orderBy("shard")
    )


def arrow_ipc_stats(docs: DataFrame) -> DataFrame:
    """REAL Arrow IPC decode, oracle-checked: write every document into
    per-shard stream blobs (multiple record batches each), walk them
    back zero-copy with vectorized per-batch aggregation, and merge.
    The oracle reads the same stats straight off ``documents``."""
    return arrow_ipc_from_partials(
        arrow_ipc_partials(synth_arrow_corpus(docs))
    )


def arrow_ipc_stats_sql(*, n_shards: int = 4) -> str:
    return f"""
SELECT CAST(doc_id % {int(n_shards)} AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(SUM(strlen(text)) AS BIGINT) AS decoded_bytes,
       CAST(SUM(strlen(text) - strlen(replace(text, 'a', '')))
            AS BIGINT) AS n_a
FROM documents
WHERE text IS NOT NULL
GROUP BY 1
ORDER BY 1
"""
