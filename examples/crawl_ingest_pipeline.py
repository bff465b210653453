"""Crawl-ingest example: WARC segments → HTTP decode → text → quality
gate → exact dedup — the front door of a 100 TB web-scale pipeline,
exercising every layer added for it:

1. synthesize a crawl: each document's text becomes an HTTP/1.1
   response (content-encodings rotating identity/gzip/br/zstd, chunked
   transfer on half) wrapped in a WARC response record; segments are
   written both gzipped (the Common Crawl classic) and zstd with a
   SHARED DICTIONARY in the leading skippable frame (the IIPC
   warc-zstd variant) — zstd decodes through pyarrow's bundled codec,
   the dictionary form through libzstd;
2. ``read_warc``: one task per segment, records stream out in bounded
   Arrow batches, no scan shuffle;
3. ``decode_http_responses``: status/headers, chunked de-transfer,
   content decode (gzip/deflate/br/zstd), lenient per-record
   quarantine;
4. ``doc_quality_signals`` + a length gate: the C4-style cheap filter
   before anything expensive;
5. ``exact_dup_groups``: md5 exact dedup as the cheapest near-dup
   stage.

Run:  python examples/crawl_ingest_pipeline.py
"""

import gzip
import os
import struct
import sys
import tempfile

import pyarrow as pa

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F

from inception_spark.session import build_session
from inception_spark.sources.warc import (
    build_warc_record,
    decode_http_responses,
    read_warc,
)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def _http_message(text: bytes, enc: str, chunked: bool) -> bytes:
    if enc == "gzip":
        body = gzip.compress(text)
    elif enc == "br":
        body = pa.Codec("brotli", compression_level=5).compress(
            text, asbytes=True
        )
    elif enc == "zstd":
        body = pa.Codec("zstd", compression_level=3).compress(
            text, asbytes=True
        )
    else:
        body = text
    head = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
    if enc != "identity":
        head += f"Content-Encoding: {enc}\r\n"
    if chunked:
        head += "Transfer-Encoding: chunked\r\n\r\n"
        cut = min(9, len(body))
        wire = b"".join(
            b"%x\r\n%s\r\n" % (len(c), c)
            for c in (body[:cut], body[cut:])
            if c
        ) + b"0\r\n\r\n"
    else:
        head += f"Content-Length: {len(body)}\r\n\r\n"
        wire = body
    return head.encode() + wire


def _write_segments(rows: list[tuple[int, str]], out_dir: str) -> None:
    """Half the corpus into a .warc.gz, half into a shared-dictionary
    .warc.zst (dictionary trained on the records themselves, through
    the package's own ZDICT helpers — no local ctypes plumbing)."""
    from inception_spark.sources.zstdshard import (
        _compress,
        _compress_with_dict,
        _train_dict,
    )

    encs = ("identity", "gzip", "br", "zstd")
    recs = []
    for i, text in rows:
        payload = _http_message(
            f"<html><body>{text}</body></html>".encode(),
            encs[i % 4],
            chunked=(i % 2 == 0),
        )
        recs.append(
            build_warc_record(
                "response", payload, target_uri=f"http://doc.test/{i}",
                content_type="application/http; msgtype=response",
            )
        )
    half = len(recs) // 2
    with open(os.path.join(out_dir, "seg-0.warc.gz"), "wb") as fh:
        for r in recs[:half]:
            fh.write(gzip.compress(r))  # member-per-record convention

    tail = recs[half:]
    draw = _train_dict(tail)
    with open(os.path.join(out_dir, "seg-1.warc.zst"), "wb") as fh:
        if not draw:  # tiny corpora can refuse to train: dict-less
            for r in tail:
                fh.write(_compress(r, 3))
        else:
            fh.write(struct.pack("<II", 0x184D2A5D, len(draw)) + draw)
            for r in tail:
                fh.write(_compress_with_dict(r, draw, 9))


def main() -> None:
    spark = build_session("crawl_ingest_pipeline", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
        .limit(120)
    )
    rows = [(int(r.doc_id), r.text) for r in docs.collect()]
    out_dir = tempfile.mkdtemp(prefix="crawl_ingest_")
    try:
        _write_segments(rows, out_dir)

        records = read_warc(
            spark, out_dir + "/*.warc*", record_types=["response"]
        )
        pages = decode_http_responses(records)
        texts = pages.select(
            "target_uri",
            "content_encoding",
            F.decode("body", "utf-8").alias("html"),
        ).withColumn(
            "text",
            F.regexp_replace("html", "<[^>]+>", ""),
        )

        n_in = texts.count()
        by_enc = {
            r.content_encoding: r["count"]
            for r in texts.groupBy("content_encoding").count().collect()
        }
        print(f"decoded {n_in} pages; by encoding: {by_enc}")
        assert n_in == len(rows), (n_in, len(rows))
        assert set(by_enc) == {"identity", "gzip", "br", "zstd"}

        # cheap quality gate, then exact dedup on the cleaned text
        gated = texts.where(F.length("text") >= 20)
        groups = (
            gated.groupBy(F.md5(F.col("text")).alias("h"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("target_uri").alias("keeper"),
            )
        )
        n_groups = groups.count()
        n_dups = groups.where(F.col("n") > 1).count()
        print(
            f"quality-gated {gated.count()} pages → {n_groups} unique "
            f"texts ({n_dups} duplicated)"
        )
        roundtrip = {u: t for u, t in gated.select(
            "target_uri", "text").collect()}
        for i, text in rows[:10]:
            assert roundtrip.get(f"http://doc.test/{i}") == text, i
        print("crawl_ingest_pipeline OK")
    finally:
        import shutil

        shutil.rmtree(out_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
