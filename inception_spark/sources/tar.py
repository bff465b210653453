"""WebDataset-style tar-shard source — the de-facto sample container
for large multimodal training datasets (Aizman et al., "High Performance
I/O For Large Scale Deep Learning"; the webdataset/tarp public format:
a sample is the group of consecutive tar members sharing one basename
key, e.g. ``000123.jpg`` + ``000123.txt`` + ``000123.json``).

The reference has no archive surface (SURVEY.md §2.5); this is the
training-pipeline companion to :mod:`inception_spark.sources.warc`,
built the same Spark-first way:

* shards are independently parseable files, so the decomposition is ONE
  TASK PER SHARD via the built-in ``binaryFile`` source + an
  Arrow-batched ``mapInPandas`` — no shuffle anywhere in the scan;
* parsing uses ONLY stdlib ``tarfile`` in sequential-stream mode
  (``r|``/``r|gz`` — forward reads, no seeking, no central index pass),
  so a shard's members are visited once in file order;
* rows stream out in bounded pandas batches (``batch_rows`` /
  ``batch_bytes``), never one frame per shard — the WARC memory
  contract;
* sample GROUPING is ordinary relational code downstream
  (:func:`tar_samples`): members→samples is a groupBy on
  (shard, sample_key), which keeps the parser stateless and lets
  Catalyst prune payload columns the query never touches.

Per-task memory: the compressed shard bytes (the ``binaryFile``
contract) + one member's payload + one pending Arrow batch.
``max_member_bytes`` truncates pathological members so a single huge
sample can't blow the batch budget.
"""

from __future__ import annotations

import io
import tarfile
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from inception_spark.sources.compression import CodecError, decompress

TAR_MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("shard_file", T.StringType(), False),
        T.StructField("member_name", T.StringType(), False),
        T.StructField("sample_key", T.StringType(), True),
        T.StructField("ext", T.StringType(), True),
        T.StructField("size", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


class TarFormatError(ValueError):
    """Raised on a structurally invalid shard when ``strict``."""


_ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"
_LZ4F_MAGIC = b"\x04\x22\x4d\x18"


def _decompress_shard(raw: bytes, fname: str, strict: bool) -> bytes | None:
    """Transparent ``.tar.zst`` / ``.tar.lz4`` support through pyarrow's
    bundled C codecs (:mod:`inception_spark.sources.compression`).
    gzip stays on tarfile's own streaming path.  Returns None to signal
    quarantine in lenient mode.

    Memory note: unlike gzip (streamed by ``r|*``), a zstd/lz4 shard
    is decompressed WHOLE before parsing — per-task memory becomes
    compressed + decompressed shard size.  Size such shards like
    parquet row groups (the zipshard contract), not like tar streams.
    """
    codec = {_ZSTD_MAGIC: "zstd", _LZ4F_MAGIC: "lz4"}.get(raw[:4])
    if codec is None:
        return raw
    try:
        return decompress(raw, codec)
    except CodecError as exc:
        if strict:
            raise TarFormatError(
                f"corrupt {codec} shard {fname}: {exc}"
            ) from exc
        return None


def _verify_gzip_stream(chunks) -> None:
    """Streaming gzip integrity check (constant memory): raises
    :class:`TarFormatError` on a corrupt or TRUNCATED stream.

    Needed because ``tarfile``'s ``r|*`` reader treats many gzip
    truncations as a clean EOF (cut-position-dependent — verified: a
    30%-cut shard iterates a prefix with no exception), so strict mode
    cannot rely on the tar layer to notice."""
    import zlib

    d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
    saw_any = False
    try:
        for chunk in chunks:
            saw_any = True
            d.decompress(chunk)
            while d.eof and d.unused_data:
                tail = d.unused_data
                d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
                d.decompress(tail)
    except zlib.error as exc:
        raise TarFormatError(f"corrupt gzip shard: {exc}") from exc
    if saw_any and not d.eof:
        raise TarFormatError(
            "truncated gzip shard: stream ends before the gzip trailer"
        )


def split_member_name(name: str) -> tuple[str, str]:
    """WebDataset key split: everything up to the FIRST dot of the
    basename is the sample key, the rest is the (possibly dotted)
    extension — ``a/b/000123.seg.json`` → ``("a/b/000123", "seg.json")``.
    Matches the published webdataset convention, where multi-dot
    extensions distinguish member roles within one sample."""
    dirname, _, base = name.rpartition("/")
    key, dot, ext = base.partition(".")
    prefix = f"{dirname}/" if dirname else ""
    return prefix + key, ext if dot else ""


def read_tar_members(
    spark: SparkSession,
    path: str,
    *,
    extensions: list[str] | None = None,
    max_member_bytes: int | None = None,
    strict: bool = True,
    batch_rows: int = 1024,
    batch_bytes: int = 64 << 20,
) -> DataFrame:
    """Tar shard directory/glob → one row per member
    (``TAR_MEMBER_SCHEMA``).  Plain, gzipped (``.tar.gz``/``.tgz``),
    zstd (``.tar.zst``) and lz4 (``.tar.lz4``) shards all parse:
    gzip via tarfile's stream reader (``r|*``), zstd/lz4 via
    pyarrow's bundled codecs (magic-sniffed, see
    ``_decompress_shard`` for the memory contract).

    * ``extensions`` — keep only these member extensions (filtering
      inside the parser avoids materializing unwanted payloads into
      Arrow batches at all — decode-what-you-need).
    * ``max_member_bytes`` — truncate oversized member payloads.
    * ``strict=False`` — quarantine semantics: a corrupt shard yields
      the members parsed so far instead of failing the task.  Detectable
      corruption = truncation mid-member and unreadable first headers;
      a garbage TAIL after a valid member is silently treated as EOF by
      ``tarfile``'s checksum logic in every mode (pinned in tests).
    * ``batch_rows`` / ``batch_bytes`` — Arrow batch bounds, the WARC
      memory contract.
    """
    import pandas as pd

    keep = set(extensions) if extensions is not None else None

    def mapper(batches):
        for pdf in batches:
            for fname, content in zip(pdf["path"], pdf["content"]):
                rows: list[dict] = []
                nbytes = 0
                raw = _decompress_shard(bytes(content), fname, strict)
                if raw is None:
                    continue
                if strict and raw[:2] == b"\x1f\x8b":
                    # one extra constant-memory pass; the tar layer
                    # alone cannot detect most gzip truncations
                    _verify_gzip_stream(
                        raw[i : i + (1 << 20)]
                        for i in range(0, len(raw), 1 << 20)
                    )
                try:
                    tf = tarfile.open(
                        fileobj=io.BytesIO(raw), mode="r|*"
                    )
                except tarfile.TarError as exc:
                    if strict:
                        raise TarFormatError(
                            f"unreadable tar shard {fname}: {exc}"
                        ) from exc
                    continue
                try:
                    for member in tf:
                        if not member.isfile():
                            continue
                        key, ext = split_member_name(member.name)
                        if keep is not None and ext not in keep:
                            continue
                        f = tf.extractfile(member)
                        # cap INSIDE the read: read() of a pathological
                        # member would materialize it before truncation
                        payload = (
                            f.read(max_member_bytes)
                            if f is not None and max_member_bytes is not None
                            else (f.read() if f is not None else b"")
                        )
                        rows.append(
                            {
                                "shard_file": fname,
                                "member_name": member.name,
                                "sample_key": key,
                                "ext": ext,
                                "size": int(member.size),
                                "payload": payload,
                            }
                        )
                        nbytes += len(payload)
                        if len(rows) >= batch_rows or nbytes >= batch_bytes:
                            yield pd.DataFrame(rows)
                            rows, nbytes = [], 0
                except tarfile.TarError as exc:
                    if strict:
                        raise TarFormatError(
                            f"corrupt tar shard {fname}: {exc}"
                        ) from exc
                    # quarantine: fall through with the valid prefix
                if rows:
                    yield pd.DataFrame(rows)

    files = spark.read.format("binaryFile").load(path)
    return files.select("path", "content").mapInPandas(
        mapper, TAR_MEMBER_SCHEMA
    )


def tar_samples(members: DataFrame) -> DataFrame:
    """Members → WebDataset samples: one row per (shard_file,
    sample_key) with ``exts`` (sorted pipe-joined extension list),
    ``n_members`` and ``total_bytes`` — the completeness view used to
    reject half-written samples before decode (every sample must carry
    the same extension set).  Pure relational; payload grouping stays
    with the caller so unreferenced payloads prune at the scan."""
    return (
        members.groupBy("shard_file", "sample_key")
        .agg(
            F.concat_ws(
                "|", F.array_sort(F.collect_list("ext"))
            ).alias("exts"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("size").cast("long").alias("total_bytes"),
        )
    )


# ---------------------------------------------------------------------------
# true-streaming Python DataSource variant
# ---------------------------------------------------------------------------
# spark.read.format("tar_shards") — the Spark 4 Python DataSource form
# of read_tar_members.  Where the binaryFile path necessarily holds the
# COMPRESSED shard bytes in memory (that is binaryFile's contract), this
# source opens each shard path directly in tarfile stream mode, so the
# per-task footprint is tarfile's fixed read buffer + one member payload
# — a 10 GB shard parses in constant memory.  The trade: executors must
# reach the path through a LOCAL filesystem interface (local disk, NFS,
# a fuse-mounted object store); binaryFile rides Hadoop's remote
# filesystems natively.  Partitioning is one shard per partition,
# planned driver-side from a directory listing (control-plane work).

import glob as _glob
import os as _os

from pyspark.sql.datasource import (  # noqa: E402
    DataSource,
    DataSourceReader,
    InputPartition,
)


class _ShardPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class TarShardsReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("tar_shards: .load(path) is required")
        exts = options.get("extensions")
        self.extensions = (
            set(e.strip() for e in exts.split(",")) if exts else None
        )
        mmb = options.get("max_member_bytes")
        self.max_member_bytes = int(mmb) if mmb else None

    def partitions(self):
        pat = self.path
        if _os.path.isdir(pat):
            files = sorted(
                set(_glob.glob(_os.path.join(pat, "*.tar*")))
                | set(_glob.glob(_os.path.join(pat, "*.tgz")))
            )
        else:
            files = sorted(_glob.glob(pat))
        if not files:
            raise FileNotFoundError(f"tar_shards: no shards match {pat}")
        return [_ShardPartition(p) for p in files]

    def read(self, partition: _ShardPartition):
        # stream straight off the filesystem: tarfile's 'r|*' reads
        # fixed-size blocks forward; nothing buffers the whole shard
        # (except zstd/lz4 shards, which must decompress whole first —
        # the _decompress_shard memory contract)
        with open(partition.path, "rb") as fh:
            head = fh.read(4)
            if head in (_ZSTD_MAGIC, _LZ4F_MAGIC):
                raw = _decompress_shard(
                    head + fh.read(), partition.path, True
                )
                src = tarfile.open(fileobj=io.BytesIO(raw), mode="r|*")
            else:
                src = tarfile.open(partition.path, mode="r|*")
        with src as tf:
            for member in tf:
                if not member.isfile():
                    continue
                key, ext = split_member_name(member.name)
                if self.extensions is not None and ext not in self.extensions:
                    continue
                f = tf.extractfile(member)
                payload = (
                    f.read(self.max_member_bytes)
                    if f is not None and self.max_member_bytes is not None
                    else (f.read() if f is not None else b"")
                )
                yield (
                    partition.path,
                    member.name,
                    key,
                    ext,
                    int(member.size),
                    payload,
                )


class TarShardsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "tar_shards"

    def schema(self) -> str:
        return (
            "shard_file string, member_name string, sample_key string, "
            "ext string, size long, payload binary"
        )

    def reader(self, schema) -> TarShardsReader:
        opts = dict(self.options)
        opts.setdefault("path", opts.get("paths"))
        return TarShardsReader(opts)
