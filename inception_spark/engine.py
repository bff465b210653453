"""EmbeddingEngine — the engine facade.

One object over a SparkSession exposing the reference service's full
computational surface (SURVEY.md §2) as DataFrame transforms:

=============================  =============================================
reference endpoint / concern    engine method
=============================  =============================================
POST /api/v1/embed/batch        :meth:`embed_documents`  (S1,V1,C1-C5,C7)
POST /api/v1/embed/text         :meth:`embed_text`       (S2 single-doc path)
POST /api/v1/embed/query        :meth:`embed_query`      (C6, P2/P4, CPU path)
POST /api/v1/validate/text      :meth:`validate_text`    (M5)
GET  /health                    :meth:`health`           (M3)
Prometheus counters             :meth:`metrics` via df.observe  (M1/M2)
=============================  =============================================

Batch-path parity notes (reference routes/embedding.py:95-124,
embedding_service.py:167-252): documents are length-validated *raw* and
chunked *raw* (cleaning is NOT applied on the batch path — §3.1 stage 6);
queries are cleaned (preprocess_text) before encoding.  Strict mode raises
on the first invalid document with the reference's exact per-doc message
("Document {id}: ..."); quarantine mode routes invalid rows to a side
output instead, which is the scalable default for 100 TB runs.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from inception_spark.config import DEFAULT_CONFIG, EngineConfig
from inception_spark.functions.cleaning import (
    clean_text_expr,
    clean_text_py,
    validate_text_length_py,
    validation_error_expr,
)
from inception_spark.operators.chunking import chunk_documents
from inception_spark.operators.encoding import (
    Encoder,
    HashingStubEncoder,
    make_embed_udf,
)


#: reference histogram buckets (metrics.py:8-14, 28-32)
PROCESSING_BUCKETS = (0.1, 0.5, 1.0, 2.0, 5.0, 10.0)
MODEL_LOAD_BUCKETS = (1.0, 5.0, 10.0, 30.0, 60.0)


@dataclass
class EngineMetrics:
    """Reference metric names and label sets preserved (metrics.py:3-32):
    ``inception_requests_total{endpoint}``,
    ``inception_errors_total{endpoint,error_type}``,
    ``inception_chunks_total{endpoint}``,
    ``inception_processing_seconds{endpoint}`` (histogram),
    ``inception_model_load_seconds`` (histogram).

    Driver-side counters: per-request increments are trivial next to a
    Spark action, and :meth:`to_prometheus` renders the text exposition
    format (M4) so the dict never has to leave the process unserialized."""

    request_count: dict = field(default_factory=dict)        # endpoint → n
    error_count: dict = field(default_factory=dict)          # (endpoint, error_type) → n
    chunk_count: dict = field(default_factory=dict)          # endpoint → n
    processing_seconds: dict = field(default_factory=dict)   # endpoint → [sec]
    model_load_seconds: list = field(default_factory=list)   # [sec]

    # -- recording ----------------------------------------------------------
    def record_request(self, endpoint: str) -> None:
        self.request_count[endpoint] = self.request_count.get(endpoint, 0) + 1

    def record_chunks(self, endpoint: str, n: int) -> None:
        self.chunk_count[endpoint] = self.chunk_count.get(endpoint, 0) + int(n)

    def record_processing(self, endpoint: str, seconds: float) -> None:
        self.processing_seconds.setdefault(endpoint, []).append(float(seconds))

    def record_model_load(self, seconds: float) -> None:
        self.model_load_seconds.append(float(seconds))

    # -- M4: Prometheus text exposition format ------------------------------
    def to_prometheus(self) -> str:
        """Render in the Prometheus text format with the reference's
        metric names, labels, and histogram buckets
        (reference routes/monitoring.py:30-35 serves this via
        ``prometheus_client.generate_latest``; here it is a pure string
        so any HTTP layer — or none — can expose it)."""
        out: list[str] = []

        def counter(name: str, help_: str, series: dict) -> None:
            out.append(f"# HELP {name} {help_}")
            out.append(f"# TYPE {name} counter")
            for labels, n in sorted(series.items()):
                out.append(f"{name}{{{labels}}} {float(n)}")

        counter(
            "inception_requests_total",
            "Total number of embedding requests",
            {
                f'endpoint="{e}"': n
                for e, n in self.request_count.items()
            },
        )
        counter(
            "inception_errors_total",
            "Total number of errors",
            {
                f'endpoint="{e}",error_type="{t}"': n
                for (e, t), n in self.error_count.items()
            },
        )
        counter(
            "inception_chunks_total",
            "Total number of text chunks processed",
            {
                f'endpoint="{e}"': n
                for e, n in self.chunk_count.items()
            },
        )

        def histogram(
            name: str, help_: str, buckets: tuple, series: dict
        ) -> None:
            out.append(f"# HELP {name} {help_}")
            out.append(f"# TYPE {name} histogram")
            def series_name(suffix: str, label: str, extra: str = "") -> str:
                lbl = ",".join(x for x in (label, extra) if x)
                return (
                    f"{name}_{suffix}{{{lbl}}}" if lbl else f"{name}_{suffix}"
                )

            for label, vals in sorted(series.items()):
                for b in buckets:
                    n = sum(1 for v in vals if v <= b)
                    le = 'le="%s"' % b
                    out.append(
                        series_name("bucket", label, le) + " " + str(float(n))
                    )
                out.append(
                    series_name("bucket", label, 'le="+Inf"')
                    + " " + str(float(len(vals)))
                )
                out.append(
                    series_name("count", label) + " " + str(float(len(vals)))
                )
                out.append(
                    series_name("sum", label) + " " + str(float(sum(vals)))
                )

        histogram(
            "inception_processing_seconds",
            "Time spent processing embedding requests",
            PROCESSING_BUCKETS,
            {
                f'endpoint="{e}"': v
                for e, v in self.processing_seconds.items()
            },
        )
        histogram(
            "inception_model_load_seconds",
            "Time spent loading the model",
            MODEL_LOAD_BUCKETS,
            {"": self.model_load_seconds} if self.model_load_seconds else {},
        )
        return "\n".join(out) + "\n"


class EmbeddingEngine:
    def __init__(
        self,
        spark: SparkSession,
        config: EngineConfig = DEFAULT_CONFIG,
        encoder: Encoder | None = None,
    ):
        self.spark = spark
        self.config = config
        # one encoder for both paths: used here for queries, shipped to the
        # executors in the embed UDF closure
        self.encoder = encoder if encoder is not None else HashingStubEncoder(
            dim=config.embedding_dim
        )
        self.metrics = EngineMetrics()

    def _embed_udf(self, prefix: str):
        return make_embed_udf(self.config, prefix=prefix, encoder=self.encoder)

    # -- V1 strict/quarantine validation ------------------------------------
    def _validation_error(self, text_col) -> F.Column:
        return validation_error_expr(
            text_col,
            min_len=self.config.min_text_length,
            max_len=self.config.max_text_length,
            label="Text",
            check_clean=False,  # batch path: raw text is chunked, not cleaned
        )

    def validate_documents(
        self, df: DataFrame, *, mode: str = "quarantine"
    ) -> tuple[DataFrame, DataFrame]:
        """→ (valid, quarantined).  ``mode="strict"`` raises the reference's
        per-document error on the first invalid row
        (routes/embedding.py:113-115 + utils.py:95-116) and enforces the
        V2 batch-size cap with the reference's message
        (routes/embedding.py:103-110) — in quarantine mode the cap is
        advisory, because bounded request batches are an HTTP concern
        Spark scales past."""
        if mode == "strict":
            n = df.limit(self.config.max_batch_size + 1).count()
            if n > self.config.max_batch_size:
                raise ValueError(
                    f"Batch size exceeds maximum of "
                    f"{self.config.max_batch_size} documents"
                )
        err = self._validation_error(F.col("text"))
        tagged = df.withColumn("_error", err)
        bad = tagged.filter(F.col("_error").isNotNull())
        if mode == "strict":
            first = bad.select("id", "_error").orderBy("id").limit(1).collect()
            if first:
                r = first[0]
                raise ValueError(f"Document {r['id']}: {r['_error']}")
        good = tagged.filter(F.col("_error").isNull()).drop("_error")
        return good, bad.withColumnRenamed("_error", "error")

    # -- the main pipeline ---------------------------------------------------
    def chunk(self, df: DataFrame) -> DataFrame:
        """documents(id,text) → CHUNKS (no embedding) — C1-C4."""
        return chunk_documents(df, self.config)

    def embed_documents(
        self, df: DataFrame, *, validate: str = "quarantine"
    ) -> DataFrame:
        """documents(id,text) → CHUNK_EMBEDDINGS(doc_id, chunk_number,
        chunk, n_tokens, embedding) — the /embed/batch pipeline."""
        self.metrics.record_request("batch")
        good, _bad = self.validate_documents(df, mode=validate)
        chunks = self.chunk(good)
        embed = self._embed_udf(self.config.lead_document)
        return chunks.withColumn("embedding", embed(F.col("chunk")))

    def embed_documents_delta(
        self,
        df: DataFrame,
        existing: DataFrame,
        *,
        validate: str = "quarantine",
        stage_path: str | None = None,
    ) -> DataFrame:
        """Incremental /embed/batch: the recrawl path.

        Chunk everything (cheap), then embed ONLY the chunks not already
        present in ``existing`` — a prior run's output with at least
        (doc_id, chunk_md5, embedding).  At 100 TB recrawl scale ~99% of
        chunks are unchanged, and the encoder (the dominant cost by
        orders of magnitude) runs on just the delta; the price is one
        (doc_id, chunk_md5)-keyed hash join.  Carried rows reuse the
        stored embedding; stale rows in ``existing`` (chunks the new
        corpus no longer produces) drop out via the join direction.

        Returns CHUNK_EMBEDDINGS + ``fresh`` boolean.  ``existing`` is
        deduped on (doc_id, chunk_md5) first: the encoder is a pure
        function of chunk text, so any stored row with the same
        fingerprint carries the same embedding and the survivor choice
        cannot affect results.

        Lineage cut (VERDICT r11 ask 3): the carried/fresh branches
        both consume the chunk⋈existing table, so without a cut the
        chunker UDF and the join execute twice.  Default is
        ``localCheckpoint`` — zero external dependencies, right for
        bench/interactive scale — but it materializes to EXECUTOR BLOCK
        STORAGE and is not fault-tolerant: at the 100 TB recrawl design
        point the chunk table is the largest intermediate in the
        pipeline, and one lost executor invalidates the checkpoint
        mid-job.  Pass ``stage_path`` (a parquet directory on reliable
        storage — HDFS/S3) to stage the joined table there instead:
        restart-safe, no block-manager pressure, one extra
        write+read of the chunk table (sequential parquet I/O, cheap
        relative to the encoder; cost note in SCALING.md).
        """
        self.metrics.record_request("batch")
        good, _bad = self.validate_documents(df, mode=validate)
        chunks = self.chunk(good).withColumn("chunk_md5", F.md5("chunk"))
        ex = existing.select(
            "doc_id", "chunk_md5", F.col("embedding").alias("_prev_emb")
        ).dropDuplicates(["doc_id", "chunk_md5"])
        joined = chunks.join(ex, ["doc_id", "chunk_md5"], "left")
        # the carried/fresh branches both consume `joined`; without a
        # lineage cut the chunker UDF and the join would execute TWICE
        # (once per branch) — cut so chunking runs once
        if stage_path is not None:
            joined.write.mode("overwrite").parquet(stage_path)
            joined = self.spark.read.parquet(stage_path)
        else:
            joined = joined.localCheckpoint(eager=False)
        carried = joined.filter(F.col("_prev_emb").isNotNull()).select(
            *chunks.columns,
            F.col("_prev_emb").alias("embedding"),
            F.lit(False).alias("fresh"),
        )
        todo = joined.filter(F.col("_prev_emb").isNull()).drop("_prev_emb")
        embed = self._embed_udf(self.config.lead_document)
        fresh = todo.withColumn("embedding", embed(F.col("chunk"))).withColumn(
            "fresh", F.lit(True)
        )
        return carried.unionByName(fresh)

    def embed_text(self, text: str) -> DataFrame:
        """Single raw-text document (id=0, reference routes/embedding.py:78)."""
        validate_text_length_py(
            text,
            min_len=self.config.min_text_length,
            max_len=self.config.max_text_length,
        )
        df = self.spark.createDataFrame([(0, text)], "id long, text string")
        return self.embed_documents(df, validate="strict")

    def embed_query(self, text: str) -> list[float]:
        """Low-latency single-query path — driver-local, no Spark job
        (the reference routes queries to CPU-only instances; a scalar
        driver call is the engine analogue — SURVEY.md §2.3 C6)."""
        import time as _time

        _t0 = _time.perf_counter()
        self.metrics.record_request("query")
        validate_text_length_py(
            text,
            min_len=self.config.min_text_length,
            max_len=self.config.max_query_length,
            label="Query",
        )
        cleaned = clean_text_py(text)
        if not cleaned:
            raise ValueError("Text is empty after cleaning.")
        vec = self.encoder.encode(
            [self.config.lead_query + cleaned], batch_size=1
        )
        self.metrics.record_processing("query", _time.perf_counter() - _t0)
        return [float(x) for x in vec[0]]

    def embed_queries(self, df: DataFrame, text_col: str = "text") -> DataFrame:
        """Distributed query embedding (set-of-queries analogue of C6):
        clean → prefix → encode, all on executors."""
        embed = self._embed_udf(self.config.lead_query)
        return df.withColumn(
            "embedding", embed(clean_text_expr(F.col(text_col)))
        )

    def search(
        self, query_text: str, chunk_embeddings: DataFrame, k: int = 10
    ) -> DataFrame:
        """End-to-end semantic search: embed the query (C6), rank the
        chunk-embedding table by cosine — the reference's production use
        case (retrieval over opinion chunks, SURVEY.md §7.3)."""
        from inception_spark.operators.similarity import semantic_search

        return semantic_search(chunk_embeddings, self.embed_query(query_text), k=k)

    @staticmethod
    def _keyed_chunks(chunk_embeddings: DataFrame) -> DataFrame:
        """(doc_id, chunk_number, chunk, embedding) → one string key per
        chunk so both retrieval legs rank the same id space."""
        return chunk_embeddings.select(
            F.concat_ws(
                "#",
                F.col("doc_id").cast("string"),
                F.col("chunk_number").cast("string"),
            ).alias("chunk_key"),
            "chunk",
            "embedding",
        )

    def write_search_indexes(
        self,
        chunk_embeddings: DataFrame,
        path: str,
        *,
        ann_bits: int = 8,
        ann_seed: int = 2024,
    ) -> None:
        """Materialize the write-once/query-many serving layouts for
        :meth:`hybrid_search` under ``path``: ``path/lexical`` — the
        BM25 inverted index (term-sorted row groups), ``path/ann`` —
        the LSH-bucket-partitioned embedding table.  At 100 TB the
        corpus explode and the bucket assignment each happen ONCE here;
        every subsequent query reads only its terms' row groups and its
        probe buckets' files."""
        from inception_spark.functions.text_analysis import (
            write_inverted_index,
        )
        from inception_spark.operators.similarity import (
            write_bucketed_embeddings,
        )

        keyed = self._keyed_chunks(chunk_embeddings)
        write_inverted_index(
            keyed, f"{path}/lexical", id_col="chunk_key", text_col="chunk"
        )
        write_bucketed_embeddings(
            keyed.select("chunk_key", "embedding"),
            f"{path}/ann",
            dim=self.config.embedding_dim,
            bits=ann_bits,
            seed=ann_seed,
        )

    def hybrid_search(
        self,
        query_text: str,
        chunk_embeddings: DataFrame | None = None,
        k: int = 10,
        *,
        fuse_k: int = 50,
        index_path: str | None = None,
        ann_bits: int = 8,
        ann_seed: int = 2024,
    ) -> DataFrame:
        """Lexical + semantic hybrid: BM25 over the chunk TEXT and
        cosine over the chunk EMBEDDINGS, fused by reciprocal-rank
        fusion — the zero-tuning retrieval upgrade over either alone
        (keyword queries rescue vector misses and vice versa).
        → (doc_id, chunk_number, rrf_score, rank).

        Two serving shapes:

        * ``chunk_embeddings`` given — in-plan: BM25 explodes the chunk
          text and cosine scans every embedding.  Fine for one-off jobs;
          at 100 TB every query re-pays the corpus scan.
        * ``index_path`` given (a :meth:`write_search_indexes` layout) —
          the lexical leg probes the materialized inverted index (no
          corpus text scan, term row-group pruning) and the vector leg
          probes the LSH bucket partitions (file-level pruning, reads
          ~1/2^bits of the table; the vector leg is then the documented
          LSH approximation of exact cosine, identical to the in-plan
          ``ann_lsh_topk`` on the same corpus/seed).

        Ranks within each list are deterministic (rounded scores, id
        tie-breaks), and RRF contributions sum as exact decimals, so
        the fused set is reproducible across runs and partitionings."""
        from inception_spark.functions.text_analysis import (
            bm25_topk,
            bm25_topk_over_index,
        )
        from inception_spark.operators.similarity import (
            ann_lsh_topk_pruned,
            cosine_topk,
            rrf_fuse,
        )

        if chunk_embeddings is None and index_path is None:
            raise ValueError(
                "hybrid_search needs chunk_embeddings or index_path"
            )
        # tokenize the query driver-side with the same regex the corpus
        # tokenizer uses (no Spark job needed)
        import re

        from inception_spark.functions.hashing import WORD_PATTERN

        terms = re.findall(WORD_PATTERN, query_text.lower())
        qvec = self.embed_query(query_text)
        if index_path is not None:
            lex = bm25_topk_over_index(
                self.spark, f"{index_path}/lexical", terms, k=fuse_k
            ).select(F.col("doc_id").alias("vec_id"), "rank")
            vec = ann_lsh_topk_pruned(
                self.spark,
                f"{index_path}/ann",
                qvec,
                k=fuse_k,
                bits=ann_bits,
                seed=ann_seed,
                id_col="chunk_key",
                vec_col="embedding",
            ).select("vec_id", "rank")
        else:
            keyed = self._keyed_chunks(chunk_embeddings)
            lex = bm25_topk(
                keyed, terms, k=fuse_k, id_col="chunk_key",
                text_col="chunk",
            ).select(F.col("doc_id").alias("vec_id"), "rank")
            vec = cosine_topk(
                keyed,
                qvec,
                k=fuse_k,
                id_col="chunk_key",
                vec_col="embedding",
            ).select("vec_id", "rank")
        fused = rrf_fuse([lex, vec], k=k)
        parts = F.split(F.col("vec_id"), "#")
        return fused.select(
            parts.getItem(0).cast("long").alias("doc_id"),
            parts.getItem(1).cast("long").alias("chunk_number"),
            "rrf_score",
            "rank",
        )

    # -- M5 validation endpoint ---------------------------------------------
    def validate_text(self, df: DataFrame) -> DataFrame:
        """documents(id,text) → VALIDATED_TEXTS — never raises
        (reference routes/embedding.py:130-150)."""
        self.metrics.record_request("validate")
        err = validation_error_expr(
            F.col("text"),
            min_len=self.config.min_text_length,
            max_len=self.config.max_text_length,
            label="Text",
            check_clean=True,
        )
        return df.select(
            F.col("id"),
            F.col("text").alias("original_text"),
            F.when(err.isNull(), clean_text_expr(F.col("text")))
            .otherwise(F.lit(None))
            .alias("processed_text"),
            err.isNull().alias("is_valid"),
            err.alias("error"),
        )

    # -- M1/M2 observability -------------------------------------------------
    def embed_documents_observed(
        self, df: DataFrame
    ) -> tuple[DataFrame, Observation]:
        """Same as embed_documents but with an Observation recording
        chunk_count / token totals (reference CHUNK_COUNT counter,
        metrics.py:22-26) collected for free with the action."""
        obs = Observation("inception_metrics")
        out = self.embed_documents(df).observe(
            obs,
            F.count(F.lit(1)).alias("chunk_count"),
            F.sum("n_tokens").alias("token_count"),
            F.approx_count_distinct("doc_id").alias("doc_count"),
        )
        return out, obs

    # -- M3 health ------------------------------------------------------------
    def health(self) -> dict:
        return {
            "status": "healthy",
            "model_loaded": self.encoder is not None,
            "gpu_available": False if self.config.force_cpu else _gpu_available(),
            "spark_version": self.spark.version,
        }


def _gpu_available() -> bool:
    try:
        import torch  # import-gated

        return bool(torch.cuda.is_available())
    except ImportError:
        return False


def register_sql_functions(
    spark: SparkSession, config: EngineConfig = DEFAULT_CONFIG
) -> None:
    """Expose the engine's UDF surface to pure SQL users:

    ``chunk_text(text) → array<string>`` and
    ``embed_text_vec(text) → array<float>`` (document prefix applied),
    so the whole pipeline is writable as
    ``SELECT posexplode(chunk_text(text)) FROM docs`` etc.
    Built-in-expression operators (cleaning, hashing, token counts) need
    no registration — they are plain SQL already.
    """
    from inception_spark.operators.chunking import make_chunk_udf

    spark.udf.register("chunk_text", make_chunk_udf(config))
    spark.udf.register("embed_text_vec", make_embed_udf(config))
