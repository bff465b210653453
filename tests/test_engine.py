"""End-to-end engine tests with the deterministic stub encoder — the
DataFrame analogue of the reference's endpoint tests
(tests/test_embedding_service.py:82-262)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from inception_spark.config import DEFAULT_CONFIG, EngineConfig
from inception_spark.engine import EmbeddingEngine
from inception_spark.operators.encoding import HashingStubEncoder


@pytest.fixture(scope="module")
def engine(spark):
    return EmbeddingEngine(spark)


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "id long, text string")


def test_embed_documents_shape(spark, engine, sample_opinion):
    df = docs_df(spark, [(1, sample_opinion), (2, "Short doc. Two sentences.")])
    out = engine.embed_documents(df)
    rows = out.collect()
    assert {r["doc_id"] for r in rows} == {1, 2}
    for r in rows:
        assert r["chunk_number"] >= 1
        assert len(r["embedding"]) == DEFAULT_CONFIG.embedding_dim
        assert all(np.isfinite(x) for x in r["embedding"])
        # unit-norm stub vectors
        assert abs(float(np.linalg.norm(r["embedding"])) - 1.0) < 1e-3
    # chunk numbers are 1..n contiguous per doc
    for doc in (1, 2):
        nums = sorted(r["chunk_number"] for r in rows if r["doc_id"] == doc)
        assert nums == list(range(1, len(nums) + 1))


def test_embeddings_deterministic_and_text_keyed(spark, engine):
    df = docs_df(spark, [(1, "Same text here."), (2, "Same text here."),
                         (3, "Different text here.")])
    rows = engine.embed_documents(df).collect()
    by_doc = {r["doc_id"]: r["embedding"] for r in rows}
    assert by_doc[1] == by_doc[2]          # same text → same vector
    assert by_doc[1] != by_doc[3]          # different text → different vector
    # matches driver-side encoder exactly (prefix applied inside encoder)
    enc = HashingStubEncoder(dim=DEFAULT_CONFIG.embedding_dim)
    expected = enc.encode(["search_document: Same text here."])[0]
    assert np.allclose(by_doc[1], expected, atol=1e-6)


def test_strict_validation_raises_with_doc_id(spark, engine):
    df = docs_df(spark, [(7, "")])
    with pytest.raises(ValueError, match=r"Document 7: Text length \(0\) below minimum \(1\)"):
        engine.embed_documents(df, validate="strict")


def test_quarantine_mode(spark, engine, sample_opinion):
    df = docs_df(spark, [(1, sample_opinion), (2, "")])
    good, bad = engine.validate_documents(df)
    assert good.count() == 1 and bad.count() == 1
    assert bad.collect()[0]["error"] == "Text length (0) below minimum (1)"


def test_embed_query(engine):
    v = engine.embed_query("What constitutes copyright infringement?")
    assert len(v) == DEFAULT_CONFIG.embedding_dim
    # query prefix applied (differs from document encoding of same text)
    enc = HashingStubEncoder(dim=DEFAULT_CONFIG.embedding_dim)
    expected = enc.encode(
        ["search_query: What constitutes copyright infringement?"]
    )[0]
    assert np.allclose(v, expected, atol=1e-6)


def test_embed_query_validation(engine):
    with pytest.raises(ValueError, match="below minimum"):
        engine.embed_query("")
    with pytest.raises(ValueError, match=r"Query length \(1500\) exceeds maximum \(1000\)"):
        engine.embed_query("x" * 1500)
    with pytest.raises(ValueError, match="empty after cleaning"):
        engine.embed_query("ñ😊")


def test_validate_text_never_raises(spark, engine):
    df = docs_df(spark, [(1, "fine text"), (2, ""), (3, "ñ😊")])
    rows = {r["id"]: r for r in engine.validate_text(df).collect()}
    assert rows[1]["is_valid"] and rows[1]["processed_text"] == "fine text"
    assert not rows[2]["is_valid"] and "below minimum" in rows[2]["error"]
    assert not rows[3]["is_valid"]
    assert rows[3]["error"] == "Text is empty after cleaning."


def test_nested_response_shape(spark, engine, sample_opinion):
    from inception_spark.schemas import nest_response

    out = engine.embed_documents(docs_df(spark, [(1, sample_opinion)]))
    nested = nest_response(out).collect()
    assert len(nested) == 1
    embs = nested[0]["embeddings"]
    assert [e["chunk_number"] for e in embs] == list(range(1, len(embs) + 1))


def test_observed_metrics(spark, engine, sample_opinion):
    out, obs = engine.embed_documents_observed(
        docs_df(spark, [(1, sample_opinion)])
    )
    n = out.count()
    got = obs.get
    assert got["chunk_count"] == n
    assert got["token_count"] > 0


def test_health(engine):
    h = engine.health()
    assert h["status"] == "healthy" and h["model_loaded"]


def test_custom_encoder_reaches_executors(spark):
    """A user-supplied encoder must be used on the executors, not
    silently replaced by the default model (review finding)."""
    import numpy as np

    class ConstantEncoder:
        dim = 8

        def encode(self, texts, batch_size=8):
            return np.full((len(texts), 8), 0.5, dtype=np.float32)

    from inception_spark.config import EngineConfig

    eng = EmbeddingEngine(
        spark, EngineConfig(embedding_dim=8), encoder=ConstantEncoder()
    )
    df = spark.createDataFrame([(1, "Some text here.")], "id long, text string")
    row = eng.embed_documents(df).collect()[0]
    assert row["embedding"] == [0.5] * 8          # executor used OUR encoder
    assert eng.embed_query("q")[0] == 0.5          # driver path too


def test_embed_queries_distributed(spark, engine):
    df = spark.createDataFrame(
        [("What is consideration?",), ("  Define estoppel.  ",)],
        "text string",
    )
    out = engine.embed_queries(df).collect()
    assert all(len(r["embedding"]) == DEFAULT_CONFIG.embedding_dim for r in out)
    # query path cleans text first: padded text == clean text embedding
    enc = HashingStubEncoder(dim=DEFAULT_CONFIG.embedding_dim)
    want = enc.encode(["search_query: Define estoppel."])[0]
    got = next(r for r in out if "estoppel" in r["text"])["embedding"]
    assert np.allclose(got, want, atol=1e-6)


def test_sql_function_registration(spark, sample_opinion):
    from inception_spark.engine import register_sql_functions

    register_sql_functions(spark)
    spark.createDataFrame(
        [(1, sample_opinion)], "id long, text string"
    ).createOrReplaceTempView("sql_docs")
    rows = spark.sql(
        """
        SELECT id, posexplode(chunk_text(text)) AS (pos, chunk),
               embed_text_vec(text) AS vec
        FROM sql_docs
        """
    ).collect()
    assert rows and len(rows[0]["vec"]) == 768
    assert all(r["chunk"] for r in rows)


def test_embed_text_single_doc_path(spark, engine, sample_opinion):
    """The /embed/text analogue: raw string in, id=0, strict validation
    (reference routes/embedding.py:68-92)."""
    rows = engine.embed_text(sample_opinion).collect()
    assert all(r["doc_id"] == 0 for r in rows)
    assert [r["chunk_number"] for r in rows] == list(range(1, len(rows) + 1))
    with pytest.raises(ValueError, match="below minimum"):
        engine.embed_text("")


def test_prometheus_text_format(spark):
    """M4: metrics render in the Prometheus text exposition format with
    the reference's metric names, labels, and histogram buckets."""
    from inception_spark.engine import EngineMetrics
    from inception_spark.errors import handle_exception

    m = EngineMetrics()
    m.record_request("batch")
    m.record_request("batch")
    m.record_chunks("batch", 7)
    m.record_processing("batch", 0.3)
    m.record_processing("batch", 3.0)
    m.record_model_load(4.2)
    handle_exception(ValueError("bad"), "query", metrics=m)

    text = m.to_prometheus()
    assert "# TYPE inception_requests_total counter" in text
    assert 'inception_requests_total{endpoint="batch"} 2.0' in text
    assert 'inception_chunks_total{endpoint="batch"} 7.0' in text
    assert (
        'inception_errors_total{endpoint="query",error_type="validation_error"} 1.0'
        in text
    )
    assert "# TYPE inception_processing_seconds histogram" in text
    # cumulative buckets: 0.3 ≤ 0.5; both ≤ 5.0; +Inf carries all
    assert 'inception_processing_seconds_bucket{endpoint="batch",le="0.5"} 1.0' in text
    assert 'inception_processing_seconds_bucket{endpoint="batch",le="5.0"} 2.0' in text
    assert 'inception_processing_seconds_bucket{endpoint="batch",le="+Inf"} 2.0' in text
    assert 'inception_processing_seconds_count{endpoint="batch"} 2.0' in text
    assert 'inception_processing_seconds_sum{endpoint="batch"} 3.3' in text
    # unlabeled histogram renders without braces
    assert "inception_model_load_seconds_count 1.0" in text
    assert 'inception_model_load_seconds_bucket{le="5.0"} 1.0' in text


def test_engine_endpoints_count_requests(spark):
    from inception_spark.engine import EmbeddingEngine

    eng = EmbeddingEngine(spark)  # fresh metrics, not the shared fixture
    df = spark.createDataFrame([(1, "Some valid text.")], "id long, text string")
    eng.validate_text(df).collect()
    eng.embed_documents(df).collect()
    eng.embed_query("a question")
    m = eng.metrics
    assert m.request_count.get("validate") == 1
    assert m.request_count.get("batch") == 1
    assert m.request_count.get("query") == 1
    assert len(m.processing_seconds.get("query", [])) == 1


def test_strict_mode_enforces_batch_size_cap(spark):
    """V2: strict mode rejects oversized batches with the reference's
    message; quarantine mode scales past the cap (advisory)."""
    import pytest

    from inception_spark.config import EngineConfig
    from inception_spark.engine import EmbeddingEngine

    eng = EmbeddingEngine(spark, EngineConfig(max_batch_size=3))
    df = spark.createDataFrame(
        [(i, f"document number {i}") for i in range(5)], "id long, text string"
    )
    with pytest.raises(ValueError, match="Batch size exceeds maximum of 3"):
        eng.validate_documents(df, mode="strict")
    good, bad = eng.validate_documents(df, mode="quarantine")
    assert good.count() == 5 and bad.count() == 0


def test_hybrid_search_fuses_lexical_and_vector(spark):
    from inception_spark.engine import EmbeddingEngine

    eng = EmbeddingEngine(spark)
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .selectExpr("doc_id AS id", "text")
        .limit(100)
    )
    table = eng.embed_documents(docs)
    out = eng.hybrid_search("spark join filter", table, k=5).collect()
    assert len(out) == 5
    assert [r["rank"] for r in out] == [1, 2, 3, 4, 5]
    assert all(r["rrf_score"] > 0 for r in out)
    # deterministic across invocations
    again = eng.hybrid_search("spark join filter", table, k=5).collect()
    assert out == again


def test_hybrid_search_over_materialized_indexes(spark, tmp_path):
    """The write-once/query-many serving shape (VERDICT r5 ask 6): with
    an index_path the lexical leg probes the inverted index and the
    vector leg probes the LSH bucket partitions — NO scan of the chunk
    corpus — and the result equals the same legs computed in-plan."""
    from inception_spark.engine import EmbeddingEngine
    from inception_spark.functions.text_analysis import bm25_topk
    from inception_spark.operators.similarity import (
        ann_lsh_topk,
        rrf_fuse,
    )
    from pyspark.sql import functions as F

    eng = EmbeddingEngine(spark)
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .selectExpr("doc_id AS id", "text")
        .limit(100)
    )
    table = eng.embed_documents(docs).localCheckpoint()
    idx = str(tmp_path / "serve")
    eng.write_search_indexes(table, idx, ann_bits=4)

    out = eng.hybrid_search(
        "spark join filter", k=5, index_path=idx, ann_bits=4
    )
    # no corpus scan: the only parquet locations in the plan are the
    # two index layouts (formatted explain prints untruncated Location
    # lines; toString truncates them)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    import re as _re

    locs = _re.findall(r"Location: \S+ \[file:(\S+?)\]", plan)
    assert locs, "expected parquet scans in plan"
    assert all("/serve/" in loc for loc in locs), locs
    got = out.collect()

    # equals the in-plan twins of the SAME legs (bm25 exact twin; the
    # vector leg's in-plan twin is ann_lsh_topk, the documented LSH
    # approximation)
    import re

    from inception_spark.functions.hashing import WORD_PATTERN

    keyed = EmbeddingEngine._keyed_chunks(table)
    terms = re.findall(WORD_PATTERN, "spark join filter")
    lex = bm25_topk(
        keyed, terms, k=50, id_col="chunk_key", text_col="chunk"
    ).select(F.col("doc_id").alias("vec_id"), "rank")
    vec = ann_lsh_topk(
        keyed.select("chunk_key", "embedding"),
        eng.embed_query("spark join filter"),
        k=50,
        bits=4,
        id_col="chunk_key",
        vec_col="embedding",
    ).select("vec_id", "rank")
    fused = rrf_fuse([lex, vec], k=5)
    parts = F.split(F.col("vec_id"), "#")
    want = fused.select(
        parts.getItem(0).cast("long").alias("doc_id"),
        parts.getItem(1).cast("long").alias("chunk_number"),
        "rrf_score",
        "rank",
    ).collect()
    assert got == want


def test_rrf_fuse_empty_input_rejected():
    """An empty ranked-list argument raised an opaque IndexError
    (ADVICE r5) — now a usable ValueError."""
    import pytest

    from inception_spark.operators.similarity import rrf_fuse

    with pytest.raises(ValueError, match="rrf_fuse needs"):
        rrf_fuse([])


def test_stub_vectors_match_fresh_random_state_across_threads():
    """seeded_unit_vector reseeds one per-thread RandomState; every vector
    must still equal the frozen formula RandomState(seed).standard_normal
    (normalized, float32), also after an odd-length draw left a cached
    gaussian in the reused state and when eight threads encode at once."""
    import hashlib
    import sys
    import threading

    from inception_spark.operators import encoding

    def frozen(data: bytes, dim: int) -> np.ndarray:
        seed = int.from_bytes(hashlib.md5(data).digest()[:4], "big")
        v = np.random.RandomState(seed).standard_normal(dim)
        return (v / (float(np.linalg.norm(v)) or 1.0)).astype(np.float32)

    texts = [f"doc {i} " * (i % 7) for i in range(300)]
    enc = HashingStubEncoder(dim=DEFAULT_CONFIG.embedding_dim)
    want = np.stack([frozen(t.encode("utf-8"), enc.dim) for t in texts])
    assert np.array_equal(enc.encode(texts), want)
    encoding.seeded_unit_vector(b"odd", 3)  # leaves a cached gaussian
    assert np.array_equal(enc.encode(texts), want)

    got = {}

    def work(name, order):
        for _ in range(3):
            got[name] = enc.encode([texts[i] for i in order])
            encoding.seeded_unit_vector(b"odd", 5)

    orders = {
        f"t{j}": list(np.random.RandomState(j).permutation(len(texts)))
        for j in range(8)
    }
    threads = [threading.Thread(target=work, args=a) for a in orders.items()]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    for name, order in orders.items():
        assert np.array_equal(got[name], want[order]), name
