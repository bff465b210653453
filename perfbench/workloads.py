"""The three workloads, their set-up, timed ops, output checks and the
traced per-layer suite.

* ``batch_embed`` — one op is ``EmbeddingEngine.embed_documents`` over the
  whole cached corpus, written to the noop sink (the ``/embed/batch``
  backfill).
* ``query_search`` — one op is ``EmbeddingEngine.search(query, table,
  k=10)`` collected, over a chunk-embedding table built in set-up; one
  client, closed loop, every query distinct within a run.
* ``near_dup`` — one op is ``dedup.exact_dedup`` plus
  ``dedup.ngram_jaccard_pairs`` over the cached corpus, both written to the
  noop sink.  Runnable, but not registered in BENCHMARK.json: its
  run-to-run spread on a shared 4-core box is wider than any usable bound.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

import numpy as np

from perfbench import checks, corpus
from perfbench.procmem import PeakRss
from perfbench.stats import OpCounter, summarize
from perfbench.trace import SPARK_COUNTERS, NullTracer, Tracer

from inception_spark import EmbeddingEngine
from inception_spark.config import DEFAULT_CONFIG
from inception_spark.functions.cleaning import clean_text_py
from inception_spark.operators import dedup
from inception_spark.operators.chunking import (
    chunk_documents,
    split_text_into_chunks,
    token_count_expr,
)
from inception_spark.operators.encoding import HashingStubEncoder, make_embed_udf
from inception_spark.operators.similarity import semantic_search
from inception_spark.sentences import split_sentences
from inception_spark.session import build_session
from inception_spark.tokenizer import RegexTokenizer

SETUP_REPS = 3
WARM_SECONDS = 6.0
SUITE_QUERIES = 10
MICRO_SAMPLE_BYTES = 512 * 1024
CHECK_SAMPLE_DOCS = 40

#: name → (unit, better) for the untraced run
END_TO_END = {
    "setup_s": ("s", "lower"),
    "docs_per_s": ("docs/s", "higher"),
    "mb_per_s": ("MB/s", "higher"),
    "latency_p50_ms": ("ms", "lower"),
    "latency_p90_ms": ("ms", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

#: name → unit for the traced run
PER_LAYER = {
    "session.build_s": "s",
    "session.first_udf_job_s": "s",
    "engine.build_ms": "ms",
    "functions.cleaning.validate_s": "s",
    "functions.cleaning.quarantined": "count",
    "functions.cleaning.clean_query_us": "us",
    "sentences.split_us_per_kb": "us/KB",
    "tokenizer.count_us_per_kb": "us/KB",
    "tokenizer.count_calls_per_sentence": "calls/sentence",
    "operators.chunking.fold_us_per_kb": "us/KB",
    "operators.chunking.chunk_s": "s",
    "operators.chunking.chunks_out": "count",
    "operators.chunking.embedded_tokens_per_input_token": "ratio",
    "operators.chunking.max_task_s": "s",
    "operators.encoding.encode_s": "s",
    "operators.encoding.us_per_chunk": "us",
    "operators.encoding.vector_mb": "MB",
    "operators.encoding.encode_query_us": "us",
    "operators.similarity.build_ms": "ms",
    "operators.similarity.exec_ms": "ms",
    "operators.similarity.rows_scanned": "count",
    "operators.similarity.rows_per_s": "rows/s",
    "operators.dedup.exact_s": "s",
    "operators.dedup.exact_groups": "count",
    "operators.dedup.shingle_s": "s",
    "operators.dedup.shingles": "count",
    "operators.dedup.minhash_s": "s",
    "operators.dedup.lsh_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verify_s": "s",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.candidate_precision": "fraction",
    "operators.dedup.planted_recall": "fraction",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "trace.overhead_frac": "fraction",
}

NOOP = "noop"


def _noop(df) -> None:
    df.write.format(NOOP).mode("overwrite").save()


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def build(work_dir: str):
    n = nproc()
    spark = build_session(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            # a pinned heap (initial = max) keeps heap resizing out of
            # the timings
            "spark.driver.extraJavaOptions":
                f"-Xms{os.environ['SPARK_DRIVER_MEM']} "
                f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark) -> None:
    """Start a Python worker per core, importing the package's UDF code."""
    n = nproc()
    docs = spark.range(n, numPartitions=n).selectExpr(
        "id", "concat('Warm up document ', id, '. It has two sentences.') AS text"
    )
    _noop(EmbeddingEngine(spark).embed_documents(docs))


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class Workload:
    name = ""

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        rows, self.exp = corpus.generate(self.name, seed)
        self.texts = dict(rows)
        self.path = corpus.write(rows, self.exp,
                                 os.path.join(work_dir, self.name))
        self.queries = corpus.queries(seed, 1000)
        self.spark = self.eng = self.docs = None

    # set-up: corpus load, and whatever the workload needs cached
    def setup(self, spark, tr) -> None:
        self.spark, self.eng = spark, EmbeddingEngine(spark)
        with tr.span("corpus.load", spark=True):
            self.docs = spark.read.parquet(self.path).cache()
            self.docs.count()

    def op(self, i: int, tr):
        raise NotImplementedError

    def check_op(self, i: int, out) -> list[str]:
        return []

    def check(self) -> list[str]:
        raise NotImplementedError

    def table(self):
        """The chunk-embedding table the suite's similarity layer scans."""
        return None

    @property
    def size(self) -> dict:
        return {"docs": self.exp.n_docs, "bytes": self.exp.n_bytes,
                "chunks": self.exp.n_chunks}


class BatchEmbed(Workload):
    name = "batch_embed"

    def op(self, i, tr):
        with tr.span("engine.build"):
            df = self.eng.embed_documents(self.docs)
        with tr.span("write.noop"):
            _noop(df)

    def check(self):
        from pyspark.sql import functions as F

        e = self.exp
        rng = np.random.default_rng([self.seed, 7])
        special = set(e.long_tail_ids) | set(e.invalid_ids)
        others = [i for i in sorted(self.texts) if i not in special]
        sample = (list(e.long_tail_ids) + e.invalid_ids[:3]
                  + [int(i) for i in rng.choice(others, CHECK_SAMPLE_DOCS,
                                                replace=False)])
        rows = (
            self.eng.embed_documents(self.docs.filter(F.col("id").isin(sample)))
            .select("doc_id", "chunk_number", F.md5("chunk"), "n_tokens",
                    "embedding")
            .collect()
        )
        errors = checks.check_chunks({i: self.texts[i] for i in sample}, rows)
        errors += checks.check_counts(
            "chunks", self.eng.embed_documents(self.docs).count(), e.n_chunks)
        errors += checks.check_counts(
            "quarantined", self.eng.validate_documents(self.docs)[1].count(),
            e.n_invalid)
        return errors


class QuerySearch(Workload):
    name = "query_search"

    def setup(self, spark, tr):
        super().setup(spark, tr)
        with tr.span("table.build", spark=True):
            self._table = self.eng.embed_documents(self.docs).cache()
            self._table.count()
        self._matrix = None

    def table(self):
        return self._table

    def op(self, i, tr):
        q = self.queries[i][0]
        with tr.span("engine.build"):
            df = self.eng.search(q, self._table, k=10)
        with tr.span("collect"):
            rows = df.collect()
        return [(r.doc_id, r.chunk_number, r.score, r.rank) for r in rows]

    def check_op(self, i, out):
        if self._matrix is None:
            rows = self._table.select("doc_id", "chunk_number", "embedding").collect()
            self._matrix = (
                np.array([(r[0], r[1]) for r in rows], dtype=np.int64),
                np.array([r[2] for r in rows], dtype=np.float32),
            )
        ids, emb = self._matrix
        cleaned = self.queries[i][1]
        want = checks.brute_force_topk(ids, emb, checks.query_vector(cleaned))
        return checks.check_topk(out, want)

    def check(self):
        return checks.check_counts(
            "table chunks", self._table.count(), self.exp.n_chunks
        ) + checks.check_counts(
            "quarantined", self.eng.validate_documents(self.docs)[1].count(),
            self.exp.n_invalid)


class NearDup(Workload):
    name = "near_dup"

    def op(self, i, tr):
        with tr.span("dedup.exact_dedup"):
            _noop(dedup.exact_dedup(self.docs, id_col="id"))
        with tr.span("dedup.ngram_jaccard_pairs"):
            _noop(dedup.ngram_jaccard_pairs(self.docs, id_col="id"))

    def check(self):
        exact = dedup.exact_dedup(self.docs, id_col="id").select(
            "doc_id", "keeper_id", "group_size").collect()
        pairs = dedup.ngram_jaccard_pairs(self.docs, id_col="id").collect()
        return (checks.check_exact_groups(exact, self.exp.exact_groups)
                + checks.check_jaccard(pairs, self.texts))


WORKLOADS = {w.name: w for w in (BatchEmbed, QuerySearch, NearDup)}


# ---------------------------------------------------------------------------
# the traced per-layer suite
# ---------------------------------------------------------------------------

def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def layer_suite(wl: Workload, tr: Tracer) -> dict:
    """Each layer materialized from the previous layer's cached output,
    over the workload's op input."""
    from pyspark.sql import functions as F

    eng, docs, cfg = wl.eng, wl.docs, DEFAULT_CONFIG
    m: dict[str, float] = {}
    cached = []

    with tr.span("suite.engine.build") as s:
        eng.embed_documents(docs)
    m["engine.build_ms"] = _dur(s) * 1e3

    with tr.span("functions.cleaning.validate", spark=True) as s:
        good, bad = eng.validate_documents(docs)
        good = good.cache()
        good.count()
        quarantined = bad.count()
        tr.count(s, quarantined=quarantined)
    cached.append(good)
    m["functions.cleaning.validate_s"] = _dur(s)
    m["functions.cleaning.quarantined"] = quarantined

    with tr.span("operators.chunking.chunk", spark=True) as s:
        chunks = chunk_documents(good, cfg).cache()
        n_chunks = chunks.count()
        tr.count(s, chunks=n_chunks)
    cached.append(chunks)
    m["operators.chunking.chunk_s"] = _dur(s)
    m["operators.chunking.chunks_out"] = n_chunks
    m["operators.chunking.max_task_s"] = s["spark"]["max_task_s"]
    tokens_in = good.select(F.sum(token_count_expr(F.col("text")))).first()[0]
    tokens_out = chunks.select(F.sum("n_tokens")).first()[0]
    m["operators.chunking.embedded_tokens_per_input_token"] = (
        tokens_out / tokens_in)

    embed = make_embed_udf(cfg)
    with tr.span("operators.encoding.encode", spark=True) as s:
        _noop(chunks.withColumn("embedding", embed(F.col("chunk"))))
    m["operators.encoding.encode_s"] = _dur(s)
    m["operators.encoding.us_per_chunk"] = _dur(s) * 1e6 / n_chunks
    m["operators.encoding.vector_mb"] = n_chunks * cfg.embedding_dim * 4 / 1e6

    # driver-side query path, over the whole query pool
    pool = [q for q, _ in wl.queries]
    t0 = time.perf_counter()
    cleaned = [clean_text_py(q) for q in pool]
    m["functions.cleaning.clean_query_us"] = (
        (time.perf_counter() - t0) * 1e6 / len(pool))
    enc = HashingStubEncoder(dim=cfg.embedding_dim)
    t0 = time.perf_counter()
    vecs = [enc.encode([cfg.lead_query + c], batch_size=1)[0] for c in cleaned]
    m["operators.encoding.encode_query_us"] = (
        (time.perf_counter() - t0) * 1e6 / len(pool))

    table = wl.table()
    if table is None:
        table = chunks.withColumn("embedding", embed(F.col("chunk"))).cache()
        table.count()
        cached.append(table)
    rows = table.count()
    builds, execs = [], []
    for j in range(SUITE_QUERIES):
        qv = [float(x) for x in vecs[-1 - j]]
        with tr.span("operators.similarity.build") as s:
            df = semantic_search(table, qv, k=10)
        builds.append(_dur(s))
        with tr.span("operators.similarity.exec", spark=True) as s:
            tr.count(s, rows_out=len(df.collect()), rows_scanned=rows)
        execs.append(_dur(s))
    m["operators.similarity.build_ms"] = statistics.median(builds) * 1e3
    m["operators.similarity.exec_ms"] = statistics.median(execs) * 1e3
    m["operators.similarity.rows_scanned"] = rows
    m["operators.similarity.rows_per_s"] = rows / statistics.median(execs)

    kw = {"id_col": "id"}
    with tr.span("operators.dedup.exact", spark=True) as s:
        exact = dedup.exact_dedup(docs, **kw).cache()
        tr.count(s, rows=exact.count())
    cached.append(exact)
    m["operators.dedup.exact_s"] = _dur(s)
    m["operators.dedup.exact_groups"] = (
        exact.filter("group_size > 1").select("keeper_id").distinct().count())
    with tr.span("operators.dedup.shingle", spark=True) as s:
        sh = dedup.exploded_shingles(docs, **kw).cache()
        n_sh = sh.count()
        tr.count(s, shingles=n_sh)
    cached.append(sh)
    m["operators.dedup.shingle_s"] = _dur(s)
    m["operators.dedup.shingles"] = n_sh
    # the signature and band steps reuse the cached shingle table through
    # the same parameter ngram_jaccard_pairs uses; lsh_candidate_pairs
    # recomputes the signatures, so lsh_s contains one minhash pass
    with tr.span("operators.dedup.minhash", spark=True) as s:
        _noop(dedup.minhash_signatures(docs, _shingles=sh, **kw))
    m["operators.dedup.minhash_s"] = _dur(s)
    with tr.span("operators.dedup.lsh", spark=True) as s:
        cand = dedup.lsh_candidate_pairs(docs, _shingles=sh, **kw).cache()
        n_cand = cand.count()
        tr.count(s, candidate_pairs=n_cand)
    cached.append(cand)
    m["operators.dedup.lsh_s"] = _dur(s)
    m["operators.dedup.candidate_pairs"] = n_cand
    # ngram_jaccard_pairs is the public verify step; it reruns shingling
    # and banding from the documents
    with tr.span("operators.dedup.verify", spark=True) as s:
        pairs = dedup.ngram_jaccard_pairs(docs, **kw).collect()
        tr.count(s, verified_pairs=len(pairs))
    m["operators.dedup.verify_s"] = _dur(s)
    m["operators.dedup.verified_pairs"] = len(pairs)
    m["operators.dedup.candidate_precision"] = len(pairs) / max(n_cand, 1)
    found = {(int(a), int(b)) for a, b, _ in pairs}
    planted = [tuple(sorted(p)) for p in wl.exp.near_pairs]
    m["operators.dedup.planted_recall"] = (
        sum(1 for p in planted if p in found) / len(planted))

    for df in cached:
        df.unpersist()
    return m


class _CountingTokenizer:
    def __init__(self):
        self._tok = RegexTokenizer()
        self.calls = 0
        self.seconds = 0.0

    def count(self, text: str) -> int:
        t0 = time.perf_counter()
        n = self._tok.count(text)
        self.seconds += time.perf_counter() - t0
        self.calls += 1
        return n

    def truncate(self, text: str, max_tokens: int) -> str:
        t0 = time.perf_counter()
        out = self._tok.truncate(text, max_tokens)
        self.seconds += time.perf_counter() - t0
        return out


class _TimedSplitter:
    def __init__(self):
        self.seconds = 0.0

    def __call__(self, text: str) -> list[str]:
        t0 = time.perf_counter()
        out = split_sentences(text)
        self.seconds += time.perf_counter() - t0
        return out


def microtrace(wl: Workload, reps: int = 3) -> dict:
    """Single-process split / count / fold times on a fixed-size seeded
    sample of the workload's valid documents (long-tail ones excluded)."""
    rng = np.random.default_rng([wl.seed, 11])
    skip = set(wl.exp.long_tail_ids) | set(wl.exp.invalid_ids)
    texts, size = [], 0
    for i in rng.permutation(sorted(wl.texts)):
        if int(i) in skip:
            continue
        texts.append(wl.texts[int(i)])
        size += len(texts[-1].encode())
        if size >= MICRO_SAMPLE_BYTES:
            break
    kb = size / 1024
    split_s, count_s, fold_s, calls = [], [], [], 0
    for _ in range(reps):
        t0 = time.perf_counter()
        sents = [s for t in texts for s in split_sentences(t)]
        split_s.append(time.perf_counter() - t0)
        tok = RegexTokenizer()
        t0 = time.perf_counter()
        for s in sents:
            tok.count(s)
        count_s.append(time.perf_counter() - t0)
        ctok, splitter = _CountingTokenizer(), _TimedSplitter()
        t0 = time.perf_counter()
        for t in texts:
            split_text_into_chunks(t, tokenizer=ctok, sentence_splitter=splitter)
        total = time.perf_counter() - t0
        fold_s.append(total - ctok.seconds - splitter.seconds)
        calls = ctok.calls
    sent_kb = sum(len(s.encode()) for s in sents) / 1024
    return {
        "sentences.split_us_per_kb": statistics.median(split_s) * 1e6 / kb,
        "tokenizer.count_us_per_kb": statistics.median(count_s) * 1e6 / sent_kb,
        "tokenizer.count_calls_per_sentence": calls / len(sents),
        "operators.chunking.fold_us_per_kb": statistics.median(fold_s) * 1e6 / kb,
    }


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

def _set_up(wl: Workload, tr, work_dir: str) -> tuple[object, list[float]]:
    """SETUP_REPS full set-ups; the first also launches the JVM, later ones
    stop the session and build it again in the same JVM."""
    spark, took = None, []
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with tr.span("setup"):
            with tr.span("session.build"):
                spark = build(work_dir)
            if isinstance(tr, Tracer):
                tr.sc = spark.sparkContext
            with tr.span("session.first_udf_job", spark=True):
                warm_workers(spark)
            wl.setup(spark, tr)
        took.append(time.perf_counter() - t0)
    return spark, took


def _run_op(wl: Workload, i: int, tr) -> tuple[bool, object]:
    try:
        return True, wl.op(i, tr)
    except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        return False, None


def _check(wl: Workload, results: list[tuple[int, bool, object]],
           whole: list[str]) -> OpCounter:
    """Per-op checks, plus the whole-output check ``whole`` as one op."""
    ops = OpCounter()
    for i, ok, out in results:
        errors = wl.check_op(i, out) if ok else []
        for e in errors:
            print(f"check failed: op {i}: {e}", file=sys.stderr)
        ops.record(ok and not errors)
    for e in whole:
        print(f"check failed: {e}", file=sys.stderr)
    ops.record(not whole)
    return ops


def _loop(wl: Workload, first: int, seconds: float, *, min_ops: int = 1,
          tr: Tracer | None = None) -> tuple[list, list[float]]:
    """Ops numbered from ``first`` until ``seconds`` have passed.  With a
    tracer, every second op runs inside a traced ``op`` span.
    → ([(i, ok, output)], wall seconds of the ops that completed, with
    None for the traced ones when a tracer is given)."""
    results, walls = [], []
    null = NullTracer()
    deadline = time.perf_counter() + seconds
    i = first
    while i < first + min_ops or time.perf_counter() < deadline:
        traced = tr is not None and (i - first) % 2 == 1
        t0 = time.perf_counter()
        if traced:
            with tr.span("op", op_id=i, spark=True):
                ok, out = _run_op(wl, i, tr)
        else:
            ok, out = _run_op(wl, i, null)
        if ok:
            walls.append((traced, time.perf_counter() - t0))
        results.append((i, ok, out))
        i += 1
    return results, walls


def run(name: str, seed: int, seconds: float, trace: bool,
        work_dir: str, trace_dir: str) -> dict:
    phases = [("start", time.perf_counter())]
    wl = WORKLOADS[name](seed, work_dir)
    phases.append(("generate", time.perf_counter()))
    tr = Tracer() if trace else NullTracer()
    spark, setups = _set_up(wl, tr, work_dir)
    phases.append(("set_up", time.perf_counter()))
    whole = wl.check()
    phases.append(("check", time.perf_counter()))
    # JIT-compile the Spark code paths before timing: without this the
    # first few seconds of ops run up to 1.5x slower
    warm, _ = _loop(wl, 0, WARM_SECONDS)
    phases.append(("warm", time.perf_counter()))

    info = {"workload": name, "seed": seed, "nproc": nproc(),
            "spark": spark.version, "input": wl.size, "warm_ops": len(warm)}
    if not trace:
        with PeakRss() as mem:
            results, walls = _loop(wl, len(warm), seconds)
        ops = _check(wl, warm + results, whole)
        lat = [w for _, w in walls]
        if not lat:
            raise RuntimeError("no op completed")
        s = summarize(lat)
        # throughput per median op, so one stalled op does not move it
        metrics = {
            "setup_s": statistics.median(setups),
            "docs_per_s": wl.exp.n_docs / s["median"],
            "mb_per_s": wl.exp.n_bytes / s["median"] / 1e6,
            "latency_p50_ms": s["median"] * 1e3,
            "latency_p90_ms": s["p90"] * 1e3,
            "peak_rss_mb": mem.peak_mb,
        }
        info["latency"] = {k: v for k, v in s.items() if k != "median"}
        info["setup_s_each"] = setups
        info["op_s"] = [round(x, 4) for x in lat]
        units = {k: u for k, (u, _) in END_TO_END.items()}
    else:
        metrics, ops, extra = _traced(wl, tr, seconds, setups, warm, whole)
        info.update(extra)
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{name}-seed{seed}.json")
        tr.write(path)
        info["trace_file"] = os.path.relpath(path)
        units = PER_LAYER
    phases.append(("measure", time.perf_counter()))
    info["phase_s"] = {k: round(t - phases[j][1], 2)
                       for j, (k, t) in enumerate(phases[1:])}
    info["error_rate"] = ops.error_rate
    return {
        "info": info,
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                    for k in units},
    }


def _traced(wl: Workload, tr: Tracer, seconds: float, setups: list[float],
            warm: list, whole: list[str]):
    m = {}
    m["session.build_s"] = statistics.median(
        _dur(s) for s in tr.by_name("session.build"))
    m["session.first_udf_job_s"] = statistics.median(
        _dur(s) for s in tr.by_name("session.first_udf_job"))
    with tr.span("suite"):
        m.update(layer_suite(wl, tr))
    m.update(microtrace(wl))

    # traced and untraced ops alternate, so the overhead is measured on
    # the same box state
    results, walls = _loop(wl, len(warm), seconds, min_ops=2, tr=tr)
    ops = _check(wl, warm + results, whole)

    op_spans = [s for s in tr.by_name("op") if "spark" in s]
    for k in SPARK_COUNTERS:
        if k != "max_task_s":
            m[f"spark.{k}"] = statistics.median(s["spark"][k] for s in op_spans)
    # an op that calls the engine gives engine.build_ms; otherwise the
    # suite's embed_documents build stands
    builds = [_dur(s) for s in tr.by_name("engine.build")]
    if builds:
        m["engine.build_ms"] = statistics.median(builds) * 1e3
    untraced = statistics.median(w for t, w in walls if not t)
    m["trace.overhead_frac"] = (
        statistics.median(w for t, w in walls if t) / untraced - 1.0)
    extra = {"untraced_op_s": untraced, "setup_s_each": setups}
    if isinstance(wl, BatchEmbed):
        # the op is the same validate → chunk → encode pipeline the suite
        # splits into layers
        extra["chunk_plus_encode_share_of_op"] = (
            m["operators.chunking.chunk_s"] + m["operators.encoding.encode_s"]
        ) / untraced
    return m, ops, extra
