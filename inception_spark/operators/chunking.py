"""Token-budgeted sentence chunker — the algorithmic heart of the reference.

Re-implements ``split_text_into_chunks``
(``/root/reference/inception/embedding_service.py:80-150``) as an
Arrow-vectorized pandas UDF ``text → array<string>`` followed by
``posexplode`` for chunk fan-out (C3, embedding_service.py:179-200).

Semantics preserved (verified by the invariant tests ported from
reference tests/test_embedding_service.py:269-476):

* fold sentences into chunks whose token count — **including** the
  ``"search_document: "`` lead prefix — never exceeds ``max_tokens``;
* a single sentence over budget is truncated to ``max_tokens - lead_len``
  tokens and emitted as its own chunk, and the running chunk restarts with
  no overlap (reference :100-113);
* on normal overflow the next chunk starts with the last
  ``num_overlap_sentences`` sentences, unless overlap + sentence would
  itself overflow, in which case no overlap (reference :116-141);
* sentences within a chunk are joined with single spaces (reference joins
  ``" ".join(...)`` of decode()d sentences, :105,148);
* chunk_number is 1-based per document (reference :241).

Scale design (SURVEY.md §4 risks a/b): the UDF emits *chunk arrays*;
``posexplode`` happens JVM-side so one 10M-char document fans out to
thousands of rows **before** the (expensive) embedding stage.  Arrow batch
size is capped by the session (``maxRecordsPerBatch``) to bound memory with
10MB strings.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from inception_spark.config import DEFAULT_CONFIG, EngineConfig
from inception_spark.sentences import split_sentences
from inception_spark.tokenizer import (
    TOKEN_PATTERN_SQL,
    RegexTokenizer,
    Tokenizer,
)


def split_text_into_chunks(
    text: str,
    *,
    tokenizer: Tokenizer | None = None,
    sentence_splitter: Callable[[str], list[str]] = split_sentences,
    max_tokens: int = DEFAULT_CONFIG.max_tokens,
    num_overlap_sentences: int = DEFAULT_CONFIG.num_overlap_sentences,
    lead_text: str = DEFAULT_CONFIG.lead_document,
) -> list[str]:
    """Pure-Python chunker (one document).  Returns chunks *without* the lead
    prefix (the reference strips it on output, embedding_service.py:221-223;
    we never materialize it outside the encoder — SURVEY.md §7.2.4).
    Token accounting still includes the lead, for budget parity.
    """
    tok = tokenizer or RegexTokenizer()
    sentences = sentence_splitter(text)
    if not sentences:
        return []
    lead_len = tok.count(lead_text)
    budget = max_tokens

    chunks: list[str] = []
    current: list[str] = []          # sentences of the in-progress chunk
    current_tokens = lead_len

    for sentence in sentences:
        s_len = tok.count(sentence)

        # (i) single sentence over budget → flush, emit truncated, reset
        if lead_len + s_len > budget:
            if current:
                chunks.append(" ".join(current))
            chunks.append(tok.truncate(sentence, budget - lead_len))
            current = []
            current_tokens = lead_len
            continue

        # (ii) adding sentence overflows → flush, restart with overlap
        if current_tokens + s_len > budget:
            overlap = current[-num_overlap_sentences:] if num_overlap_sentences > 0 else []
            if current:
                chunks.append(" ".join(current))
            overlap_tokens = tok.count(" ".join(overlap)) if overlap else 0
            if lead_len + overlap_tokens + s_len > budget:
                current = [sentence]
                current_tokens = lead_len + s_len
            else:
                current = overlap + [sentence]
                current_tokens = lead_len + overlap_tokens + s_len
            continue

        # (iii) fits → append
        current.append(sentence)
        current_tokens += s_len

    if current:
        chunks.append(" ".join(current))
    return chunks


def make_chunk_udf(config: EngineConfig = DEFAULT_CONFIG):
    """Arrow-vectorized ``text → array<string>`` chunker UDF.

    Iterator form so per-worker state (tokenizer) initializes once per
    Python worker — the Spark analogue of the reference's thread-local
    tokenizer (embedding_service.py:23,58-62).
    """
    max_tokens = config.max_tokens
    n_overlap = config.num_overlap_sentences
    lead = config.lead_document

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def chunk_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        tok = RegexTokenizer()  # per-worker singleton (O4)
        for s in batches:
            yield s.map(
                lambda t: split_text_into_chunks(
                    t if isinstance(t, str) else "",
                    tokenizer=tok,
                    max_tokens=max_tokens,
                    num_overlap_sentences=n_overlap,
                    lead_text=lead,
                )
            )

    return chunk_udf


def token_count_expr(col: Column) -> Column:
    """JVM-side token count using the same regex as RegexTokenizer —
    keeps chunk statistics out of Python entirely."""
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_PATTERN_SQL), F.lit(0)))


def chunk_documents(
    df: DataFrame,
    config: EngineConfig = DEFAULT_CONFIG,
    *,
    id_col: str = "id",
    text_col: str = "text",
    passthrough_cols: tuple[str, ...] = (),
) -> DataFrame:
    """documents(id, text) → CHUNKS(doc_id, [passthrough...], chunk_number,
    chunk, n_tokens).

    ``posexplode`` runs JVM-side after the Python UDF returns arrays, so the
    expensive downstream stages see row-per-chunk granularity.  ``n_tokens``
    counts chunk tokens + lead tokens (what the encoder will actually see).
    ``passthrough_cols`` ride along unchanged (e.g. event_time on the
    streaming path) so batch and streaming share ONE chunk-row contract.
    """
    lead_len = RegexTokenizer().count(config.lead_document)
    chunked = df.select(
        F.col(id_col).alias("doc_id"),
        *passthrough_cols,
        F.posexplode(make_chunk_udf(config)(F.col(text_col))).alias(
            "pos", "chunk"
        ),
    )
    return chunked.select(
        "doc_id",
        *passthrough_cols,
        (F.col("pos") + 1).cast("int").alias("chunk_number"),
        "chunk",
        (token_count_expr(F.col("chunk")) + F.lit(lead_len))
        .cast("int")
        .alias("n_tokens"),
    )
