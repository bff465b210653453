"""Deterministic, dependency-free tokenizer.

The reference counts tokens with the HuggingFace tokenizer of
``freelawproject/modernbert-embed-base_finetune_512``
(``/root/reference/inception/main.py:53-55``) — unavailable in this
environment (no ``transformers``).  This module provides a deterministic
BPE-ish stand-in with the same *interface contract* the chunker needs
(count tokens, truncate to N tokens) plus one extra property the reference
lacks: **the exact same tokenization is expressible as a single regex in
Spark SQL (`regexp_extract_all`) and DuckDB**, which makes token counts
oracle-checkable end to end.

Token rule (one regex, greedy, leftmost — identical semantics in Python
``re``, Java regex, and RE2):

* a run of up to 4 ASCII letters  (sub-word pieces, BPE-ish),
* or a single digit               (digits-are-single-tokens, GPT-style),
* or a single non-alphanumeric, non-whitespace character.

Whitespace never produces tokens.  Any object with the :class:`Tokenizer`
interface (e.g. a thin wrapper over a HuggingFace tokenizer) can be passed to
``split_text_into_chunks(tokenizer=...)`` instead.
"""

from __future__ import annotations

import re
from typing import Protocol

#: Keep in sync with TOKEN_REGEX_SQL below and oracle SQL in __spark_entry__.
#: Whitespace is an EXPLICIT ASCII class, not ``\s``: Python ``re`` treats
#: ``\s`` as Unicode-aware while Java regex and RE2 default to ASCII-only,
#: so ``\s`` made the Python chunker and the JVM/DuckDB token counters
#: disagree on text containing U+00A0 etc. (advisor finding, round 1).
#: With the explicit class all three engines tokenize identically: Unicode
#: whitespace counts as a single punctuation-class token everywhere.
TOKEN_PATTERN = "[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9 \t\n\r\f\x0B]"
#: Same pattern for embedding in Spark/DuckDB SQL string literals (escape
#: sequences spelled out so the literal survives SQL quoting verbatim).
TOKEN_PATTERN_SQL = r"[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9 \t\n\r\f\x0B]"

_TOKEN_RE = re.compile(TOKEN_PATTERN)


class Tokenizer(Protocol):
    """What the chunker needs (mirrors the slice of AutoTokenizer used at
    reference embedding_service.py:86-146: encode → len, encode → decode)."""

    def count(self, text: str) -> int: ...
    def truncate(self, text: str, max_tokens: int) -> str: ...


class RegexTokenizer:
    """Span-preserving regex tokenizer.

    ``truncate`` returns the *original substring* up to the end of the Nth
    token (the reference instead round-trips ``decode(tokens[:n])``, which
    normalizes whitespace; substring semantics preserve content exactly,
    which is strictly stronger for the content-preservation invariant at
    reference tests/test_embedding_service.py:309-315).
    """

    def count(self, text: str) -> int:
        return len(_TOKEN_RE.findall(text))

    def truncate(self, text: str, max_tokens: int) -> str:
        if max_tokens <= 0:
            return ""
        for i, m in enumerate(_TOKEN_RE.finditer(text)):
            if i == max_tokens - 1:
                return text[: m.end()]
        return text
