"""Output checks.  Each takes collected rows and returns a list of error
strings, empty when the output is correct; none of them needs Spark."""

from __future__ import annotations

import hashlib
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from perfbench.corpus import LEAD_DOCUMENT, LEAD_LEN, LEAD_QUERY, count_tokens

DIM = 768
_WORD_RE = re.compile("[a-z0-9]+")


def round_half_up(x: float, places: int) -> float:
    """Spark's ``round`` on a double: HALF_UP on its decimal string."""
    return float(
        Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP)
    )


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


# ---------------------------------------------------------------------------
# batch_embed
# ---------------------------------------------------------------------------

def check_chunks(texts: dict[int, str], rows: list[tuple]) -> list[str]:
    """``rows`` of (doc_id, chunk_number, md5(chunk), n_tokens, embedding)
    for the documents in ``texts`` must equal the single-process chunker
    followed by the stub encoder, with unit-norm 768-d vectors."""
    from inception_spark.operators.chunking import split_text_into_chunks
    from inception_spark.operators.encoding import HashingStubEncoder

    enc = HashingStubEncoder(dim=DIM)
    errors = []
    got: dict[int, list[tuple]] = {}
    for r in rows:
        got.setdefault(int(r[0]), []).append(r)
    for doc_id, text in sorted(texts.items()):
        chunks = split_text_into_chunks(text)
        want = [
            (doc_id, i + 1, _md5(c), count_tokens(c) + LEAD_LEN)
            for i, c in enumerate(chunks)
        ]
        have = sorted(got.pop(doc_id, []), key=lambda r: r[1])
        if [tuple(r[:4]) for r in have] != want:
            errors.append(
                f"doc {doc_id}: chunks differ ({len(have)} rows, "
                f"{len(want)} expected)"
            )
            continue
        if not chunks:
            continue
        vecs = enc.encode([LEAD_DOCUMENT + c for c in chunks])
        emb = np.asarray([r[4] for r in have], dtype=np.float32)
        if emb.shape != (len(chunks), DIM) or not np.array_equal(emb, vecs):
            errors.append(f"doc {doc_id}: embeddings differ from the stub encoder")
        elif np.abs(np.linalg.norm(emb, axis=1) - 1.0).max() > 1e-4:
            errors.append(f"doc {doc_id}: embedding norm off 1")
    for doc_id in got:
        errors.append(f"doc {doc_id}: unexpected chunks")
    return errors


def check_counts(name: str, got: int, want: int) -> list[str]:
    return [] if got == want else [f"{name}: {got}, expected {want}"]


# ---------------------------------------------------------------------------
# query_search
# ---------------------------------------------------------------------------

def query_vector(cleaned: str) -> np.ndarray:
    from inception_spark.operators.encoding import HashingStubEncoder

    return HashingStubEncoder(dim=DIM).encode([LEAD_QUERY + cleaned])[0]


def brute_force_topk(ids: np.ndarray, emb: np.ndarray, q: np.ndarray,
                     k: int = 10) -> list[tuple]:
    """Exact cosine top-k as (doc_id, chunk_number, score, rank): double
    products summed left to right, score rounded half-up to 6 decimals,
    ties broken by (doc_id, chunk_number)."""
    a, qd = emb.astype(np.float64), q.astype(np.float64)
    dot = np.cumsum(a * qd, axis=1)[:, -1]
    na = np.sqrt(np.cumsum(a * a, axis=1)[:, -1])
    nq = np.sqrt(np.cumsum(qd * qd)[-1])
    cos = dot / (na * nq)
    # only rows that can reach the top k after rounding need the exact rule
    floor = np.sort(cos)[-k] - 1e-6 if len(cos) > k else -np.inf
    cand = np.nonzero(cos >= floor)[0]
    scored = sorted(
        (-round_half_up(float(cos[i]), 6), int(ids[i, 0]), int(ids[i, 1]))
        for i in cand
    )[:k]
    return [(d, c, -s, r + 1) for r, (s, d, c) in enumerate(scored)]


def check_topk(got: list[tuple], want: list[tuple]) -> list[str]:
    """Rows of (doc_id, chunk_number, score, rank) must match exactly."""
    g = sorted((int(d), int(c), float(s), int(r)) for d, c, s, r in got)
    w = sorted(want)
    return [] if g == w else [f"top-k differs: got {g[:3]}..., want {w[:3]}..."]


# ---------------------------------------------------------------------------
# near_dup
# ---------------------------------------------------------------------------

def check_exact_groups(rows: list[tuple], planted: list[list[int]]) -> list[str]:
    """``rows`` of (doc_id, keeper_id, group_size): the groups of size > 1
    must be the planted groups, each kept by its smallest id."""
    groups: dict[int, list[int]] = {}
    for doc_id, keeper, size in rows:
        if size > 1:
            groups.setdefault(int(keeper), []).append(int(doc_id))
    got = sorted(sorted(g) for g in groups.values())
    want = sorted(sorted(g) for g in planted)
    errors = []
    if got != want:
        errors.append(f"exact groups: {len(got)} found, {len(want)} planted")
    for keeper, g in groups.items():
        if keeper != min(g):
            errors.append(f"group kept by {keeper}, not its smallest id")
    return errors


def shingle_set(text: str, n: int = 3) -> set[str]:
    w = _WORD_RE.findall(text.lower())
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    union = len(sa | sb)
    return round_half_up(len(sa & sb) / union, 4) if union else 0.0


def check_jaccard(pairs: list[tuple], texts: dict[int, str],
                  threshold: float = 0.5) -> list[str]:
    """Every reported (doc_a, doc_b, jaccard) must equal a recomputation over
    the same 3-word shingles and reach the threshold."""
    errors = []
    for a, b, j in pairs:
        want = jaccard(texts[int(a)], texts[int(b)])
        if not (int(a) < int(b) and float(j) == want and want >= threshold):
            errors.append(f"pair ({a}, {b}): jaccard {j}, recomputed {want}")
    return errors
