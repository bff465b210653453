"""The output checks accept correct outputs and refuse deliberately wrong
ones."""

import hashlib
import os
import sys
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import checks, corpus  # noqa: E402
from inception_spark.operators.chunking import split_text_into_chunks  # noqa: E402
from inception_spark.operators.encoding import HashingStubEncoder  # noqa: E402


@pytest.fixture(scope="module")
def docs():
    rows, exp = corpus.generate("near_dup", 5)
    return exp, dict(rows)


def _rows(texts, **chunker_kw):
    enc = HashingStubEncoder(dim=768)
    out = []
    for doc_id, text in texts.items():
        chunks = split_text_into_chunks(text, **chunker_kw)
        vecs = enc.encode([corpus.LEAD_DOCUMENT + c for c in chunks])
        for i, (c, v) in enumerate(zip(chunks, vecs)):
            out.append((doc_id, i + 1, hashlib.md5(c.encode()).hexdigest(),
                        corpus.count_tokens(c) + corpus.LEAD_LEN, list(v)))
    return out


def _long_doc():
    """A few multi-chunk documents, one of them with a run-on sentence."""
    rows, _ = corpus.generate("query_search", 3)
    long = [(i, t) for i, t in rows if len(t) > 8000]
    return dict(long[:4])


def test_chunks_pass_when_correct():
    texts = _long_doc()
    assert checks.check_chunks(texts, _rows(texts)) == []


def test_chunks_fail_with_overlap_dropped():
    texts = _long_doc()
    wrong = _rows(texts, num_overlap_sentences=0)
    assert checks.check_chunks(texts, wrong)


def test_chunks_fail_on_missing_doc_or_bad_vector():
    texts = _long_doc()
    rows = _rows(texts)
    first = rows[0][0]
    assert checks.check_chunks(texts, [r for r in rows if r[0] != first])
    bad = list(rows)
    v = list(bad[0][4])
    v[0] += 1e-3
    bad[0] = bad[0][:4] + (v,)
    assert checks.check_chunks(texts, bad)


def _naive_topk(ids, emb, q, k=10):
    """Loop version of the brute force: sequential double sums, HALF_UP
    rounding on the decimal string."""
    qd = [float(x) for x in q]
    nq = sum(x * x for x in qd) ** 0.5
    scored = []
    for (d, c), row in zip(ids, emb):
        a = [float(x) for x in row]
        dot = 0.0
        na = 0.0
        for x, y in zip(a, qd):
            dot += x * y
        for x in a:
            na += x * x
        cos = dot / (na ** 0.5 * nq)
        s = float(Decimal(repr(cos)).quantize(Decimal("0.000001"), ROUND_HALF_UP))
        scored.append((-s, int(d), int(c)))
    scored.sort()
    return [(d, c, -s, r + 1) for r, (s, d, c) in enumerate(scored[:k])]


def _table(n=300, seed=1):
    rng = np.random.default_rng(seed)
    ids = np.array([(i // 3, i % 3 + 1) for i in range(n)], dtype=np.int64)
    emb = rng.standard_normal((n, 768)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    # planted ties: identical vectors under different ids
    emb[10] = emb[200]
    return ids, emb


def test_brute_force_matches_loop_reference():
    ids, emb = _table()
    q = emb[200] * 0.9 + emb[5] * 0.1
    assert checks.brute_force_topk(ids, emb, q) == _naive_topk(ids, emb, q)


def test_topk_fails_when_shifted_by_one_rank():
    ids, emb = _table()
    q = checks.query_vector("motion to dismiss")
    want = checks.brute_force_topk(ids, emb, q)
    assert checks.check_topk(want, want) == []
    full = checks.brute_force_topk(ids, emb, q, k=11)
    shifted = [(d, c, s, r - 1) for d, c, s, r in full[1:]]
    assert checks.check_topk(shifted, want)
    reranked = [(d, c, s, r + 1 if r < 10 else 1) for d, c, s, r in want]
    assert checks.check_topk(reranked, want)


def test_round_half_up_matches_spark_rule():
    assert checks.round_half_up(2.5, 0) == 3.0
    assert checks.round_half_up(0.12345650, 7) == 0.1234565
    assert checks.round_half_up(0.00000049, 6) == 0.0
    assert checks.round_half_up(0.0000005, 6) == 0.000001


def test_exact_groups(docs):
    exp, _ = docs
    rows = []
    for g in exp.exact_groups:
        rows += [(d, g[0], len(g)) for d in g]
    rows += [(10_000 + i, 10_000 + i, 1) for i in range(5)]
    assert checks.check_exact_groups(rows, exp.exact_groups) == []
    assert checks.check_exact_groups(rows[1:], exp.exact_groups)
    wrong_keeper = [(d, g[-1], len(g)) for g in exp.exact_groups for d in g]
    assert checks.check_exact_groups(wrong_keeper, exp.exact_groups)


def test_jaccard(docs):
    exp, texts = docs
    pairs = [(a, b, checks.jaccard(texts[a], texts[b]))
             for a, b in (sorted(p) for p in exp.near_pairs)]
    assert all(j >= 0.5 for _, _, j in pairs)
    assert checks.check_jaccard(pairs, texts) == []
    a, b, j = pairs[0]
    assert checks.check_jaccard([(a, b, round(j - 0.0001, 4))], texts)
    assert checks.check_jaccard([(b, a, j)], texts)
