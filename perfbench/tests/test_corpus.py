import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import checks, corpus  # noqa: E402
from inception_spark.functions.cleaning import clean_text_py  # noqa: E402
from inception_spark.operators.chunking import split_text_into_chunks  # noqa: E402
from inception_spark.sentences import split_sentences  # noqa: E402


@pytest.fixture(scope="module", params=sorted(corpus.SPECS))
def generated(request):
    rows, exp = corpus.generate(request.param, 3)
    return request.param, rows, exp


def test_same_seed_same_content_other_seed_differs():
    a = corpus.generate("near_dup", 1)[1].content_sha256
    b = corpus.generate("near_dup", 1)[1].content_sha256
    c = corpus.generate("near_dup", 2)[1].content_sha256
    assert a == b != c


def test_expected_chunks_match_the_chunker(generated):
    _, rows, exp = generated
    assert sum(len(split_text_into_chunks(t)) for _, t in rows) == exp.n_chunks


def test_counts_and_plants(generated):
    kind, rows, exp = generated
    spec = corpus.SPECS[kind]
    texts = dict(rows)
    assert exp.n_docs == len(rows) == spec.n_docs
    assert exp.n_bytes == sum(len(t.encode()) for t in texts.values())
    assert len(exp.invalid_ids) == exp.n_invalid
    assert all(not texts[i].strip() for i in exp.invalid_ids)
    assert [len(texts[i]) >= 2_000_000 for i in exp.long_tail_ids] == [
        True] * len(spec.long_tail_bytes)
    for g in exp.exact_groups:
        assert len({texts[i] for i in g}) == 1 and 2 <= len(g) <= 3
    for a, b in exp.near_pairs:
        assert texts[a] != texts[b]
        assert checks.jaccard(texts[a], texts[b]) >= 0.5
    if spec.run_on_share:
        assert exp.n_run_on > 0
    if kind == "batch_embed":
        # far above the chunker's 4096-entry token-count cache
        assert exp.n_distinct_sentences > 10 * 4096


def test_citations_do_not_split_sentences():
    text = ("The court held in Brown v. Board, 347 U.S. 483 (1954), that "
            "No. 12-3456 and 12 F.2d 34 control. Next sentence here.")
    assert len(split_sentences(text)) == 2


def test_queries_are_distinct_and_clean_as_stated():
    qs = corpus.queries(5, 500)
    assert len({q for q, _ in qs}) == 500
    assert all(clean_text_py(q) == c for q, c in qs)
    assert sum(q != c for q, c in qs) > 100
    assert corpus.queries(5, 50) == qs[:50]
