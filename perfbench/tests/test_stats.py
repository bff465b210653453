import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench.stats import (  # noqa: E402
    OpCounter,
    covered,
    nearest_rank,
    self_times,
    summarize,
    tail_percentile,
)
from perfbench.trace import NullTracer, Tracer  # noqa: E402


def test_nearest_rank():
    v = list(range(1, 101))
    assert nearest_rank(v, 50) == 50
    assert nearest_rank(v, 90) == 90
    assert nearest_rank(v, 100) == 100
    assert nearest_rank([3.0], 90) == 3.0
    assert nearest_rank([5, 1, 3], 50) == 3
    with pytest.raises(ValueError):
        nearest_rank([], 50)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(10) is None
    assert tail_percentile(11) == 9
    assert tail_percentile(100) == 90
    assert tail_percentile(65) == 84
    for n in range(11, 400):
        p = tail_percentile(n)
        v = list(range(n))
        beyond = sum(1 for x in v if x > nearest_rank(v, p))
        assert beyond >= 10, (n, p)
        # one percent higher leaves fewer than ten beyond
        higher = nearest_rank(v, p + 1)
        assert sum(1 for x in v if x > higher) < 10, (n, p)


def test_summarize_reports_counts_and_tail():
    s = summarize([float(x) for x in range(1, 101)])
    assert s["n"] == 100 and s["median"] == 50.5 and s["p90"] == 90.0
    assert s["p90_has_tail"] and s["tail_pct"] == 90
    small = summarize([1.0, 2.0, 3.0])
    assert small["n"] == 3 and small["tail"] is None
    assert not small["p90_has_tail"]


def test_op_counter():
    c = OpCounter()
    assert c.error_rate == 0.0
    for ok in (True, True, False, True):
        c.record(ok)
    assert (c.attempted, c.failed) == (4, 1)
    assert c.error_rate == 0.25


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5)], 0, 10) == 4
    assert covered([(-5, 2), (8, 20)], 0, 10) == 4
    assert covered([(1, 2), (1, 2)], 0, 10) == 1


def test_self_times():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "parent": 1, "start": 1.5, "end": 2.0},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(5.0)   # children cover [1, 6]
    assert st[1] == pytest.approx(2.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(0.5)


def test_tracer_nests_spans_and_writes_self_time(tmp_path):
    tr = Tracer()
    with tr.span("op", op_id=7) as outer:
        with tr.span("inner") as inner:
            tr.count(inner, rows=3)
    assert inner["parent"] == outer["id"] and inner["op_id"] == 7
    path = tmp_path / "t.json"
    tr.write(str(path))
    spans = json.loads(path.read_text())
    assert [s["name"] for s in spans] == ["op", "inner"]
    assert spans[1]["counts"] == {"rows": 3}
    assert 0 <= spans[0]["self_s"] <= spans[0]["end"] - spans[0]["start"]
    with NullTracer().span("x") as s:
        assert s == {}
