"""Small statistics helpers: latency summaries, op accounting, span self time."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass

#: a tail percentile is only reported with at least this many samples
#: beyond it
TAIL_SAMPLES = 10


def nearest_rank(values: list[float], pct: float) -> float:
    """The ``pct``-th percentile by nearest rank: the smallest sample with at
    least ``pct`` percent of the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(n: int, beyond: int = TAIL_SAMPLES) -> int | None:
    """Highest whole percentile whose nearest-rank sample has at least
    ``beyond`` samples above it, or None when ``n`` is too small."""
    if n <= beyond:
        return None
    return math.floor(100.0 * (n - beyond) / n)


def summarize(values: list[float]) -> dict:
    """Median, p90 and the highest percentile with ``TAIL_SAMPLES`` samples
    beyond it, with the sample count.  The p90 is reported at any sample
    count; ``p90_has_tail`` says whether it has enough samples beyond it."""
    n = len(values)
    tail = tail_percentile(n)
    return {
        "n": n,
        "median": statistics.median(values),
        "p90": nearest_rank(values, 90),
        "p90_has_tail": tail is not None and tail >= 90,
        "tail_pct": tail,
        "tail": nearest_rank(values, tail) if tail is not None else None,
    }


@dataclass
class OpCounter:
    """Ops attempted against ops failed (raised, or failed an output
    check).  Quarantined documents are outputs, not failures."""

    attempted: int = 0
    failed: int = 0

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id → duration minus the part of it covered by its children.
    Each span is a dict with ``id``, ``parent``, ``start`` and ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }
