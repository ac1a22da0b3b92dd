"""Pure helpers for the benchmark: percentiles, span self-times and the
catalog family grouping. Nothing here imports Spark."""

from __future__ import annotations

import re
import statistics
from collections import Counter
from collections.abc import Iterable
from dataclasses import dataclass

#: the percentiles the tail rule may report, highest last
TAIL_GRID = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10

#: families the catalog had when the benchmark was defined (first name
#: token with at least FAMILY_MIN_QUERIES queries, ``q<N>`` as ``tpch``);
#: any other token reports under ``other``
FAMILY_MIN_QUERIES = 5
FAMILIES = (
    "agg", "ann", "corpus", "dedup", "events", "graph", "join", "multimodal",
    "sample", "stream", "text", "tpch", "vax", "window", "other",
)
_TPCH = re.compile(r"^q\d+$")


def median(values: Iterable[float]) -> float:
    return statistics.median(list(values))


def percentile(values: Iterable[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """Highest percentile of TAIL_GRID with at least TAIL_MIN_BEYOND of
    ``n`` samples beyond it, or None when even the median has fewer."""
    best = None
    for p in TAIL_GRID:
        if n * (100.0 - p) >= 100.0 * TAIL_MIN_BEYOND - 1e-9:  # float-safe
            best = p
    return best


def first_token(name: str) -> str:
    token = name.split("_", 1)[0]
    return "tpch" if _TPCH.match(token) else token


def family_map(names: Iterable[str]) -> dict[str, str]:
    """query name -> family, by the rule in FAMILIES' comment."""
    names = list(names)
    counts = Counter(first_token(n) for n in names)
    out = {}
    for n in names:
        t = first_token(n)
        fam = t if counts[t] >= FAMILY_MIN_QUERIES else "other"
        out[n] = fam if fam in FAMILIES else "other"
    return out


@dataclass(frozen=True)
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: Iterable[Span]) -> dict[str, float]:
    """Summed self time per span name: each span's duration minus the
    part of its interval that its direct children cover."""
    spans = list(spans)
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        clipped = [
            (max(a, s.start), min(b, s.end))
            for a, b in children.get(s.id, [])
            if b > s.start and a < s.end
        ]
        out[s.name] = out.get(s.name, 0.0) + s.duration - _covered(clipped)
    return out
