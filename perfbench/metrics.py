"""The benchmark's arithmetic: summary statistics and span times.

Kept free of Spark so the tests can check it on hand-made inputs.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional


def tail(samples: list[float]) -> tuple[float, float]:
    """``(percentile, value)``: the highest nearest-rank percentile with
    at least ten samples beyond it.  Up to 20 samples that percentile
    would sit at or below the median, so the maximum is reported and
    marked as the 100th percentile."""
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    n = len(xs)
    if n <= 20:
        return 100.0, xs[-1]
    rank = n - 10  # 1-based: exactly ten samples lie beyond it
    return 100.0 * rank / n, xs[rank - 1]


def ratio(numerator: float, denominator: float) -> float:
    if denominator <= 0:
        raise ValueError(f"ratio with non-positive base {denominator}")
    return numerator / denominator


def bytes_written_per_input_byte(written: list[int], read: list[int]) -> float:
    """Bytes landed under the destination over source bytes read,
    summed over the operations."""
    return ratio(sum(written), sum(read))


@dataclass
class Span:
    """One call into a layer.  Times are seconds since the epoch."""

    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: Optional[int]
    op: int

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
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


def _clipped_children(spans: list[Span]) -> dict[int, list[tuple[float, float]]]:
    """Each span's children, cut to the span's own interval."""
    by_id = {s.id: s for s in spans}
    kids: dict[int, list[tuple[float, float]]] = {s.id: [] for s in spans}
    for s in spans:
        p = by_id.get(s.parent)
        if p is not None and s.end > p.start and s.start < p.end:
            kids[p.id].append((max(s.start, p.start), min(s.end, p.end)))
    return kids


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part its children cover.
    Children running in parallel are covered once, by their union."""
    kids = _clipped_children(spans)
    return {s.id: s.duration - union_length(kids[s.id]) for s in spans}


def sibling_overlap(spans: list[Span]) -> float:
    """Seconds during which children of one span ran at once, summed
    over spans: what the self times count twice.  While every span lies
    inside its parent, ``sum(self_times) - root duration`` equals this,
    and it is 0 when no parallel spans overlap."""
    return sum(
        sum(b - a for a, b in kids) - union_length(kids)
        for kids in _clipped_children(spans).values()
    )
