"""Pure arithmetic the benchmark reports with: percentiles, the tail rule,
unions of intervals and span self time. No Spark, no I/O."""

from __future__ import annotations

from dataclasses import dataclass, field

# Percentiles the tail rule may pick, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, q: float) -> float:
    """q-th percentile (0..100) by linear interpolation between the two
    nearest ranks (statistics.quantiles' "inclusive" method)."""
    vals = sorted(values)
    if not vals:
        raise ValueError("percentile of no samples")
    pos = (len(vals) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """Highest percentile of TAIL_LADDER with at least `beyond` samples
    above it out of `n`; None when even the median has fewer."""
    for q in TAIL_LADDER:
        if n * (100.0 - q) / 100.0 >= beyond - 1e-9:
            return q
    return None


def union_intervals(intervals) -> list[tuple[float, float]]:
    """Merge (start, end) intervals into disjoint, sorted ones."""
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if e < s:
            continue
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total = 0.0
    for s, e in union_intervals(intervals):
        s, e = max(s, lo), min(e, hi)
        if e > s:
            total += e - s
    return total


@dataclass
class Span:
    """One traced interval. `layer` names the bucket its self time goes
    to; `op` ties spans of one operation together."""

    name: str
    layer: str
    start: float
    end: float
    op: int | None = None
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def nest(spans: list[Span], slack: float = 0.0) -> None:
    """Set each span's `parent` to the innermost span that contains it.

    JVM stamps are whole milliseconds truncated down, so a Spark job can
    appear to start up to `slack` seconds before the Python span that
    launched it; the slack applies to the start only. A parent is never
    shorter than its child; of equal intervals the earlier span in the
    list is the parent."""
    for i, s in enumerate(spans):
        best = None
        for j, p in enumerate(spans):
            if j == i or not (p.start - slack <= s.start and s.end <= p.end):
                continue
            if p.duration < s.duration or (p.duration == s.duration and j > i):
                continue
            if best is None or (p.duration, -j) < (spans[best].duration, -best):
                best = j
        s.parent = best


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the part of it its
    children cover (children may overlap each other; their union counts
    once). Call nest() first. The self times of a tree sum to its root's
    duration whenever siblings are disjoint."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            children.setdefault(s.parent, []).append(
                (max(s.start, p.start), min(s.end, p.end))
            )
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        own = s.duration - covered(children.get(i, []), s.start, s.end)
        out[s.layer] = out.get(s.layer, 0.0) + max(own, 0.0)
    return out
