"""Pure helpers for the benchmark: percentiles, span self-time, the
per-layer ledger. No Spark import, so they are unit-tested on their own."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass


@dataclass(frozen=True)
class Span:
    """One traced call. ``parent`` is the id of the span that caused it
    (None for a root); times are seconds on one monotonic clock."""

    id: int
    name: str
    parent: int | None
    start: float
    end: float

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


# a reported tail percentile keeps at least this many samples beyond it
TAIL_BEYOND = 10
# the crawl loop's layer, whose calls hold the others, and the tracer's own
LOOP_LAYER = "wave"
OVERHEAD_LAYER = "trace"


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile NN that still has at least TAIL_BEYOND of
    ``n`` samples above it: NN = floor(100 * (1 - TAIL_BEYOND / n)). None
    when no percentile at or above the median qualifies."""
    if n < 2 * TAIL_BEYOND:
        return None
    return math.floor(100 * (1 - TAIL_BEYOND / n) + 1e-9)


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile (the sample that ``pct`` percent of the
    samples are at or below)."""
    if not values:
        return 0.0
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100 * len(ordered)))
    return float(ordered[rank - 1])


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's share of the time it was a leaf among the open spans.

    At every instant the open spans that have no open child split the
    instant equally. Without concurrency this is the usual self-time
    (duration minus the part children cover); concurrent siblings, such as
    the table writes of one snapshot commit, share the overlap instead of
    counting it twice. The shares of all spans add up to the length of the
    union of the spans."""
    out = {s.id: 0.0 for s in spans}
    edges = sorted({t for s in spans for t in (s.start, s.end)})
    for lo, hi in zip(edges, edges[1:]):
        if hi <= lo:
            continue
        open_ids = {s.id for s in spans if s.start <= lo and s.end >= hi}
        if not open_ids:
            continue
        parents = {s.parent for s in spans if s.id in open_ids}
        leaves = [i for i in open_ids if i not in parents]
        share = (hi - lo) / len(leaves)
        for i in leaves:
            out[i] += share
    return out


def ledger(spans: list[Span], wall: float) -> dict:
    """Self-time per span name and per layer, and how much of ``wall`` the
    named layers account for.

    LOOP_LAYER's calls (``run_wave``, ``invalidate``) hold the other layers;
    its own self-time is what no wrapped layer explains. ``coverage`` =
    self-time of every other layer except OVERHEAD_LAYER / (``wall`` minus
    the overhead layer's self-time), so the tracer's own counting jobs
    neither count as a layer nor dilute one."""
    st = self_times(spans)
    by_name: dict[str, float] = {}
    by_layer: dict[str, float] = {}
    for s in spans:
        by_name[s.name] = by_name.get(s.name, 0.0) + st[s.id]
        by_layer[s.layer] = by_layer.get(s.layer, 0.0) + st[s.id]
    overhead = by_layer.get(OVERHEAD_LAYER, 0.0)
    attributed = sum(v for k, v in by_layer.items() if k not in (LOOP_LAYER, OVERHEAD_LAYER))
    engine_wall = wall - overhead
    return {
        "wall_s": wall,
        "covered_s": sum(by_layer.values()),
        "attributed_s": attributed,
        "overhead_s": overhead,
        "coverage": attributed / engine_wall if engine_wall > 0 else 0.0,
        "by_layer": by_layer,
        "by_name": by_name,
    }


def wall_by_name(spans: list[Span]) -> dict[str, float]:
    """Summed duration per span name (busy time, overlap counted per span)."""
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
    return out


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, as ``statistics.quantiles(values, n=4)`` gives
    the quartiles; 0 for fewer than two values."""
    if len(values) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def sig(x: float) -> float:
    """Round to 6 significant digits (keeps the headline short while every
    value still carries its measured digits)."""
    if not math.isfinite(x):
        return 0.0  # JSON has no NaN or infinity
    if x == 0:
        return x
    return round(x, 5 - math.floor(math.log10(abs(x))))
