"""Pure arithmetic of the benchmark: percentiles, latency, span self time.

No Spark here, so perfbench/tests can pin every rule on synthetic input.
"""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Sequence

#: a tail percentile is reported only with this many samples beyond it
TAIL_SAMPLES = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile below 100 that leaves at least
    ``TAIL_SAMPLES`` samples beyond it under the nearest-rank rule (p88 at
    n=85, p99 at n=1000), or None when no percentile does."""
    for p in range(99, 0, -1):
        if n - math.ceil(p / 100.0 * n) >= TAIL_SAMPLES:
            return p
    return None


def median(values: Iterable[float]) -> float:
    return statistics.median(list(values))


def spread(values: Sequence[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def sink_latencies_ms(
    records: Iterable[tuple[float, int]], since_ms: int, until_ms: int
) -> list[float]:
    """Event-to-sink latency of each ``(arrival_ms, event_time_ms)`` record
    whose event time lies in ``[since_ms, until_ms]``. The event time is
    the record's ``eventTime`` header (windowEndTime = last event + gap),
    so the session gap is excluded."""
    return [
        arrival - event_ms
        for arrival, event_ms in records
        if since_ms <= event_ms <= until_ms
    ]


def self_times(spans: Sequence[dict]) -> dict[str, float]:
    """Self time per span id: the span's duration minus the part of its
    interval that its child spans cover (children may overlap each other
    or stick out of the parent; each instant counts once)."""
    children: dict[str, list[dict]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(lo, c["start"]), min(hi, c["end"])
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out
