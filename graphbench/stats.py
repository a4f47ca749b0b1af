"""The benchmark's rules, as pure functions (no Spark, no I/O)."""

from __future__ import annotations

import math
import statistics
from collections import defaultdict

# A tail percentile is reported only when at least this many samples lie
# beyond it; below 2 * TAIL_BEYOND + 1 samples it would be the median or
# lower, so no tail is reported at all.
TAIL_BEYOND = 10
TAIL_MIN_SAMPLES = 2 * TAIL_BEYOND + 1


def tail(samples: list[float]) -> tuple[int, float, int] | None:
    """The highest whole percentile with at least ``TAIL_BEYOND`` samples
    above it, as ``(percentile, value, samples_beyond)``.

    Nearest-rank definition: the p-th percentile of n sorted samples is the
    one at rank ceil(p * n / 100). None when there are fewer than
    ``TAIL_MIN_SAMPLES`` samples."""
    n = len(samples)
    if n < TAIL_MIN_SAMPLES:
        return None
    xs = sorted(samples)
    pct = max(p for p in range(1, 100) if math.ceil(p * n / 100) <= n - TAIL_BEYOND)
    rank = math.ceil(pct * n / 100)
    return pct, xs[rank - 1], n - rank


def p50_by_shape(samples: list[tuple[object, float]]) -> float:
    """The median latency of each statement shape, averaged over the
    shapes, from ``(shape, latency)`` pairs. Over a mix of shapes of
    different cost the plain median falls in the gap between two of them
    and jumps with the window's mix; with one shape it is the plain median."""
    by_shape = defaultdict(list)
    for shape, latency in samples:
        by_shape[shape].append(latency)
    return statistics.fmean(statistics.median(v) for v in by_shape.values())


def littles_law_error(clients: int, ops_per_s: float, mean_latency_s: float) -> float:
    """Relative disagreement between a closed loop's client count and the
    concurrency its throughput and mean latency imply (L = lambda * W)."""
    return abs(ops_per_s * mean_latency_s - clients) / clients


def converged(block_means: list[float], tol: float, last: int = 2) -> bool:
    """Warm-up rule: each of the last ``last`` warm blocks lies within
    ``tol`` of their median. The cold block (index 0) never counts, so at
    least ``last`` warm blocks are needed. A curve still falling by about
    ``tol`` per block does not pass with ``last`` >= 3."""
    warm = block_means[1:]
    if len(warm) < max(last, 2):
        return False
    recent = warm[-last:]
    mid = statistics.median(recent)
    return all(abs(x - mid) <= tol * mid for x in recent)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its interval
    that its child spans cover (overlapping children count once).

    A span is a dict with ``id``, ``parent`` (an id or None), ``start`` and
    ``end``."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _canon(v):
    """A value as a sortable, type-strict key: 1 and 1.0 and True differ."""
    if v is None:
        return (0,)
    if isinstance(v, bool):
        return (1, v)
    if isinstance(v, int):
        return (2, v)
    if isinstance(v, float):
        return (3, v)
    if isinstance(v, str):
        return (4, v)
    if isinstance(v, (list, tuple)):
        return (5, tuple(_canon(x) for x in v))
    raise TypeError(f"unsupported answer value {v!r}")


def same_rows(actual, expected) -> bool:
    """Answer comparison: the rows as a multiset, so row order is ignored;
    values compare exactly, type included."""
    canon = lambda rows: sorted(tuple(_canon(v) for v in r) for r in rows)  # noqa: E731
    return canon(actual) == canon(expected)

