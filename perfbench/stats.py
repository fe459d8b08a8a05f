"""Percentiles, spreads and span arithmetic used by the benchmark.

Pure Python, no Spark: unit-tested in ``perfbench/tests``.
"""

from __future__ import annotations

import math
import re
import statistics

# A percentile is reported only when at least ten samples lie beyond it,
# so p90 needs 100 samples and p75 needs 40.  The median asks for ten.
SAMPLES_BEYOND = 10
MEDIAN_MIN_SAMPLES = 10
METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def min_samples(q: float) -> int:
    """Fewest samples that support the ``q`` quantile (0 < q < 1)."""
    if q <= 0.5:
        return MEDIAN_MIN_SAMPLES
    return math.ceil(SAMPLES_BEYOND / (1.0 - q) - 1e-9)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank-interpolated ``q`` quantile; raises when the sample
    is too small to support it (see :func:`min_samples`)."""
    need = min_samples(q)
    if len(values) < need:
        raise ValueError(f"p{round(q * 100)} needs {need} samples, got {len(values)}")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles of ``statistics.quantiles``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf


def relative_change(new: float, base: float, better: str) -> float:
    """How much worse ``new`` is than ``base`` as a share of ``base``
    (negative when better)."""
    if better == "lower":
        return (new - base) / base
    return (base - new) / base


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end) intervals."""
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


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children if ce > s and cs < e]
    return (e - s) - union_length(clipped)


def count_failures(outcomes: list[bool]) -> tuple[int, int]:
    """(attempted, failed) from each op's outcome: an op is not ok when it
    raised or its check failed."""
    return len(outcomes), outcomes.count(False)


def trend(values: list[float], kinds: list[str]) -> float:
    """Within-run trend, such as an unfinished JIT ramp: for each kind of
    op, the relative change of its median from the first to the second
    half of its own samples (in run order); the median over kinds with
    at least two samples.  Comparing an op only with itself keeps the op
    mix out of the number."""
    by_kind: dict[str, list[float]] = {}
    for v, k in zip(values, kinds):
        by_kind.setdefault(k, []).append(v)
    changes = []
    for vs in by_kind.values():
        h = len(vs) // 2
        if h:
            a, b = statistics.median(vs[:h]), statistics.median(vs[len(vs) - h:])
            changes.append((b - a) / a if a else 0.0)
    return statistics.median(changes) if changes else 0.0
