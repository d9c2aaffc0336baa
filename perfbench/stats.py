"""Summary statistics of the benchmark: the percentile estimator and
the self-time arithmetic of the traced run."""

from __future__ import annotations

import math
from collections import defaultdict


def _beta_cf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (modified
    Lentz), as in Numerical Recipes' ``betacf``."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        even = m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m))
        odd = -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))
        for num in (even, odd):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h


def beta_cdf(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b): the CDF of Beta(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _beta_cf(a, b, x) / a
    return 1.0 - front * _beta_cf(b, a, 1.0 - x) / b


def percentile(values, p: float) -> float:
    """Harrell-Davis estimate of the ``p``-th percentile (``p`` in
    (0, 100)): the mean of the order statistics weighted by a
    Beta(q(n+1), (1-q)(n+1)) distribution, q = p/100. A run holds a few
    dozen operations of several kinds, so a single order statistic jumps
    whenever two close samples of different kinds trade places; the
    weighted mean moves by the difference times a small weight."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < p < 100:
        raise ValueError(f"percentile {p} outside (0, 100)")
    s = sorted(values)
    n = len(s)
    q = p / 100.0
    a, b = q * (n + 1), (1.0 - q) * (n + 1)
    cdf = [beta_cdf(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * v for i, v in enumerate(s))


def samples_above(values, p: float) -> int:
    """How many samples lie strictly above the ``p``-th percentile."""
    cut = percentile(values, p)
    return sum(1 for v in values if v > cut)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
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


def self_times(spans) -> dict:
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover. ``spans`` are dicts with ``id``,
    ``parent``, ``start`` and ``end``; returns ``{id: seconds}``."""
    children = defaultdict(list)
    for sp in spans:
        if sp["parent"] is not None:
            children[sp["parent"]].append(sp)
    out = {}
    for sp in spans:
        kids = [(max(c["start"], sp["start"]), min(c["end"], sp["end"]))
                for c in children[sp["id"]]]
        covered = union_length([(s, e) for s, e in kids if e > s])
        out[sp["id"]] = (sp["end"] - sp["start"]) - covered
    return out


def self_time_by_layer(spans) -> dict:
    """Summed self time per layer (the ``layer`` key of each span)."""
    st = self_times(spans)
    acc: dict = defaultdict(float)
    for sp in spans:
        acc[sp["layer"]] += st[sp["id"]]
    return dict(acc)
