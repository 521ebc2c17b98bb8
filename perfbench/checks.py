"""Answer checks against the exact answers of ``inputs.py``.

Each check returns ``(problems, hll_rel_errors)``: a list of human-readable
failures (empty when the answer is correct) and the relative errors of the
HLL estimates it saw on answers of at least ``ERR_MIN_EXACT`` (below that
one unit of error is already a large ratio), which feed ``hll.rel_err_max``.
"""

from __future__ import annotations

import math
from functools import lru_cache

import numpy as np
from hyperloglog_spark.quantiles import KllAggregator
from hyperloglog_spark.sketch import bloom, hll

QS = (0.5, 0.9, 0.99)
HLL_SIGMAS = 3.0
#: per-estimate false-failure rate of the small-cardinality allowance; a
#: grouped_skew cycle checks several thousand per-group estimates
FALSE_FAILURE = 1e-9
ERR_MIN_EXACT = 1000
#: KLL's whp rank-error bound at the default k, as the library states it
KLL_RANK_EPS = KllAggregator(list(QS)).rank_eps()
#: t-digest has no worst-case rank bound; 0.01 is twice the half-centroid
#: width at the median for the default compression
TDIGEST_RANK_TOL = 0.01


@lru_cache(maxsize=None)
def collision_allowance(x: int, m: int = 1 << hll.DEFAULT_P) -> int:
    """Allowed |estimate - x| for x distinct keys from register collisions.

    In the linear-counting range the estimate counts occupied registers, so
    it is off by the number of register collisions C ~ Poisson(x^2 / 2m)
    minus their mean. 1.04/sqrt(m) is the asymptotic error and understates
    that tail: with thousands of small groups checked, three collisions
    among 62 keys (a 3.5-sigma event for C) turn up. Returns the smallest k
    with P(C >= mean + k) < FALSE_FAILURE (six standard deviations once the
    mean passes 100), or 0 above x = m, where the estimate is HLL's own."""
    lam = x * x / (2 * m)
    if x > m:
        return 0
    if lam > 100:
        return math.ceil(6.0 * math.sqrt(lam))
    n, pmf, tail = 0, math.exp(-lam), 1.0  # tail = P(C >= n)
    while tail >= FALSE_FAILURE:
        tail -= pmf
        n += 1
        pmf *= lam / n
    return math.ceil(n - lam)


def hll_check(label: str, est: dict, exact: dict) -> tuple[list, list]:
    """Every key present in both, with |est - exact| within
    3 * 1.04/sqrt(m) of exact (rounded up, as approx_distinct_verified
    does) or within the register-collision allowance, whichever is larger;
    every exact key must have an estimate."""
    se = HLL_SIGMAS * hll.error_bound(hll.DEFAULT_P)
    problems, errs = [], []
    missing = set(exact) - set(est)
    extra = set(est) - set(exact)
    if missing or extra:
        problems.append(f"{label}: {len(missing)} keys missing, "
                        f"{len(extra)} unexpected")
    for k in set(est) & set(exact):
        e, x = est[k], exact[k]
        if x >= ERR_MIN_EXACT:
            errs.append(abs(e - x) / x)
        if abs(e - x) > max(math.ceil(x * se), collision_allowance(x)):
            problems.append(f"{label}[{k}]: estimate {e} vs exact {x}")
    return problems[:5], errs


def kll_check(label: str, est: dict, hists: dict) -> list:
    """``est`` maps key -> [value at each of QS]; ``hists`` maps key ->
    [[value, count], ...] sorted by value. Each value must be an
    eps-approximate q-quantile: F(< v) <= q + eps and F(<= v) >= q - eps."""
    problems = []
    if set(est) != set(hists):
        problems.append(f"{label}: groups differ from the exact answer")
    for k in set(est) & set(hists):
        vals = np.array([v for v, _ in hists[k]], dtype=np.float64)
        cum = np.concatenate(([0], np.cumsum([c for _, c in hists[k]])))
        for q, v in zip(QS, est[k]):
            if v is None:
                problems.append(f"{label}[{k}] q{q}: no value")
                continue
            lt = cum[np.searchsorted(vals, v, "left")] / cum[-1]
            le = cum[np.searchsorted(vals, v, "right")] / cum[-1]
            if lt > q + KLL_RANK_EPS or le < q - KLL_RANK_EPS:
                problems.append(f"{label}[{k}] q{q}: {v} outside rank eps")
    return problems[:5]


def tdigest_check(label: str, values: list, bounds: list) -> list:
    """Values within the exact percentiles at q -/+ TDIGEST_RANK_TOL."""
    return [
        f"{label} q{q}: {v} not in [{lo}, {hi}]"
        for q, v, (lo, hi) in zip(QS, values, bounds)
        if v is None or not lo <= v <= hi
    ]


def topk_check(label: str, got: list, exact: list) -> list:
    return [] if got == exact else [f"{label}: {got} != exact {exact}"]


def bloom_check(label: str, sketch: bytes, hashes: list) -> list:
    """No false negative on any present key."""
    h = np.array(hashes, dtype=np.int64).view(np.uint64)
    missed = int((~bloom.might_contain(sketch, h)).sum())
    return [f"{label}: {missed} present keys missed"] if missed else []
