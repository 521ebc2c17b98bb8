"""Quantile DataFrame API over the KLL and t-digest kernels.

    approx_quantiles(df, "l_extendedprice", [0.5, 0.9, 0.99])
    approx_quantiles(df, "value", [0.5], group_by="event_type",
                     method="tdigest")
    kll_agg(df, "x", group_by="g")        # sketch column, merge later
"""

from __future__ import annotations

from typing import Any

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .engine.aggregate import SketchAggregator, sketch_agg
from .sketch import kll, tdigest

__all__ = [
    "KllAggregator",
    "KllRankAggregator",
    "TDigestRankAggregator",
    "TDigestAggregator",
    "WeightedKllAggregator",
    "WeightedTDigestAggregator",
    "approx_quantiles",
    "approx_rank",
    "approx_trimmed_mean",
    "approx_quantiles_weighted",
    "kll_agg",
    "tdigest_agg",
]


def _q_name(q: float) -> str:
    return "q" + f"{q:g}".replace("0.", "").replace(".", "_")


class _QuantileAggregator(SketchAggregator):
    module = None  # kll or tdigest

    def __init__(self, qs: list[float] | None = None, bounds: bool = False,
                 **params):
        self.qs = list(qs or [0.5])
        if any(not 0 <= q <= 1 for q in self.qs):  # fail fast on the driver
            raise ValueError(f"quantile ranks must be in [0, 1]: {self.qs}")
        self.params = params
        self.bounds = bounds
        if bounds and self.rank_eps() is None:
            raise ValueError(
                f"{self.name} has no worst-case rank bound; bounds=True "
                "requires the KLL backend"
            )
        self.finalize_fields = []
        for q in self.qs:
            if bounds:
                self.finalize_fields.append(
                    T.StructField(_q_name(q) + "_lo", T.DoubleType(), True))
            self.finalize_fields.append(
                T.StructField(_q_name(q), T.DoubleType(), True))
            if bounds:
                self.finalize_fields.append(
                    T.StructField(_q_name(q) + "_hi", T.DoubleType(), True))

    def rank_eps(self) -> float | None:
        """Whp rank-error bound of this sketch config; None = unbounded."""
        return None

    def _build(self, values: np.ndarray) -> bytes:
        raise NotImplementedError

    def prepare_columns(self, df: DataFrame, cols: list[str]):
        if len(cols) != 1:
            raise ValueError("quantile sketches take exactly one column")
        return [F.col(cols[0]).cast("double")]

    def build(self, cols, bounds) -> list[bytes]:
        # values (and weights, for the weighted kinds' two-column _build)
        xs = [c.to_numpy(zero_copy_only=False).astype(np.float64)
              for c in cols]
        return [self._build(*(x[s:e] for x in xs))
                for s, e in zip(bounds, bounds[1:])]

    def merge_many(self, sketches: list[bytes]) -> bytes:
        return self.module.merge_many(sketches)

    def finalize(self, sketch: bytes) -> dict[str, Any]:
        def f(v):
            return None if np.isnan(v) else float(v)

        vals = self.module.quantiles(sketch, self.qs)
        out = {_q_name(q): f(v) for q, v in zip(self.qs, vals)}
        if self.bounds:
            eps = self.rank_eps()
            lo_q = [max(0.0, q - eps) for q in self.qs]
            hi_q = [min(1.0, q + eps) for q in self.qs]
            lows = self.module.quantiles(sketch, lo_q)
            highs = self.module.quantiles(sketch, hi_q)
            for q, lo, hi in zip(self.qs, lows, highs):
                out[_q_name(q) + "_lo"] = f(lo)
                out[_q_name(q) + "_hi"] = f(hi)
        return out


class KllAggregator(_QuantileAggregator):
    name = "kll"
    module = kll

    def rank_eps(self) -> float:
        """Conservative whp rank-error bound for the c=2/3 geometric
        capacity schedule: O(1/k) (Karnin-Lang-Liberty 2016 §3); the
        constant 3.3 is the repo's conservative envelope of the measured
        tail (1.65% at the default k=200, matching sketch/kll.py)."""
        return 3.3 / self.params.get("k", kll.DEFAULT_K)

    def _build(self, values: np.ndarray) -> bytes:
        return kll.from_values(values, self.params.get("k", kll.DEFAULT_K))


class TDigestAggregator(_QuantileAggregator):
    name = "tdigest"
    module = tdigest

    def _build(self, values: np.ndarray) -> bytes:
        return tdigest.from_values(
            values, self.params.get("delta", tdigest.DEFAULT_DELTA)
        )


class _WeightedQuantileAggregator(_QuantileAggregator):
    """A quantile sketch over (value, weight) rows: ``_build(values,
    weights)`` feeds per-row masses instead of ones."""

    def __init__(self, qs: list[float] | None = None,
                 weight_col: str = "weight", **params):
        super().__init__(qs, **params)
        self.weight_col = weight_col

    def prepare_columns(self, df: DataFrame, cols: list[str]):
        if len(cols) != 1:
            raise ValueError("quantile sketches take exactly one column")
        return [
            F.col(cols[0]).cast("double"),
            F.col(self.weight_col).cast("double"),
        ]


class WeightedTDigestAggregator(_WeightedQuantileAggregator):
    """t-digest over (value, weight) rows — quantiles of a deduplicated
    corpus where each representative carries its copy count, or any other
    importance weighting. Same codec, merge, and estimator as the plain
    t-digest (the weight is native to the centroid state); only the build
    feeds per-row masses instead of ones."""

    name = "tdigest_weighted"
    module = tdigest

    def _build(self, values: np.ndarray, weights: np.ndarray) -> bytes:
        return tdigest.from_weighted(
            values, weights, self.params.get("delta", tdigest.DEFAULT_DELTA))


class WeightedKllAggregator(_WeightedQuantileAggregator):
    """KLL over (value, weight) rows with INTEGER weights: the mirror of
    WeightedTDigestAggregator on the KLL backend. A weight-w row enters
    level h once for every set bit of w (level-h items carry weight 2^h),
    so the mass placement is exact; all-ones weights are byte-identical to
    the unweighted build, and the codec/merge/estimator are the plain KLL
    ones (a weighted sketch merges with an unweighted one)."""

    name = "kll_weighted"
    module = kll

    def _build(self, values: np.ndarray, weights: np.ndarray) -> bytes:
        return kll.from_weighted(
            values, weights, self.params.get("k", kll.DEFAULT_K))


def approx_quantiles_weighted(
    df: DataFrame,
    col: str,
    weight_col: str,
    qs: list[float],
    group_by: str | list[str] | None = None,
    method: str = "tdigest",
    **params,
) -> DataFrame:
    """Weighted approximate quantiles: each row contributes ``weight_col``
    units of mass. The curation-pipeline form: quantiles of the ORIGINAL
    corpus computed from the deduplicated representatives and their
    n_copies — without re-exploding the duplicates. method='tdigest'
    (default) takes arbitrary positive weights; method='kll' requires
    integer weights (exact binary-decomposition placement)."""
    agg = _method_agg(method, "weighted", qs, weight_col=weight_col, **params)
    return sketch_agg(df, col, agg, group_by)


class _TrimmedMeanMixin:
    """Finalize override shared by the trimmed-mean aggregators."""

    def _init_trim(self, q0: float, q1: float) -> None:
        if not 0 <= q0 < q1 <= 1:
            raise ValueError(f"need 0 <= q0 < q1 <= 1, got ({q0}, {q1})")
        self.q0, self.q1 = float(q0), float(q1)
        self.finalize_fields = [
            T.StructField("trimmed_mean", T.DoubleType(), True)
        ]

    def finalize(self, sketch: bytes) -> dict[str, Any]:
        v = self.module.trimmed_mean(sketch, self.q0, self.q1)
        return {"trimmed_mean": None if np.isnan(v) else float(v)}


class KllTrimmedMeanAggregator(_TrimmedMeanMixin, KllAggregator):
    name = "kll_trimmed_mean"

    def __init__(self, q0: float, q1: float, **params):
        super().__init__([0.5], **params)
        self._init_trim(q0, q1)


class TDigestTrimmedMeanAggregator(_TrimmedMeanMixin, TDigestAggregator):
    name = "tdigest_trimmed_mean"

    def __init__(self, q0: float, q1: float, **params):
        super().__init__([0.5], **params)
        self._init_trim(q0, q1)


def approx_trimmed_mean(
    df: DataFrame,
    col: str,
    q0: float = 0.05,
    q1: float = 0.95,
    group_by: str | list[str] | None = None,
    method: str = "kll",
    **params,
) -> DataFrame:
    """Robust ("trimmed") mean: mean of the mass with normalized rank in
    (q0, q1] — mean latency with outliers trimmed, per group when
    ``group_by`` is given. Interval-overlap semantics (fractional
    boundary items), so with the KLL backend in the no-compaction regime
    (k >= n) the result is EXACTLY the SQL fractional-overlap
    order-statistic rule; beyond, boundaries carry the backend's rank
    error."""
    agg = _method_agg(method, "trimmed_mean", q0, q1, **params)
    return sketch_agg(df, col, agg, group_by)


def _r_name(v: float) -> str:
    return "r" + f"{v:g}".replace("-", "m").replace(".", "_")


class _RankMixin:
    """Finalize override shared by the rank (CDF) aggregators."""

    def _init_rank(self, values: list[float]) -> None:
        if not values:
            raise ValueError("approx_rank needs at least one probe value")
        self.values = [float(v) for v in values]
        self.finalize_fields = [
            T.StructField(_r_name(v), T.DoubleType(), True)
            for v in self.values
        ]

    def finalize(self, sketch: bytes) -> dict[str, Any]:
        rs = self.module.rank(sketch, np.array(self.values))
        return {
            _r_name(v): (None if np.isnan(r) else float(r))
            for v, r in zip(self.values, rs)
        }


class KllRankAggregator(_RankMixin, KllAggregator):
    """KLL finalized to normalized RANKS (the CDF companion of the
    quantile surface): for each probe value v, the estimated fraction of
    rows <= v. Same build/merge as KllAggregator; only finalize differs.
    Exact (bit-for-bit the SQL count_if(x<=v)/count(*)) below the first
    compaction; within the KLL rank error (~1.3-1.65% whp at k=200)
    beyond."""

    name = "kll_rank"

    def __init__(self, values: list[float], **params):
        super().__init__([0.5], **params)   # qs unused by rank finalize
        self._init_rank(values)


class TDigestRankAggregator(_RankMixin, TDigestAggregator):
    """t-digest CDF: piecewise-linear interpolation through centroid
    midranks (Dunning & Ertl 2019) — typically tighter than KLL
    mid-distribution (q(1-q)/delta shape) but with no worst-case bound;
    use the KLL backend when a whp guarantee matters."""

    name = "tdigest_rank"

    def __init__(self, values: list[float], **params):
        super().__init__([0.5], **params)
        self._init_rank(values)


def approx_rank(
    df: DataFrame,
    col: str,
    values: list[float],
    group_by: str | list[str] | None = None,
    method: str = "kll",
    **params,
) -> DataFrame:
    """Approximate normalized ranks: for each probe value v, the fraction
    of rows with ``col`` <= v (per group when ``group_by`` is given) —
    'what share of turns finish under 2 s' without an exact pass. One
    scan, sketch-rows-only shuffle, same two-phase shape as
    approx_quantiles. method='kll' (default, whp rank bound) or
    'tdigest' (centroid-midrank interpolation, typically tighter
    mid-distribution, no worst-case bound)."""
    return sketch_agg(df, col, _method_agg(method, "rank", values, **params),
                      group_by)


#: the one ``method`` dispatch: aggregator class per backend and form
_METHODS = {
    "kll": {"quantiles": KllAggregator, "weighted": WeightedKllAggregator,
            "trimmed_mean": KllTrimmedMeanAggregator,
            "rank": KllRankAggregator},
    "tdigest": {"quantiles": TDigestAggregator,
                "weighted": WeightedTDigestAggregator,
                "trimmed_mean": TDigestTrimmedMeanAggregator,
                "rank": TDigestRankAggregator},
}


def _method_agg(method: str, form: str, *args,
                **params) -> _QuantileAggregator:
    """The ``form`` aggregator of backend ``method``, built from ``args``
    and ``params``."""
    if method not in _METHODS:
        raise ValueError(f"method must be 'kll' or 'tdigest', got {method!r}")
    return _METHODS[method][form](*args, **params)


def approx_quantiles(
    df: DataFrame,
    col: str,
    qs: list[float],
    group_by: str | list[str] | None = None,
    method: str = "kll",
    **params,
) -> DataFrame:
    """Approximate quantiles of ``col`` at ranks ``qs`` (optionally per
    group). Output columns are named q5, q9, q99, ... after the rank with
    the leading "0." stripped (0.5 -> q5, 0.99 -> q99).

    ``bounds=True`` (KLL backend only) adds ``<q>_lo`` / ``<q>_hi``
    columns — the sketch's values at ranks q -/+ eps for the backend's whp
    rank-error bound eps (the reference TestValidity shape: the exact
    q-quantile lies in [lo, hi] with high probability)."""
    return sketch_agg(df, col, _method_agg(method, "quantiles", qs, **params),
                      group_by)


def kll_agg(
    df: DataFrame,
    col: str,
    group_by: str | list[str] | None = None,
    k: int = kll.DEFAULT_K,
) -> DataFrame:
    return sketch_agg(df, col, KllAggregator(k=k), group_by, finalize=False)


def tdigest_agg(
    df: DataFrame,
    col: str,
    group_by: str | list[str] | None = None,
    delta: int = tdigest.DEFAULT_DELTA,
) -> DataFrame:
    return sketch_agg(df, col, TDigestAggregator(delta=delta), group_by,
                      finalize=False)
