"""Property tests (hypothesis) for the one count-distinct path: over small
generated frames — NULL, NaN and ±0.0 keys and values, all-NULL groups and
columns, empty partitions, p in {4, 16} — the per-group register sets
(``collect_set`` over the codegen'd packed registers) and their one
vectorized finalize answer exactly what the two-phase
``sketch_agg(HllAggregator(p))`` reference answers. The batched HLL++
estimator the finalize runs over ``(groups, 66)`` rank histograms equals,
row by row, its one-row case ``estimate_histogram`` and a scalar form with
Python's ``math.log``, ``round`` and one binary search per bias lookup;
and the rank histogram of the register pairs equals
``estimate_registers`` over the dense registers."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from hyperloglog_spark import (
    approx_distinct,
    approx_distinct_multi,
    hll_sketch_agg,
)
from hyperloglog_spark.engine.aggregate import sketch_agg
from hyperloglog_spark.functions import HllAggregator
from hyperloglog_spark.sketch import bias, hll

from .oracle_hll import correct_bias_scalar

SPECIAL = [None, float("nan"), 0.0, -0.0, 1.5, -2.0]

rows = st.lists(
    st.tuples(
        st.sampled_from(SPECIAL),                               # k
        st.one_of(st.none(), st.integers(-40, 40)),             # a
        st.one_of(st.sampled_from(SPECIAL), st.floats(-4, 4)),  # b
    ),
    max_size=40,
)


def _norm(v):
    """Comparable value: NaN equal to NaN, -0.0 distinct from 0.0."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return bytes(v) if isinstance(v, (bytes, bytearray)) else v


def _by_key(df, group_by):
    out = {}
    for r in df.collect():
        key = tuple(_norm(r[g]) for g in group_by)
        assert key not in out, f"group {key} emitted twice"
        out[key] = tuple(_norm(r[c]) for c in df.columns if c not in group_by)
    return out


def _reference(df, col, p, group_by, finalize=True):
    clean = df.filter(F.col(col).isNotNull())
    return _by_key(sketch_agg(clean, [col], HllAggregator(p), group_by,
                              finalize=finalize), group_by)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=rows, p=st.sampled_from([4, 16]), grouped=st.booleans(),
       n_parts=st.integers(1, 5))
def test_register_path_equals_reference(spark, data, p, grouped, n_parts):
    # more partitions than rows leaves some empty
    df = spark.createDataFrame(
        data, "k double, a long, b double").repartition(n_parts)
    group_by = ["k"] if grouped else []
    per_col = [_by_key(approx_distinct(df, c, group_by, p=p), group_by)
               for c in ("a", "b")]
    assert per_col[0] == _reference(df, "a", p, group_by)
    assert _by_key(hll_sketch_agg(df, "b", group_by, p=p), group_by) \
        == _reference(df, "b", p, group_by, finalize=False)
    # multi == per-column approx_distinct; a group whose rows are NULL in
    # a column (or in every column) counts 0 there
    multi = _by_key(approx_distinct_multi(df, ["a", "b"], group_by, p=p),
                    group_by)
    # -0.0 + 0.0 is 0.0: the key groupBy emits for both zeros
    assert set(multi) == {
        (None if r[0] is None else _norm(r[0] + 0.0),)[:len(group_by)]
        for r in data
    }
    for key, counts in multi.items():
        assert counts == tuple(pc.get(key, (0,))[0] for pc in per_col), key


def _pair_histogram(regs: np.ndarray, p: int) -> np.ndarray:
    """The finalize's histogram: occupied (idx, rank) pairs only."""
    rank = regs[np.flatnonzero(regs)].astype(np.int32)
    counts = np.bincount(rank, minlength=1)
    counts[0] = (1 << p) - len(rank)
    return counts


@st.composite
def register_arrays(draw):
    p = draw(st.integers(4, 16))
    m = 1 << p
    kind = draw(st.sampled_from(["zero", "random", "near_lc"]))
    rng = np.random.default_rng(draw(st.integers(0, 2 ** 32 - 1)))
    if kind == "zero":
        return np.zeros(m, np.uint8), p
    if kind == "random":
        n_set = draw(st.integers(0, m))
    else:
        # V zero registers with m*ln(m/V) at the linear-counting threshold
        v = int(round(m * math.exp(-bias.THRESHOLD[p] / m)))
        n_set = m - min(m, max(1, v + draw(st.integers(-2, 2))))
    regs = np.zeros(m, np.uint8)
    where = rng.choice(m, size=n_set, replace=False)
    regs[where] = rng.integers(1, draw(st.sampled_from([3, 66])), n_set)
    return regs, p


@settings(max_examples=200, deadline=None)
@given(case=register_arrays())
def test_pair_histogram_estimate_equals_estimate_registers(case):
    regs, p = case
    counts = _pair_histogram(regs, p)
    assert np.array_equal(counts, np.bincount(regs, minlength=1))
    assert hll.estimate_histogram(counts, p) == hll.estimate_registers(regs, p)
    nz = np.flatnonzero(regs)
    shuffled = np.random.default_rng(0).permutation(nz)
    order = np.argsort(shuffled)
    assert hll._serialize(p, shuffled[order], regs[shuffled][order]) == \
        hll._serialize_dense(p, regs)


@pytest.mark.parametrize("p", [4, 16])
def test_all_null_column_and_group(spark, p):
    df = spark.createDataFrame(
        [(None, None, None), (1.5, None, None), (1.5, 3, None)],
        "k double, a long, b double")
    got = _by_key(approx_distinct_multi(df, ["a", "b"], ["k"], p=p), ["k"])
    assert got == {(None,): (0, 0), ("1.5",): (1, 0)}
    assert hll_sketch_agg(df, "b", p=p).count() == 0


def _estimate_python(counts: np.ndarray, p: int) -> int:
    """The scalar HLL++ estimate of one rank histogram: the batched
    estimator's summation, then Python's ``math.log`` and ``round`` and
    the scalar bias lookup."""
    m = 1 << p
    v = float(counts[0])
    r_vals = np.arange(len(counts), dtype=np.float64)
    zinv = float(np.sum(counts * np.exp2(-r_vals)))
    e = bias.alpha_m(m) * m * m / zinv
    if e <= 5.0 * m:
        e = correct_bias_scalar(e, p)
    h = m * math.log(m / v) if v > 0 else e
    return round(h) if h <= bias.THRESHOLD[p] else round(e)


@st.composite
def rank_histograms(draw, p: int) -> np.ndarray:
    """One (66,) rank histogram of m registers: none unset (v = 0), unset
    counts whose linear-counting estimate straddles ``THRESHOLD[p]``, any,
    or ranks shifted high enough that the raw estimate passes 5m."""
    m = 1 << p
    kind = draw(st.sampled_from(["v0", "lc_threshold", "any", "high"]))
    if kind == "v0":
        v = 0
    elif kind == "lc_threshold":
        v = int(round(m * math.exp(-bias.THRESHOLD[p] / m)))
        v = min(m, max(1, v + draw(st.integers(-2, 2))))
    else:
        v = draw(st.integers(0, m))
    shift = draw(st.integers(0, 60 if kind == "high" else 4))
    rng = np.random.default_rng(draw(st.integers(0, 2 ** 32 - 1)))
    ranks = np.minimum(shift + rng.geometric(0.5, m - v), hll.RANKS - 1)
    counts = np.bincount(ranks, minlength=hll.RANKS)
    counts[0] = v
    return counts


@settings(max_examples=300, deadline=None)
@given(data=st.data())
def test_batched_estimator_equals_one_row(data):
    p = data.draw(st.integers(4, 16), label="p")
    counts = np.stack(data.draw(
        st.lists(rank_histograms(p), min_size=1, max_size=6), label="rows"))
    got = hll.estimate_histograms(counts, p)
    for row, est in zip(counts, got.tolist()):
        assert int(est) == hll.estimate_histogram(row, p) \
            == _estimate_python(row, p), row.tolist()


@settings(max_examples=100, deadline=None)
@given(data=st.data())
def test_batched_bias_correction_equals_scalar(data):
    """Every table point, the midpoints, both ends and beyond, in any
    order: the p = 5, 6 tables are not monotone, so a batched search that
    reuses bounds across keys would answer differently."""
    p = data.draw(st.integers(4, 16), label="p")
    raw_tbl = bias._tables()[p][0]
    m = 1 << p
    xs = np.concatenate([
        raw_tbl, (raw_tbl[1:] + raw_tbl[:-1]) / 2,
        [0.0, raw_tbl[0] - 1, raw_tbl[-1] + 1, 5.0 * m],
        data.draw(st.lists(st.floats(0, 6.0 * m), max_size=20)),
    ])
    xs = xs[data.draw(st.permutations(range(len(xs))))]
    assert bias.correct_bias(xs, p).tolist() == \
        [correct_bias_scalar(x, p) for x in xs.tolist()]
