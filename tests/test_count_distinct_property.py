"""Property tests (hypothesis) for the one count-distinct path: over small
generated frames — NULL, NaN and ±0.0 keys and values, all-NULL groups and
columns, empty partitions, p in {4, 16} — the codegen register reduction
plus the sorted register-row finalize answers exactly what the two-phase
``sketch_agg(HllAggregator(p))`` reference answers; and the rank-histogram
estimate the finalize computes from register pairs equals
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
