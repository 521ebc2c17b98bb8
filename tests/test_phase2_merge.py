"""Phase-2 merge equivalence: ``sketch_agg`` output must be byte-identical
to a driver-side reference that collects the phase-1 partials, groups them
in Python and calls ``merge_many`` once per group — for every sketch kind,
every key shape (NULL, NaN, ±0.0, multi-column), groups whose partials span
Arrow batches, empty input and global input. The other users of the shared
sorted phase 2 — the ``engine="jvm"`` HLL finalize and the stored-sketch
rollup — must form the same groups on the same keys."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hyperloglog_spark import (
    approx_distinct,
    approx_distinct_multi,
    hll_rollup,
    hll_sketch_agg,
    merge_sketches,
)
from hyperloglog_spark.engine.aggregate import (
    SKETCH_COL, sketch_agg, sketch_partials,
)
from hyperloglog_spark.frequency import CmsAggregator
from hyperloglog_spark.functions import HllAggregator
from hyperloglog_spark.quantiles import KllAggregator, TDigestAggregator

KEYS = [None, float("nan"), 0.0, -0.0, 1.5, -2.0]


def _norm(v):
    """Comparable key value: NaN equal to NaN, -0.0 distinct from 0.0."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return v


def _reference(df, value_cols, agg, group_cols, finalize):
    """Driver-side phase 2 over the same phase-1 partials."""
    groups: dict[tuple, list[bytes]] = {}
    for r in sketch_partials(df, value_cols, agg, group_cols).collect():
        key = tuple(_norm(r[c]) for c in group_cols)
        groups.setdefault(key, []).append(bytes(r[SKETCH_COL]))
    out = {}
    for key, sks in groups.items():
        merged = agg.merge_many(sks)
        if finalize:
            vals = agg.finalize(merged)
            out[key] = tuple(vals[f.name] for f in agg.finalize_fields)
        else:
            out[key] = (merged,)
    return out


def _actual(out, group_cols):
    tail = [c for c in out.columns if c not in group_cols]
    got = {}
    for r in out.collect():
        key = tuple(_norm(r[c]) for c in group_cols)
        assert key not in got, f"group {key} emitted twice"
        got[key] = tuple(
            bytes(r[c]) if isinstance(r[c], (bytes, bytearray)) else r[c]
            for c in tail
        )
    return got


@pytest.fixture(scope="module")
def data(spark):
    """k: double key over NULL/NaN/±0.0; s: string key; dense group
    k=1.5 (thousands of distinct values), sparse others; n: NULL in every
    row of the k=NaN groups and in a third of the rest; 4 input
    partitions so every group has several partials."""
    rows = []
    for i in range(6000):
        k = KEYS[(i // 2) % len(KEYS)] if i % 2 else 1.5
        n = None if (k is not None and k != k) or i % 3 == 0 else f"n{i % 50}"
        rows.append((k, f"s{i % 3}", f"v{i}", float(i % 997) * 0.5, n))
    return spark.createDataFrame(
        rows, "k double, s string, v string, x double, n string"
    ).repartition(4)


AGGS = [
    ("hll_sparse", lambda: HllAggregator(p=14), ["v"]),
    ("hll_dense", lambda: HllAggregator(p=6), ["v"]),
    ("kll", lambda: KllAggregator([0.1, 0.5, 0.9], k=32), ["x"]),
    ("tdigest", lambda: TDigestAggregator([0.25, 0.75]), ["x"]),
    ("cms", lambda: CmsAggregator(d=3, log2_w=8), ["v"]),
]


@pytest.mark.parametrize("finalize", [True, False])
@pytest.mark.parametrize("group_cols", [["k"], ["k", "s"], []])
@pytest.mark.parametrize("name,make,cols", AGGS, ids=[a[0] for a in AGGS])
def test_sketch_agg_matches_reference(data, name, make, cols, group_cols,
                                      finalize):
    agg = make()
    got = _actual(sketch_agg(data, cols, agg, group_cols, finalize),
                  group_cols)
    assert got == _reference(data, cols, agg, group_cols, finalize)
    if not group_cols:
        assert len(got) == 1


@pytest.mark.parametrize("group_cols", [["k"], ["k", "s"]])
def test_groups_match_spark_groupby(data, group_cols):
    """NULL and NaN are separate groups, -0.0 folds into 0.0, exactly as
    ``groupBy(...).count()`` groups them."""
    want = {
        tuple(_norm(r[c]) for c in group_cols)
        for r in data.groupBy(*group_cols).count().collect()
    }
    out = sketch_agg(data, ["v"], HllAggregator(p=10), group_cols)
    assert set(_actual(out, group_cols)) == want
    assert {k[0] for k in want} == {None, "nan", "0.0", "1.5", "-2.0"}


def test_hll_sketch_agg_matches_reference(data):
    got = _actual(hll_sketch_agg(data, "v", group_by=["k", "s"], p=12),
                  ["k", "s"])
    clean = data.filter(F.col("v").isNotNull())
    want = _reference(clean, ["v"], HllAggregator(p=12), ["k", "s"], False)
    assert got == want


def test_groups_spanning_arrow_batches(spark, data):
    """Two records per Arrow batch: every group's partials arrive in
    several batches and must still merge in one call."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", 2)
    try:
        for make, cols in [(lambda: HllAggregator(p=8), ["v"]),
                           (lambda: KllAggregator([0.5], k=16), ["x"])]:
            for group_cols in (["k", "s"], []):
                agg = make()
                got = _actual(sketch_agg(data, cols, agg, group_cols),
                              group_cols)
                assert got == _reference(data, cols, agg, group_cols, True)
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


@pytest.mark.parametrize("group_cols", [["k"], []])
def test_empty_input_gives_zero_rows(data, group_cols):
    empty = data.filter(F.lit(False))
    assert sketch_agg(empty, ["v"], HllAggregator(), group_cols).count() == 0


@pytest.mark.parametrize("group_cols", [["k"], ["k", "s"], []])
def test_jvm_engines_match_arrow(data, group_cols):
    """The three ``engine="jvm"`` entry points return the arrow engine's
    groups and values: estimates, sketch bytes, multi-column estimates
    (column n is NULL in every row of the NaN groups: NULL-tag rows)."""
    kw = dict(group_by=group_cols, expected_groups=32)
    for run in (
        lambda e: approx_distinct(data, "v", alias="d", engine=e, **kw),
        lambda e: hll_sketch_agg(data, "v", p=12, engine=e, **kw),
        lambda e: approx_distinct_multi(data, ["v", "n"], engine=e, **kw),
        lambda e: approx_distinct_multi(data, ["n"], engine=e, **kw),
    ):
        want = _actual(run("arrow"), group_cols)
        assert _actual(run("jvm"), group_cols) == want
        if group_cols:
            assert {k[0] for k in want} == {None, "nan", "0.0", "1.5", "-2.0"}


@pytest.mark.parametrize("group_cols", [["k"], ["k", "s"]])
def test_rollup_matches_direct_build(data, group_cols):
    """Grouped ``merge_sketches`` and ``hll_rollup`` over finer stored
    cells equal the direct grouped build: NULL and NaN keys stay apart,
    and a stored -0.0 key rolls into the 0.0 group."""
    sharded = data.withColumn("shard", F.crc32("v") % 4)
    stored = hll_sketch_agg(sharded, "v", group_by=group_cols + ["shard"],
                            p=12)
    stored = stored.withColumn(
        "k", F.when((F.col("k") == 0) & (F.col("shard") == 1), F.lit(-0.0))
        .otherwise(F.col("k")))
    direct = hll_sketch_agg(data, "v", group_by=group_cols, p=12)
    want = _actual(direct, group_cols)
    assert {k[0] for k in want} == {None, "nan", "0.0", "1.5", "-2.0"}
    assert _actual(merge_sketches(stored, group_by=group_cols),
                   group_cols) == want
    assert _actual(hll_rollup(stored, group_by=group_cols, alias="d"),
                   group_cols) == _actual(
        approx_distinct(data, "v", group_by=group_cols, p=12, alias="d"),
        group_cols)
