"""The one count-distinct path (codegen register reduction + the sorted
register-row finalize) against the two-phase ``HllAggregator`` reference,
its scale past the old grouped-row budget, packed-binary (AddAs*) ingest
and one-shot count_prehashed."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from hyperloglog_spark import approx_distinct, hll_sketch_agg
from hyperloglog_spark.engine.aggregate import SKETCH_COL, sketch_agg
from hyperloglog_spark.engine.plans import _nodes, python_operators
from hyperloglog_spark.functions import (
    HllAggregator,
    _drop_null_rows,
    approx_distinct_packed,
)
from hyperloglog_spark.sketch import hll
from hyperloglog_spark.sketch.hashing import mix64


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _reference(df, cols, p=14, group_by=(), finalize=True):
    """The two-phase ``sketch_agg(HllAggregator(p))`` answer."""
    cols = [cols] if isinstance(cols, str) else list(cols)
    return sketch_agg(_drop_null_rows(df, cols), cols, HllAggregator(p),
                      list(group_by), finalize=finalize)


def test_jvm_engine_matches_arrow_global(spark, sf01_dir):
    ev = spark.read.parquet(f"{sf01_dir}/events.parquet")
    want = _reference(ev, "user_id").first()[0]
    for engine in (None, "arrow", "jvm"):   # engine selects nothing
        assert approx_distinct(ev, "user_id", engine=engine).first()[0] \
            == want


def test_jvm_engine_matches_arrow_grouped(spark, sf01_dir):
    ev = spark.read.parquet(f"{sf01_dir}/events.parquet")
    got = approx_distinct(ev, "user_id", group_by="event_type")
    assert _rows(got) == _rows(
        _reference(ev, "user_id", group_by=["event_type"]))


def test_jvm_engine_composite_key_and_p(spark, sf01_dir):
    orders = spark.read.parquet(f"{sf01_dir}/orders.parquet")
    cols = ["o_custkey", "o_orderpriority"]
    for p in (10, 14, 16):
        got = approx_distinct(orders, cols, p=p).first()[0]
        assert got == _reference(orders, cols, p).first()[0], p


def test_jvm_engine_shuffle_budget(spark, sf01_dir):
    from hyperloglog_spark.engine.plans import assert_max_exchanges

    ev = spark.read.parquet(f"{sf01_dir}/events.parquet")
    q = approx_distinct(ev, "user_id", group_by="event_type")
    # register agg (1, with map-side partial) + group finalize (1)
    assert_max_exchanges(q, 2)


def test_register_path_scales_past_the_old_grouped_row_budget(spark):
    """20,000 groups at p=16: #groups x 2^p is 1.3e9 register rows, about
    20x the 2^26-row budget that used to push such queries off this path.
    The map-side combine never emits more rows than it reads, so the
    shuffled register-set rows stay below the 40,000 input rows; estimates
    and sketch bytes equal the two-phase reference."""
    n_rows, p = 40_000, 16
    df = spark.range(n_rows).select(
        (F.col("id") % 20_000).alias("g"), F.col("id").alias("v"))
    est = approx_distinct(df, "v", group_by="g", p=p)
    [(name, below)] = python_operators(est)
    assert name == "MapInArrow"
    assert re.match(r"ObjectHashAggregate\(.*collect_set", below)
    assert _rows(est) == _rows(_reference(df, "v", p, ["g"]))
    assert len(_rows(est)) == 20_000
    sk = hll_sketch_agg(df, "v", group_by="g", p=p)
    assert _rows(sk) == _rows(_reference(df, "v", p, ["g"], finalize=False))
    # rows out of the map-side partial and the final register-set aggregate
    agg_rows = [node.metrics().get("numOutputRows").get().value()
                for node, _ in _nodes(est)
                if node.nodeName() == "ObjectHashAggregate"]
    assert len(agg_rows) == 2 and max(agg_rows) <= n_rows


# ------------------------------------------------------------ packed binary


@pytest.fixture(scope="module")
def packed_df(spark):
    rng = np.random.default_rng(42)
    rows = []
    for i in range(64):
        vals = rng.integers(0, 5000, size=rng.integers(10, 400),
                            dtype=np.int64).astype(np.int32)
        rows.append((i, i % 4, bytearray(vals.tobytes())))
    return (
        spark.createDataFrame(rows, ["row_id", "grp", "payload"])
        .repartition(4)
    ), rows


def test_packed_int32_estimate(spark, packed_df):
    df, rows = packed_df
    all_vals = np.concatenate([
        np.frombuffer(bytes(r[2]), dtype=np.int32) for r in rows
    ])
    want = hll.estimate(hll.from_hashes(
        mix64(all_vals.astype(np.int64)), 14))
    got = approx_distinct_packed(df, "payload", "int32").first()[0]
    assert got == want
    exact = len(np.unique(all_vals))
    assert abs(got - exact) / exact < 3 * 1.04 / 2 ** 7


def test_packed_grouped_and_trailing_bytes(spark, packed_df):
    df, rows = packed_df
    # add trailing garbage bytes: must be ignored (reference size//width)
    ragged = spark.createDataFrame(
        [(r[0], r[1], bytearray(bytes(r[2]) + b"\x01\x02\x03")) for r in rows],
        ["row_id", "grp", "payload"],
    ).repartition(3)
    base = {
        r["grp"]: r["n"] for r in approx_distinct_packed(
            df, "payload", "int32", group_by="grp", alias="n").collect()
    }
    with_tail = {
        r["grp"]: r["n"] for r in approx_distinct_packed(
            ragged, "payload", "int32", group_by="grp", alias="n").collect()
    }
    assert base == with_tail
    # oracle per group
    for g in range(4):
        vals = np.concatenate([
            np.frombuffer(bytes(r[2]), dtype=np.int32)
            for r in rows if r[1] == g
        ])
        assert base[g] == hll.estimate(
            hll.from_hashes(mix64(vals.astype(np.int64)), 14))


def test_packed_float_truncation(spark):
    vals = np.array([1.9, -2.7, 3.0, 1.2, 1.9], dtype=np.float64)
    df = spark.createDataFrame(
        [(1, bytearray(vals.tobytes()))], ["row_id", "payload"]
    )
    got = approx_distinct_packed(df, "payload", "float64").first()[0]
    # truncation toward zero: {1, -2, 3} -> 3 distinct (1.9 and 1.2 collide)
    want = hll.estimate(hll.from_hashes(
        mix64(np.trunc(vals).astype(np.int64)), 14))
    assert got == want == 3


# ----------------------------------------------------------------- one-shot


def test_count_prehashed_matches_pipeline():
    rng = np.random.default_rng(7)
    hs = rng.integers(0, 2 ** 64, size=100_000, dtype=np.uint64)
    assert hll.count_prehashed(hs) == hll.estimate(hll.from_hashes(hs, 14))
    # statistical sanity at the reference's measured points (~0.45-0.6%)
    err = abs(hll.count_prehashed(hs) - 100_000) / 100_000
    assert err < 3 * 1.04 / 2 ** 7

# ------------------------------------------------------------- set algebra


def test_union_intersection_jaccard_estimates():
    rng = np.random.default_rng(11)
    a_vals = rng.integers(0, 2 ** 62, size=60_000, dtype=np.uint64)
    b_vals = np.concatenate([a_vals[:20_000],                  # overlap
                             rng.integers(2 ** 62, 2 ** 63, size=40_000,
                                          dtype=np.uint64)])
    sa = hll.from_hashes(mix64(a_vals.astype(np.int64)), 14)
    sb = hll.from_hashes(mix64(b_vals.astype(np.int64)), 14)
    exact_a = len(np.unique(a_vals))
    exact_b = len(np.unique(b_vals))
    exact_u = len(np.unique(np.concatenate([a_vals, b_vals])))
    exact_i = exact_a + exact_b - exact_u
    bound = 3 * 1.04 / 2 ** 7
    assert abs(hll.union_estimate([sa, sb]) - exact_u) / exact_u < bound
    # intersection via inclusion-exclusion: three +-bound terms
    assert abs(hll.intersection_estimate(sa, sb) - exact_i) / exact_u < 3 * bound
    j = hll.jaccard_estimate(sa, sb)
    assert abs(j - exact_i / exact_u) < 3 * bound


def test_parity_float_truncation_hashing(spark):
    from hyperloglog_spark import approx_distinct

    df = spark.createDataFrame(
        [(1.9,), (1.2,), (3.0,), (2.5,), (1.7,)], ["x"]
    )
    got = approx_distinct(df, "x", hashing="parity").first()[0]
    # truncation: {1, 3, 2} -> 3 distinct, mirroring reference Add(double)
    assert got == 3


def test_jvm_sketch_agg_bytes_identical(spark, sf01_dir):
    """hll_sketch_agg serializes the register rows to the BYTES of the
    two-phase UDAF (same registers -> same deterministic codec choice)."""
    ev = spark.read.parquet(f"{sf01_dir}/events.parquet")
    got = hll_sketch_agg(ev, "user_id", group_by="event_type")
    assert _rows(got) == _rows(_reference(
        ev, "user_id", group_by=["event_type"], finalize=False))
    assert bytes(hll_sketch_agg(ev, "user_id").first()[SKETCH_COL]) == \
        bytes(_reference(ev, "user_id", finalize=False).first()[SKETCH_COL])
