"""SQL-side scalar surface (register_sql_functions) and error-bound
columns — stored sketch rows must be queryable from plain spark.sql."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hyperloglog_spark import (
    approx_distinct,
    hll_sketch_agg,
    register_sql_functions,
    with_error_bounds,
)
from hyperloglog_spark.engine.plans import python_operators
from hyperloglog_spark.sketch import hll


@pytest.fixture(scope="module")
def events(spark, sf01_dir):
    return spark.read.parquet(f"{sf01_dir}/events.parquet").cache()


@pytest.fixture(scope="module")
def stored(spark, events):
    hll_sketch_agg(events, "user_id", group_by="event_type") \
        .createOrReplaceTempView("stored_sketches")
    register_sql_functions(spark)
    return "stored_sketches"


class TestSqlFunctions:
    def test_hll_estimate_from_sql(self, spark, events, stored):
        got = {
            r[0]: r[1]
            for r in spark.sql(
                "SELECT event_type, hll_estimate(sketch) FROM stored_sketches"
            ).collect()
        }
        want = {
            r[0]: r[1]
            for r in approx_distinct(
                events, "user_id", group_by="event_type"
            ).collect()
        }
        assert got == want

    def test_hll_merge_pair_from_sql(self, spark, events, stored):
        got = spark.sql("""
            SELECT hll_estimate(hll_merge(a.sketch, b.sketch))
            FROM stored_sketches a JOIN stored_sketches b
            ON a.event_type = 'click' AND b.event_type = 'view'
        """).collect()[0][0]
        rows = {r[0]: bytes(r[1]) for r in spark.table(stored).collect()}
        want = hll.estimate(hll.merge(rows["click"], rows["view"]))
        assert got == want

    def test_hll_merge_null_absorbing(self, spark, stored):
        est, est_null = spark.sql("""
            SELECT hll_estimate(hll_merge(sketch, CAST(NULL AS BINARY))),
                   hll_merge(CAST(NULL AS BINARY), CAST(NULL AS BINARY))
            FROM stored_sketches WHERE event_type = 'click'
        """).collect()[0]
        one = spark.sql(
            "SELECT hll_estimate(sketch) FROM stored_sketches "
            "WHERE event_type = 'click'"
        ).collect()[0][0]
        assert est == one
        assert est_null is None

    def test_hll_jaccard_from_sql(self, spark, stored):
        j = spark.sql("""
            SELECT hll_jaccard(a.sketch, b.sketch)
            FROM stored_sketches a JOIN stored_sketches b
            ON a.event_type = 'click' AND b.event_type = 'view'
        """).collect()[0][0]
        assert 0.0 <= j <= 1.0


class TestErrorBounds:
    def test_bounds_bracket_exact(self, events):
        est = approx_distinct(events, "user_id", group_by="event_type")
        bounded = with_error_bounds(est)
        exact = {
            r[0]: r[1]
            for r in events.groupBy("event_type")
            .agg(F.countDistinct("user_id"))
            .collect()
        }
        for r in bounded.collect():
            assert r["approx_distinct_lo"] <= exact[r["event_type"]] \
                <= r["approx_distinct_hi"]
            se = 3.0 * 1.04 / math.sqrt(1 << 14)
            assert r["approx_distinct_lo"] == max(
                0, math.floor(r["approx_distinct"] * (1 - se))
            )

    def test_bounds_no_python_udf_in_plan(self, events):
        bounded = with_error_bounds(
            approx_distinct(events, "user_id")
        )
        # the bound columns themselves must be JVM arithmetic: exactly the
        # count-distinct path's one Python stage (its sorted register
        # finalize), no extra Eval for the bounds
        assert [name for name, _ in python_operators(bounded)] == [
            "MapInArrow"
        ]


class TestSqlFold:
    def test_hll_fold_from_sql(self, spark, events, stored):
        p16 = hll_sketch_agg(events, "user_id", p=16)
        p16.createOrReplaceTempView("p16_sketches")
        got = spark.sql(
            "SELECT hll_estimate(hll_fold(sketch, 14)) FROM p16_sketches"
        ).collect()[0][0]
        want = approx_distinct(events, "user_id", p=14).collect()[0][0]
        assert got == want
