"""approx_distinct_multi: N per-column distinct counts in ONE scan —
estimates bit-identical to per-column approx_distinct, per-column null
semantics, single FileScan + single Exchange in the plan."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from hyperloglog_spark import approx_distinct, approx_distinct_multi
from hyperloglog_spark.engine.plans import (
    assert_max_exchanges,
    assert_pruned_scan,
    python_operators,
)


@pytest.fixture(scope="module")
def events(spark, sf01_dir):
    return spark.read.parquet(f"{sf01_dir}/events.parquet").cache()


class TestMultiDistinct:
    def test_matches_per_column_runs(self, events):
        row = approx_distinct_multi(
            events, ["user_id", "event_type", "value"]
        ).collect()[0]
        for c in ("user_id", "event_type", "value"):
            single = approx_distinct(events, c).collect()[0][0]
            assert row[f"n_{c}"] == single, c

    def test_grouped(self, events):
        got = {
            r["event_type"]: (r["n_user_id"], r["n_value"])
            for r in approx_distinct_multi(
                events, ["user_id", "value"], group_by="event_type"
            ).collect()
        }
        for et, (nu, nv) in got.items():
            sub = events.filter(F.col("event_type") == et)
            assert nu == approx_distinct(sub, "user_id").collect()[0][0]
            assert nv == approx_distinct(sub, "value").collect()[0][0]

    def test_per_column_null_semantics(self, spark):
        df = spark.createDataFrame(
            [("a", 1), ("b", None), (None, 2), ("a", 2), (None, None)],
            "s string, i int",
        )
        row = approx_distinct_multi(df, ["s", "i"]).collect()[0]
        assert row["n_s"] == 2        # a, b — NULLs dropped per column
        assert row["n_i"] == 2        # 1, 2

    def test_single_scan_single_shuffle(self, spark, events, sf01_dir):
        spark.catalog.clearCache()
        fresh = spark.read.parquet(f"{sf01_dir}/events.parquet")
        q = approx_distinct_multi(fresh, ["user_id", "event_type"])
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan") == 1      # ONE pass over the data
        assert_max_exchanges(q, 1)
        assert_pruned_scan(q, {"user_id", "event_type"})

    def test_all_null_column_counts_zero(self, spark):
        df = spark.createDataFrame(
            [("x", None), ("y", None)], "s string, i int"
        )
        row = approx_distinct_multi(df, ["s", "i"]).collect()[0]
        assert row["n_s"] == 2
        assert row["n_i"] == 0


class TestMultiDistinctJvmEngine:
    """engine='jvm' keeps the multi-column reduction in whole-stage
    codegen (explode to (tag, packed) register entries + map-side-combined
    groupBy); same packed kernel as the arrow MultiHllAggregator, so the
    registers — and therefore estimates — are bit-identical."""

    def test_global_identical_to_arrow(self, events):
        cols = ["user_id", "event_type", "value"]
        a = approx_distinct_multi(events, cols).collect()
        j = approx_distinct_multi(events, cols, engine="jvm").collect()
        assert a == j

    def test_grouped_identical_with_nulls(self, events):
        withnulls = events.withColumn(
            "maybe", F.when(F.col("event_id") % 7 != 0, F.col("user_id"))
        )
        cols = ["user_id", "maybe"]
        a = (approx_distinct_multi(withnulls, cols, group_by="event_type")
             .orderBy("event_type").collect())
        j = (approx_distinct_multi(withnulls, cols, group_by="event_type",
                                   engine="jvm", expected_groups=8)
             .orderBy("event_type").collect())
        assert a == j

    def test_all_null_column_counts_zero_jvm(self, spark):
        df = spark.createDataFrame(
            [("x", None), ("y", None)], "s string, i int"
        )
        row = approx_distinct_multi(df, ["s", "i"], engine="jvm").collect()[0]
        assert row["n_s"] == 2
        assert row["n_i"] == 0

    def test_single_scan_no_arrow_udf_in_reduction(self, spark, sf01_dir):
        spark.catalog.clearCache()
        fresh = spark.read.parquet(f"{sf01_dir}/events.parquet")
        q = approx_distinct_multi(
            fresh, ["user_id", "event_type"], engine="jvm"
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan") == 1
        # the per-row reduction is JVM hash aggregation; the one Python
        # stage (the per-group register assembly, <= n_cols * 2^p rows)
        # sits above that aggregate, so no data row reaches Python
        [(_, below)] = python_operators(q)
        assert re.search(r"HashAggregate\(.*__idx", below)
        assert_pruned_scan(q, {"user_id", "event_type"})

    def test_grouped_budget_guard(self, events):
        # unknown group cardinality -> silent arrow fallback (same rule
        # as approx_distinct); over budget -> explicit error
        q = approx_distinct_multi(
            events, ["user_id", "value"], group_by="event_type",
            engine="jvm",
        )
        plan = q._sc._jvm.PythonSQLUtils.explainString(
            q._jdf.queryExecution(), "formatted")
        assert "__idx" not in plan
        with pytest.raises(ValueError, match="budget"):
            approx_distinct_multi(
                events, ["user_id", "value"], group_by="event_type",
                engine="jvm", expected_groups=1 << 24,
            )

    def test_all_null_groups_match_arrow(self, spark):
        """A group (or the whole input) whose rows are NULL in every
        column is kept with n_c = 0 by both engines."""
        df = spark.createDataFrame(
            [("g1", "a", 1), ("g1", None, 2), ("g2", None, None),
             ("g2", None, None), (None, None, None)],
            "g string, s string, i int",
        )
        kw = dict(group_by="g")
        a = approx_distinct_multi(df, ["s", "i"], **kw).orderBy("g").collect()
        j = (approx_distinct_multi(df, ["s", "i"], engine="jvm",
                                   expected_groups=3, **kw)
             .orderBy("g").collect())
        assert a == j
        assert [(r["g"], r["n_s"], r["n_i"]) for r in j] == [
            (None, 0, 0), ("g1", 1, 2), ("g2", 0, 0)
        ]
        nulls = df.filter(F.col("s").isNull() & F.col("i").isNull())
        a = approx_distinct_multi(nulls, ["s", "i"]).collect()
        j = approx_distinct_multi(nulls, ["s", "i"], engine="jvm").collect()
        assert a == j
        assert [(r["n_s"], r["n_i"]) for r in j] == [(0, 0)]

    @pytest.mark.parametrize("engine", ["arrow", "jvm"])
    @pytest.mark.parametrize("p", [3, 17])
    def test_precision_checked_before_dispatch(self, events, engine, p):
        with pytest.raises(ValueError, match="precision p"):
            approx_distinct_multi(events, ["user_id"], p=p, engine=engine)

    @pytest.mark.parametrize("engine", ["arrow", "jvm"])
    def test_empty_cols_rejected_before_dispatch(self, events, engine):
        with pytest.raises(ValueError, match="at least one column"):
            approx_distinct_multi(events, [], engine=engine)

    def test_unknown_engine_rejected(self, events):
        with pytest.raises(ValueError, match="engine must be"):
            approx_distinct_multi(events, ["user_id"], engine="jvmm")


class TestMultiEnvelopeBytes:
    """Each component of the merged multi-sketch envelope is byte-for-byte
    the single-column ``hll_sketch_agg`` sketch of that column's non-NULL
    rows; a group with no non-NULL value in a column holds the empty
    sketch there."""

    COLS = ["s", "n"]

    @pytest.fixture(scope="class")
    def frame(self, spark):
        rows = [
            (f"g{i % 3}",
             None if i % 5 == 0 else f"s{i % 97}",
             None if i % 7 == 0 else (i * 7919) % 4001)
            for i in range(3000)
        ]
        rows += [("all_null", None, None)] * 4
        return spark.createDataFrame(rows, "g string, s string, n int")

    @pytest.mark.parametrize("p", [4, 16])
    @pytest.mark.parametrize("group_by", [[], ["g"]], ids=["global", "grouped"])
    def test_components_equal_single_column_sketches(
        self, frame, p, group_by
    ):
        from hyperloglog_spark import hll_sketch_agg
        from hyperloglog_spark.engine.aggregate import SKETCH_COL, sketch_agg
        from hyperloglog_spark.functions import (
            MultiHllAggregator,
            _unpack_multi,
        )
        from hyperloglog_spark.sketch import hll

        merged = sketch_agg(frame, self.COLS,
                            MultiHllAggregator(self.COLS, p=p), group_by,
                            finalize=False).collect()
        got = {
            tuple(r[g] for g in group_by): _unpack_multi(bytes(r[SKETCH_COL]))
            for r in merged
        }
        assert len(got) == (4 if group_by else 1)
        for i, c in enumerate(self.COLS):
            want = {
                tuple(r[g] for g in group_by): bytes(r[SKETCH_COL])
                for r in hll_sketch_agg(frame.filter(F.col(c).isNotNull()),
                                        c, group_by=group_by, p=p).collect()
            }
            assert set(want) <= set(got)
            for key, comps in got.items():
                assert comps[i] == want.get(key, hll.empty(p)), (c, key)

    @pytest.mark.parametrize("p", [4, 16])
    def test_engines_equal_rows(self, frame, p):
        kw = dict(group_by="g", p=p)
        a = approx_distinct_multi(frame, self.COLS, **kw).orderBy("g")
        j = approx_distinct_multi(frame, self.COLS, engine="jvm",
                                  expected_groups=4, **kw).orderBy("g")
        assert a.collect() == j.collect()
        assert (approx_distinct_multi(frame, self.COLS, p=p).collect()
                == approx_distinct_multi(frame, self.COLS, p=p,
                                         engine="jvm").collect())
