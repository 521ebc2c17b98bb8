"""approx_distinct_multi: N per-column distinct counts in ONE scan —
estimates bit-identical to per-column approx_distinct, per-column null
semantics, a single FileScan in the plan and no shuffle of data rows.
Also the sketch input rules every entry point shares (empty column
lists, repeated output names, NULL values and weights)."""

from __future__ import annotations

import functools
import re

import pytest
from pyspark.sql import functions as F

from hyperloglog_spark import (
    approx_distinct,
    approx_distinct_multi,
    approx_quantiles,
    bloom_agg,
    bloom_build,
    cms_agg,
    cms_topk,
    countsketch_agg,
    countsketch_f2,
    hll_merged_sketch,
    hll_sketch_agg,
    kll_agg,
    theta_distinct,
    theta_sketch_agg,
)
from hyperloglog_spark.engine.aggregate import collect_merged, sketch_agg
from hyperloglog_spark.engine.checkpoint import resumable_sketch_build
from hyperloglog_spark.engine.plans import (
    assert_pruned_scan,
    exchange_inputs,
    n_exchanges,
    python_operators,
)
from hyperloglog_spark.frequency import cms_topk_shards
from hyperloglog_spark.functions import HllAggregator
from hyperloglog_spark.membership import cbf_agg, cbf_build
from hyperloglog_spark.sketch import hll
from hyperloglog_spark.streaming import streaming_sketch_agg


def _reference(df, cols, p=14, group_by=()):
    """n_<c> per group from the two-phase ``sketch_agg(HllAggregator(p))``
    over column c's non-NULL rows; a group with none holds 0."""
    group_by = [group_by] if isinstance(group_by, str) else list(group_by)
    keys = [tuple(r) for r in df.select(*group_by).distinct().collect()]
    out = {k: [0] * len(cols) for k in keys}
    for i, c in enumerate(cols):
        clean = df.filter(F.col(c).isNotNull())
        for r in sketch_agg(clean, [c], HllAggregator(p), group_by).collect():
            out[tuple(r)[:-1]][i] = r[-1]
    return out


def _rows_by_key(q, group_by=()):
    group_by = [group_by] if isinstance(group_by, str) else list(group_by)
    got = {}
    for r in q.collect():
        got[tuple(r[g] for g in group_by)] = [
            r[f] for f in q.columns if f not in group_by]
    return got


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
        # the register-set aggregate's one shuffle, fed by its partial
        # collect_set: data rows shuffle zero times, the finalize none
        assert n_exchanges(q) == 1
        assert exchange_inputs(q) == ["ObjectHashAggregate"]
        assert re.search(r"ObjectHashAggregate\([^\n]*partial_collect_set",
                         plan), plan
        assert_pruned_scan(q, {"user_id", "event_type"})

    def test_all_null_column_counts_zero(self, spark):
        df = spark.createDataFrame(
            [("x", None), ("y", None)], "s string, i int"
        )
        row = approx_distinct_multi(df, ["s", "i"]).collect()[0]
        assert row["n_s"] == 2
        assert row["n_i"] == 0


class TestMultiDistinctJvmEngine:
    """The multi-column reduction stays in whole-stage codegen (explode to
    (tag, packed) register entries + map-side-combined groupBy) through
    the one packed kernel, so each column's registers — and estimates —
    are those of the two-phase ``HllAggregator`` over that column.
    ``engine`` is accepted and selects nothing."""

    def test_global_identical_to_arrow(self, events):
        cols = ["user_id", "event_type", "value"]
        want = _reference(events, cols)
        for engine in (None, "arrow", "jvm"):
            got = approx_distinct_multi(events, cols, engine=engine)
            assert _rows_by_key(got) == want

    def test_grouped_identical_with_nulls(self, events):
        withnulls = events.withColumn(
            "maybe", F.when(F.col("event_id") % 7 != 0, F.col("user_id"))
        )
        cols = ["user_id", "maybe"]
        got = approx_distinct_multi(withnulls, cols, group_by="event_type")
        assert _rows_by_key(got, "event_type") == _reference(
            withnulls, cols, group_by="event_type")

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
        q = approx_distinct_multi(fresh, ["user_id", "event_type"])
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan") == 1
        # the per-row reduction is the JVM collect_set aggregate; the one
        # Python stage (the register-set finalize) sits directly above its
        # final aggregate, so no data row reaches Python
        [(_, below)] = python_operators(q)
        assert re.match(r"ObjectHashAggregate\(keys=\[\], "
                        r"functions=\[collect_set", below), below
        assert not re.search(r"\b(Sort|Generate)\b", plan), plan
        assert_pruned_scan(q, {"user_id", "event_type"})

    def test_all_null_groups_match_arrow(self, spark):
        """A group (or the whole input) whose rows are NULL in every
        column is kept with n_c = 0."""
        df = spark.createDataFrame(
            [("g1", "a", 1), ("g1", None, 2), ("g2", None, None),
             ("g2", None, None), (None, None, None)],
            "g string, s string, i int",
        )
        got = approx_distinct_multi(df, ["s", "i"], group_by="g")
        assert _rows_by_key(got, "g") == _reference(df, ["s", "i"],
                                                    group_by="g")
        assert [(r["g"], r["n_s"], r["n_i"])
                for r in got.orderBy("g").collect()] == [
            (None, 0, 0), ("g1", 1, 2), ("g2", 0, 0)
        ]
        nulls = df.filter(F.col("s").isNull() & F.col("i").isNull())
        j = approx_distinct_multi(nulls, ["s", "i"]).collect()
        assert [(r["n_s"], r["n_i"]) for r in j] == [(0, 0)]

    @pytest.mark.parametrize("engine", ["arrow", "jvm"])
    @pytest.mark.parametrize("p", [3, 17])
    def test_precision_checked_before_dispatch(self, events, engine, p):
        for run in (
            lambda: approx_distinct_multi(events, ["user_id"], p=p,
                                          engine=engine),
            lambda: approx_distinct(events, "user_id", p=p, engine=engine),
            lambda: approx_distinct(events, "user_id", group_by="event_type",
                                    p=p, engine=engine),
            lambda: hll_sketch_agg(events, "user_id", p=p),
            lambda: hll_sketch_agg(events, "user_id", group_by="event_type",
                                   p=p),
        ):
            with pytest.raises(ValueError, match="precision p"):
                run()

    @pytest.mark.parametrize("engine", ["arrow", "jvm"])
    def test_empty_cols_rejected_before_dispatch(self, events, engine):
        with pytest.raises(ValueError, match="at least one column"):
            approx_distinct_multi(events, [], engine=engine)

    @pytest.mark.parametrize("engine", ["arrow", "jvm"])
    def test_repeated_column_rejected_before_dispatch(self, events, engine):
        # caught on the driver: two n_user_id fields fail in the executor
        with pytest.raises(ValueError, match=r"repeated column.*'user_id'"):
            approx_distinct_multi(
                events, ["user_id", "event_type", "user_id"], engine=engine
            ).collect()

    @pytest.mark.parametrize("build", [
        approx_distinct, hll_sketch_agg, cms_agg, countsketch_agg,
        countsketch_f2, theta_sketch_agg, theta_distinct,
        functools.partial(bloom_build, expected_items=100), bloom_agg,
        cbf_build, cbf_agg,
    ], ids=["approx_distinct", "hll_sketch_agg", "cms_agg",
            "countsketch_agg", "countsketch_f2", "theta_sketch_agg",
            "theta_distinct", "bloom_build", "bloom_agg", "cbf_build",
            "cbf_agg"])
    def test_empty_cols_rejected_for_single_result(self, events, build):
        with pytest.raises(ValueError, match="at least one column"):
            build(events, [])

    @pytest.mark.parametrize("build,clash", [
        pytest.param(lambda ev: approx_distinct(
            ev, "user_id", group_by="event_type", alias="event_type"),
            "event_type", id="alias_is_group"),
        pytest.param(lambda ev: approx_distinct_multi(
            ev.withColumnRenamed("event_type", "n_user_id"), ["user_id"],
            group_by="n_user_id"), "n_user_id", id="multi_n_col_is_group"),
        pytest.param(lambda ev: hll_sketch_agg(
            ev.withColumnRenamed("event_type", "sketch"), "user_id",
            group_by="sketch"), "sketch", id="sketch_is_group"),
        pytest.param(lambda ev: approx_distinct(
            ev, "user_id", group_by=["event_type", "event_type"]),
            "event_type", id="repeated_group"),
        pytest.param(lambda ev: kll_agg(
            ev.withColumnRenamed("event_type", "sketch"), "value",
            group_by="sketch"), "sketch", id="kll_sketch_is_group"),
        pytest.param(lambda ev: cms_agg(
            ev.withColumnRenamed("event_type", "sketch"), "user_id",
            group_by="sketch"), "sketch", id="cms_sketch_is_group"),
        pytest.param(lambda ev: theta_sketch_agg(
            ev.withColumnRenamed("event_type", "sketch"), "user_id",
            group_by="sketch"), "sketch", id="theta_sketch_is_group"),
        pytest.param(lambda ev: bloom_agg(
            ev, "user_id", group_by=["event_type", "event_type"]),
            "event_type", id="bloom_repeated_group"),
        pytest.param(lambda ev: approx_quantiles(
            ev.withColumnRenamed("event_type", "q5"), "value", [0.5],
            group_by="q5"), "q5", id="quantile_is_group"),
        pytest.param(lambda ev: streaming_sketch_agg(
            ev.withColumnRenamed("event_type", "sketch"), "user_id",
            HllAggregator(), "sketch", emit_sketch=True),
            "sketch", id="streaming_emitted_sketch_is_group"),
    ])
    def test_output_name_clash_rejected_before_dispatch(
        self, events, build, clash
    ):
        # caught on the driver: two Arrow fields of one name fail in the
        # executor
        with pytest.raises(ValueError,
                           match=rf"output field\(s\) \['{clash}'\]"):
            build(events).collect()

    def test_finalized_output_may_group_by_sketch(self, events):
        # the phase-1 partial column is internal: a finalized build
        # grouped by a key named ``sketch`` has no ``sketch`` output
        by_sketch = approx_quantiles(
            events.withColumnRenamed("event_type", "sketch"), "value",
            [0.5], group_by="sketch").orderBy("sketch").collect()
        by_type = approx_quantiles(
            events, "value", [0.5],
            group_by="event_type").orderBy("event_type").collect()
        assert [tuple(r) for r in by_sketch] == [tuple(r) for r in by_type]

    def test_unknown_engine_rejected(self, events):
        with pytest.raises(ValueError, match="engine must be"):
            approx_distinct_multi(events, ["user_id"], engine="jvmm")
        with pytest.raises(ValueError, match="engine must be"):
            approx_distinct(events, "user_id", engine="jvmm")


class TestNullRule:
    """A row adds nothing when a value column, or the weight (delta)
    column, is NULL: every path equals its build over the frame without
    those rows."""

    @pytest.fixture(scope="class")
    def frame(self, spark):
        # 40 rows, 7 distinct non-NULL v; NULL v, w and d on other rows
        rows = [(f"g{i % 2}",
                 None if i % 5 == 4 else f"v{i % 7}",
                 None if i % 6 == 1 else i % 3 + 1,
                 None if i % 8 == 3 else (1 if i % 4 else -1))
                for i in range(40)]
        return spark.createDataFrame(rows, "g string, v string, w long, "
                                     "d long")

    @staticmethod
    def _without_nulls(df, *cols):
        return df.filter(F.col("v").isNotNull()).dropna(subset=list(cols))

    def test_every_path_skips_null_rows(self, frame, tmp_path):
        clean = self._without_nulls(frame)
        frame.coalesce(2).write.parquet(str(tmp_path / "t"))
        res = resumable_sketch_build(
            frame.sparkSession, str(tmp_path / "t"), "v", HllAggregator(),
            str(tmp_path / "ckpt"))
        merged = collect_merged(frame, ["v"], HllAggregator())
        want = collect_merged(clean, ["v"], HllAggregator())
        assert merged == want == res.sketch
        assert res.estimate == hll.estimate(merged) == 7
        assert approx_distinct(frame, "v").first()[0] == 7
        assert hll.estimate(hll_merged_sketch(frame, "v")) == 7

        assert cbf_build(frame, "v", delta_col="d") == cbf_build(
            self._without_nulls(frame, "d"), "v", delta_col="d")
        weighted = self._without_nulls(frame, "w")
        assert cms_agg(frame, "v", weight_col="w").first()[0] == cms_agg(
            weighted, "v", weight_col="w").first()[0]

    def test_heavy_hitters_skip_null_weights(self, frame):
        weighted = self._without_nulls(frame, "w")
        assert cms_topk(frame, "v", k=3, weight_col="w").collect() == \
            cms_topk(weighted, "v", k=3, weight_col="w").collect()
        assert cms_topk_shards(
            frame, "v", "g", weight_col="w").orderBy("g").collect() == \
            cms_topk_shards(
                weighted, "v", "g", weight_col="w").orderBy("g").collect()


class TestMultiEnvelopeBytes:
    """Each column's count equals the single-column ``approx_distinct`` of
    that column's non-NULL rows, global and grouped; a group with no
    non-NULL value in a column (``all_null``) counts 0 there."""

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
        got = _rows_by_key(
            approx_distinct_multi(frame, self.COLS, group_by=group_by, p=p),
            group_by)
        assert len(got) == (4 if group_by else 1)
        for i, c in enumerate(self.COLS):
            want = _rows_by_key(approx_distinct(
                frame.filter(F.col(c).isNotNull()), c, group_by=group_by,
                p=p), group_by)
            assert set(want) <= set(got)
            for key, counts in got.items():
                assert counts[i] == want.get(key, [0])[0], (c, key)
        if group_by:
            assert got[("all_null",)] == [0, 0]

    @pytest.mark.parametrize("p", [4, 16])
    def test_engines_equal_rows(self, frame, p):
        for group_by in ([], ["g"]):
            got = approx_distinct_multi(frame, self.COLS, group_by=group_by,
                                        p=p)
            assert _rows_by_key(got, group_by) == _reference(
                frame, self.COLS, p, group_by)
