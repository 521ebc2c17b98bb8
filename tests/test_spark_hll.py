"""End-to-end Spark tests for the two-phase HLL aggregation (SURVEY.md §5.2
layer 4): distributed == local on the same rows, determinism across
partitioning, error bound vs exact countDistinct, null semantics."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hyperloglog_spark import (
    approx_distinct,
    hll_estimate_udf,
    hll_merged_sketch,
    hll_sketch_agg,
)
from hyperloglog_spark.sketch import hll
from hyperloglog_spark.sketch.hashing import fnv1a64_utf16le


@pytest.fixture(scope="module")
def events(spark, sf01_dir):
    return spark.read.parquet(f"{sf01_dir}/events.parquet").cache()


def within_bound(est: int, exact: int, p: int = 14, k: float = 3.0) -> bool:
    return abs(est - exact) <= max(k * hll.error_bound(p) * exact, 2)


class TestApproxDistinct:
    def test_ungrouped_within_bound(self, events):
        est = approx_distinct(events, "user_id").collect()[0][0]
        exact = events.select(F.countDistinct("user_id")).collect()[0][0]
        assert within_bound(est, exact)

    def test_grouped_within_bound(self, events):
        got = {
            r["event_type"]: r["approx_distinct"]
            for r in approx_distinct(
                events, "user_id", group_by="event_type"
            ).collect()
        }
        exact = {
            r["event_type"]: r["n"]
            for r in events.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        assert got.keys() == exact.keys()
        for k in exact:
            assert within_bound(got[k], exact[k]), (k, got[k], exact[k])

    def test_composite_key(self, events):
        est = approx_distinct(events, ["user_id", "event_type"]).collect()[0][0]
        exact = events.select(
            F.countDistinct("user_id", "event_type")
        ).collect()[0][0]
        assert within_bound(est, exact)

    def test_alias(self, events):
        df = approx_distinct(events, "user_id", alias="n_users")
        assert df.columns == ["n_users"]

    def test_deterministic_across_partitioning(self, events):
        """Register-max is a monoid: any partitioning must produce the
        byte-identical merged sketch, hence the identical estimate."""
        sk1 = hll_merged_sketch(events.repartition(1), "user_id")
        sk16 = hll_merged_sketch(events.repartition(16), "user_id")
        sk3 = hll_merged_sketch(events.coalesce(3), "user_id")
        assert sk1 == sk16 == sk3

    def test_null_semantics(self, spark):
        df = spark.createDataFrame(
            [("a",), ("b",), (None,), ("a",)], ["k"]
        )
        est = approx_distinct(df, "k").collect()[0][0]
        assert est == 2  # nulls excluded, matching COUNT(DISTINCT)

    def test_all_null_group(self, spark):
        df = spark.createDataFrame(
            [("g1", "x"), ("g1", None), (None, "y")], ["g", "v"]
        )
        rows = {
            r["g"]: r["approx_distinct"]
            for r in approx_distinct(df, "v", group_by="g").collect()
        }
        assert rows == {"g1": 1, None: 1}


class TestParityHashing:
    def test_distributed_equals_local_kernel(self, events):
        """Parity path: the distributed two-phase sketch must be
        byte-identical to a single local numpy build over the same rows."""
        vals = [r[0] for r in events.select("event_type").collect()]
        local = hll.from_hashes(fnv1a64_utf16le(vals), 14)
        dist = hll_merged_sketch(
            events.repartition(8), "event_type", hashing="parity"
        )
        assert dist == local

    def test_parity_int_column(self, events):
        from hyperloglog_spark.sketch.hashing import mix64

        vals = np.array(
            [r[0] for r in events.select("user_id").collect()], dtype=np.int64
        )
        local = hll.from_hashes(mix64(vals), 14)
        dist = hll_merged_sketch(events, "user_id", hashing="parity")
        assert dist == local


class TestSketchColumn:
    def test_sketch_agg_plus_estimate_udf(self, events):
        sk_df = hll_sketch_agg(events, "user_id", group_by="event_type")
        assert set(sk_df.columns) == {"event_type", "sketch"}
        out = sk_df.select(
            "event_type", hll_estimate_udf("sketch").alias("est")
        ).collect()
        exact = {
            r["event_type"]: r["n"]
            for r in events.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        for r in out:
            assert within_bound(r["est"], exact[r["event_type"]])

    def test_sketches_mergeable_downstream(self, events):
        """Stored per-group sketches merge to the global sketch."""
        per_group = hll_sketch_agg(events, "user_id", group_by="event_type")
        merged = hll.merge_many([r["sketch"] for r in per_group.collect()])
        global_sk = hll_merged_sketch(events, "user_id")
        assert merged == global_sk


class TestDistributedPreMerge:
    """collect_merged must never materialize O(#partitions) rows on the
    driver: the partials tree-reduce ON THE CLUSTER (contiguous buckets of
    fan_in, order-preserving) and the driver collects exactly one row.
    The tree is a pure re-bracketing of the sequential left-to-right fold,
    so the result is byte-identical (register-max monoid / shuffled-merge
    laws)."""

    def test_tree_merge_byte_identical_to_sequential_fold(self, events):
        from hyperloglog_spark.engine.aggregate import (
            collect_merged,
            sketch_partials,
        )
        from hyperloglog_spark.functions import HllAggregator

        agg = HllAggregator(p=14)
        wide = events.repartition(40)
        rows = sketch_partials(wide, ["user_id"], agg).collect()
        sequential = agg.merge_many([r["sketch"] for r in rows])
        tree = collect_merged(wide, ["user_id"], agg, fan_in=4)
        assert tree == sequential

    def test_driver_sees_one_row_at_any_partition_count(self, events):
        from hyperloglog_spark.engine.aggregate import premerged_sketch
        from hyperloglog_spark.engine.plans import python_operators
        from hyperloglog_spark.functions import HllAggregator

        agg = HllAggregator(p=14)
        for n_parts, fan_in, want_levels in [(40, 4, 3), (8, 32, 1)]:
            one = premerged_sketch(
                events.repartition(n_parts), ["user_id"], agg, fan_in=fan_in
            )
            # ceil(log_fan_in(P)) merge levels incl. the final one, each a
            # MapInArrow above the one phase-1 MapInArrow: each task holds
            # <= fan_in partials regardless of P
            names = [n for n, _ in python_operators(one)]
            assert names == ["MapInArrow"] * (want_levels + 1)
            collected = one.collect()
            assert len(collected) == 1

    def test_builders_inherit_premerge(self, events, spark):
        """bloom/cbf/fd builders ride collect_merged: high partition count
        must not change their output."""
        from hyperloglog_spark.membership import bloom_build

        narrow = bloom_build(events.coalesce(2), "user_id", expected_items=20_000)
        wide = bloom_build(events.repartition(37), "user_id", expected_items=20_000)
        assert narrow == wide  # bitset OR is a commutative monoid

    def test_small_p_direct_collect_skips_tree_stage(self, events):
        """P <= fan_in: collect_merged folds the (at most fan_in) partials
        driver-side — the same row bound every tree task holds — with NO
        grouped-merge stage, and the bytes equal the tree path's (the tree
        is a re-bracketing of this very fold)."""
        from hyperloglog_spark.engine.aggregate import (
            collect_merged,
            sketch_partials,
        )
        from hyperloglog_spark.engine.plans import python_operators
        from hyperloglog_spark.functions import HllAggregator

        agg = HllAggregator(p=14)
        small = events.repartition(6)
        direct = collect_merged(small, ["user_id"], agg, fan_in=8)
        via_tree = collect_merged(small, ["user_id"], agg, fan_in=2)
        assert direct == via_tree
        # the phase-1 partials plan has exactly one python-UDF stage; the
        # small-P path must not add a merge level on top of it
        partials = sketch_partials(small, ["user_id"], agg)
        assert len(python_operators(partials)) == 1
