"""Sketch-column rollup: merging STORED sketches must be byte-identical to
sketching the raw rows directly (merge associativity/commutativity at the
DataFrame level), for every sketch kind, with no rescan of the data."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hyperloglog_spark import (
    approx_distinct,
    hll_rollup,
    hll_sketch_agg,
    merge_sketches,
)
from hyperloglog_spark.engine.aggregate import sketch_agg
from hyperloglog_spark.frequency import cms_agg
from hyperloglog_spark.functions import HllAggregator
from hyperloglog_spark.quantiles import kll_agg
from hyperloglog_spark.rollup import _merge_cells
from hyperloglog_spark.sketch import kll


@pytest.fixture(scope="module")
def events(spark, sf01_dir):
    df = spark.read.parquet(f"{sf01_dir}/events.parquet")
    # a "day" column splits each event_type into finer shards — the
    # stored-sketch granularity the rollup coarsens away
    return df.withColumn(
        "day", F.date_trunc("day", F.col("ts")).cast("date")
    ).cache()


class TestHllRollup:
    def test_rollup_byte_identical_to_direct(self, events):
        daily = hll_sketch_agg(
            events, "user_id", group_by=["event_type", "day"]
        )
        rolled = {
            r["event_type"]: bytes(r["sketch"])
            for r in merge_sketches(daily, group_by="event_type").collect()
        }
        direct = {
            r["event_type"]: bytes(r["sketch"])
            for r in hll_sketch_agg(
                events, "user_id", group_by="event_type"
            ).collect()
        }
        assert rolled == direct

    def test_rollup_estimates_match_build(self, events):
        daily = sketch_agg(
            events.filter(F.col("user_id").isNotNull()), ["user_id"],
            HllAggregator(), ["event_type", "day"], finalize=False,
        )
        direct = hll_sketch_agg(events, "user_id",
                                group_by=["event_type", "day"])
        assert sorted(map(tuple, daily.collect()), key=repr) == sorted(
            map(tuple, direct.collect()), key=repr)
        got = {
            r["event_type"]: r["n_users"]
            for r in hll_rollup(
                daily, group_by="event_type", alias="n_users"
            ).collect()
        }
        want = {
            r["event_type"]: r["n_users"]
            for r in approx_distinct(
                events, "user_id", group_by="event_type", alias="n_users"
            ).collect()
        }
        assert got == want

    def test_global_rollup(self, events):
        daily = hll_sketch_agg(events, "user_id", group_by="day")
        (est,) = hll_rollup(daily).collect()[0]
        want = approx_distinct(events, "user_id").collect()[0][0]
        assert est == want

    def test_persisted_sketches_roundtrip_parquet(self, events, spark, tmp_path):
        daily = hll_sketch_agg(events, "user_id", group_by="day")
        path = str(tmp_path / "sketches")
        daily.write.parquet(path)
        stored = spark.read.parquet(path)
        got = hll_rollup(stored).collect()[0][0]
        want = hll_rollup(daily).collect()[0][0]
        assert got == want

    def test_null_cells_skipped(self, events, spark):
        daily = hll_sketch_agg(events, "user_id", group_by="day")
        import pyspark.sql.types as T

        nullable = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in daily.schema]
        )
        null_row = spark.createDataFrame([(None, None)], schema=nullable)
        with_null = daily.unionByName(null_row)
        got = hll_rollup(with_null).collect()[0][0]
        want = hll_rollup(daily).collect()[0][0]
        assert got == want


class TestOtherKinds:
    def test_cms_rollup_byte_identical(self, events):
        shards = cms_agg(events, "event_type", group_by="day")
        rolled = bytes(merge_sketches(shards).collect()[0][0])
        direct = bytes(cms_agg(events, "event_type").collect()[0][0])
        assert rolled == direct

    def test_theta_rollup_byte_identical(self, events):
        # theta union is the min-k merge law: deterministic and
        # bracketing-insensitive, so rolled bytes == direct-build bytes
        from hyperloglog_spark.setops import theta_sketch_agg

        shards = theta_sketch_agg(events, "user_id", group_by="day", k=128)
        rolled = bytes(merge_sketches(shards).collect()[0][0])
        direct = bytes(
            theta_sketch_agg(events, "user_id", k=128).collect()[0][0]
        )
        assert rolled == direct

    def test_kll_rollup_merges(self, events):
        shards = kll_agg(events, "value", group_by="day")
        rolled = bytes(merge_sketches(shards).collect()[0][0])
        # KLL compaction is seeded per-feed, so rolled != direct bytes in
        # general; the contract is a valid sketch whose quantiles are sane
        lo, mid, hi = (kll.quantiles(rolled, [0.0, 0.5, 1.0]))
        assert lo <= mid <= hi

    def test_quantiles_rollup_within_rank_error(self, events):
        # KLL merges are order-independent but bracketing-SENSITIVE (each
        # merge call compacts), so distributed rollup bytes legitimately
        # differ from a flat driver merge; the contract is rank error.
        from hyperloglog_spark import quantiles_rollup

        shards = kll_agg(events, "value", group_by="day")
        got = quantiles_rollup(shards, [0.5, 0.9]).collect()[0]
        vals = np.sort(
            np.array([r[0] for r in events.select("value").collect()])
        )
        for q, name in [(0.5, "q5"), (0.9, "q9")]:
            lo = vals[int(max(q - 0.05, 0) * (len(vals) - 1))]
            hi = vals[int(min(q + 0.05, 1) * (len(vals) - 1))]
            assert lo <= got[name] <= hi, (name, got[name], lo, hi)

    def test_quantiles_rollup_tdigest_grouped(self, events):
        from hyperloglog_spark import quantiles_rollup
        from hyperloglog_spark.quantiles import tdigest_agg

        shards = tdigest_agg(events, "value", group_by=["event_type", "day"])
        got = {
            r["event_type"]: r["q5"]
            for r in quantiles_rollup(
                shards, [0.5], group_by="event_type"
            ).collect()
        }
        raw = events.select("event_type", "value").collect()
        for et, med in got.items():
            vals = np.sort(np.array([r[1] for r in raw if r[0] == et]))
            lo = vals[int(0.45 * (len(vals) - 1))]
            hi = vals[int(0.55 * (len(vals) - 1))]
            assert lo <= med <= hi, (et, med, lo, hi)

    def test_quantiles_rollup_rejects_hll_cells(self, events):
        from hyperloglog_spark import quantiles_rollup

        daily = hll_sketch_agg(events, "user_id", group_by="day")
        with pytest.raises(Exception, match="KLL/t-digest"):
            quantiles_rollup(daily, [0.5]).collect()

    def test_mixed_kind_group_raises(self, events):
        h = hll_sketch_agg(events, "user_id").collect()[0][0]
        c = cms_agg(events, "event_type").collect()[0][0]
        with pytest.raises(ValueError, match="mixed sketch kinds"):
            _merge_cells([bytes(h), bytes(c)])

    def test_mixed_precision_hll_raises(self, events):
        a = hll_sketch_agg(events, "user_id", p=12).collect()[0][0]
        b = hll_sketch_agg(events, "user_id", p=14).collect()[0][0]
        with pytest.raises(ValueError):
            _merge_cells([bytes(a), bytes(b)])


class TestCmsTopkRollup:
    def test_rollup_matches_exact_topk(self, events):
        from hyperloglog_spark.frequency import cms_topk_rollup, cms_topk_shards

        shards = cms_topk_shards(events, "event_type", shard_by="day")
        got = cms_topk_rollup(shards, "event_type", k=5).collect()
        want = {
            r[0]: r[1]
            for r in events.groupBy("event_type").count().collect()
        }
        assert len(got) == 5
        for r in got:
            # value space far below sketch width -> point estimates exact
            assert r["approx_count"] == want[r["event_type"]]
        counts = [r["approx_count"] for r in got]
        assert counts == sorted(counts, reverse=True)

    def test_shards_roundtrip_parquet_and_grouped_rollup(
        self, events, spark, tmp_path
    ):
        from hyperloglog_spark.frequency import cms_topk_rollup, cms_topk_shards

        shards = cms_topk_shards(
            events, "user_id", shard_by=["event_type", "day"]
        )
        path = str(tmp_path / "cms_shards")
        shards.write.parquet(path)
        stored = spark.read.parquet(path)
        got = cms_topk_rollup(
            stored, "user_id", k=1, group_by="event_type"
        ).collect()
        exact_max = {
            r[0]: r[1]
            for r in events.groupBy("event_type", "user_id").count()
            .groupBy("event_type").agg(F.max("count")).collect()
        }
        assert len(got) == 5
        for r in got:
            # CMS point estimates only overestimate; the true per-group max
            # is a lower bound and candidates cover the argmax
            assert r["approx_count"] >= exact_max[r["event_type"]]


class TestFoldTo:
    def test_mixed_precision_store_rolls_up_with_fold(self, events, spark):
        # shards written at different precisions over time (p=16 era, then
        # p=14 era) roll up exactly after folding to the coarser precision
        old_era = hll_sketch_agg(
            events.filter(F.col("event_type") == "click"), "user_id", p=16
        ).withColumn("era", F.lit("old"))
        new_era = hll_sketch_agg(
            events.filter(F.col("event_type") != "click"), "user_id", p=14
        ).withColumn("era", F.lit("new"))
        store = old_era.unionByName(new_era)
        got = hll_rollup(store, fold_to=14).collect()[0][0]
        want = approx_distinct(events, "user_id", p=14).collect()[0][0]
        assert got == want

    def test_without_fold_mixed_precision_fails(self, events):
        a = hll_sketch_agg(events, "user_id", p=16)
        b = hll_sketch_agg(events, "user_id", p=14)
        with pytest.raises(Exception, match="precision"):
            merge_sketches(a.unionByName(b)).collect()


class TestBloomRollup:
    def test_merged_shards_have_zero_false_negatives(self, events):
        from hyperloglog_spark.membership import bloom_agg, with_might_contain

        shards = bloom_agg(events, "user_id", group_by="day")
        merged = bytes(merge_sketches(shards).collect()[0][0])
        probed = with_might_contain(events, "user_id", merged)
        misses = probed.filter(~F.col("might_contain")).count()
        assert misses == 0        # Bloom guarantee: no false negatives

    def test_merged_shards_byte_identical_to_direct(self, events):
        from hyperloglog_spark.membership import bloom_agg

        shards = bloom_agg(events, "user_id", group_by="day")
        rolled = bytes(merge_sketches(shards).collect()[0][0])
        direct = bytes(bloom_agg(events, "user_id").collect()[0][0])
        assert rolled == direct   # bitset OR is associative + commutative


def test_weighted_shards_rollup_matches_exact_sums(spark):
    from pyspark.sql import functions as F

    from hyperloglog_spark.frequency import cms_topk_rollup, cms_topk_shards

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    shards = cms_topk_shards(
        li, "l_partkey", shard_by="l_returnflag",
        candidates_per_shard=64, weight_col="l_quantity",
    )
    got = [(r["l_partkey"], r["approx_count"])
           for r in cms_topk_rollup(shards, "l_partkey", k=5).collect()]
    want = [(r["l_partkey"], r["total"]) for r in (
        li.groupBy("l_partkey").agg(F.sum("l_quantity").alias("total"))
        .orderBy(F.desc("total"), "l_partkey").limit(5).collect())]
    assert got == want


def test_global_rollup_tree_merge_partition_invariant(spark):
    """Global (no-group) merge_sketches tree-reduces per-partition partials
    on the cluster; any partitioning of the stored cells must yield the
    byte-identical merged sketch (register-max monoid)."""
    from hyperloglog_spark import hll_sketch_agg
    from hyperloglog_spark.rollup import merge_sketches

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    stored = hll_sketch_agg(ev, "user_id", group_by="event_type")
    a = merge_sketches(stored.coalesce(1)).collect()
    b = merge_sketches(stored.repartition(40)).collect()
    assert len(a) == len(b) == 1
    assert bytes(a[0]["sketch"]) == bytes(b[0]["sketch"])
