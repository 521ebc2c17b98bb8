"""Kernel + Spark tests for Bloom filter and count-min sketch
(SURVEY.md §2.4, §5.2 layer 8)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hyperloglog_spark.frequency import cms_agg, cms_point_query_udf, cms_topk
from hyperloglog_spark.membership import bloom_agg, bloom_build, with_might_contain
from hyperloglog_spark.sketch import bloom, cms
from hyperloglog_spark.sketch.hashing import mix64


def hashes_of(seed: int, n: int) -> np.ndarray:
    return np.random.default_rng(seed).integers(0, 2**64, size=n, dtype=np.uint64)


class TestBloomKernel:
    def test_no_false_negatives(self):
        members = hashes_of(1, 50_000)
        sk = bloom.from_hashes(members, 1 << 20, 7)
        assert bloom.might_contain(sk, members).all()

    def test_fpp_near_theory(self):
        members = hashes_of(2, 100_000)
        m_bits, k = bloom.optimal_params(100_000, fpp=0.01)
        sk = bloom.from_hashes(members, m_bits, k)
        probes = hashes_of(3, 200_000)  # essentially disjoint from members
        fp = bloom.might_contain(sk, probes).mean()
        assert fp <= 3 * 0.01, fp
        assert abs(bloom.expected_fpp(sk) - fp) < 0.01

    def test_merge_laws(self):
        parts = [bloom.from_hashes(hashes_of(10 + i, 5_000), 1 << 16, 5)
                 for i in range(6)]
        base = bloom.merge_many(parts)
        rng = np.random.default_rng(0)
        for _ in range(4):
            order = rng.permutation(6)
            assert bloom.merge_many([parts[i] for i in order]) == base
        single = bloom.from_hashes(
            np.concatenate([hashes_of(10 + i, 5_000) for i in range(6)]),
            1 << 16, 5)
        assert bloom.bitset(base).tobytes() == bloom.bitset(single).tobytes()

    def test_param_mismatch_raises(self):
        with pytest.raises(ValueError, match="params"):
            bloom.merge_many([bloom.empty(1 << 10, 3), bloom.empty(1 << 11, 3)])

    def test_optimal_params_sane(self):
        m, k = bloom.optimal_params(1_000_000, 0.01)
        assert m >= 9_000_000 and 1 <= k <= 30

    def test_validation(self):
        with pytest.raises(ValueError):
            bloom.empty(1000, 3)  # not a power of two
        with pytest.raises(ValueError):
            bloom.empty(1 << 10, 0)


class TestCmsKernel:
    def test_overestimate_only_and_bounded(self):
        rng = np.random.default_rng(5)
        values = rng.zipf(1.3, size=200_000)
        values = values[values < 10_000].astype(np.int64)
        hashes = mix64(values)
        sk = cms.from_hashes(hashes)
        uniq, true_counts = np.unique(values, return_counts=True)
        est = cms.point_query(sk, mix64(uniq))
        assert (est.astype(np.int64) >= true_counts).all()
        eps, _ = cms.error_bound(sk)
        n = len(values)
        over = est.astype(np.int64) - true_counts
        assert (over <= max(eps * n, 1) * 20).all()
        # vast majority exact at this width
        assert (over == 0).mean() > 0.95

    def test_merge_equals_single_pass(self):
        chunks = [hashes_of(20 + i, 30_000) for i in range(4)]
        merged = cms.merge_many([cms.from_hashes(c) for c in chunks])
        single = cms.from_hashes(np.concatenate(chunks))
        assert np.array_equal(cms.table(merged), cms.table(single))
        d, w, n = cms.params(merged)
        assert n == 120_000

    def test_merge_commutative(self):
        a = cms.from_hashes(hashes_of(30, 1_000))
        b = cms.from_hashes(hashes_of(31, 50_000))
        assert cms.merge_many([a, b]) == cms.merge_many([b, a])

    def test_sparse_small_group(self):
        sk = cms.from_hashes(hashes_of(40, 10))
        assert len(sk) < 1000  # sparse encoding, not d*w*8
        assert cms.point_query(sk, hashes_of(40, 10)).min() >= 1

    def test_weighted_counts(self):
        h = hashes_of(41, 5)
        sk = cms.from_hashes(h, counts=np.array([7, 1, 3, 2, 11]))
        est = cms.point_query(sk, h)
        assert (est >= np.array([7, 1, 3, 2, 11])).all()

    def test_shape_mismatch_raises(self):
        with pytest.raises(ValueError, match="shape"):
            cms.merge_many([cms.empty(4, 10), cms.empty(4, 12)])


@pytest.fixture(scope="module")
def events(spark, sf01_dir):
    return spark.read.parquet(f"{sf01_dir}/events.parquet").cache()


class TestBloomSpark:
    def test_build_and_probe_members(self, spark, sf01_dir, events):
        cust = spark.read.parquet(f"{sf01_dir}/customer.parquet")
        sk = bloom_build(cust, "c_custkey", expected_items=5_000, fpp=0.001)
        probed = with_might_contain(cust, "c_custkey", sk, alias="seen")
        assert probed.filter(~F.col("seen")).count() == 0  # no false negatives

    def test_probe_nonmembers_low_fpp(self, spark, sf01_dir):
        cust = spark.read.parquet(f"{sf01_dir}/customer.parquet")
        sk = bloom_build(cust, "c_custkey", expected_items=5_000, fpp=0.001)
        non = spark.range(10_000_000, 10_020_000).withColumnRenamed("id", "key")
        fp = with_might_contain(non, "key", sk, alias="seen").filter(
            F.col("seen")).count()
        assert fp <= 20_000 * 0.01

    def test_grouped_bloom(self, events):
        grouped = bloom_agg(events, "user_id", group_by="event_type",
                            m_bits=1 << 14, k=5)
        assert grouped.count() == events.select("event_type").distinct().count()


class TestBloomFilteredJoin:
    def _sides(self, spark):
        # big: 20k rows keyed 0..1999; small: 50 keys, only half of which
        # exist in big (so the join is selective both ways)
        big = spark.range(20_000).select(
            (F.col("id") % 2_000).alias("key"), F.col("id").alias("payload")
        )
        small = spark.range(50).select(
            (F.col("id") * 79).alias("key"), F.col("id").alias("tag")
        )
        return big, small

    def test_inner_equals_plain_join(self, spark):
        from hyperloglog_spark.membership import bloom_filtered_join

        big, small = self._sides(spark)
        got = sorted(bloom_filtered_join(big, small, "key").collect())
        want = sorted(big.join(small, "key").collect())
        assert got == want and len(want) > 0

    def test_left_semi_equals_plain_and_fps_removed(self, spark):
        """A deliberately tiny filter (64 bits for 50 keys) floods the
        probe with false positives — the exact join must still remove
        every one of them."""
        from hyperloglog_spark.membership import bloom_filtered_join

        big, small = self._sides(spark)
        got = sorted(
            bloom_filtered_join(
                big, small, "key", how="left_semi", m_bits=64, k=1
            ).collect()
        )
        want = sorted(big.join(small, "key", "left_semi").collect())
        assert got == want

    def test_unsound_join_types_rejected(self, spark):
        from hyperloglog_spark.membership import bloom_filtered_join

        big, small = self._sides(spark)
        for how in ("left", "left_outer", "full", "left_anti"):
            with pytest.raises(ValueError):
                bloom_filtered_join(big, small, "key", how=how)

    def test_probe_filters_before_join(self, spark):
        """The scale contract: the Bloom probe (ArrowEvalPython) must sit
        on the big side BELOW the join, and no cartesian appears."""
        from hyperloglog_spark.membership import bloom_filtered_join

        big, small = self._sides(spark)
        q = bloom_filtered_join(big, small, "key", fpp=0.001)
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in plan
        assert "CartesianProduct" not in plan


class TestCmsSpark:
    def test_topk_matches_exact(self, events):
        got = cms_topk(events, "event_type", k=5).collect()
        exact = (
            events.groupBy("event_type").count()
            .orderBy(F.desc("count"), F.asc("event_type")).collect()
        )
        assert [(r[0], r[1]) for r in got] == [(r[0], r[1]) for r in exact]

    def test_point_query_udf(self, events, spark):
        sk_row = cms_agg(events, "event_type").collect()[0]
        sk = sk_row["sketch"]
        distinct = events.select("event_type").distinct()
        est = distinct.withColumn(
            "est", cms_point_query_udf(sk)(F.xxhash64("event_type"))
        ).collect()
        exact = {
            r["event_type"]: r["count"]
            for r in events.groupBy("event_type").count().collect()
        }
        for r in est:
            assert r["est"] >= exact[r["event_type"]]
            assert r["est"] <= exact[r["event_type"]] + 10

    def test_topk_deterministic_across_partitioning(self, events):
        a = cms_topk(events.repartition(16), "user_id", k=10).collect()
        b = cms_topk(events.repartition(2), "user_id", k=10).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_cms_topk_uniformly_spread_heavy_key(spark):
    """VERDICT round 1 #3: a key spread uniformly across partitions, buried
    below 100 partition-local decoys everywhere (old local-top-64 heuristic
    dropped it), must surface — it is the GLOBAL top-1 by 24x."""
    from hyperloglog_spark import cms_topk

    rows = []
    for p in range(32):
        for dcy in range(100):              # partition-unique decoys
            rows += [(p, f"decoy-{p:02d}-{dcy:03d}")] * 40
        rows += [(p, "needle")] * 30        # local rank 101 everywhere
    df = (spark.createDataFrame(rows, ["pkey", "v"])
          .repartition(32, "pkey"))
    top = cms_topk(df, "v", k=1).collect()
    assert top[0]["v"] == "needle"
    assert top[0]["approx_count"] >= 32 * 30    # CMS >= true count


def test_cms_topk_bounded_store_high_cardinality(spark):
    """The MG store prunes at capacity yet the true heavy hitter (far above
    N_p/(C+1)) deterministically survives — and memory stays bounded at
    any distinct-value cardinality (the old code accumulated every
    distinct value per partition)."""
    from hyperloglog_spark import cms_topk

    import numpy as np
    rng = np.random.default_rng(8)
    tail = [(int(x),) for x in rng.integers(10_000, 2_000_000, size=120_000)]
    heavy = [(7,)] * 9_000
    df = spark.createDataFrame(heavy + tail, ["v"]).repartition(8)
    top = cms_topk(df, "v", k=1, candidates_per_partition=32).collect()
    assert top[0]["v"] == 7
    assert top[0]["approx_count"] >= 9_000


class TestWeightedCms:
    def test_weighted_equals_exploded_rows(self, spark):
        """Integer weights == repeating rows: byte-identical sketches."""
        from hyperloglog_spark.frequency import cms_agg

        rows = [(f"k{i % 7}", (i % 3) + 1) for i in range(200)]
        df = spark.createDataFrame(rows, ["key", "w"])
        weighted = bytes(cms_agg(df, "key", weight_col="w",
                                 d=3, log2_w=8).collect()[0]["sketch"])
        exploded = df.selectExpr("key", "explode(sequence(1, w)) AS i")
        plain = bytes(cms_agg(exploded, "key",
                              d=3, log2_w=8).collect()[0]["sketch"])
        assert weighted == plain

    def test_negative_weight_rejected(self, spark):
        from hyperloglog_spark.frequency import cms_agg

        df = spark.createDataFrame([("a", -1)], ["key", "w"])
        with pytest.raises(Exception, match="non-negative"):
            cms_agg(df, "key", weight_col="w").collect()

    def test_fractional_weight_rejected_not_truncated(self, spark):
        """A fractional weight raises (as cms_topk does) instead of being
        floor-truncated; integral-valued doubles count exactly."""
        from hyperloglog_spark.frequency import cms_agg, cms_topk_shards
        from hyperloglog_spark.sketch import cms as cms_kernel

        frac = spark.createDataFrame([("a", 2.7), ("b", 1.0)], ["key", "w"])
        with pytest.raises(Exception, match="non-negative integers"):
            cms_agg(frac, "key", weight_col="w").collect()
        with pytest.raises(Exception, match="non-negative integers"):
            cms_topk_shards(frac, "key", "key", weight_col="w").collect()
        whole = spark.createDataFrame([("a", 3.0), ("b", 1.0)], ["key", "w"])
        sk = bytes(cms_agg(whole, "key", weight_col="w").first()["sketch"])
        assert cms_kernel.params(sk)[2] == 4
        shards = cms_topk_shards(whole, "key", "key", weight_col="w")
        assert sum(cms_kernel.params(bytes(r["sketch"]))[2]
                   for r in shards.collect()) == 4

    def test_point_query_sums_weights(self, spark):
        import numpy as np
        from hyperloglog_spark.frequency import cms_agg
        from hyperloglog_spark.sketch import cms as cms_kernel
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [("x", 10), ("x", 5), ("y", 7)], ["key", "w"])
        sk = bytes(cms_agg(df, "key", weight_col="w").collect()[0]["sketch"])
        hx = df.sparkSession.sql(
            "SELECT xxhash64('x') AS h, xxhash64('y') AS h2").collect()[0]
        got = cms_kernel.point_query(
            sk, np.array([hx["h"], hx["h2"]], dtype=np.int64).view(np.uint64))
        assert list(got) == [15, 7]
        assert cms_kernel.params(sk)[2] == 22  # n_total = total mass


class TestWeightedTopk:
    def test_weighted_topk_matches_exact_sum_ranking(self, spark):
        from hyperloglog_spark.frequency import cms_topk
        from pyspark.sql import functions as F

        li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        got = [(r["l_partkey"], r["approx_count"]) for r in cms_topk(
            li, "l_partkey", k=5, weight_col="l_quantity").collect()]
        want = [(r["l_partkey"], r["total"]) for r in (
            li.groupBy("l_partkey")
            .agg(F.sum("l_quantity").alias("total"))
            .orderBy(F.desc("total"), "l_partkey").limit(5).collect())]
        assert got == want  # exact regime: estimates == exact sums

    def test_weighted_topk_partition_invariance(self, spark):
        from hyperloglog_spark.frequency import cms_topk

        li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        a = cms_topk(li, "l_partkey", k=5, weight_col="l_quantity").collect()
        b = cms_topk(li.repartition(17), "l_partkey", k=5,
                     weight_col="l_quantity").collect()
        assert list(map(tuple, a)) == list(map(tuple, b))


class TestCmsTopkVerified:
    """Estimate-then-verify heavy hitters: candidates from CMS+MG, exact
    counts from one candidate-only rescan — output equals the exact
    groupBy top-k."""

    def test_equals_exact_topk(self, spark):
        from hyperloglog_spark import cms_topk_verified

        li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        got = [(r[0], r[1]) for r in
               cms_topk_verified(li, "l_partkey", k=5).collect()]
        want = [(r[0], r[1]) for r in
                li.groupBy("l_partkey").count()
                .orderBy(F.desc("count"), F.asc("l_partkey"))
                .limit(5).collect()]
        assert got == want

    def test_weighted_equals_exact_mass_topk(self, spark):
        from hyperloglog_spark import cms_topk_verified

        li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        li = li.withColumn("q", F.col("l_quantity").cast("long"))
        got = [(r[0], r[1]) for r in
               cms_topk_verified(li, "l_suppkey", k=5,
                                 weight_col="q").collect()]
        want = [(r[0], r[1]) for r in
                li.groupBy("l_suppkey").agg(F.sum("q").alias("m"))
                .orderBy(F.desc("m"), F.asc("l_suppkey"))
                .limit(5).collect()]
        assert got == want

    def test_small_value_space(self, spark):
        from hyperloglog_spark import cms_topk_verified

        ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        out = cms_topk_verified(ev, "event_type", k=10).collect()
        want = {r[0]: r[1] for r in ev.groupBy("event_type").count().collect()}
        assert {r[0]: r[1] for r in out} == want  # 5 types < k -> all exact
