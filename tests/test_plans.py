"""Physical-plan regression tests: pruning, pushdown, shuffle budgets.

These encode the scale contract of each operator: a plan that reads extra
columns or adds an extra Exchange is a 100-TB incident, caught here at
60k rows.
"""

import re

import pytest
from pyspark.sql import functions as F

from hyperloglog_spark import (
    approx_distinct,
    approx_distinct_multi,
    approx_quantiles,
    cms_topk,
)
from hyperloglog_spark.engine.plans import (
    assert_max_exchanges,
    assert_pruned_scan,
    codegen_count,
    exchange_inputs,
    final_plan,
    n_exchanges,
    plan_string,
    pushed_filters,
    python_operators,
    scan_columns,
)
from hyperloglog_spark.pipeline import exact_dedup, near_dup_pairs, token_stats


@pytest.fixture(scope="module")
def events(spark, sf01_dir):
    # other test modules may have cached this table; a cached
    # InMemoryRelation would replace the FileScan these tests audit
    spark.catalog.clearCache()
    return spark.read.parquet(f"{sf01_dir}/events.parquet")


@pytest.fixture(scope="module")
def docs(spark, sf01_dir):
    return spark.read.parquet(f"{sf01_dir}/documents.parquet")


def test_hll_scan_prunes_to_sketched_column(events):
    q = approx_distinct(events, "user_id")
    assert_pruned_scan(q, {"user_id"})          # 6-column table, 1 read
    assert "IsNotNull(user_id)" in pushed_filters(q)


def test_hll_grouped_single_shuffle(events):
    q = approx_distinct(events, "user_id", group_by="event_type")
    assert_pruned_scan(q, {"user_id", "event_type"})
    # one Exchange, counted before execution: the register-set aggregate's,
    # above its map-side partial. It moves deduplicated registers: raw rows
    # shuffle zero times, and the finalize needs no second shuffle.
    assert n_exchanges(q) == 1
    assert exchange_inputs(q) == ["ObjectHashAggregate"]


def _assert_register_set_plan(q) -> str:
    """The one count-distinct shape: a single Exchange fed by the partial
    ``collect_set`` aggregate, and the single Python operator, a
    ``MapInArrow``, directly above the final ``collect_set`` aggregate in
    the same stage: no Sort and no Generate. Returns the final plan."""
    assert n_exchanges(q) == 1
    assert exchange_inputs(q) == ["ObjectHashAggregate"]
    q.collect()                     # the final AQE plan
    [(name, below)] = python_operators(q)
    assert name == "MapInArrow"
    assert re.match(r"ObjectHashAggregate\(keys=\[[^\]]*\], "
                    r"functions=\[collect_set", below), below
    plan = final_plan(q)
    assert re.search(r"Exchange [^\n]*\n\s*\+- ObjectHashAggregate\("
                     r"[^\n]*partial_collect_set", plan), plan
    assert not re.search(r"\b(Sort|Generate)\b", plan), plan
    return plan


def _count_distinct_cases():
    from hyperloglog_spark import hll_sketch_agg

    for label, group_by in (("global", []), ("grouped", ["event_type"])):
        yield f"approx_distinct.{label}", lambda ev, g=group_by: \
            approx_distinct(ev, "user_id", group_by=g)
        yield f"approx_distinct_multi.{label}", lambda ev, g=group_by: \
            approx_distinct_multi(ev, ["user_id", "event_id"], group_by=g)
        yield f"hll_sketch_agg.{label}", lambda ev, g=group_by: \
            hll_sketch_agg(ev, "user_id", group_by=g)


@pytest.mark.parametrize(
    "build", [pytest.param(b, id=label) for label, b in _count_distinct_cases()]
)
def test_count_distinct_is_one_python_stage_over_registers(events, build):
    """Every ``hashing="spark"`` count-distinct, at any group count, runs
    one Python operator: the finalize, fed by the register-set aggregate.
    Data rows never reach Python or the shuffle."""
    _assert_register_set_plan(build(events))


def _hll_cases():
    from hyperloglog_spark import hll_sketch_agg

    # (label, query builder, number of hashed columns); user_id is a long
    # and event_type a string, each one XXH64 call in generated code (a
    # double column would read two: Spark's -0.0 branch)
    multi = ["user_id", "event_type"]
    yield ("hll_sketch_agg",
           lambda ev: hll_sketch_agg(ev, "user_id"), 1)
    yield ("hll_sketch_agg.grouped",
           lambda ev: hll_sketch_agg(ev, "user_id", group_by="event_type"), 1)
    # ``engine`` selects nothing; both spellings stay pinned
    for engine in ("arrow", "jvm"):
        yield (f"approx_distinct.{engine}",
               lambda ev, e=engine: approx_distinct(ev, "user_id", engine=e),
               1)
        # a composite key is ONE xxhash64(a, b); its code chains one call
        # per field, so it reads once per hashed column
        yield (f"approx_distinct.composite.{engine}",
               lambda ev, e=engine: approx_distinct(ev, multi, engine=e),
               2)
        yield (f"approx_distinct_multi.{engine}",
               lambda ev, e=engine: approx_distinct_multi(ev, multi,
                                                          engine=e),
               2)
        yield (f"approx_distinct_multi.grouped.{engine}",
               lambda ev, e=engine: approx_distinct_multi(
                   ev, ["user_id", "event_id"], group_by="event_type",
                   engine=e),
               2)


@pytest.mark.parametrize(
    "build,n_hashed",
    [pytest.param(b, n, id=label) for label, b, n in _hll_cases()],
)
def test_hll_kernel_hashes_each_column_once(spark, sf01_dir, build, n_hashed):
    """The σ/idx smear doubles the expression tree six times; it is cheap
    only while subexpression elimination shares the hash. A kernel inside
    a ``when`` branch or built inside a Generate re-hashes ~65 times per
    row (or leaves codegen); the generated code must call XXH64 exactly
    once per hashed column."""
    spark.catalog.clearCache()
    q = build(spark.read.parquet(f"{sf01_dir}/events.parquet"))
    q.collect()                     # the final AQE plan holds the codegen
    assert codegen_count(q, r"XXH64\.hash") == n_hashed


@pytest.mark.parametrize("group_by", [[], ["event_type"]],
                         ids=["global", "grouped"])
def test_multi_distinct_registers_stay_in_codegen(spark, sf01_dir, group_by):
    """``approx_distinct_multi`` packs one register per column in the scan
    stage's whole-stage-codegen Project and feeds each to its own
    ``collect_set``: no Generate, and no lambda (a higher-order function
    is a ``CodegenFallback``, interpreted once per row). One scan, XXH64
    once per column."""
    spark.catalog.clearCache()
    ev = spark.read.parquet(f"{sf01_dir}/events.parquet")
    q = approx_distinct_multi(ev, ["user_id", "event_id"], group_by=group_by)
    assert_pruned_scan(q, {"user_id", "event_id", *group_by})
    plan = _assert_register_set_plan(q)
    assert plan.count("FileScan") == 1
    assert "lambdafunction" not in plan.lower()
    assert re.search(r"\*\(\d+\) Project \[.* AS __v0#\d+, .* AS __v1#",
                     plan), plan
    assert codegen_count(q, r"XXH64\.hash") == 2


def test_hll_filter_pushdown_reaches_scan(events):
    q = approx_distinct(events.filter(F.col("event_type") == "click"),
                        "user_id")
    pf = pushed_filters(q)
    assert any("event_type" in f and "EqualTo" in f for f in pf), pf


def test_quantiles_prune_and_single_shuffle(events):
    q = approx_quantiles(events, "value", [0.5, 0.9])
    assert_pruned_scan(q, {"value"})
    assert_max_exchanges(q, 1)


def test_cms_topk_shuffle_budget(events):
    q = cms_topk(events, "event_type", k=5)
    assert_pruned_scan(q, {"event_type"})
    # candidate agg + ranked merge: allow 2 shuffles, never more
    assert_max_exchanges(q, 2)


def _cms_family_cases():
    from hyperloglog_spark import cms_join_size
    from hyperloglog_spark.engine.aggregate import premerged_sketch
    from hyperloglog_spark.frequency import cms_topk_rollup, cms_topk_shards
    from hyperloglog_spark.functions import HllAggregator

    yield "cms_topk", lambda ev: cms_topk(ev, "user_id", k=5)
    yield "cms_topk_rollup", lambda ev: cms_topk_rollup(
        cms_topk_shards(ev, "user_id", "event_type"), "user_id", k=5)
    yield "cms_join_size", lambda ev: cms_join_size(
        ev, "user_id", ev, "user_id")
    yield "premerged_sketch", lambda ev: premerged_sketch(
        ev.repartition(8), ["user_id"], HllAggregator(p=12), fan_in=2)


@pytest.mark.parametrize(
    "build", [pytest.param(b, id=label) for label, b in _cms_family_cases()]
)
def test_cms_family_rides_the_sorted_group_stream(events, build):
    """Every phase 2 of the heavy-hitter family and the tree merge is a
    ``reduce_sorted_groups`` pass (MapInArrow): no grouped pandas stage."""
    q = build(events)
    q.collect()
    names = [n for n, _ in python_operators(q)]
    assert names and set(names) == {"MapInArrow"}, names


def test_cms_topk_shards_no_python_stage_over_data_rows(events):
    """The candidate lists are SQL (a WindowGroupLimit cuts each shard's
    top-cpp below the shuffle); the only Python operator fed straight
    from the scan is ``sketch_agg``'s per-partition phase 1."""
    from hyperloglog_spark.frequency import cms_topk_shards

    q = cms_topk_shards(events.withColumn("day", F.to_date("ts")),
                        "user_id", ["event_type", "day"])
    # sketch phase-2 repartition, per-(shard, value) counts, the window
    assert_max_exchanges(q, 3)
    q.collect()
    assert "WindowGroupLimit" in plan_string(q)
    ops = python_operators(q)
    assert [n for n, _ in ops] == ["MapInArrow", "MapInArrow"]
    raw = [inp for _, inp in ops if "Exchange" not in inp]
    assert len(raw) == 1 and "xxhash64(user_id" in raw[0], raw


def test_exact_dedup_shuffles_fingerprint_not_payload(docs):
    q = exact_dedup(docs, "text", "doc_id")
    assert_pruned_scan(q, {"text", "doc_id"})
    assert_max_exchanges(q, 1)
    # the shuffled row is (hash, md5, doc_id) — the text column must be
    # projected away before the Exchange
    plan = q._jdf.queryExecution().executedPlan().toString()
    ex_idx = plan.find("Exchange")
    assert ex_idx != -1
    assert "text" not in plan[:ex_idx].split("Exchange")[0].split("+- Project")[0]


def test_token_stats_no_shuffle(docs):
    q = token_stats(docs, "text", "doc_id")
    assert n_exchanges(q) == 0                   # pure map-side projection


def test_neardup_bounded_shuffles(docs):
    q = near_dup_pairs(docs, "text", "doc_id")
    # sig build (0) + band groupBy (1) + pair distinct (1) + two sides of
    # the verify join (2) + final sort (1): budget 6, currently fewer
    assert_max_exchanges(q, 6)


def test_ngram_jaccard_bounded_shuffles_no_cartesian(docs):
    from hyperloglog_spark.pipeline import ngram_jaccard_pairs

    q = ngram_jaccard_pairs(docs, "text", "doc_id", threshold_permille=700)
    assert_pruned_scan(q, {"text", "doc_id"})
    # posting-list groupBy (1) + pair distinct (1) + verify join sides (2)
    # + final sort (1): same budget as the minhash path, no all-pairs join
    assert_max_exchanges(q, 6)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_scan_columns_helper(events):
    q = events.select("user_id")
    assert scan_columns(q) == {"user_id"}


def test_rollup_single_shuffle_and_pruned_scan(spark, tmp_path_factory, sf01_dir):
    from hyperloglog_spark import hll_sketch_agg, merge_sketches

    ev = spark.read.parquet(f"{sf01_dir}/events.parquet")
    path = str(tmp_path_factory.mktemp("plans") / "sketches")
    shards = hll_sketch_agg(
        ev.withColumn("day", F.to_date("ts")), "user_id",
        group_by=["event_type", "day"],
    )
    shards.write.parquet(path)
    stored = spark.read.parquet(path)
    q = merge_sketches(stored, group_by="event_type")
    # map-side combine (mapInArrow) happens BEFORE the only Exchange: the
    # wire carries at most (#partitions x #groups) sketch rows
    assert_max_exchanges(q, 1)
    assert_pruned_scan(q, {"event_type", "sketch"})  # day column pruned away


def test_ivf_topk_broadcast_join_no_sortmerge(spark, sf01_dir):
    from hyperloglog_spark.pipeline import ivf_topk

    spark.catalog.clearCache()
    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    q = ivf_topk(emb, emb.filter(F.col("vec_id") < 10), "vec_id",
                 "embedding", k=5)
    plan = q._jdf.queryExecution().executedPlan().toString()
    # the probe side must broadcast: no sort-merge join of the corpus
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    # cell join + final top-k group + sort: bounded shuffles
    assert_max_exchanges(q, 3)


def test_lsh_topk_broadcast_join_no_sortmerge(spark, sf01_dir):
    from hyperloglog_spark.pipeline import lsh_topk

    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    q = lsh_topk(emb, emb.filter(F.col("vec_id") < 10), "vec_id",
                 "embedding", k=5)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert_max_exchanges(q, 3)


def _ann_tail_cases():
    from hyperloglog_spark.pipeline import (
        brute_force_topk, ivf_topk, lsh_topk, pq_topk,
    )

    args = ("vec_id", "embedding")
    yield "brute_force_topk", lambda e, q: brute_force_topk(e, q, *args, k=5)
    yield "lsh_topk", lambda e, q: lsh_topk(e, q, *args, k=5)
    yield "ivf_topk", lambda e, q: ivf_topk(e, q, *args, k=5)
    yield "pq_topk_refined", lambda e, q: pq_topk(
        e, q, *args, k=5, m=4, n_codes=8, refine=True)


@pytest.mark.parametrize(
    "build", [pytest.param(b, id=label) for label, b in _ann_tail_cases()]
)
def test_ann_topk_merge_is_sql(spark, sf01_dir, build):
    """The per-query top-k merge of every ANN operator is a ``row_number``
    cut Spark plans as a ``WindowGroupLimit``: no grouped pandas stage."""
    spark.catalog.clearCache()
    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    q = build(emb, emb.filter(F.col("vec_id") < 10))
    q.collect()
    names = [n for n, _ in python_operators(q)]
    assert names and "FlatMapGroupsInPandas" not in names, names
    assert "WindowGroupLimit" in plan_string(q)


def test_embedding_neardup_bounded_shuffles(spark, sf01_dir):
    from hyperloglog_spark.pipeline import embedding_neardup_pairs

    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    q = embedding_neardup_pairs(emb, "vec_id", "embedding")
    # chunk-bucket groupBy (1) + pair dedup groupBy (1) + two vector join
    # sides (2..4): the quadratic work happens INSIDE buckets, never as a
    # corpus-wide cartesian
    assert "CartesianProduct" not in \
        q._jdf.queryExecution().executedPlan().toString()
    assert_max_exchanges(q, 6)


def test_grouped_quantiles_single_shuffle(events):
    q = approx_quantiles(events, "value", [0.5], group_by="event_type")
    assert_pruned_scan(q, {"value", "event_type"})
    assert_max_exchanges(q, 1)


def test_verified_distinct_prunes_both_scans(events):
    from hyperloglog_spark import approx_distinct_verified

    q = approx_distinct_verified(events, "user_id")
    # two aggregates by design (estimate + exact verification harness),
    # both reading ONLY the key column, joined by a 1x1 crossJoin
    assert scan_columns(q) == {"user_id"}
    assert "SortMergeJoin" not in \
        q._jdf.queryExecution().executedPlan().toString()


def test_theta_grouped_single_shuffle_pruned(events):
    from hyperloglog_spark.setops import theta_distinct

    q = theta_distinct(events, "user_id", group_by="event_type", k=256)
    assert_pruned_scan(q, {"user_id", "event_type"})
    # same two-phase contract as HLL: partial bottom-k states per
    # (partition, group), ONE Exchange of <= (8k+24)-byte sketch rows
    assert_max_exchanges(q, 1)


def test_theta_set_cardinalities_no_sortmerge(events):
    from hyperloglog_spark.setops import (
        theta_set_cardinalities,
        theta_sketch_agg,
    )

    a = theta_sketch_agg(events.filter(F.col("event_type") == "view"),
                         "user_id")
    b = theta_sketch_agg(events.filter(F.col("event_type") == "purchase"),
                         "user_id")
    q = theta_set_cardinalities(a, b)
    assert scan_columns(q) == {"user_id", "event_type"}
    # two 1-row sketch frames composed lazily: the cross join must stay a
    # broadcast nested loop over single rows, never a shuffled join
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan


def test_pq_topk_corpus_never_shuffles(spark):
    """PQ ADC+rerank: the only Exchanges move (query_id, neighbor_id,
    score) candidate rows; both corpus passes are scans feeding mapInArrow
    or a BroadcastHashJoin — never a SortMergeJoin / corpus repartition."""
    import numpy as np
    from hyperloglog_spark.pipeline import fit_pq_codebooks, pq_topk

    spark.catalog.clearCache()
    rng = np.random.default_rng(3)
    rows = [(int(i), [float(x) for x in rng.standard_normal(16)])
            for i in range(300)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cb = fit_pq_codebooks(df, "vec_id", "embedding", m=4, n_codes=8)
    q = pq_topk(df, df.filter("vec_id < 8"), "vec_id", "embedding",
                k=3, codebooks=cb)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan       # the rerank shortlist join
    # exchanges: the shortlist groupBy(query_id) + final topk groupBy +
    # broadcast exchanges; none may partition by the corpus vector column
    assert "hashpartitioning(vec_id" not in plan
    assert "hashpartitioning(embedding" not in plan


def test_transition_counts_shuffle_budget(events):
    from hyperloglog_spark.transcripts import transition_counts

    q = transition_counts(events, "user_id", "event_id", "event_type")
    assert_pruned_scan(q, {"user_id", "event_id", "event_type"})
    # window shuffle on the conv key + the (from, to) groupBy (map-side
    # combined over the tiny key space)
    assert_max_exchanges(q, 2)


def test_conversation_fingerprints_single_exchange_no_payload(events):
    from hyperloglog_spark.transcripts import conversation_fingerprints

    q = conversation_fingerprints(events, "user_id", "event_id",
                                  "event_type")
    # ONE Exchange, carrying (conv, partial-sum) rows: map-side partial
    # aggregation must appear below it
    assert_max_exchanges(q, 1)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan or "partial sum" in plan.lower() \
        or plan.count("HashAggregate") >= 2


def test_cms_topk_verified_exact_pass_pushes_candidate_set(spark, sf01_dir):
    """The verify rescan must push the candidate IN-set into the parquet
    scan (INSET) and read only the key column — at 100 TB the second pass
    charges for candidate rows, not a full-width rescan."""
    from hyperloglog_spark import cms_topk_verified

    spark.catalog.clearCache()
    li = spark.read.parquet(f"{sf01_dir}/lineitem.parquet")
    q = cms_topk_verified(li, "l_partkey", k=5)
    assert scan_columns(q) == {"l_partkey"}
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "INSET" in plan or any("In(l_partkey" in f
                                  for f in pushed_filters(q)), plan[:2000]


def test_approx_rank_prune_and_single_shuffle(events):
    from hyperloglog_spark import approx_rank

    q = approx_rank(events, "value", [0.0, 1.0])
    assert_pruned_scan(q, {"value"})
    assert_max_exchanges(q, 1)
