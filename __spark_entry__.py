"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator from SURVEY.md §2 exercised on the
driver's testdata tables; ``oracle_sql()`` gives the DuckDB-equivalent SQL.

Every query carries a DuckDB oracle (round 2: zero rows-only checks).
Three oracle strategies, per query regime:

- EXACT-REGIME: the sketch provably equals the exact answer at gate scale
  (p=16 linear counting below collision noise; KLL below compaction; all-
  singleton t-digest) — the oracle is plain exact SQL, mirrored down to the
  IEEE arithmetic for float interpolation.
- ALGORITHM-MIRROR: the operator's full computation is replayed in SQL
  (md5-hashed simhash/fingerprints; LSH with the hyperplanes inlined as
  literals) — approximate vs ground truth, but bit-deterministic.
- VALIDITY-HARNESS: genuinely approximate estimates emit (exact count,
  est_in_bound) — the reference's own accuracy-test shape
  (/root/reference/HyperLogLog.BenchMark/HyperLogLogTests.cs:206-232);
  the oracle recomputes the exact count and expects the bound to hold.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------- queries


def q_hll_distinct_region(spark, sf_dir):
    from hyperloglog_spark import approx_distinct

    return approx_distinct(_t(spark, sf_dir, "region"), "r_regionkey",
                           alias="n_regions")


def q_hll_distinct_nation(spark, sf_dir):
    from hyperloglog_spark import approx_distinct

    return approx_distinct(_t(spark, sf_dir, "nation"), "n_nationkey",
                           alias="n_nations")


def q_hll_distinct_event_users_p16(spark, sf_dir):
    """p=16 linear-counting regime: estimate == exact at this cardinality."""
    from hyperloglog_spark import approx_distinct

    return approx_distinct(_t(spark, sf_dir, "events"), "user_id", p=16,
                           alias="n_users")


def q_hll_distinct_doc_text_by_lang(spark, sf_dir):
    from hyperloglog_spark import approx_distinct

    return approx_distinct(
        _t(spark, sf_dir, "documents"), "text", group_by="lang", p=16,
        alias="n_texts",
    ).orderBy("lang")


def q_hll_distinct_customers(spark, sf_dir):
    """Genuinely approximate regime (1500 keys at p=14) made oracle-
    checkable via the reference's own validity-harness shape (exact count
    next to estimate, /root/reference/HyperLogLog.BenchMark/
    HyperLogLogTests.cs:206-232): output = exact distinct + a boolean
    asserting the estimate sits inside the published 3-sigma bound."""
    from hyperloglog_spark import approx_distinct_verified

    return approx_distinct_verified(
        _t(spark, sf_dir, "customer"), "c_custkey", alias="n_customers"
    )


def q_hll_distinct_order_cust_pairs(spark, sf_dir):
    """Composite-key distinct, approximate — same verified shape as
    hll_distinct_customers (exact + 3-sigma bound flag)."""
    from hyperloglog_spark import approx_distinct_verified

    return approx_distinct_verified(
        _t(spark, sf_dir, "orders"), ["o_custkey", "o_orderpriority"],
        alias="n_pairs",
    )


def q_hll_jvm_engine_event_users(spark, sf_dir):
    """engine='jvm' (accepted, selects nothing): register reduction in
    whole-stage codegen, the one count-distinct path; registers (hence
    estimates) bit-identical to the two-phase HllAggregator. Exact here
    (linear-counting regime)."""
    from hyperloglog_spark import approx_distinct

    return approx_distinct(
        _t(spark, sf_dir, "events"), "user_id", p=16, alias="n_users",
        engine="jvm",
    )


def q_hll_rollup_event_users(spark, sf_dir):
    """Stored-sketch rollup: per-(event_type, day) HLL sketch rows merged
    up to event_type with ZERO rescan of the data rows — the lakehouse
    pattern that turns a 100 TB rescan into a merge of KB-sized cells.
    Registers are byte-identical to a direct build (tests/test_rollup.py);
    exact here (p=16 linear-counting regime)."""
    from hyperloglog_spark import hll_rollup, hll_sketch_agg

    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts")).cast("date")
    )
    daily = hll_sketch_agg(ev, "user_id", group_by=["event_type", "day"], p=16)
    return hll_rollup(
        daily, group_by="event_type", alias="n_users"
    ).orderBy("event_type")


def q_hll_set_algebra_users(spark, sf_dir):
    """HLL set algebra over stored sketches: |click|, |view|, |click ∪ view|
    (lossless register-max merge), |click ∩ view| (inclusion-exclusion,
    clamped at 0 like sketch.hll.intersection_estimate). Exact here — every
    term sits in the p=16 linear-counting regime, so the inclusion-
    exclusion has no error to amplify. Fully LAZY (VERDICT round 1 #8):
    the two sketch rows meet in a crossJoin and the scalar UDF surface
    (hll_estimate / hll_merge) does the algebra — no driver collect."""
    from hyperloglog_spark.functions import (
        hll_estimate_udf,
        hll_merge_pair_udf,
        hll_sketch_agg,
    )

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    sk = hll_sketch_agg(ev, "user_id", group_by="event_type", p=16)
    a = sk.filter(F.col("event_type") == "click").select(
        F.col("sketch").alias("ska"))
    b = sk.filter(F.col("event_type") == "view").select(
        F.col("sketch").alias("skb"))
    est = a.crossJoin(b).select(
        hll_estimate_udf(F.col("ska")).alias("n_click"),
        hll_estimate_udf(F.col("skb")).alias("n_view"),
        hll_estimate_udf(
            hll_merge_pair_udf(F.col("ska"), F.col("skb"))
        ).alias("n_union"),
    )
    return est.select(
        "n_click", "n_view", "n_union",
        F.greatest(
            F.lit(0).cast("long"),
            F.col("n_click") + F.col("n_view") - F.col("n_union"),
        ).alias("n_intersection"),
    )


def q_hll_multi_column_profile(spark, sf_dir):
    """N per-column distinct counts in ONE scan (the ANALYZE-TABLE shape;
    plan audited: single FileScan, no shuffle of data rows). Exact here
    (p=16 linear-counting regime)."""
    from hyperloglog_spark import approx_distinct_multi

    return approx_distinct_multi(
        _t(spark, sf_dir, "events"), ["user_id", "event_type"], p=16
    )


def q_hll_multi_column_profile_jvm(spark, sf_dir):
    """The multi-column profile with engine='jvm' (accepted, selects
    nothing): the per-row reduction — one (column-tag, packed-register)
    entry per non-null column, map-side-combined groupBy — stays entirely
    in whole-stage codegen; only register rows reach Python. Registers are
    bit-identical to per-column approx_distinct (same packed kernel), so
    the same exact-regime oracle applies."""
    from hyperloglog_spark import approx_distinct_multi

    return approx_distinct_multi(
        _t(spark, sf_dir, "events"), ["user_id", "event_type"], p=16,
        engine="jvm",
    )


def q_hll_bounded_event_users(spark, sf_dir):
    """Estimate with its published 3-sigma interval columns
    (with_error_bounds: pure JVM arithmetic, se = 3·1.04/√m). Exact
    estimate here (p=16 LC regime), so the oracle mirrors the identical
    double arithmetic on the exact count."""
    from hyperloglog_spark import approx_distinct, with_error_bounds

    est = approx_distinct(
        _t(spark, sf_dir, "events"), "user_id", p=16, alias="n_users"
    )
    return with_error_bounds(est, "n_users", p=16)


def q_cms_rollup_top_event_types(spark, sf_dir):
    """Heavy hitters from STORED shards: per-day (CMS + candidate list)
    rows merged and re-ranked with zero data rescan (candidate union ∪
    merged-sketch point query). Exact here (value space << width)."""
    from hyperloglog_spark.frequency import cms_topk_rollup, cms_topk_shards

    ev = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    shards = cms_topk_shards(ev, "event_type", shard_by="day")
    return cms_topk_rollup(shards, "event_type", k=5)


def q_hll_packed_binary(spark, sf_dir):
    """AddAs* packed-binary ingest, oracle-checked: 8-digit zero-padded
    user ids become utf-8 payloads whose bytes the REAL ingest kernel
    reinterprets as little-endian int32 values (np.frombuffer → mix64 →
    HLL, /root/reference/HyperLogLog/HyperLogLog.cs:538-669 semantics).
    ASCII payloads make each int32 bijective with its 4-char chunk, so the
    exact distinct is SQL-expressible; output is the validity-harness
    shape (exact count + 3-sigma bound flag on the p=16 estimate)."""
    from hyperloglog_spark.functions import approx_distinct_packed
    from hyperloglog_spark.sketch import hll

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    s8 = F.lpad(F.col("user_id").cast("string"), 8, "0")
    payload = ev.select(F.encode(s8, "utf-8").alias("payload"))
    est = approx_distinct_packed(payload, "payload", "int32", p=16,
                                 alias="__est")
    chunks = ev.select(
        F.explode(
            F.array(F.substring(s8, 1, 4), F.substring(s8, 5, 4))
        ).alias("c4")
    )
    exact = chunks.agg(F.count_distinct("c4").alias("n_packed_values"))
    se = 3.0 * hll.error_bound(16)
    return exact.crossJoin(est).select(
        "n_packed_values",
        (
            F.abs(F.col("__est") - F.col("n_packed_values"))
            <= F.ceil(F.col("n_packed_values") * F.lit(se))
        ).alias("est_in_bound"),
    )


def q_cms_event_type_counts(spark, sf_dir):
    """CMS point estimates: exact here (value space far below sketch width)."""
    from hyperloglog_spark import cms_topk

    return cms_topk(_t(spark, sf_dir, "events"), "event_type", k=20)


def q_cms_top5_partkeys(spark, sf_dir):
    """Exact-ranking regime at sf0.01 (count gaps >> CMS overestimate). At
    sf0.1 l_partkey counts are near-uniform ties (~51-53 in 600k rows — no
    true heavy hitters), where any εN-guarantee method misranks; the gate
    runs at sf0.01."""
    from hyperloglog_spark import cms_topk

    return cms_topk(_t(spark, sf_dir, "lineitem"), "l_partkey", k=5)


def q_cms_topk_verified_partkeys(spark, sf_dir):
    """Estimate-then-verify heavy hitters: CMS+MG propose margin*k
    candidates, one broadcast-semi-join rescan (IN-filter pushed to the
    scan) computes their EXACT counts, top-k by exact count. The output
    is exact, so the oracle is the plain SQL top-k — no estimate regime
    to reason about, and the second scan touches only candidate rows."""
    from hyperloglog_spark import cms_topk_verified

    return cms_topk_verified(
        _t(spark, sf_dir, "lineitem"), "l_partkey", k=5
    )


def q_cms_weighted_qty_by_partkey(spark, sf_dir):
    """Weighted CMS = approximate SUM-by-key (total quantity per partkey)
    over key spaces too big to group exactly: each row adds l_quantity
    instead of 1, same two-phase shape. ALGORITHM-MIRROR oracle: md5 mode
    replays the weighted counter table and min-over-rows point estimates
    bit-for-bit in SQL — exactness of the estimates is not assumed."""
    from hyperloglog_spark.frequency import (
        _hash_expr, cms_agg, cms_point_query_udf,
    )

    li = _t(spark, sf_dir, "lineitem")
    sk = bytes(cms_agg(
        li, "l_partkey", weight_col="l_quantity", hashing="md5"
    ).collect()[0]["sketch"])
    probe = cms_point_query_udf(sk)
    return (
        li.select("l_partkey").distinct()
        .withColumn("qty_total", probe(_hash_expr(["l_partkey"], "md5")))
        .orderBy(F.desc("qty_total"), "l_partkey")
        .limit(5)
    )


def q_cms_weighted_topk_partkeys(spark, sf_dir):
    """Weighted heavy hitters through the MG-candidate operator: top
    partkeys by TOTAL QUANTITY (mass), one CMS + bounded weighted-MG
    summary per partition. Exact-ranking regime at sf0.01 -> oracle is
    plain SUM group-by."""
    from hyperloglog_spark import cms_topk

    return cms_topk(_t(spark, sf_dir, "lineitem"), "l_partkey", k=5,
                    weight_col="l_quantity")


def q_cms_top_ngrams_documents(spark, sf_dir):
    """Corpus-wide heavy-hitter word 3-grams, EXACT top-10 at sketch cost:
    per-doc n-gram arrays built in codegen, exploded inline (pipelined, no
    shuffle), then the estimate-then-verify two-phase top-k
    (``cms_topk_verified``): CMS+MG propose margin*k candidates — only
    sketch/candidate rows reach the Exchange, never the gram stream — and
    a candidate-only rescan (IN-filter pushed to the scan) returns exact
    counts. Raw CMS point estimates are NOT returned: the 3-gram value
    space collides at scale (the round-4 red row), and the verified pass
    is the production answer — sketch narrows 10^9 grams to ~80, the
    exact pass charges only for those. log2_w=18/margin=8 size the
    proposal stage for flat gram distributions; the exactness of the
    output depends only on candidate survival, which the MG bound
    guarantees for any gram that is a true heavy hitter."""
    from hyperloglog_spark import cms_topk_verified
    from hyperloglog_spark.pipeline.text import _ngram_array

    docs = _t(spark, sf_dir, "documents")
    grams = docs.select(
        F.split(F.lower(F.col("text")), " ").alias("__w")
    ).select(F.explode(_ngram_array("__w", 3)).alias("gram"))
    return cms_topk_verified(grams, "gram", k=10, margin=8, log2_w=18)


def q_countsketch_f2_event_types(spark, sf_dir):
    """Count sketch (signed, Charikar 2002) F2 second frequency moment =
    SELF-JOIN SIZE of events on event_type — the skew statistic a planner
    checks before shuffling on a key. ALGORITHM-MIRROR oracle: md5 mode
    makes position (h1 + j*h2 mod w), sign (bit log2_w of the mixed hash),
    the signed counters, the per-row sum of squares, and the exact middle
    order statistic (d=5 odd) replayable bit-for-bit in ANSI SQL."""
    from hyperloglog_spark import countsketch_f2

    return countsketch_f2(_t(spark, sf_dir, "events"), "event_type",
                          hashing="md5")


def q_cms_join_size_orders_customer(spark, sf_dir):
    """Equi-join SIZE estimate |orders ⋈ customer| from two CMS sketches
    (Cormode-Muthukrishnan inner product): the pre-flight planner query
    that sizes a 100 TB join from two one-scan sketches. ALGORITHM-MIRROR
    oracle: md5 mode replays both counter tables and the min-over-rows
    bucketwise dot product bit-for-bit in SQL."""
    from hyperloglog_spark import cms_join_size

    return cms_join_size(
        _t(spark, sf_dir, "orders"), "o_custkey",
        _t(spark, sf_dir, "customer"), "c_custkey",
        hashing="md5",
    ).select("est_join_size", "n_a", "n_b")


def q_embedding_topk_pq(spark, sf_dir):
    """Product quantization (Jegou et al. 2011) end to end: distributed
    1-iteration grid-mode codebook fit (m=4 subspaces x 8 codes), ADC
    shortlist over the byte codes, exact cosine re-rank of the broadcast
    shortlist (the IVFADC+R shape). ALGORITHM-MIRROR oracle: md5 init keys
    + integer-grid centroid updates make the ENTIRE fit + encode + ADC +
    re-rank replayable in SQL — the oracle recomputes the codebooks from
    scratch, not from literals."""
    from hyperloglog_spark.pipeline import fit_pq_codebooks, pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    cb = fit_pq_codebooks(
        emb, "vec_id", "embedding", m=4, n_codes=8, iters=1,
        grid_bits=20, hashing="md5",
    )
    return pq_topk(
        emb, emb.filter(F.col("vec_id") < 8), "vec_id", "embedding",
        k=5, codebooks=cb, refine=True, refine_k=32,
    )


def q_embedding_topk_ivfpq(spark, sf_dir):
    """IVFADC composed end to end (Jegou et al. 2011 §IV): trained coarse
    quantizer routes rows to inverted lists, PQ byte codes stand in for
    vectors, ADC scores only the nprobe probed cells, exact re-rank of the
    broadcast shortlist. ALGORITHM-MIRROR oracle replays BOTH fits from
    scratch in SQL (md5 init keys + integer-grid updates) plus routing,
    ADC, and the re-rank."""
    from hyperloglog_spark.pipeline import fit_pq_codebooks, ivf_pq_topk
    from hyperloglog_spark.pipeline.similarity import (
        fit_ivf_centroids_distributed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = fit_ivf_centroids_distributed(
        emb, "vec_id", "embedding", n_cells=8, iters=1,
        grid_bits=20, hashing="md5",
    )
    cb = fit_pq_codebooks(
        emb, "vec_id", "embedding", m=4, n_codes=8, iters=1,
        grid_bits=20, hashing="md5",
    )
    return ivf_pq_topk(
        emb, emb.filter(F.col("vec_id") < 8), "vec_id", "embedding",
        k=5, centroids=cents, codebooks=cb, nprobe=4,
        refine=True, refine_k=32,
    )


def q_embedding_topk_ivfpq_residual(spark, sf_dir):
    """Residual IVFADC (Jegou et al. 2011 §IV, the true form): PQ codes
    quantize u - c_cell, ADC scores q.c_cell + q.r_hat, exact re-rank.
    ALGORITHM-MIRROR oracle: both fits, the residual subtraction, routing,
    biased ADC and the re-rank replayed from scratch in SQL."""
    from hyperloglog_spark.pipeline import fit_pq_codebooks, ivf_pq_topk
    from hyperloglog_spark.pipeline.similarity import (
        fit_ivf_centroids_distributed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = fit_ivf_centroids_distributed(
        emb, "vec_id", "embedding", n_cells=8, iters=1,
        grid_bits=20, hashing="md5",
    )
    cb = fit_pq_codebooks(
        emb, "vec_id", "embedding", m=4, n_codes=8, iters=1,
        grid_bits=20, hashing="md5", centroids=cents,
    )
    return ivf_pq_topk(
        emb, emb.filter(F.col("vec_id") < 8), "vec_id", "embedding",
        k=5, centroids=cents, codebooks=cb, nprobe=4,
        refine=True, refine_k=32, residual=True,
    )


def q_fd_gram_embeddings(spark, sf_dir):
    """Frequent Directions (Liberty 2013) Gram sketch over the embeddings
    table, EXACT-REGIME oracle: 500 rows <= buffer capacity 2*ell=1024, so
    no shrink fires and B^T B == A^T A exactly; the integer grid
    floor(100*x) makes every float64 sum an exact integer, hence
    hash-exact vs the SQL Gram. The shrinkage math (PSD certificate
    0 <= A'A - B'B <= delta_sum*I) is property-tested in tests/test_fd.py.
    Output: upper-triangular 8x8 principal submatrix in long form."""
    from hyperloglog_spark.linalg import fd_build, fd_gram_long

    grid = _t(spark, sf_dir, "embeddings").select(
        F.expr(
            "transform(embedding, x -> floor(cast(x as double) * 100))"
        ).alias("vec")
    )
    sk = fd_build(grid, "vec", ell=512)
    return fd_gram_long(spark, sk, dims=8).select(
        "i", "j", F.col("gram").cast("long").alias("gram")
    ).orderBy("i", "j")


def q_tdigest_weighted_price_quantiles(spark, sf_dir):
    """Weighted t-digest quantiles (each lineitem price carries l_quantity
    units of mass — the dedup-aware form). VALIDITY-HARNESS oracle: exact
    weighted lower-quantiles are SQL-expressible, so the output is
    (q_permille, exact_q, est_in_bound) where the flag asserts the
    estimate sits between the exact quantiles at q +/- 1/32 (binary-exact
    rank epsilon >= the t-digest delta=100 rank error). The exact side
    uses an unpartitioned cumulative-weight Window (single sorted task) —
    that cost belongs to the VERIFICATION, not the operator: the sketch
    path shuffles only centroid rows; at 100 TB you ship the sketch and
    skip the exact pass entirely."""
    from pyspark.sql import Window

    from hyperloglog_spark import approx_quantiles_weighted

    li = _t(spark, sf_dir, "lineitem")
    est = approx_quantiles_weighted(
        li, "l_extendedprice", "l_quantity", [0.25, 0.5, 0.75]
    ).collect()[0]
    ests = {250: est["q25"], 500: est["q5"], 750: est["q75"]}

    total = li.agg(F.sum("l_quantity")).collect()[0][0]
    w = Window.orderBy("l_extendedprice").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    cum = li.select(
        F.col("l_extendedprice").alias("p"),
        F.sum("l_quantity").over(w).alias("cw"),
    )
    eps = 1.0 / 32.0
    targets = {}
    for qpm, q in ((250, 0.25), (500, 0.5), (750, 0.75)):
        targets[qpm] = (q - eps, q, q + eps)
    aggs = []
    for qpm, (lo, mid, hi) in targets.items():
        for tag, qq in (("lo", lo), ("mid", mid), ("hi", hi)):
            aggs.append(
                F.min(F.when(F.col("cw") >= F.lit(qq) * F.lit(float(total)),
                             F.col("p"))).alias(f"{tag}_{qpm}")
            )
    ex = cum.agg(*aggs).collect()[0]
    rows = []
    for qpm in (250, 500, 750):
        in_bound = bool(ex[f"lo_{qpm}"] <= ests[qpm] <= ex[f"hi_{qpm}"])
        rows.append((qpm, float(ex[f"mid_{qpm}"]), in_bound))
    return spark.createDataFrame(
        rows, "q_permille bigint, exact_q double, est_in_bound boolean"
    ).orderBy("q_permille")


def q_kll_weighted_price_quantiles(spark, sf_dir):
    """Weighted KLL quantiles — the KLL mirror of the weighted t-digest
    contract (each price carries l_quantity units of mass via exact
    binary-decomposition placement: a weight-w row enters level h once per
    set bit of w, so no sampling error comes from the weighting itself).
    VALIDITY-HARNESS oracle, same shape as tdigest_weighted: output is
    (q_permille, exact_q, est_in_bound) with eps = 1/32 rank slack (KLL
    k=200 rank error ~1.65% whp < 3.125%). The exact side's single-task
    Window is verification cost only; the sketch path ships level arrays."""
    from pyspark.sql import Window

    from hyperloglog_spark import approx_quantiles_weighted

    li = _t(spark, sf_dir, "lineitem")
    est = approx_quantiles_weighted(
        li, "l_extendedprice", "l_quantity", [0.25, 0.5, 0.75], method="kll"
    ).collect()[0]
    ests = {250: est["q25"], 500: est["q5"], 750: est["q75"]}

    total = li.agg(F.sum("l_quantity")).collect()[0][0]
    w = Window.orderBy("l_extendedprice").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    cum = li.select(
        F.col("l_extendedprice").alias("p"),
        F.sum("l_quantity").over(w).alias("cw"),
    )
    eps = 1.0 / 32.0
    aggs = []
    for qpm in (250, 500, 750):
        q = qpm / 1000.0
        for tag, qq in (("lo", q - eps), ("mid", q), ("hi", q + eps)):
            aggs.append(
                F.min(F.when(F.col("cw") >= F.lit(qq) * F.lit(float(total)),
                             F.col("p"))).alias(f"{tag}_{qpm}")
            )
    ex = cum.agg(*aggs).collect()[0]
    rows = []
    for qpm in (250, 500, 750):
        in_bound = bool(ex[f"lo_{qpm}"] <= ests[qpm] <= ex[f"hi_{qpm}"])
        rows.append((qpm, float(ex[f"mid_{qpm}"]), in_bound))
    return spark.createDataFrame(
        rows, "q_permille bigint, exact_q double, est_in_bound boolean"
    ).orderBy("q_permille")


def q_kll_price_quantiles_bounded(spark, sf_dir):
    """bounds=True quantiles: the sketch's [q_lo, q_hi] interval (values
    at ranks q -/+ eps, eps = the KLL whp rank bound 3.3/k) must cover
    the exact q-quantile — the reference TestValidity shape on the
    quantile surface. Output (q_permille, exact_q, covered); the exact
    side's single-task sort is verification cost only."""
    from pyspark.sql import Window

    from hyperloglog_spark import approx_quantiles

    li = _t(spark, sf_dir, "lineitem")
    est = approx_quantiles(
        li, "l_extendedprice", [0.25, 0.5, 0.9], bounds=True
    ).collect()[0]
    n = li.count()
    w = Window.orderBy("l_extendedprice")
    ranked = li.select(
        F.col("l_extendedprice").alias("p"),
        F.row_number().over(w).alias("rn"),
    )
    import math

    targets = {qpm: int(math.ceil(qpm / 1000.0 * n))
               for qpm in (250, 500, 900)}
    ex = {
        r["rn"]: r["p"]
        for r in ranked.filter(
            F.col("rn").isin(list(targets.values()))).collect()
    }
    rows = []
    for qpm, name in ((250, "q25"), (500, "q5"), (900, "q9")):
        exact = float(ex[targets[qpm]])
        covered = bool(est[name + "_lo"] <= exact <= est[name + "_hi"])
        rows.append((qpm, exact, covered))
    return spark.createDataFrame(
        rows, "q_permille bigint, exact_q double, covered boolean"
    ).orderBy("q_permille")


def q_kll_trimmed_mean_acctbal(spark, sf_dir):
    """Trimmed mean (10%-90% window) of customer balances through the
    sketch path with k=65535 — the no-compaction regime, where the
    interval-overlap semantics are EXACTLY the fractional-overlap
    order-statistic rule: one SQL expression, hash-exact. (The default
    k=200 path is the estimation regime; its accuracy is pinned by
    tests/test_quantiles.py::TestTrimmedMean.)"""
    from hyperloglog_spark import approx_trimmed_mean

    return approx_trimmed_mean(
        _t(spark, sf_dir, "customer"), "c_acctbal", 0.1, 0.9, k=65535
    ).select(F.round("trimmed_mean", 4).alias("trimmed_mean"))


def q_kll_trimmed_mean_by_event_type(spark, sf_dir):
    """GROUPED trimmed mean (10%-90%) of event values per event_type via
    the two-phase grouped sketch path, k=65535 no-compaction regime —
    per-group hash-exact against the partitioned fractional-overlap SQL
    rule (exercises grouped build + multi-partial merge + finalize)."""
    from hyperloglog_spark import approx_trimmed_mean

    return (
        approx_trimmed_mean(
            _t(spark, sf_dir, "events"), "value", 0.1, 0.9,
            group_by="event_type", k=65535,
        )
        .select("event_type", F.round("trimmed_mean", 4).alias("trimmed_mean"))
        .orderBy("event_type")
    )


def q_kll_rank_prices(spark, sf_dir):
    """approx_rank (CDF surface): estimated fraction of lineitem rows with
    price <= probe, three probes. VALIDITY-HARNESS oracle: the exact rank
    is one SQL expression; the flag asserts |est - exact| <= 0.05 (3x the
    k=200 KLL rank error). exact_rank is the same integer division in
    float64 on both sides, so it hash-matches bit-for-bit."""
    from hyperloglog_spark import approx_rank

    li = _t(spark, sf_dir, "lineitem")
    est = approx_rank(
        li, "l_extendedprice", [20_000.0, 50_000.0, 80_000.0]
    ).collect()[0]
    ests = {20000: est["r20000"], 50000: est["r50000"], 80000: est["r80000"]}
    n = li.count()
    ex = li.agg(*[
        F.sum((F.col("l_extendedprice") <= F.lit(float(p))).cast("long"))
        .alias(f"c_{p}")
        for p in ests
    ]).collect()[0]
    rows = []
    for p in (20000, 50000, 80000):
        exact = ex[f"c_{p}"] / n
        rows.append((p, float(exact), bool(abs(ests[p] - exact) <= 0.05)))
    return spark.createDataFrame(
        rows, "probe bigint, exact_rank double, est_in_bound boolean"
    ).orderBy("probe")


def q_fd_gram_by_label(spark, sf_dir):
    """Grouped Frequent Directions: one Gram sketch per label via the
    two-phase grouped pipeline, reduced to the trace (= sum of squared
    grid values, exact integers in the exact regime) — verifies the
    grouped build + merge path end to end against plain SQL."""
    import numpy as np

    from hyperloglog_spark.linalg import fd_agg
    from hyperloglog_spark.sketch import fd as fdk

    grid = _t(spark, sf_dir, "embeddings").select(
        F.col("label").cast("long").alias("label"),
        F.expr(
            "transform(embedding, x -> floor(cast(x as double) * 100))"
        ).alias("vec"),
    )
    rows = fd_agg(grid, "vec", group_by="label", ell=128).collect()
    out = []
    for r in rows:
        sk = bytes(r["sketch"])
        _, _, n, delta, _ = fdk.params(sk)
        assert delta == 0.0  # exact regime: every label group fits 2*ell
        out.append((r["label"], int(np.trace(fdk.gram(sk))), n))
    schema = "label bigint, trace bigint, n_rows bigint"
    return spark.createDataFrame(out, schema).orderBy("label")


def q_cbf_deleted_membership(spark, sf_dir):
    """Counting Bloom filter (Fan et al. 2000) with real deletions: insert
    every order's custkey, delete the 'F'-status ones, probe customers for
    "has an open order". The merge is Z-vector addition (a commutative
    group), so insert and delete rows may land on different partitions in
    any order. ALGORITHM-MIRROR oracle: md5 mode replays the counter table
    (position chain (h + j*((h>>32)|1)) & (m-1), signed sums) and the
    min-over-k probe bit-for-bit in ANSI SQL."""
    from hyperloglog_spark.membership import (
        cbf_build, with_cbf_might_contain,
    )

    orders = _t(spark, sf_dir, "orders")
    ins = orders.select(F.col("o_custkey").alias("key"),
                        F.lit(1).alias("d"))
    dele = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("key"), F.lit(-1).alias("d"))
    sk = cbf_build(ins.unionByName(dele), "key", delta_col="d",
                   log2_m=15, k=4, hashing="md5")
    return with_cbf_might_contain(
        _t(spark, sf_dir, "customer"), "c_custkey", sk,
        alias="has_open", hashing="md5",
    ).select("c_custkey", "has_open").orderBy("c_custkey")


def q_bloom_custkey_members(spark, sf_dir):
    """No-false-negative guarantee: every inserted key probes true."""
    from hyperloglog_spark import bloom_build, with_might_contain

    cust = _t(spark, sf_dir, "customer")
    flt = bloom_build(cust, "c_custkey", expected_items=200_000, fpp=0.001)
    return with_might_contain(
        cust.select("c_custkey"), "c_custkey", flt, alias="seen"
    )


def q_bloom_orders_covered(spark, sf_dir):
    """Referential integrity via Bloom: every order's custkey was seen in
    customer (distinct probe keys, all must be members)."""
    from hyperloglog_spark import bloom_build, with_might_contain

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey").distinct()
    flt = bloom_build(cust, "c_custkey", expected_items=200_000, fpp=0.001)
    return with_might_contain(orders, "o_custkey", flt, alias="seen")


def q_kll_price_quantiles(spark, sf_dir):
    """KLL at k=65535: level 0 never overflows at gate scale (60k values at
    sf0.01) so the sketch retains every value at weight 1 and the
    inclusive-rank rule (smallest retained item with cumulative weight >=
    q*n) is EXACT — mirrored verbatim by the row_number SQL oracle. At
    larger scale the same query degrades gracefully to approximate."""
    from hyperloglog_spark import approx_quantiles

    return approx_quantiles(
        _t(spark, sf_dir, "lineitem"), "l_extendedprice", [0.5, 0.9, 0.99],
        k=65535,
    )


def q_kll_acctbal_by_segment(spark, sf_dir):
    """GROUPED quantiles (the common user shape): per-market-segment
    account-balance quartiles. Exact regime (k >= rows per group), so the
    per-group rank SQL oracle matches bit-for-bit."""
    from hyperloglog_spark import approx_quantiles

    return approx_quantiles(
        _t(spark, sf_dir, "customer"), "c_acctbal", [0.25, 0.5, 0.75, 0.9],
        group_by="c_mktsegment", k=8192,
    ).orderBy("c_mktsegment")


def q_tdigest_acctbal_by_segment(spark, sf_dir):
    """GROUPED t-digest quantiles: per-market-segment account-balance
    median/p90. Exact regime per group (n_group << 2δ/π), bit-exact
    midpoint-interp SQL oracle per group."""
    from hyperloglog_spark import approx_quantiles

    return approx_quantiles(
        _t(spark, sf_dir, "customer"), "c_acctbal", [0.5, 0.9],
        group_by="c_mktsegment", method="tdigest", delta=20000,
    ).orderBy("c_mktsegment")


def q_tdigest_event_value_quantiles(spark, sf_dir):
    """t-digest at delta=50000: every input stays a singleton centroid
    while n < 2δ/π ≈ 31.8k (10k events at sf0.01), so the digest is EXACT
    and its midpoint-interpolation quantile rule is mirrored verbatim by
    the SQL oracle. Larger n degrades gracefully to approximate."""
    from hyperloglog_spark import approx_quantiles

    return approx_quantiles(
        _t(spark, sf_dir, "events"), "value", [0.5, 0.9, 0.99],
        method="tdigest", delta=50000,
    )


def q_dedup_exact_documents(spark, sf_dir):
    """Exact dedup: one representative doc_id per distinct text (grouped on
    a 192-bit fingerprint, not the payload)."""
    from hyperloglog_spark.pipeline import exact_dedup

    return exact_dedup(
        _t(spark, sf_dir, "documents"), "text", "doc_id"
    ).orderBy("doc_id")


def q_neardup_minhash_pairs(spark, sf_dir):
    """MinHash->LSH->exact-verify near-duplicate pairs (J >= 0.5 on word
    3-gram shingles). (b=64, r=2) gives miss prob ~1e-8 at J=0.5; every
    emitted pair is exactly verified, so this matches exhaustive SQL."""
    from hyperloglog_spark.pipeline import near_dup_pairs

    return near_dup_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        threshold_permille=500,
    )


def q_hll_jaccard_priorities(spark, sf_dir):
    """HLL Jaccard similarity of two customer sets (URGENT vs LOW orders)
    from STORED sketches via the scalar surface (hll_jaccard = inclusion-
    exclusion intersection over lossless union merge). At ~1100 keys per
    set the p=16 estimates are within-bound but not integer-exact, so
    this uses the validity-harness oracle shape: output = the EXACT
    Jaccard (permille) plus a flag pinning the estimate inside a
    propagated 3-sigma bound (each of the three counts carries
    3*1.04/sqrt(m) relative error; |dJ| <= eps*(J + 1 + (|A|+|B|)/|U|)
    <= 4*eps, so tol = ceil(4000*3*1.04/sqrt(m)) permille)."""
    import math

    from hyperloglog_spark.functions import hll_jaccard_udf, hll_sketch_agg
    from hyperloglog_spark.sketch import hll

    od = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    sk = hll_sketch_agg(od, "o_custkey", group_by="o_orderpriority", p=16)
    a = sk.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("sketch").alias("ska"))
    b = sk.filter(F.col("o_orderpriority") == "5-LOW").select(
        F.col("sketch").alias("skb"))
    est = a.crossJoin(b).select(
        F.floor(F.lit(1000.0) * hll_jaccard_udf(F.col("ska"), F.col("skb")))
        .cast("long").alias("__est")
    )
    exact = od.agg(
        F.count_distinct(
            F.when(F.col("o_orderpriority") == "1-URGENT",
                   F.col("o_custkey"))).alias("__ca"),
        F.count_distinct(
            F.when(F.col("o_orderpriority") == "5-LOW",
                   F.col("o_custkey"))).alias("__cv"),
        F.count_distinct("o_custkey").alias("__cu"),
    ).select(
        F.floor(
            F.lit(1000.0)
            * (F.greatest(F.lit(0).cast("long"),
                          F.col("__ca") + F.col("__cv") - F.col("__cu"))
               / F.col("__cu"))
        ).cast("long").alias("jaccard_exact_permille")
    )
    tol = math.ceil(4000.0 * hll.error_bound(16) * 3.0)
    return exact.crossJoin(est).select(
        "jaccard_exact_permille",
        (
            F.abs(F.col("__est") - F.col("jaccard_exact_permille"))
            <= F.lit(tol)
        ).alias("est_in_bound"),
    )


def q_hll_fold_verified(spark, sf_dir):
    """Precision FOLDING through the driver gate: a p=16 sketch folded to
    p=12 entirely on the lazy SQL scalar surface
    (hll_estimate(hll_fold(sketch, 12))). fold() is an exact downgrade —
    byte-identical to a direct p=12 build (tests/test_hll_kernel.py::
    TestFold) — so the folded estimate carries the published p=12 error
    bound; validity-harness oracle shape (exact count + 3-sigma bound
    flag), the reference's own accuracy-test pattern."""
    from hyperloglog_spark.functions import (
        hll_sketch_agg,
        register_sql_functions,
    )
    from hyperloglog_spark.sketch import hll

    register_sql_functions(spark)
    ev = _t(spark, sf_dir, "events")
    est = hll_sketch_agg(ev, "user_id", p=16).select(
        F.expr("hll_estimate(hll_fold(sketch, 12))").alias("__est")
    )
    exact = ev.filter(F.col("user_id").isNotNull()).agg(
        F.count_distinct("user_id").alias("n_users_exact")
    )
    se = 3.0 * hll.error_bound(12)
    return exact.crossJoin(est).select(
        "n_users_exact",
        (
            F.abs(F.col("__est") - F.col("n_users_exact"))
            <= F.ceil(F.col("n_users_exact") * F.lit(se))
        ).alias("est_in_bound"),
    )


def q_hll_sliding_window_users(spark, sf_dir):
    """Sliding-window distinct users (1-day windows sliding 12 h): each
    event lands in exactly window/slide = 2 windows via an Expand-shaped
    explode over integer epoch arithmetic (bit-reproducible in any
    engine, no timestamp round-trip). The fan-out is fixed, so the sketch
    aggregation's shuffle still carries (window, register) rows only.
    p=16 linear-counting regime -> exact."""
    from hyperloglog_spark import approx_distinct
    from hyperloglog_spark.transcripts import with_sliding_windows

    ev = with_sliding_windows(
        _t(spark, sf_dir, "events"), "ts", window_s=86400, slide_s=43200,
    )
    return approx_distinct(
        ev, "user_id", group_by="window_start_epoch", p=16, alias="n_users",
    ).orderBy("window_start_epoch")


def q_checkpoint_resume_distinct(spark, sf_dir):
    """Resumable sketch job through the driver gate (north rule:
    'resumable from checkpoint with per-partition lineage + metrics').
    The events table is copied as an 8-file layout; the build runs once
    with max_batches=1 — a simulated preemption after 2 of 8 files — then
    resumes to completion from the committed lineage. Resume must skip
    exactly the committed files (lineage anti-join) and the merged
    estimate equals an uninterrupted build's because re-merging committed
    register arrays is the same register-max monoid (tests/
    test_checkpoint.py proves byte-identity). p=16 linear-counting regime
    -> estimate == exact COUNT(DISTINCT). Output carries the resume
    evidence as a boolean the oracle pins to TRUE."""
    import shutil
    import tempfile

    from hyperloglog_spark.engine.checkpoint import resumable_sketch_build
    from hyperloglog_spark.functions import HllAggregator

    work = tempfile.mkdtemp(prefix="ckpt_gate_")
    try:
        data = f"{work}/events"
        _t(spark, sf_dir, "events").repartition(8).write.parquet(data)
        ckpt = f"{work}/ck"
        first = resumable_sketch_build(
            spark, data, "user_id", HllAggregator(p=16), ckpt,
            files_per_batch=2, max_batches=1,
        )
        res = resumable_sketch_build(
            spark, data, "user_id", HllAggregator(p=16), ckpt,
            files_per_batch=2,
        )
        ok = (
            first.files_processed == 2
            and res.files_resumed == 2
            and res.files_processed == res.files_total - 2
        )
        return spark.createDataFrame(
            [(res.estimate, res.rows, bool(ok))],
            "n_users bigint, n_rows bigint, files_resumed_ok boolean",
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def q_salted_hot_key_agg(spark, sf_dir):
    """Two-phase SALTED exact aggregation over a pathologically hot key
    (5 event_type values absorb every row — the skewed-conv_id shape the
    north rule names). Phase 1 aggregates on (key, salt), fanning each hot
    key out 32 ways; phase 2 re-aggregates the partials on the bare key,
    so at most buckets x n_keys rows cross the second shuffle instead of
    one task absorbing a whole hot key. Salt = hash(user_id) pinned to the
    DISTINCT-counted entity, so each user lands in exactly one (key, salt)
    cell and even count(distinct) decomposes EXACTLY — integers only, so
    the oracle is the plain direct GROUP BY."""
    from hyperloglog_spark.transcripts import with_salted_key

    ev = with_salted_key(
        _t(spark, sf_dir, "events"), "event_type",
        buckets=32, salt_col="user_id",
    )
    phase1 = ev.groupBy("event_type", "event_type__salted").agg(
        F.count("*").alias("c"),
        F.countDistinct("user_id").alias("u"),
    )
    return (
        phase1.groupBy("event_type")
        .agg(
            F.sum("c").alias("n_events"),
            F.sum("u").alias("n_users"),
        )
        .orderBy("event_type")
    )


def q_ngram_jaccard_pairs(spark, sf_dir):
    """EXACT n-gram Jaccard near-dup pairs (J >= 0.7 on word 3-gram
    shingles) via a prefix-filter inverted index (AllPairs/PPJoin family):
    recall 1.0 by construction, so it matches the exhaustive all-pairs SQL
    oracle identically — no probabilistic step anywhere."""
    from hyperloglog_spark.pipeline import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        threshold_permille=700,
    )


def q_simhash_neardup_pairs(spark, sf_dir):
    """SimHash Hamming<=3 pairs via exact pigeonhole blocking. hashing=md5
    (top 60 md5 bits per token) makes every signature bit SQL-reproducible,
    so the DuckDB oracle recomputes the full vote tally + pairwise Hamming
    from scratch; xxhash64 stays the production default (brute-force parity
    asserted in tests/test_pipeline.py)."""
    from hyperloglog_spark.pipeline import simhash_near_dup_pairs

    return simhash_near_dup_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id", max_hamming=3,
        hashing="md5",
    ).orderBy("id_a", "id_b")


def q_embedding_topk_bruteforce(spark, sf_dir):
    """Exact cosine top-5 neighbors for query vectors vec_id<10."""
    from hyperloglog_spark.pipeline import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding", k=5
    )


def q_neardup_clusters_documents(spark, sf_dir):
    """Connected-component duplicate CLUSTERS over the MinHash near-dup
    pair graph — (doc_id, cluster_id, keep): cluster_id is the smallest
    member, keep marks the representative. This is the decision a dedup
    pipeline consumes downstream of pair generation. Iterative min-label
    propagation (each round distributed; driver only steers convergence);
    oracle = recursive-CTE reachability over the exhaustive exact-Jaccard
    pair graph."""
    from hyperloglog_spark.pipeline import near_dup_clusters, near_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = near_dup_pairs(docs, "text", "doc_id", threshold_permille=500)
    return near_dup_clusters(pairs, out_id="doc_id").orderBy("doc_id")


def q_embedding_neardup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs. The gate embeddings have no
    planted vector near-dups (max background cosine ~0.51), so the corpus
    is embeddings plus deterministic perturbed copies (first component
    zeroed, vec_id+10000 — cosine ~0.95-0.99 to the source). Semantics:
    signature Hamming<=3 (16 seeded hyperplanes) AND cosine>=0.9; the
    oracle replays both conditions over ALL pairs with the hyperplanes
    inlined as literals."""
    from hyperloglog_spark.pipeline import embedding_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    pert = emb.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.expr(
            "concat(array(CAST(0.0 AS FLOAT)), "
            "slice(embedding, 2, size(embedding) - 1))"
        ).alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(pert)
    # nbits/max_hamming pinned to the oracle's literals (the library
    # default scales the chunk keyspace for larger corpora — ADVICE r2)
    return embedding_neardup_pairs(
        corpus, "vec_id", "embedding", threshold_permille=900,
        nbits=16, max_hamming=3,
    ).orderBy("id_a", "id_b")


def q_embedding_topk_lsh(spark, sf_dir):
    """LSH-bucketed ANN top-5 (rows-only: recall asserted in tests)."""
    from hyperloglog_spark.pipeline import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_topk(
        emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding", k=5
    )


def q_embedding_topk_ivf(spark, sf_dir):
    """IVF ANN top-5 with the seeded random coarse quantizer (16 cells,
    nprobe=4): corpus bucketed by nearest centroid, queries probe their 4
    nearest cells, exact re-rank. Algorithm-mirror oracle: the centroids
    are inlined as literals; cell = first-argmax CASE chain, probe ranking
    = per-query window (dot DESC, cell ASC) — identical tie semantics to
    the numpy kernel. fit_ivf_centroids provides the data-adapted
    quantizer (recall asserted in tests); the random quantizer keeps the
    query externally reproducible."""
    from hyperloglog_spark.pipeline import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding", k=5
    )


def q_embedding_topk_ivf_trained(spark, sf_dir):
    """IVF ANN top-5 with a DATA-ADAPTED coarse quantizer trained by the
    fully distributed Lloyd's fit (VERDICT r2 #1 'done' criterion): init =
    the 8 bottom-md5-hash corpus rows (O(n_cells) collect), one k-means
    iteration whose per-cell sufficient statistics reduce map-side to
    n_cells x (dim+1) rows — nothing driver-side scales with the corpus.
    grid_bits=20 runs the centroid update on an integer grid (exact,
    order-independent sums), so the oracle replays the ENTIRE fit —
    init selection, assignment, grid means, renormalize — then the same
    IVF probe/re-rank, bit-for-bit in SQL."""
    from hyperloglog_spark.pipeline import ivf_topk
    from hyperloglog_spark.pipeline.similarity import (
        fit_ivf_centroids_distributed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = fit_ivf_centroids_distributed(
        emb, "vec_id", "embedding", n_cells=8, iters=1, seed=311,
        grid_bits=20, hashing="md5",
    )
    return ivf_topk(
        emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding",
        k=5, centroids=cents, nprobe=4,
    )


def q_streaming_distinct_event_users(spark, sf_dir):
    """Structured Streaming HLL distinct in the driver gate (VERDICT r2
    #5): the events table replayed as a bounded file stream through the
    same mergeable aggregator as the batch path
    (``applyInPandasWithState``, update mode, availableNow trigger), each
    micro-batch's per-group state folded exactly; final state = the
    highest-batch emit per group, written via foreachBatch to parquet.
    p=16 linear-counting regime at gate scale -> estimate == exact, so
    the oracle is plain COUNT(DISTINCT)."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window

    from hyperloglog_spark.streaming import streaming_approx_distinct

    static = _t(spark, sf_dir, "events")
    # the streaming file source wants a DIRECTORY; stage the single-file
    # table into one (symlink — no data copy — with a copy fallback)
    src_dir = tempfile.mkdtemp(prefix="hll_gate_stream_src_")
    src = f"{sf_dir}/events.parquet"
    try:
        os.symlink(src, os.path.join(src_dir, "events.parquet"))
    except OSError:                              # pragma: no cover
        shutil.copy(src, os.path.join(src_dir, "events.parquet"))
    stream = spark.readStream.schema(static.schema).parquet(src_dir)
    out = streaming_approx_distinct(
        stream, "user_id", "event_type", p=16, alias="n_users"
    )
    out_dir = tempfile.mkdtemp(prefix="hll_gate_stream_out_")
    ckpt = tempfile.mkdtemp(prefix="hll_gate_stream_ckpt_")

    def write_batch(bdf, bid: int) -> None:
        (bdf.withColumn("__bid", F.lit(bid))
         .write.mode("append").parquet(out_dir))

    (out.writeStream.foreachBatch(write_batch)
     .outputMode("update")
     .option("checkpointLocation", ckpt)
     .trigger(availableNow=True)
     .start()
     .awaitTermination())

    emitted = spark.read.parquet(out_dir)
    w = Window.partitionBy("event_type").orderBy(F.desc("__bid"))
    return (
        emitted.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("event_type", "n_users")
        .orderBy("event_type")
    )


def q_streaming_cms_event_type_counts(spark, sf_dir):
    """Structured Streaming count-min in the driver gate: events replayed
    as a bounded file stream, per-trigger CMS sketch emission
    (emit_sketch=True), final state point-queried for each event type.
    Counter addition is exact and associative, and the value space (5
    types) is far below the sketch width, so counts are exact and the
    oracle is plain GROUP BY."""
    import os
    import shutil
    import tempfile

    from hyperloglog_spark.frequency import cms_point_query_udf
    from hyperloglog_spark.streaming import streaming_cms_sketches

    static = _t(spark, sf_dir, "events")
    src_dir = tempfile.mkdtemp(prefix="cms_gate_stream_src_")
    src = f"{sf_dir}/events.parquet"
    try:
        os.symlink(src, os.path.join(src_dir, "events.parquet"))
    except OSError:                              # pragma: no cover
        shutil.copy(src, os.path.join(src_dir, "events.parquet"))
    stream = spark.readStream.schema(static.schema).parquet(src_dir)
    out = streaming_cms_sketches(
        stream.withColumn("__g", F.lit("all")), "event_type", "__g"
    )
    out_dir = tempfile.mkdtemp(prefix="cms_gate_stream_out_")
    ckpt = tempfile.mkdtemp(prefix="cms_gate_stream_ckpt_")

    def write_batch(bdf, bid: int) -> None:
        (bdf.withColumn("__bid", F.lit(bid))
         .write.mode("append").parquet(out_dir))

    (out.writeStream.foreachBatch(write_batch)
     .outputMode("update")
     .option("checkpointLocation", ckpt)
     .trigger(availableNow=True)
     .start()
     .awaitTermination())

    final = (
        spark.read.parquet(out_dir)
        .orderBy(F.desc("__bid")).limit(1).collect()[0]
    )
    probe = cms_point_query_udf(bytes(final["sketch"]))
    return (
        static.select("event_type").distinct()
        .withColumn("n_events", probe(F.xxhash64("event_type")))
        .orderBy("event_type")
    )


def q_streaming_weighted_price_quantiles(spark, sf_dir):
    """Structured Streaming WEIGHTED KLL quantiles (VERDICT r4 #2): the
    lineitem table replayed as a bounded file stream through
    ``streaming_approx_quantiles_weighted`` (method='kll': exact
    binary-decomposition weight placement, same mergeable aggregator as
    the driver-green batch row ``kll_weighted_price_quantiles``), final
    state = highest-batch emit. VALIDITY-HARNESS oracle identical to the
    batch row: (q_permille, exact weighted quantile by the cumulative-mass
    rule, est within 1/32 rank slack)."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window

    from hyperloglog_spark.streaming import (
        streaming_approx_quantiles_weighted,
    )

    static = _t(spark, sf_dir, "lineitem")
    src_dir = tempfile.mkdtemp(prefix="wkll_gate_stream_src_")
    src = f"{sf_dir}/lineitem.parquet"
    try:
        os.symlink(src, os.path.join(src_dir, "lineitem.parquet"))
    except OSError:                              # pragma: no cover
        shutil.copy(src, os.path.join(src_dir, "lineitem.parquet"))
    stream = (
        spark.readStream.schema(static.schema).parquet(src_dir)
        .withColumn("__g", F.lit("all"))
    )
    out = streaming_approx_quantiles_weighted(
        stream, "l_extendedprice", "l_quantity", "__g",
        [0.25, 0.5, 0.75], method="kll",
    )
    out_dir = tempfile.mkdtemp(prefix="wkll_gate_stream_out_")
    ckpt = tempfile.mkdtemp(prefix="wkll_gate_stream_ckpt_")

    def write_batch(bdf, bid: int) -> None:
        (bdf.withColumn("__bid", F.lit(bid))
         .write.mode("append").parquet(out_dir))

    (out.writeStream.foreachBatch(write_batch)
     .outputMode("update")
     .option("checkpointLocation", ckpt)
     .trigger(availableNow=True)
     .start()
     .awaitTermination())

    est = (
        spark.read.parquet(out_dir)
        .orderBy(F.desc("__bid")).limit(1).collect()[0]
    )
    ests = {250: est["q25"], 500: est["q5"], 750: est["q75"]}

    total = static.agg(F.sum("l_quantity")).collect()[0][0]
    w = Window.orderBy("l_extendedprice").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    cum = static.select(
        F.col("l_extendedprice").alias("p"),
        F.sum("l_quantity").over(w).alias("cw"),
    )
    eps = 1.0 / 32.0
    aggs = []
    for qpm in (250, 500, 750):
        q = qpm / 1000.0
        for tag, qq in (("lo", q - eps), ("mid", q), ("hi", q + eps)):
            aggs.append(
                F.min(F.when(F.col("cw") >= F.lit(qq) * F.lit(float(total)),
                             F.col("p"))).alias(f"{tag}_{qpm}")
            )
    ex = cum.agg(*aggs).collect()[0]
    rows = []
    for qpm in (250, 500, 750):
        in_bound = bool(ex[f"lo_{qpm}"] <= ests[qpm] <= ex[f"hi_{qpm}"])
        rows.append((qpm, float(ex[f"mid_{qpm}"]), in_bound))
    return spark.createDataFrame(
        rows, "q_permille bigint, exact_q double, est_in_bound boolean"
    ).orderBy("q_permille")


def _transcripts_view(spark, sf_dir):
    """North-star transcripts table (conv_id, turn_idx, role, text, tool,
    ts — the BASELINE.json input_hint schema) synthesized DETERMINISTICALLY
    from the driver-registered parquet tables: events supplies the
    conversation stream (user_id -> conv, event_id order -> turn order),
    documents supplies real text via a broadcast modulo join. Every step
    is SQL-replayable so gate oracles rebuild the identical table in
    DuckDB (the `transcripts AS (...)` CTE in _TRANSCRIPTS_SQL)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_id").isNotNull()
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    w = Window.partitionBy("user_id").orderBy("event_id")
    return (
        ev.withColumn("turn_idx", (F.row_number().over(w) - 1).cast("int"))
        .join(F.broadcast(docs),
              F.col("event_id") % F.lit(n_docs) == F.col("doc_id"))
        .select(
            F.concat(
                F.lit("conv-"),
                F.lpad(F.col("user_id").cast("string"), 8, "0"),
            ).alias("conv_id"),
            "turn_idx",
            F.col("event_type").alias("role"),
            "text",
            F.when(F.col("event_type") == "click", F.lit("browser"))
             .when(F.col("event_type") == "error", F.lit("bash"))
             .alias("tool"),
            "ts",
        )
    )


_TRANSCRIPTS_SQL = """
transcripts AS (
  SELECT 'conv-' || lpad(CAST(e.user_id AS VARCHAR), 8, '0') AS conv_id,
         CAST(row_number() OVER (PARTITION BY e.user_id ORDER BY e.event_id)
              - 1 AS INT) AS turn_idx,
         e.event_type AS role, d.text AS text,
         CASE WHEN e.event_type = 'click' THEN 'browser'
              WHEN e.event_type = 'error' THEN 'bash' END AS tool,
         e.ts AS ts
  FROM events e
  JOIN documents d
    ON d.doc_id = e.event_id % (SELECT count(*) FROM documents)
  WHERE e.user_id IS NOT NULL AND e.event_id IS NOT NULL
)"""


def q_ordering_invariant_transcripts(spark, sf_dir):
    """The BASELINE.json per-row invariant, driver-verified on the
    north-star schema: per-turn text equality vs the source under stable
    (conv_id, turn_idx) ordering must survive a shuffle-heavy round trip.
    The transcripts view is repartitioned on conv_id and re-sorted (the
    exact operations that would expose an ordering/key bug), then
    ``transcripts.ordering_invariant_violations`` full-outer-joins it
    back against the untransformed view on the composite key. Output:
    (n_turns, n_violations), the two counts cross-joined in one lazy
    DataFrame, with n_violations REQUIRED to be 0 — the oracle
    recomputes n_turns exactly and asserts the zero."""
    from hyperloglog_spark import transcripts as tq

    src = _transcripts_view(spark, sf_dir)
    roundtrip = (
        src.repartition(64, "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
    )
    violations = tq.ordering_invariant_violations(roundtrip, src)
    return src.agg(F.count(F.lit(1)).alias("n_turns")).crossJoin(
        violations.agg(F.count(F.lit(1)).alias("n_violations"))
    )


def q_tdigest_rank_turn_len_transcripts(spark, sf_dir):
    """approx_rank(method='tdigest') on the NORTH-STAR transcripts schema
    (VERDICT r4 #3): 'what share of turns are <= L characters' over
    length(text) of the synthesized transcripts table — the reference's
    turn-length CDF use-case (SURVEY §2.2) on the BASELINE.json input
    shape instead of a TPC fixture. VALIDITY-HARNESS oracle: exact_rank
    is the same IEEE count/n division on both sides; the flag asserts
    |est - exact| <= 0.05 (t-digest centroid-midrank interpolation is
    typically ~10x tighter; 0.05 is the generous no-worst-case-bound
    slack)."""
    from hyperloglog_spark import approx_rank

    tx = _transcripts_view(spark, sf_dir).select(
        F.length("text").cast("double").alias("turn_chars")
    )
    probes = (150, 300, 450)
    est = approx_rank(
        tx, "turn_chars", [float(p) for p in probes], method="tdigest"
    ).collect()[0]
    n = tx.count()
    ex = tx.agg(*[
        F.sum((F.col("turn_chars") <= F.lit(float(p))).cast("long"))
        .alias(f"c_{p}")
        for p in probes
    ]).collect()[0]
    rows = []
    for p in probes:
        exact = ex[f"c_{p}"] / n
        rows.append((p, float(exact),
                     bool(abs(est[f"r{p}"] - exact) <= 0.05)))
    return spark.createDataFrame(
        rows, "probe bigint, exact_rank double, est_in_bound boolean"
    ).orderBy("probe")


def q_trimmed_mean_latency_transcripts(spark, sf_dir):
    """Trimmed mean (10%-90%) of per-turn latency on the NORTH-STAR
    transcripts schema (VERDICT r4 #3): ts-delta within each conversation
    in turn order (one conv_id Window shuffle; the sketch agg afterwards
    ships level arrays only), k=65535 no-compaction regime -> the
    interval-overlap semantics are EXACTLY the fractional-overlap
    order-statistic rule, hash-exact against the SQL window replay
    (epoch subtraction is the same IEEE double arithmetic both sides;
    session TZ pinned UTC)."""
    from pyspark.sql import Window

    from hyperloglog_spark import approx_trimmed_mean

    tx = _transcripts_view(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    lat = (
        tx.select("conv_id", "turn_idx", "ts")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            (
                F.col("ts").cast("timestamp").cast("double")
                - F.col("prev_ts").cast("timestamp").cast("double")
            ).alias("latency_s")
        )
    )
    return approx_trimmed_mean(
        lat, "latency_s", 0.1, 0.9, k=65535
    ).select(F.round("trimmed_mean", 4).alias("trimmed_mean"))


def q_sample_documents(spark, sf_dir):
    """Deterministic bottom-k-by-hash sample (the mergeable min-k form of
    uniform sampling: partitioning-invariant, union = re-take-k). md5 keys
    so the oracle reproduces the exact selection."""
    from hyperloglog_spark.pipeline import deterministic_sample

    return deterministic_sample(
        _t(spark, sf_dir, "documents").select("doc_id"), "doc_id", 100,
        hashing="md5",
    ).orderBy("sample_key")


def q_sample_stratified_by_lang(spark, sf_dir):
    """Per-language stratified sample (the per-class eval-holdout shape):
    up to 20 smallest-hash docs per lang, md5-keyed for the oracle."""
    from hyperloglog_spark.pipeline import stratified_sample

    return stratified_sample(
        _t(spark, sf_dir, "documents").select("doc_id", "lang"),
        "doc_id", "lang", 20, hashing="md5",
    ).orderBy("lang", "sample_key")


def q_text_token_stats(spark, sf_dir):
    from hyperloglog_spark.pipeline import token_stats

    return token_stats(
        _t(spark, sf_dir, "documents"), "text", "doc_id"
    ).orderBy("doc_id")


def q_text_lang_id(spark, sf_dir):
    from hyperloglog_spark.pipeline import lang_id

    return (
        lang_id(_t(spark, sf_dir, "documents"), "text")
        .groupBy("lang_pred").agg(F.count("*").alias("n_docs"))
        .orderBy("lang_pred")
    )


def q_text_quality(spark, sf_dir):
    """Integer-permille quality components — fully SQL-mirrored oracle
    (all-integer arithmetic, engine-independent)."""
    from hyperloglog_spark.pipeline import quality_score

    return quality_score(
        _t(spark, sf_dir, "documents"), "text", "doc_id"
    ).orderBy("doc_id")


def q_text_repetition_stats(spark, sf_dir):
    """Gopher-style repetition metrics (dup-word / top- and dup-n-gram
    permille). Spark computes per-doc n-gram multiplicities with a
    sort+fold inside codegen (zero Exchanges); the oracle recomputes the
    same exact integers via unnest + GROUP BY — hash-exact."""
    from hyperloglog_spark.pipeline import repetition_stats

    return repetition_stats(
        _t(spark, sf_dir, "documents"), "text", "doc_id"
    ).orderBy("doc_id")


def q_curate_documents(spark, sf_dir):
    """END-TO-END curation composition (lang ID -> quality -> repetition ->
    exact dedup -> decontamination -> deterministic sample -> keep), the
    one-call training-data pipeline. Stages 1-3+6 are a single codegen
    pass; dedup is one window Exchange on the md5 fingerprint; decontam is
    the broadcast gram probe. md5 hashing mode makes EVERY flag — and the
    final keep conjunction — replayable in ANSI SQL, so the oracle checks
    the whole composition, not the stages in isolation."""
    from hyperloglog_spark.pipeline import curate_documents

    docs = _t(spark, sf_dir, "documents")
    out = curate_documents(
        docs, "text", "doc_id",
        benchmark=docs.filter(F.col("doc_id") % 50 == 0),
        langs=("en",), min_quality=300, sample_permille=900,
        hashing="md5",
    )
    return out.select(
        "doc_id", "lang_pred", "score", "repetitive", "is_canonical",
        "contaminated", "sampled", "lang_ok", "quality_ok", "keep",
    ).orderBy("doc_id")


def q_doc_fingerprints(spark, sf_dir):
    """Bottom-k shingle fingerprints, hashing=md5 so the fingerprint (sum
    of the 4 smallest 60-bit shingle hashes) is bit-reproducible in the
    DuckDB oracle; xxhash64-chain stays the production default."""
    from hyperloglog_spark.pipeline import doc_fingerprints

    return doc_fingerprints(
        _t(spark, sf_dir, "documents"), "text", "doc_id", hashing="md5"
    ).orderBy("doc_id")


def q_multimodal_features(spark, sf_dir):
    """Binary-payload feature extraction (deterministic fake decoder; the
    codec step is a documented stub, the Spark plumbing is real)."""
    from hyperloglog_spark.pipeline.multimodal import (
        extract_features, synthesize_assets,
    )

    assets = synthesize_assets(_t(spark, sf_dir, "documents"), "text", "doc_id")
    return (
        extract_features(assets)
        .select("asset_id", "kind", "n_bytes")
        .orderBy("asset_id")
    )


def q_multimodal_decode_stats(spark, sf_dir):
    """REAL image decode, no codec library: deterministic PPM (even doc_ids)
    and 24-bit BMP (odd doc_ids) payloads with pixel byte j = (id*31+j)%256
    on a 4x3 RGB grid, decoded by the pure-numpy parsers (header parse, BMP
    row padding, bottom-up flip, BGR swap) via the same extract_features
    mapInPandas plumbing as the stubbed path. Output stats are
    order-independent exact integers, so one SQL replay of the generator
    covers both formats hash-exactly."""
    from hyperloglog_spark.pipeline.multimodal import (
        decoded_pixel_stats, extract_features, synthesize_image_assets,
    )

    assets = synthesize_image_assets(
        _t(spark, sf_dir, "documents"), "doc_id"
    )
    feats = extract_features(assets, decoder=decoded_pixel_stats)
    f = F.col("features")
    return (
        feats.select(
            "asset_id",
            F.when(F.col("asset_id") % 2 == 0, F.lit("ppm"))
            .otherwise(F.lit("bmp")).alias("fmt"),
            "n_bytes",
            f[5].cast("bigint").alias("width"),
            f[6].cast("bigint").alias("height"),
            f[7].cast("bigint").alias("channels"),
            f[1].cast("bigint").alias("pixel_sum"),
            f[2].cast("bigint").alias("pixel_sqsum"),
            f[3].cast("bigint").alias("pix_min"),
            f[4].cast("bigint").alias("pix_max"),
        )
        .orderBy("asset_id")
    )


def q_multimodal_audio_stats(spark, sf_dir):
    """REAL audio decode, no codec library: deterministic 16-bit PCM WAV
    payloads (sample j of asset i = (i*37 + j*257) % 4001 - 2000, 24 mono
    samples @ 16 kHz) decoded by the pure-numpy RIFF chunk walker through
    the same extract_features mapInPandas plumbing. Output stats are
    order-independent exact integers — one SQL replay of the generator,
    hash-exact."""
    from hyperloglog_spark.pipeline.multimodal import (
        decoded_audio_stats, extract_features, synthesize_audio_assets,
    )

    assets = synthesize_audio_assets(_t(spark, sf_dir, "documents"), "doc_id")
    feats = extract_features(assets, decoder=decoded_audio_stats)
    f = F.col("features")
    return (
        feats.select(
            "asset_id",
            "n_bytes",
            f[1].cast("bigint").alias("sample_sum"),
            f[2].cast("bigint").alias("sample_sqsum"),
            f[3].cast("bigint").alias("smin"),
            f[4].cast("bigint").alias("smax"),
            f[5].cast("bigint").alias("n_samples"),
            f[6].cast("bigint").alias("sample_rate"),
            f[7].cast("bigint").alias("channels"),
        )
        .orderBy("asset_id")
    )


def q_multimodal_video_stats(spark, sf_dir):
    """REAL video decode, no codec library: deterministic YUV4MPEG2
    payloads (luma pixel j of frame f of asset i = (i*41+f*13+j*7) % 256,
    3 frames of 4x4 C420) decoded by the pure-numpy Y4M parser (header
    tokens, FRAME markers, chroma-plane skip) through the same
    extract_features mapInPandas plumbing. Order-independent exact
    integer stats; one SQL replay of the generator, hash-exact."""
    from hyperloglog_spark.pipeline.multimodal import (
        decoded_video_stats, extract_features, synthesize_video_assets,
    )

    assets = synthesize_video_assets(_t(spark, sf_dir, "documents"), "doc_id")
    feats = extract_features(assets, decoder=decoded_video_stats)
    f = F.col("features")
    return (
        feats.select(
            "asset_id",
            "n_bytes",
            f[1].cast("bigint").alias("luma_sum"),
            f[2].cast("bigint").alias("luma_sqsum"),
            f[3].cast("bigint").alias("lmin"),
            f[4].cast("bigint").alias("lmax"),
            f[5].cast("bigint").alias("n_frames"),
            f[6].cast("bigint").alias("width"),
            f[7].cast("bigint").alias("height"),
        )
        .orderBy("asset_id")
    )


def q_orders_per_priority(spark, sf_dir):
    """Exact composition query (engine + oracle plumbing sanity)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_custs"),
        )
        .orderBy("o_orderpriority")
    )


# ----------------------------------------------------- oracle SQL builders


def _qn(q: float) -> str:
    """Mirror of hyperloglog_spark.quantiles._q_name (0.5 -> q5)."""
    return "q" + f"{q:g}".replace("0.", "").replace(".", "_")


def _kll_rank_sql(
    table: str, col: str, qs: list[float], group_by: str | None = None
) -> str:
    """Exact-regime KLL oracle: the estimator's inclusive-rank rule —
    smallest retained item whose cumulative weight >= q*n — as row_number
    SQL (weights are all 1 when the sketch never compacts)."""
    part = f"PARTITION BY {group_by} " if group_by else ""
    sel_g = f"{group_by}, " if group_by else ""
    cols = ", ".join(
        f"min(CASE WHEN rn >= greatest(1, CAST(ceil(CAST({q!r} AS DOUBLE) * n) AS BIGINT)) "
        f"THEN v END) AS {_qn(q)}"
        for q in qs
    )
    tail = f" GROUP BY {group_by} ORDER BY {group_by}" if group_by else ""
    return (
        f"WITH r AS (SELECT {sel_g}CAST({col} AS DOUBLE) AS v, "
        f"row_number() OVER ({part}ORDER BY CAST({col} AS DOUBLE)) AS rn, "
        f"count(*) OVER ({part.strip()}) AS n "
        f"FROM {table} WHERE {col} IS NOT NULL) "
        f"SELECT {sel_g}{cols} FROM r{tail}"
    )


def _tdigest_interp_sql(
    table: str, col: str, qs: list[float], group_by: str | None = None
) -> str:
    """Exact-regime t-digest oracle: all-singleton centroids sit at
    cumulative-weight midpoints rn-0.5, so the estimator is np.interp over
    (rn-0.5, v) at target q*n — mirrored with the same IEEE arithmetic:
    v_lo + (q*n - (rn0-0.5)) * (v_hi - v_lo), rn0 = clamp(floor(q*n+0.5)).
    With ``group_by``: one per-q aggregate CTE per group, joined on the
    group key."""
    part = f"PARTITION BY {group_by} " if group_by else ""
    sel_g = f"{group_by}, " if group_by else ""
    base = (
        f"SELECT {sel_g}CAST({col} AS DOUBLE) AS v, "
        f"row_number() OVER ({part}ORDER BY CAST({col} AS DOUBLE)) AS rn, "
        f"count(*) OVER ({part.strip()}) AS n "
        f"FROM {table} WHERE {col} IS NOT NULL"
    )
    if not group_by:
        parts = []
        for q in qs:
            parts.append(
                f"(SELECT max(CASE WHEN rn = rn0 THEN v END) "
                f"+ (CAST({q!r} AS DOUBLE) * max(n) - (max(rn0) - 0.5)) "
                f"* (max(CASE WHEN rn = rn0 + 1 THEN v END) "
                f"- max(CASE WHEN rn = rn0 THEN v END)) "
                f"FROM (SELECT v, rn, n, CAST(least(greatest("
                f"floor(CAST({q!r} AS DOUBLE) * n + 0.5), 1), n - 1) AS BIGINT) AS rn0 "
                f"FROM r)) AS {_qn(q)}"
            )
        return "WITH r AS (" + base + ") SELECT " + ", ".join(parts)
    ctes = [f"r AS ({base})"]
    for q in qs:
        name = _qn(q)
        ctes.append(
            f"{name}_t AS (SELECT {group_by}, "
            f"max(CASE WHEN rn = rn0 THEN v END) "
            f"+ (CAST({q!r} AS DOUBLE) * max(n) - (max(rn0) - 0.5)) "
            f"* (max(CASE WHEN rn = rn0 + 1 THEN v END) "
            f"- max(CASE WHEN rn = rn0 THEN v END)) AS {name} "
            f"FROM (SELECT {group_by}, v, rn, n, CAST(least(greatest("
            f"floor(CAST({q!r} AS DOUBLE) * n + 0.5), 1), n - 1) AS BIGINT) AS rn0 FROM r) "
            f"GROUP BY {group_by})"
        )
    joins = f"{_qn(qs[0])}_t"
    for q in qs[1:]:
        joins += f" JOIN {_qn(q)}_t USING ({group_by})"
    sel = ", ".join(_qn(q) for q in qs)
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT {group_by}, {sel} FROM {joins} ORDER BY {group_by}"
    )


def _plane_sig_expr(dim: int, nbits: int, seed: int, vec: str = "u") -> str:
    """Packed sign-bit signature of ``vec`` against the same seeded numpy
    hyperplane draw the Spark kernels use, with the planes inlined as
    double literals (repr round-trips float64 exactly)."""
    import numpy as np

    planes = np.random.default_rng(seed).standard_normal((dim, nbits))

    def lit(j: int) -> str:
        return "[" + ", ".join(repr(float(x)) for x in planes[:, j]) + "]"

    return " + ".join(
        f"(CASE WHEN list_dot_product({vec}, {lit(j)}) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(nbits)
    )


def _lsh_oracle_sql(k: int = 5, nbits: int = 10, dim: int = 64,
                    seed: int = 77) -> str:
    """Replicates lsh_topk end to end in SQL: the hyperplanes (same seeded
    numpy draw) are inlined as double literals; bucket = packed sign bits
    of the normalized dot products; candidates = bucket Hamming <= 1 (own
    bucket + 1-bit multiprobe); exact re-rank + top-k."""
    bucket = _plane_sig_expr(dim, nbits, seed)
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS u
  FROM e
), b AS (
  SELECT vec_id, u, CAST({bucket} AS BIGINT) AS bucket FROM n
), cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(floor(1000.0 * list_sum(list_transform(range(1, len(q.u) + 1),
              i -> q.u[i] * c.u[i]))) AS BIGINT) AS score_permille
  FROM b q JOIN b c
    ON q.vec_id < 10 AND q.vec_id <> c.vec_id
   AND bit_count(xor(q.bucket, c.bucket)) <= 1
)
SELECT query_id, CAST(row_number() OVER w AS INTEGER) AS rank, neighbor_id,
       score_permille
FROM cand
WINDOW w AS (PARTITION BY query_id ORDER BY score_permille DESC, neighbor_id)
QUALIFY rank <= {k}
ORDER BY query_id, rank
"""


def _embedding_neardup_oracle_sql(
    threshold: int = 900, nbits: int = 16, max_hamming: int = 3,
    dim: int = 64, seed: int = 177,
) -> str:
    """Full algorithm-mirror for q_embedding_neardup_pairs: perturbed-copy
    corpus, literal-hyperplane signatures, Hamming gate, exact cosine —
    over ALL pairs (the exhaustive form of the blocked Spark plan)."""
    sig = _plane_sig_expr(dim, nbits, seed)
    return f"""
WITH corpus AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  UNION ALL
  SELECT vec_id + 10000,
         list_transform(list_prepend(CAST(0.0 AS FLOAT), embedding[2:]),
                        x -> CAST(x AS DOUBLE))
  FROM embeddings
), n AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS u
  FROM corpus
), b AS (
  SELECT vec_id, u, CAST({sig} AS BIGINT) AS sig FROM n
), pr AS (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
         CAST(floor(1000.0 * list_sum(list_transform(range(1, len(a.u) + 1),
              i -> a.u[i] * c.u[i]))) AS BIGINT) AS cosine_permille
  FROM b a JOIN b c
    ON a.vec_id < c.vec_id
   AND bit_count(xor(a.sig, c.sig)) <= {max_hamming}
)
SELECT id_a, id_b, cosine_permille FROM pr
WHERE cosine_permille >= {threshold}
ORDER BY id_a, id_b
"""


def _ivf_oracle_sql(k: int = 5, n_cells: int = 16, nprobe: int = 4,
                    dim: int = 64, seed: int = 311) -> str:
    """Full algorithm-mirror of ivf_topk with the random quantizer: the
    normalized centroids are inlined as double literals; per-vector cell
    dots computed once in a CTE; corpus cell = first argmax (CASE chain),
    query probes = top-nprobe cells by (dot DESC, cell ASC); exact cosine
    re-rank + top-k."""
    import numpy as np

    rng = np.random.default_rng(seed)
    cents = rng.standard_normal((n_cells, dim))
    cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)

    def lit(j: int) -> str:
        return "[" + ", ".join(repr(float(x)) for x in cents[j]) + "]"

    dots = ", ".join(
        f"list_dot_product(u, {lit(j)}) AS d{j}" for j in range(n_cells)
    )
    m = "greatest(" + ", ".join(f"d{j}" for j in range(n_cells)) + ")"
    argmax = "CASE " + " ".join(
        f"WHEN d{j} = m THEN {j}" for j in range(n_cells)
    ) + " END"
    probe_union = " UNION ALL ".join(
        f"SELECT vec_id, u, {j} AS cell, d{j} AS dt FROM d WHERE vec_id < 10"
        for j in range(n_cells)
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS u
  FROM e
), d AS (
  SELECT vec_id, u, {dots} FROM n
), cells AS (
  SELECT vec_id, u, {argmax} AS cell
  FROM (SELECT *, {m} AS m FROM d)
), probes AS (
  SELECT vec_id AS query_id, u AS qu, cell FROM (
    SELECT vec_id, u, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dt DESC, cell) AS pr
    FROM ({probe_union})
  ) WHERE pr <= {nprobe}
), cand AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         CAST(floor(1000.0 * list_sum(list_transform(range(1, len(p.qu) + 1),
              i -> p.qu[i] * c.u[i]))) AS BIGINT) AS score_permille
  FROM cells c JOIN probes p ON c.cell = p.cell
  WHERE p.query_id <> c.vec_id
)
SELECT query_id, CAST(row_number() OVER w AS INTEGER) AS rank, neighbor_id,
       score_permille
FROM cand
WINDOW w AS (PARTITION BY query_id ORDER BY score_permille DESC, neighbor_id)
QUALIFY rank <= {k}
ORDER BY query_id, rank
"""


def _ivf_trained_oracle_sql(
    k: int = 5, n_cells: int = 8, nprobe: int = 4, seed: int = 311,
    grid_bits: int = 20, n_queries: int = 10,
) -> str:
    """Full algorithm-mirror of q_embedding_topk_ivf_trained: replays the
    DISTRIBUTED k-means fit in SQL — init = bottom-n_cells rows by the md5
    sample key, cosine argmax assignment (ties to lower cell, matching
    numpy first-argmax), per-cell means on the 2^grid_bits integer grid
    (sum + floor-divide of integer-valued doubles: exact and
    order-independent, the property that makes a distributed reduction
    SQL-replayable), renormalize, empty cells keep init — then the same
    IVF probe/re-rank as _ivf_oracle_sql with the trained centroids as a
    CTE instead of literals."""
    scale = float(1 << grid_bits)
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS u
  FROM e
), keyed AS (
  SELECT vec_id, u,
         ('0x' || substr(md5(concat(CAST(vec_id AS VARCHAR), '#', '{seed}')), 1, 15))::BIGINT AS mk
  FROM n
), init AS (
  SELECT row_number() OVER (ORDER BY mk, vec_id) - 1 AS cell, u AS cu
  FROM keyed ORDER BY mk, vec_id LIMIT {n_cells}
), asgn AS (
  SELECT k.vec_id, k.u, i.cell,
         row_number() OVER (PARTITION BY k.vec_id ORDER BY
           list_sum(list_transform(range(1, len(k.u) + 1), j -> k.u[j] * i.cu[j])) DESC,
           i.cell) AS rn
  FROM keyed k CROSS JOIN init i
), members AS (
  SELECT u, cell FROM asgn WHERE rn = 1
), stats AS (
  SELECT cell, pos, sum(floor(val * {scale})) AS s, count(*) AS cnt
  FROM (SELECT cell, unnest(u) AS val, unnest(range(1, len(u) + 1)) AS pos FROM members)
  GROUP BY cell, pos
), graw AS (
  SELECT cell, list(floor(s / cnt) / {scale} ORDER BY pos) AS gv
  FROM stats GROUP BY cell
), cents AS (
  SELECT i.cell,
         CASE WHEN g.gv IS NULL THEN i.cu
              ELSE list_transform(g.gv, x -> x / sqrt(list_sum(list_transform(g.gv, y -> y * y)))) END AS cu
  FROM init i LEFT JOIN graw g ON i.cell = g.cell
), scored_cells AS (
  SELECT n2.vec_id, n2.u, c.cell,
         row_number() OVER (PARTITION BY n2.vec_id ORDER BY
           list_sum(list_transform(range(1, len(n2.u) + 1), j -> n2.u[j] * c.cu[j])) DESC,
           c.cell) AS rn
  FROM n n2 CROSS JOIN cents c
), corpus_cells AS (
  SELECT vec_id, u, cell FROM scored_cells WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, u AS qu, cell FROM scored_cells
  WHERE rn <= {nprobe} AND vec_id < {n_queries}
), cand AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         CAST(floor(1000.0 * list_sum(list_transform(range(1, len(p.qu) + 1),
              i -> p.qu[i] * c.u[i]))) AS BIGINT) AS score_permille
  FROM corpus_cells c JOIN probes p ON c.cell = p.cell
  WHERE p.query_id <> c.vec_id
)
SELECT query_id, CAST(row_number() OVER w AS INTEGER) AS rank, neighbor_id,
       score_permille
FROM cand
WINDOW w AS (PARTITION BY query_id ORDER BY score_permille DESC, neighbor_id)
QUALIFY rank <= {k}
ORDER BY query_id, rank
"""


_SHINGLE_SQL = """
  SELECT doc_id,
         CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
              ELSE list_distinct([array_to_string(string_split(text, ' ')[i:i+2], ' ')
                                  for i in range(1, len(string_split(text, ' ')) - 1)])
         END AS sh
  FROM documents
"""

_NEARDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE s AS ({_SHINGLE_SQL}),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM s a JOIN s b ON a.doc_id < b.doc_id
  WHERE floor(len(list_intersect(a.sh, b.sh)) * 1000.0 /
        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) >= 500
),
e AS (SELECT id_a AS a, id_b AS b FROM p
      UNION ALL SELECT id_b, id_a FROM p),
walk(id, lbl) AS (
  SELECT a, a FROM e
  UNION
  SELECT e2.a, w.lbl FROM e e2 JOIN walk w ON e2.b = w.id
)
SELECT id AS doc_id, min(lbl) AS cluster_id, (id = min(lbl)) AS keep
FROM walk GROUP BY id ORDER BY doc_id
"""


def q_conversation_integrity_events(spark, sf_dir):
    """Per-conversation integrity audit (dup/missing turn indexes, timestamp
    inversions in index order, role-alternation breaks) mapped onto the
    events table (user_id=conv, event_id=idx, event_type=role). One Window
    + one reused-partitioning groupBy = a single Exchange; exact-integer
    outputs, window-replay SQL oracle."""
    from hyperloglog_spark import transcripts as tq

    return tq.conversation_integrity(
        _t(spark, sf_dir, "events"), "user_id", "event_id", "event_type",
        "ts",
    ).orderBy("user_id")


def q_conversation_fingerprints(spark, sf_dir):
    """Whole-conversation fingerprints (events: user_id's event stream):
    order-independent hash-sum combine, map-side partial agg — the
    shuffle carries (conv, sum) rows, never texts. md5 mode replays the
    40-bit-masked term sum bit-for-bit in SQL."""
    from hyperloglog_spark import transcripts as tq

    return tq.conversation_fingerprints(
        _t(spark, sf_dir, "events"), "user_id", "event_id", "event_type",
        hashing="md5",
    ).orderBy("user_id")


def q_event_type_transitions(spark, sf_dir):
    """Markov transition counts of event_type within each user's event
    stream (ordered by event_id): one Window shuffle + a map-side-combined
    groupBy over the tiny (from, to) key space. Exact SQL oracle."""
    from hyperloglog_spark import transcripts as tq

    return tq.transition_counts(
        _t(spark, sf_dir, "events"), "user_id", "event_id", "event_type"
    ).orderBy("from_state", "to_state")


def q_theta_pairwise_jaccard_priorities(spark, sf_dir):
    """Stored-sketch set algebra as a MATRIX: per-priority theta sketches
    of custkey sets built once, then every pairwise Jaccard answered from
    the stored states through the SQL scalar surface (theta_jaccard) with
    zero rescans of orders. Exact regime (distinct per group << k=4096),
    so the oracle is plain exact SQL Jaccard."""
    from hyperloglog_spark.setops import (
        register_theta_sql_functions, theta_sketch_agg,
    )

    register_theta_sql_functions(spark)
    theta_sketch_agg(
        _t(spark, sf_dir, "orders"), "o_custkey",
        group_by="o_orderpriority", k=4096,
    ).createOrReplaceTempView("prio_sketches")
    return spark.sql("""
        SELECT a.o_orderpriority AS prio_a, b.o_orderpriority AS prio_b,
               CAST(floor(1000.0 * theta_jaccard(a.sketch, b.sketch))
                    AS BIGINT) AS jaccard_permille
        FROM prio_sketches a JOIN prio_sketches b
          ON a.o_orderpriority < b.o_orderpriority
        ORDER BY prio_a, prio_b
    """)


def q_sessionize_events(spark, sf_dir):
    """Gap-based sessionization (transcripts.sessionize): per-user session
    boundaries at a 4-hour inactivity gap, rolled up to one row per user.
    EXACT oracle: the session assignment is integer/IEEE-deterministic
    (epoch doubles subtract identically in any engine; event_id breaks
    timestamp ties), so DuckDB's window replay matches bit-for-bit."""
    from hyperloglog_spark.transcripts import session_stats

    st = session_stats(
        _t(spark, sf_dir, "events"), "user_id", "ts",
        gap_s=14400, order_by="event_id",
    )
    return (
        st.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.max("n_events").alias("longest_session_events"),
            F.max("duration_ms").alias("max_duration_ms"),
        )
        .orderBy("user_id")
    )


def q_kmv_distinct_custkeys(spark, sf_dir):
    """KMV (bottom-k) cardinality estimate of distinct order custkeys —
    the second distinct-count sketch family (complements HLL; the state
    doubles as a uniform sample of the distinct keys). ALGORITHM-MIRROR +
    validity harness: md5 keys make the k-th-minimum and the (k-1)/u_k
    estimate bit-reproducible in SQL, and the published ~1/sqrt(k-2)
    relative error is asserted as a 3-sigma bound flag BOTH sides compute
    from identical arithmetic."""
    import math

    from hyperloglog_spark.pipeline import kmv_distinct

    orders = _t(spark, sf_dir, "orders")
    est = kmv_distinct(orders, "o_custkey", k=256, hashing="md5").select(
        "n_distinct_est"
    )
    exact = orders.agg(F.countDistinct("o_custkey").alias("n_exact"))
    bound = F.lit(3.0) * F.col("n_exact") / F.sqrt(F.lit(254.0))
    return est.crossJoin(exact).select(
        "n_distinct_est",
        "n_exact",
        (
            F.abs(F.col("n_distinct_est") - F.col("n_exact")).cast("double")
            <= bound
        ).alias("in_bound"),
    )


def q_priority_sample_documents(spark, sf_dir):
    """Weighted sampling via priority sampling (Duffield-Lund-Thorup,
    JACM 2007): top-k priorities w/u with unbiased max(w, tau) subset-sum
    estimators. ALGORITHM-MIRROR oracle: md5-keyed u, one IEEE add+divide
    per row — DuckDB replays selection AND estimates bit-for-bit."""
    from hyperloglog_spark.pipeline import priority_sample

    return (
        priority_sample(
            _t(spark, sf_dir, "documents"), "doc_id", "n_chars",
            k=100, hashing="md5",
        )
        .select("doc_id", "n_chars", "weight_est")
        .orderBy("doc_id")
    )


def q_session_window_events(spark, sf_dir):
    """Native merging session windows (streaming.session_window_stats,
    batch mode) — same 4-hour-gap sessions as sessionize_events, computed
    by Spark's MergingSessions operator instead of a window-function
    replay. Semantics proven identical (touching windows merge == the
    strictly-greater gap test), so the SAME window-replay SQL is the
    oracle. Exercises the batch AQE-coalesce workaround (without the
    pinned repartition, MergingSessions returns zero rows under AQE)."""
    from hyperloglog_spark.streaming import session_window_stats

    st = session_window_stats(
        _t(spark, sf_dir, "events"), "user_id", "ts",
        gap_s=14400, watermark_delay=None,
    )
    return (
        st.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.max("n_events").alias("longest_session_events"),
            F.max("duration_ms").alias("max_duration_ms"),
        )
        .orderBy("user_id")
    )


def q_bloom_join_urgent_revenue(spark, sf_dir):
    """Bloom semi-join reduction (membership.bloom_filtered_join): prune
    lineitem against a Bloom of URGENT order keys before the exact join.
    EXACT oracle: no false negatives + exact-join FP removal means the
    result equals the plain join; revenue summed as per-row floored cents
    (integer addition — associative, partitioning-independent)."""
    from hyperloglog_spark.membership import bloom_filtered_join

    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    j = bloom_filtered_join(
        _t(spark, sf_dir, "lineitem"), urgent, "l_orderkey", fpp=0.001
    )
    cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        * F.lit(100.0)
    ).cast("long")
    return (
        j.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(cents).cast("long").alias("revenue_cents"),
        )
        .orderBy("l_returnflag")
    )


def q_theta_set_ops_custkeys(spark, sf_dir):
    """Theta-sketch set algebra (setops.theta_set_cardinalities): union /
    intersection / difference cardinalities of the customers ordering in
    1995H1 vs 1995H2 — the set-operation-closed sketch HLL cannot provide
    (HLL merge is union-only; inclusion-exclusion compounds error and can
    go negative). ALGORITHM-MIRROR oracle: md5 60-bit keys + the exclusive-
    theta bottom-k arithmetic (theta = (k+1)-th smallest distinct key,
    est = floor(count / (theta / 2^60))) replay bit-for-bit in SQL; at
    sf0.001 both sides are exact (< k distinct), at sf0.01+ the estimation
    regime is exercised. Everything stays lazy: two one-row sketch frames
    cross-joined, four scalar-UDF set ops over KB-sized states."""
    from hyperloglog_spark.setops import (
        theta_set_cardinalities,
        theta_sketch_agg,
    )

    orders = _t(spark, sf_dir, "orders")
    a = theta_sketch_agg(
        orders.filter("o_orderdate < timestamp'1995-07-01'"),
        "o_custkey", k=256, hashing="md5",
    )
    b = theta_sketch_agg(
        orders.filter(
            "o_orderdate >= timestamp'1995-07-01'"
            " AND o_orderdate < timestamp'1996-01-01'"
        ),
        "o_custkey", k=256, hashing="md5",
    )
    return theta_set_cardinalities(a, b)


def q_theta_distinct_by_priority(spark, sf_dir):
    """Grouped theta distinct-count (setops.theta_distinct): per-priority
    distinct custkeys at k=64 — exercises the grouped two-phase build +
    min-k union merge. ALGORITHM-MIRROR oracle: the (k+1)-th-smallest-key
    threshold and floor(k / theta_frac) estimate replayed per group with
    one window function."""
    from hyperloglog_spark.setops import theta_distinct

    return theta_distinct(
        _t(spark, sf_dir, "orders"), "o_custkey",
        group_by="o_orderpriority", k=64, hashing="md5",
    ).orderBy("o_orderpriority")


def q_ngram_contamination_documents(spark, sf_dir):
    """Training-data decontamination (pipeline.decontam): per-document
    benchmark n-gram containment — every 50th document stands in for the
    eval benchmark, so benchmark members score 1000 permille and their
    near-dups score high. ALGORITHM-MIRROR oracle: md5 60-bit shingle
    hashes, the shingle_hashes short-text rule, and the integer-permille
    division replay exactly in SQL. Exact method: benchmark grams
    broadcast, corpus grams never shuffle through a join."""
    from hyperloglog_spark.pipeline import ngram_contamination

    docs = _t(spark, sf_dir, "documents")
    return ngram_contamination(
        docs, docs.filter("doc_id % 50 = 0"),
        n=3, threshold_permille=500, hashing="md5",
    ).orderBy("doc_id")


def q_asof_join_purchase_view(spark, sf_dir):
    """Temporal as-of join (pipeline.temporal.asof_join): each purchase
    event attached to the user's most recent prior view within 7 days —
    the feature-attribution primitive Spark lacks natively. Runs the
    BUCKETED scale path (bounded partitions under key skew; proven
    row-identical to the single-window path in test_temporal.py); the
    oracle is DuckDB's native ASOF LEFT JOIN with the tolerance applied
    as a post-match null-out (equivalent: the as-of match is the nearest
    qualifying row, so beyond-tolerance == no match)."""
    from hyperloglog_spark.pipeline import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter("event_type = 'purchase'").select(
        "event_id", "user_id", "ts"
    )
    views = (
        ev.filter("event_type = 'view'")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    out = asof_join(
        purchases, views, by="user_id", left_on="ts",
        tolerance_s=604_800.0, suffix="_v", bucket_s=86_400.0 * 30,
    )
    # floor, not cast: DuckDB ::BIGINT rounds doubles, Spark cast truncates
    epoch = lambda c: F.floor(  # noqa: E731
        F.col(c).cast("timestamp").cast("double")
    ).cast("long")
    return out.select(
        "event_id", "user_id",
        epoch("ts").alias("ts_s"),
        epoch("ts_v").alias("view_ts_s"),
        F.col("view_value_v").alias("view_value"),
    ).orderBy("event_id")


# Ordering policy: the driver's correctness gate checks the FIRST 50
# registry entries only. Queries that have never been driver-verified
# (new this round, or beyond the window in earlier rounds) are listed
# FIRST; queries already green in a past CORRECTNESS_r*.json fill the
# remainder and overflow past position 50, where the local
# scripts/check_entry.py run (identical harness) still covers them.
_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # The driver gate verifies the FIRST 50 entries each round. Window
    # policy (VERDICT r4 #4): new/changed rows first, then every entry
    # whose last driver check predates the current code, so no entry goes
    # two rounds without driver verification.
    # -- new in round 5 --
    "streaming_weighted_price_quantiles": q_streaming_weighted_price_quantiles,
    "tdigest_rank_turn_len_transcripts": q_tdigest_rank_turn_len_transcripts,
    "trimmed_mean_latency_transcripts": q_trimmed_mean_latency_transcripts,
    "hll_multi_column_profile_jvm": q_hll_multi_column_profile_jvm,
    "ordering_invariant_transcripts": q_ordering_invariant_transcripts,
    # -- changed in round 5 (cms_topk -> cms_topk_verified; the r4 red row) --
    "cms_top_ngrams_documents": q_cms_top_ngrams_documents,
    # -- last driver-verified in r3; not re-checked since the r4/r5 churn --
    "tdigest_acctbal_by_segment": q_tdigest_acctbal_by_segment,
    "orders_per_priority": q_orders_per_priority,
    "dedup_exact_documents": q_dedup_exact_documents,
    "neardup_minhash_pairs": q_neardup_minhash_pairs,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "salted_hot_key_agg": q_salted_hot_key_agg,
    "conversation_integrity_events": q_conversation_integrity_events,
    "event_type_transitions": q_event_type_transitions,
    "conversation_fingerprints": q_conversation_fingerprints,
    "theta_pairwise_jaccard_priorities": q_theta_pairwise_jaccard_priorities,
    "sessionize_events": q_sessionize_events,
    "session_window_events": q_session_window_events,
    "priority_sample_documents": q_priority_sample_documents,
    "kmv_distinct_custkeys": q_kmv_distinct_custkeys,
    "bloom_join_urgent_revenue": q_bloom_join_urgent_revenue,
    "checkpoint_resume_distinct": q_checkpoint_resume_distinct,
    "hll_sliding_window_users": q_hll_sliding_window_users,
    "hll_fold_verified": q_hll_fold_verified,
    "hll_jaccard_priorities": q_hll_jaccard_priorities,
    "neardup_clusters_documents": q_neardup_clusters_documents,
    "simhash_neardup_pairs": q_simhash_neardup_pairs,
    "embedding_topk_bruteforce": q_embedding_topk_bruteforce,
    "embedding_topk_lsh": q_embedding_topk_lsh,
    "embedding_topk_ivf": q_embedding_topk_ivf,
    "embedding_neardup_pairs": q_embedding_neardup_pairs,
    "sample_documents": q_sample_documents,
    "sample_stratified_by_lang": q_sample_stratified_by_lang,
    "text_token_stats": q_text_token_stats,
    "text_lang_id": q_text_lang_id,
    "text_quality": q_text_quality,
    "doc_fingerprints": q_doc_fingerprints,
    "multimodal_features": q_multimodal_features,
    # -- r4-verified rows most touched by the round-5 code churn (weight
    #    validation in cms_topk/kll, tree-merge fan_in, streaming skeleton) --
    "cms_weighted_qty_by_partkey": q_cms_weighted_qty_by_partkey,
    "cms_weighted_topk_partkeys": q_cms_weighted_topk_partkeys,
    "cms_topk_verified_partkeys": q_cms_topk_verified_partkeys,
    "kll_weighted_price_quantiles": q_kll_weighted_price_quantiles,
    "kll_trimmed_mean_acctbal": q_kll_trimmed_mean_acctbal,
    "kll_trimmed_mean_by_event_type": q_kll_trimmed_mean_by_event_type,
    "kll_rank_prices": q_kll_rank_prices,
    "kll_price_quantiles_bounded": q_kll_price_quantiles_bounded,
    "streaming_distinct_event_users": q_streaming_distinct_event_users,
    "streaming_cms_event_type_counts": q_streaming_cms_event_type_counts,
    "multimodal_decode_stats": q_multimodal_decode_stats,
    "multimodal_video_stats": q_multimodal_video_stats,
    # ---------------- driver 50-window boundary ----------------
    # -- r4-verified, unchanged since (local check_entry sweep covers them) --
    "multimodal_audio_stats": q_multimodal_audio_stats,
    "bloom_custkey_members": q_bloom_custkey_members,
    "countsketch_f2_event_types": q_countsketch_f2_event_types,
    "cms_join_size_orders_customer": q_cms_join_size_orders_customer,
    "curate_documents": q_curate_documents,
    "text_repetition_stats": q_text_repetition_stats,
    "theta_set_ops_custkeys": q_theta_set_ops_custkeys,
    "theta_distinct_by_priority": q_theta_distinct_by_priority,
    "asof_join_purchase_view": q_asof_join_purchase_view,
    "ngram_contamination_documents": q_ngram_contamination_documents,
    "embedding_topk_ivf_trained": q_embedding_topk_ivf_trained,
    "hll_distinct_region": q_hll_distinct_region,
    "hll_distinct_nation": q_hll_distinct_nation,
    "hll_distinct_event_users_p16": q_hll_distinct_event_users_p16,
    "hll_jvm_engine_event_users": q_hll_jvm_engine_event_users,
    "hll_packed_binary": q_hll_packed_binary,
    "hll_rollup_event_users": q_hll_rollup_event_users,
    "hll_set_algebra_users": q_hll_set_algebra_users,
    "cms_rollup_top_event_types": q_cms_rollup_top_event_types,
    "hll_multi_column_profile": q_hll_multi_column_profile,
    "hll_bounded_event_users": q_hll_bounded_event_users,
    "hll_distinct_doc_text_by_lang": q_hll_distinct_doc_text_by_lang,
    "hll_distinct_customers": q_hll_distinct_customers,
    "hll_distinct_order_cust_pairs": q_hll_distinct_order_cust_pairs,
    "cms_event_type_counts": q_cms_event_type_counts,
    "cms_top5_partkeys": q_cms_top5_partkeys,
    "embedding_topk_pq": q_embedding_topk_pq,
    "embedding_topk_ivfpq": q_embedding_topk_ivfpq,
    "embedding_topk_ivfpq_residual": q_embedding_topk_ivfpq_residual,
    "fd_gram_embeddings": q_fd_gram_embeddings,
    "fd_gram_by_label": q_fd_gram_by_label,
    "tdigest_weighted_price_quantiles": q_tdigest_weighted_price_quantiles,
    "cbf_deleted_membership": q_cbf_deleted_membership,
    "bloom_orders_covered": q_bloom_orders_covered,
    "kll_price_quantiles": q_kll_price_quantiles,
    "kll_acctbal_by_segment": q_kll_acctbal_by_segment,
    "tdigest_event_value_quantiles": q_tdigest_event_value_quantiles,
}

_ORACLES: dict[str, str] = {
    "cms_weighted_topk_partkeys": """
SELECT l_partkey, CAST(sum(l_quantity) AS BIGINT) AS approx_count
FROM lineitem GROUP BY l_partkey
ORDER BY approx_count DESC, l_partkey LIMIT 5
""",
    "cms_weighted_qty_by_partkey": """
WITH h AS (
  SELECT l_partkey,
         ('0x' || substr(md5(concat(CAST(l_partkey AS VARCHAR), '#', '0')), 1, 15))::BIGINT AS hv,
         sum(l_quantity) AS wsum
  FROM lineitem GROUP BY l_partkey
), counters AS (
  SELECT t.j, (hv + t.j * ((hv >> 32) | 1)) & 32767 AS pos, sum(wsum) AS c
  FROM h, range(4) t(j) GROUP BY 1, 2
), est AS (
  SELECT h.l_partkey, CAST(min(c.c) AS BIGINT) AS qty_total
  FROM h CROSS JOIN range(4) t(j)
  JOIN counters c
    ON c.j = t.j AND c.pos = ((h.hv + t.j * ((h.hv >> 32) | 1)) & 32767)
  GROUP BY h.l_partkey
)
SELECT l_partkey, qty_total FROM est
ORDER BY qty_total DESC, l_partkey LIMIT 5
""",
    "cms_top_ngrams_documents": """
WITH toks AS (SELECT string_split(lower(text), ' ') AS w FROM documents),
grams AS (
  SELECT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
  FROM (SELECT w, unnest(range(1, len(w) - 1)) AS i FROM toks)
)
SELECT gram, count(*) AS exact_count FROM grams
GROUP BY gram ORDER BY exact_count DESC, gram LIMIT 10
""",
    "countsketch_f2_event_types": """
WITH h AS (
  SELECT ('0x' || substr(md5(concat(CAST(event_type AS VARCHAR), '#', '0')), 1, 15))::BIGINT AS hv,
         count(*) AS cnt
  FROM events WHERE event_type IS NOT NULL GROUP BY event_type
), g AS (
  SELECT t.j, (h.hv + t.j * ((h.hv >> 32) | 1)) AS gj, h.cnt FROM h, range(5) t(j)
), counters AS (
  SELECT j, gj & 32767 AS pos,
         sum(CASE WHEN (gj >> 15) & 1 = 1 THEN cnt ELSE -cnt END) AS c
  FROM g GROUP BY j, pos
), rowsums AS (
  SELECT j, CAST(sum(c * c) AS BIGINT) AS s FROM counters GROUP BY j
)
SELECT (SELECT s FROM rowsums ORDER BY s LIMIT 1 OFFSET 2) AS f2_est,
       (SELECT count(*) FROM events WHERE event_type IS NOT NULL) AS n_total
""",
    "cms_join_size_orders_customer": """
WITH ha AS (
  SELECT ('0x' || substr(md5(concat(CAST(o_custkey AS VARCHAR), '#', '0')), 1, 15))::BIGINT AS hv,
         count(*) AS cnt
  FROM orders WHERE o_custkey IS NOT NULL GROUP BY o_custkey
), hb AS (
  SELECT ('0x' || substr(md5(concat(CAST(c_custkey AS VARCHAR), '#', '0')), 1, 15))::BIGINT AS hv,
         count(*) AS cnt
  FROM customer WHERE c_custkey IS NOT NULL GROUP BY c_custkey
), ca AS (
  SELECT t.j, (hv + t.j * ((hv >> 32) | 1)) & 32767 AS pos, sum(cnt) AS c
  FROM ha, range(4) t(j) GROUP BY 1, 2
), cb AS (
  SELECT t.j, (hv + t.j * ((hv >> 32) | 1)) & 32767 AS pos, sum(cnt) AS c
  FROM hb, range(4) t(j) GROUP BY 1, 2
), prod AS (
  SELECT a.j, CAST(sum(a.c * b.c) AS BIGINT) AS ip
  FROM ca a JOIN cb b ON a.j = b.j AND a.pos = b.pos GROUP BY a.j
)
SELECT (SELECT min(ip) FROM prod) AS est_join_size,
       (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL) AS n_a,
       (SELECT count(*) FROM customer WHERE c_custkey IS NOT NULL) AS n_b
""",
    "hll_distinct_region":
        "SELECT count(DISTINCT r_regionkey) AS n_regions FROM region",
    "hll_distinct_nation":
        "SELECT count(DISTINCT n_nationkey) AS n_nations FROM nation",
    "hll_distinct_event_users_p16":
        "SELECT count(DISTINCT user_id) AS n_users FROM events",
    "hll_jvm_engine_event_users":
        "SELECT count(DISTINCT user_id) AS n_users FROM events",
    "hll_rollup_event_users":
        "SELECT event_type, count(DISTINCT user_id) AS n_users FROM events "
        "GROUP BY event_type ORDER BY event_type",
    "hll_multi_column_profile":
        "SELECT count(DISTINCT user_id) AS n_user_id, "
        "count(DISTINCT event_type) AS n_event_type FROM events",
    "hll_multi_column_profile_jvm":
        "SELECT count(DISTINCT user_id) AS n_user_id, "
        "count(DISTINCT event_type) AS n_event_type FROM events",
    "hll_bounded_event_users":
        "SELECT n_users, "
        "GREATEST(CAST(FLOOR(n_users * (1.0 - 3.0*(1.04/sqrt(65536)))) "
        "AS BIGINT), 0) AS n_users_lo, "
        "CAST(CEIL(n_users * (1.0 + 3.0*(1.04/sqrt(65536)))) AS BIGINT) "
        "AS n_users_hi FROM "
        "(SELECT count(DISTINCT user_id) AS n_users FROM events)",
    "hll_set_algebra_users":
        "SELECT "
        "count(DISTINCT CASE WHEN event_type='click' THEN user_id END) "
        "  AS n_click, "
        "count(DISTINCT CASE WHEN event_type='view' THEN user_id END) "
        "  AS n_view, "
        "count(DISTINCT CASE WHEN event_type IN ('click','view') "
        "  THEN user_id END) AS n_union, "
        "(SELECT count(*) FROM "
        " (SELECT user_id FROM events WHERE event_type='click' "
        "  INTERSECT "
        "  SELECT user_id FROM events WHERE event_type='view') t) "
        "  AS n_intersection "
        "FROM events",
    "hll_distinct_doc_text_by_lang":
        "SELECT lang, count(DISTINCT text) AS n_texts FROM documents "
        "GROUP BY lang ORDER BY lang",
    "hll_distinct_customers":
        "SELECT count(DISTINCT c_custkey) AS n_customers, "
        "TRUE AS est_in_bound FROM customer",
    "hll_distinct_order_cust_pairs":
        "SELECT count(DISTINCT (o_custkey, o_orderpriority)) AS n_pairs, "
        "TRUE AS est_in_bound FROM orders "
        "WHERE o_custkey IS NOT NULL AND o_orderpriority IS NOT NULL",
    "hll_packed_binary": """
WITH s AS (
  SELECT lpad(CAST(user_id AS VARCHAR), 8, '0') AS s8
  FROM events WHERE user_id IS NOT NULL
), c AS (
  SELECT substr(s8, 1, 4) AS c4 FROM s
  UNION ALL SELECT substr(s8, 5, 4) FROM s
)
SELECT count(DISTINCT c4) AS n_packed_values, TRUE AS est_in_bound FROM c
""",
    "kll_price_quantiles":
        _kll_rank_sql("lineitem", "l_extendedprice", [0.5, 0.9, 0.99]),
    "kll_acctbal_by_segment":
        _kll_rank_sql("customer", "c_acctbal", [0.25, 0.5, 0.75, 0.9],
                      group_by="c_mktsegment"),
    "tdigest_event_value_quantiles":
        _tdigest_interp_sql("events", "value", [0.5, 0.9, 0.99]),
    "tdigest_acctbal_by_segment":
        _tdigest_interp_sql("customer", "c_acctbal", [0.5, 0.9],
                            group_by="c_mktsegment"),
    "doc_fingerprints": """
WITH s AS (
  SELECT doc_id,
         CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
              ELSE list_distinct([array_to_string(string_split(text, ' ')[i:i+2], ' ')
                                  for i in range(1, len(string_split(text, ' ')) - 1)])
         END AS sh
  FROM documents
), h AS (
  SELECT doc_id,
         list_sort(list_distinct(list_transform(sh,
             x -> ('0x' || substr(md5(x), 1, 15))::BIGINT))) AS hs
  FROM s
)
SELECT doc_id, CAST(list_sum(hs[1:4]) AS BIGINT) AS fingerprint,
       len(hs) AS n_shingles
FROM h ORDER BY doc_id
""",
    "simhash_neardup_pairs": """
WITH tok AS (
  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
), bits AS (
  SELECT doc_id, b,
         CASE WHEN sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) > 0
              THEN 1 ELSE 0 END AS bit
  FROM tok, (SELECT unnest(range(60)) AS b) AS bb
  GROUP BY doc_id, b
), ham AS (
  SELECT a.doc_id AS id_a, c.doc_id AS id_b,
         sum(CASE WHEN a.bit <> c.bit THEN 1 ELSE 0 END) AS hamming
  FROM bits a JOIN bits c ON a.b = c.b AND a.doc_id < c.doc_id
  GROUP BY a.doc_id, c.doc_id
)
SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming FROM ham
WHERE hamming <= 3 ORDER BY id_a, id_b
""",
    "embedding_topk_lsh": _lsh_oracle_sql(),
    "embedding_topk_ivf": _ivf_oracle_sql(),
    "embedding_topk_ivf_trained": _ivf_trained_oracle_sql(),
    "streaming_cms_event_type_counts": """
SELECT event_type, count(*) AS n_events FROM events
GROUP BY event_type ORDER BY event_type
""",
    "streaming_distinct_event_users":
        "SELECT event_type, count(DISTINCT user_id) AS n_users FROM events "
        "GROUP BY event_type ORDER BY event_type",
    "embedding_neardup_pairs": _embedding_neardup_oracle_sql(),
    "neardup_clusters_documents": _NEARDUP_CLUSTERS_SQL,
    "cms_event_type_counts":
        "SELECT event_type, count(*) AS approx_count FROM events "
        "GROUP BY event_type ORDER BY approx_count DESC, event_type "
        "LIMIT 20",
    "cms_rollup_top_event_types":
        "SELECT event_type, count(*) AS approx_count FROM events "
        "GROUP BY event_type ORDER BY approx_count DESC, event_type LIMIT 5",
    "cms_top5_partkeys":
        "SELECT l_partkey, count(*) AS approx_count FROM lineitem "
        "GROUP BY l_partkey ORDER BY approx_count DESC, l_partkey LIMIT 5",
    "embedding_topk_ivfpq_residual": """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS u
  FROM e
), keyed AS (
  SELECT vec_id, u,
         ('0x' || substr(md5(concat(CAST(vec_id AS VARCHAR), '#', '311')), 1, 15))::BIGINT AS mk
  FROM n
), init AS (
  SELECT row_number() OVER (ORDER BY mk, vec_id) - 1 AS cell, u AS cu
  FROM keyed ORDER BY mk, vec_id LIMIT 8
), iasgn AS (
  SELECT k.vec_id, k.u, i.cell,
         row_number() OVER (PARTITION BY k.vec_id ORDER BY
           list_sum(list_transform(range(1, len(k.u) + 1), j -> k.u[j] * i.cu[j])) DESC,
           i.cell) AS rn
  FROM keyed k CROSS JOIN init i
), imembers AS (
  SELECT u, cell FROM iasgn WHERE rn = 1
), istats AS (
  SELECT cell, pos, sum(floor(val * 1048576.0)) AS s, count(*) AS cnt
  FROM (SELECT cell, unnest(u) AS val, unnest(range(1, len(u) + 1)) AS pos FROM imembers)
  GROUP BY cell, pos
), igraw AS (
  SELECT cell, list(floor(s / cnt) / 1048576.0 ORDER BY pos) AS gv
  FROM istats GROUP BY cell
), cents AS (
  SELECT i.cell,
         CASE WHEN g.gv IS NULL THEN i.cu
              ELSE list_transform(g.gv, x -> x / sqrt(list_sum(list_transform(g.gv, y -> y * y)))) END AS cu
  FROM init i LEFT JOIN igraw g ON i.cell = g.cell
), ccells AS (
  SELECT n2.vec_id, c.cell,
         row_number() OVER (PARTITION BY n2.vec_id ORDER BY
           list_sum(list_transform(range(1, len(n2.u) + 1), j -> n2.u[j] * c.cu[j])) DESC,
           c.cell) AS rn
  FROM n n2 CROSS JOIN cents c
), corpus_cells AS (
  SELECT vec_id, cell FROM ccells WHERE rn = 1
), resv AS (
  SELECT nn.vec_id,
         list_transform(range(1, len(nn.u) + 1),
                        j -> nn.u[j] - c.cu[j]) AS r
  FROM n nn
  JOIN corpus_cells cc ON nn.vec_id = cc.vec_id
  JOIN cents c ON c.cell = cc.cell
), pinit AS (
  SELECT row_number() OVER (ORDER BY k.mk, k.vec_id) - 1 AS code, rv.r AS cu
  FROM keyed k JOIN resv rv ON rv.vec_id = k.vec_id
  ORDER BY k.mk, k.vec_id LIMIT 8
), initcb AS (
  SELECT t.s, i.code, i.cu[t.s * 16 + 1 : (t.s + 1) * 16] AS cb
  FROM pinit i, range(4) t(s)
), subv AS (
  SELECT rv.vec_id, t.s, rv.r[t.s * 16 + 1 : (t.s + 1) * 16] AS sub
  FROM resv rv, range(4) t(s)
), pasgn AS (
  SELECT sv.vec_id, sv.s, sv.sub, c.code,
         row_number() OVER (PARTITION BY sv.vec_id, sv.s ORDER BY
           list_sum(list_transform(range(1, 17),
             j -> (sv.sub[j] - c.cb[j]) * (sv.sub[j] - c.cb[j]))) ASC,
           c.code) AS rn
  FROM subv sv JOIN initcb c ON sv.s = c.s
), pmembers AS (
  SELECT s, code, sub FROM pasgn WHERE rn = 1
), pstats AS (
  SELECT s, code, pos, sum(floor(val * 1048576.0)) AS sm, count(*) AS cnt
  FROM (SELECT s, code, unnest(sub) AS val,
               unnest(range(1, 17)) AS pos FROM pmembers)
  GROUP BY s, code, pos
), pgraw AS (
  SELECT s, code, list(floor(sm / cnt) / 1048576.0 ORDER BY pos) AS gv
  FROM pstats GROUP BY s, code
), cb AS (
  SELECT i.s, i.code, coalesce(g.gv, i.cb) AS cb
  FROM initcb i LEFT JOIN pgraw g ON i.s = g.s AND i.code = g.code
), enc AS (
  SELECT sv.vec_id, sv.s, c.code,
         row_number() OVER (PARTITION BY sv.vec_id, sv.s ORDER BY
           list_sum(list_transform(range(1, 17),
             j -> (sv.sub[j] - c.cb[j]) * (sv.sub[j] - c.cb[j]))) ASC,
           c.code) AS rn
  FROM subv sv JOIN cb c ON sv.s = c.s
), codes AS (
  SELECT vec_id, s, code FROM enc WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, cell FROM ccells
  WHERE rn <= 4 AND vec_id < 8
), qsub AS (
  SELECT n3.vec_id AS query_id, t.s,
         n3.u[t.s * 16 + 1 : (t.s + 1) * 16] AS qs
  FROM n n3, range(4) t(s) WHERE n3.vec_id < 8
), qbias AS (
  SELECT n4.vec_id AS query_id, c.cell,
         list_sum(list_transform(range(1, len(n4.u) + 1),
                  j -> n4.u[j] * c.cu[j])) AS bias
  FROM n n4 CROSS JOIN cents c WHERE n4.vec_id < 8
), candidates AS (
  SELECT p.query_id, x.vec_id AS neighbor_id, x.cell
  FROM probes p JOIN corpus_cells x ON p.cell = x.cell
  WHERE p.query_id <> x.vec_id
), tper AS (
  SELECT cd.query_id, cd.neighbor_id, qb.bias, x.s,
         list_sum(list_transform(range(1, 17),
             j -> q.qs[j] * c.cb[j])) AS t
  FROM candidates cd
  JOIN qbias qb ON qb.query_id = cd.query_id AND qb.cell = cd.cell
  JOIN codes x ON x.vec_id = cd.neighbor_id
  JOIN qsub q ON q.query_id = cd.query_id AND q.s = x.s
  JOIN cb c ON c.s = x.s AND c.code = x.code
), adc AS (
  -- fixed left-to-right association (bias + t0 + t1 + t2 + t3), matching
  -- the kernel's sequential accumulation — a float-order-free mirror
  SELECT query_id, neighbor_id,
         max(bias)
         + max(CASE WHEN s = 0 THEN t END)
         + max(CASE WHEN s = 1 THEN t END)
         + max(CASE WHEN s = 2 THEN t END)
         + max(CASE WHEN s = 3 THEN t END) AS adc_score
  FROM tper GROUP BY query_id, neighbor_id
), short AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY
           CAST(floor(1000.0 * adc_score) AS BIGINT) DESC, neighbor_id) AS srn
  FROM adc
), rerank AS (
  SELECT s.query_id, s.neighbor_id,
         CAST(floor(1000.0 * list_sum(list_transform(range(1, len(qn.u) + 1),
              i -> qn.u[i] * nn.u[i]))) AS BIGINT) AS score_permille
  FROM short s
  JOIN n qn ON qn.vec_id = s.query_id
  JOIN n nn ON nn.vec_id = s.neighbor_id
  WHERE s.srn <= 32
)
SELECT query_id, CAST(row_number() OVER w AS INTEGER) AS rank, neighbor_id,
       score_permille
FROM rerank
WINDOW w AS (PARTITION BY query_id ORDER BY score_permille DESC, neighbor_id)
QUALIFY rank <= 5
ORDER BY query_id, rank
""",
    "embedding_topk_ivfpq": """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS u
  FROM e
), keyed AS (
  SELECT vec_id, u,
         ('0x' || substr(md5(concat(CAST(vec_id AS VARCHAR), '#', '311')), 1, 15))::BIGINT AS mk
  FROM n
), init AS (
  SELECT row_number() OVER (ORDER BY mk, vec_id) - 1 AS cell, u AS cu
  FROM keyed ORDER BY mk, vec_id LIMIT 8
), iasgn AS (
  SELECT k.vec_id, k.u, i.cell,
         row_number() OVER (PARTITION BY k.vec_id ORDER BY
           list_sum(list_transform(range(1, len(k.u) + 1), j -> k.u[j] * i.cu[j])) DESC,
           i.cell) AS rn
  FROM keyed k CROSS JOIN init i
), imembers AS (
  SELECT u, cell FROM iasgn WHERE rn = 1
), istats AS (
  SELECT cell, pos, sum(floor(val * 1048576.0)) AS s, count(*) AS cnt
  FROM (SELECT cell, unnest(u) AS val, unnest(range(1, len(u) + 1)) AS pos FROM imembers)
  GROUP BY cell, pos
), igraw AS (
  SELECT cell, list(floor(s / cnt) / 1048576.0 ORDER BY pos) AS gv
  FROM istats GROUP BY cell
), cents AS (
  SELECT i.cell,
         CASE WHEN g.gv IS NULL THEN i.cu
              ELSE list_transform(g.gv, x -> x / sqrt(list_sum(list_transform(g.gv, y -> y * y)))) END AS cu
  FROM init i LEFT JOIN igraw g ON i.cell = g.cell
), pinit AS (
  SELECT row_number() OVER (ORDER BY mk, vec_id) - 1 AS code, u AS cu
  FROM keyed ORDER BY mk, vec_id LIMIT 8
), initcb AS (
  SELECT t.s, i.code, i.cu[t.s * 16 + 1 : (t.s + 1) * 16] AS cb
  FROM pinit i, range(4) t(s)
), subv AS (
  SELECT n.vec_id, t.s, n.u[t.s * 16 + 1 : (t.s + 1) * 16] AS sub
  FROM n, range(4) t(s)
), pasgn AS (
  SELECT sv.vec_id, sv.s, sv.sub, c.code,
         row_number() OVER (PARTITION BY sv.vec_id, sv.s ORDER BY
           list_sum(list_transform(range(1, 17),
             j -> (sv.sub[j] - c.cb[j]) * (sv.sub[j] - c.cb[j]))) ASC,
           c.code) AS rn
  FROM subv sv JOIN initcb c ON sv.s = c.s
), pmembers AS (
  SELECT s, code, sub FROM pasgn WHERE rn = 1
), pstats AS (
  SELECT s, code, pos, sum(floor(val * 1048576.0)) AS sm, count(*) AS cnt
  FROM (SELECT s, code, unnest(sub) AS val,
               unnest(range(1, 17)) AS pos FROM pmembers)
  GROUP BY s, code, pos
), pgraw AS (
  SELECT s, code, list(floor(sm / cnt) / 1048576.0 ORDER BY pos) AS gv
  FROM pstats GROUP BY s, code
), cb AS (
  SELECT i.s, i.code, coalesce(g.gv, i.cb) AS cb
  FROM initcb i LEFT JOIN pgraw g ON i.s = g.s AND i.code = g.code
), enc AS (
  SELECT sv.vec_id, sv.s, c.code,
         row_number() OVER (PARTITION BY sv.vec_id, sv.s ORDER BY
           list_sum(list_transform(range(1, 17),
             j -> (sv.sub[j] - c.cb[j]) * (sv.sub[j] - c.cb[j]))) ASC,
           c.code) AS rn
  FROM subv sv JOIN cb c ON sv.s = c.s
), codes AS (
  SELECT vec_id, s, code FROM enc WHERE rn = 1
), ccells AS (
  SELECT n2.vec_id, c.cell,
         row_number() OVER (PARTITION BY n2.vec_id ORDER BY
           list_sum(list_transform(range(1, len(n2.u) + 1), j -> n2.u[j] * c.cu[j])) DESC,
           c.cell) AS rn
  FROM n n2 CROSS JOIN cents c
), corpus_cells AS (
  SELECT vec_id, cell FROM ccells WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, cell FROM ccells
  WHERE rn <= 4 AND vec_id < 8
), qsub AS (
  SELECT vec_id AS query_id, s, sub AS qs FROM subv WHERE vec_id < 8
), candidates AS (
  SELECT p.query_id, x.vec_id AS neighbor_id
  FROM probes p JOIN corpus_cells x ON p.cell = x.cell
  WHERE p.query_id <> x.vec_id
), adc AS (
  SELECT cd.query_id, cd.neighbor_id,
         sum(list_sum(list_transform(range(1, 17),
             j -> q.qs[j] * c.cb[j]))) AS adc_score
  FROM candidates cd
  JOIN codes x ON x.vec_id = cd.neighbor_id
  JOIN qsub q ON q.query_id = cd.query_id AND q.s = x.s
  JOIN cb c ON c.s = x.s AND c.code = x.code
  GROUP BY cd.query_id, cd.neighbor_id
), short AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY
           CAST(floor(1000.0 * adc_score) AS BIGINT) DESC, neighbor_id) AS srn
  FROM adc
), rerank AS (
  SELECT s.query_id, s.neighbor_id,
         CAST(floor(1000.0 * list_sum(list_transform(range(1, len(qn.u) + 1),
              i -> qn.u[i] * nn.u[i]))) AS BIGINT) AS score_permille
  FROM short s
  JOIN n qn ON qn.vec_id = s.query_id
  JOIN n nn ON nn.vec_id = s.neighbor_id
  WHERE s.srn <= 32
)
SELECT query_id, CAST(row_number() OVER w AS INTEGER) AS rank, neighbor_id,
       score_permille
FROM rerank
WINDOW w AS (PARTITION BY query_id ORDER BY score_permille DESC, neighbor_id)
QUALIFY rank <= 5
ORDER BY query_id, rank
""",
    "embedding_topk_pq": """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS u
  FROM e
), keyed AS (
  SELECT vec_id, u,
         ('0x' || substr(md5(concat(CAST(vec_id AS VARCHAR), '#', '311')), 1, 15))::BIGINT AS mk
  FROM n
), init AS (
  SELECT row_number() OVER (ORDER BY mk, vec_id) - 1 AS code, u AS cu
  FROM keyed ORDER BY mk, vec_id LIMIT 8
), initcb AS (
  SELECT t.s, i.code, i.cu[t.s * 16 + 1 : (t.s + 1) * 16] AS cb
  FROM init i, range(4) t(s)
), subv AS (
  SELECT n.vec_id, t.s, n.u[t.s * 16 + 1 : (t.s + 1) * 16] AS sub
  FROM n, range(4) t(s)
), asgn AS (
  SELECT sv.vec_id, sv.s, sv.sub, c.code,
         row_number() OVER (PARTITION BY sv.vec_id, sv.s ORDER BY
           list_sum(list_transform(range(1, 17),
             j -> (sv.sub[j] - c.cb[j]) * (sv.sub[j] - c.cb[j]))) ASC,
           c.code) AS rn
  FROM subv sv JOIN initcb c ON sv.s = c.s
), members AS (
  SELECT s, code, sub FROM asgn WHERE rn = 1
), stats AS (
  SELECT s, code, pos, sum(floor(val * 1048576.0)) AS sm, count(*) AS cnt
  FROM (SELECT s, code, unnest(sub) AS val,
               unnest(range(1, 17)) AS pos FROM members)
  GROUP BY s, code, pos
), graw AS (
  SELECT s, code, list(floor(sm / cnt) / 1048576.0 ORDER BY pos) AS gv
  FROM stats GROUP BY s, code
), cb AS (
  SELECT i.s, i.code, coalesce(g.gv, i.cb) AS cb
  FROM initcb i LEFT JOIN graw g ON i.s = g.s AND i.code = g.code
), enc AS (
  SELECT sv.vec_id, sv.s, c.code,
         row_number() OVER (PARTITION BY sv.vec_id, sv.s ORDER BY
           list_sum(list_transform(range(1, 17),
             j -> (sv.sub[j] - c.cb[j]) * (sv.sub[j] - c.cb[j]))) ASC,
           c.code) AS rn
  FROM subv sv JOIN cb c ON sv.s = c.s
), codes AS (
  SELECT vec_id, s, code FROM enc WHERE rn = 1
), qsub AS (
  SELECT vec_id AS query_id, s, sub AS qs FROM subv WHERE vec_id < 8
), adc AS (
  SELECT q.query_id, x.vec_id AS neighbor_id,
         sum(list_sum(list_transform(range(1, 17),
             j -> q.qs[j] * c.cb[j]))) AS adc_score
  FROM qsub q
  JOIN codes x ON q.s = x.s
  JOIN cb c ON c.s = x.s AND c.code = x.code
  WHERE q.query_id <> x.vec_id
  GROUP BY q.query_id, x.vec_id
), short AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY
           CAST(floor(1000.0 * adc_score) AS BIGINT) DESC, neighbor_id) AS srn
  FROM adc
), rerank AS (
  SELECT s.query_id, s.neighbor_id,
         CAST(floor(1000.0 * list_sum(list_transform(range(1, len(qn.u) + 1),
              i -> qn.u[i] * nn.u[i]))) AS BIGINT) AS score_permille
  FROM short s
  JOIN n qn ON qn.vec_id = s.query_id
  JOIN n nn ON nn.vec_id = s.neighbor_id
  WHERE s.srn <= 32
)
SELECT query_id, CAST(row_number() OVER w AS INTEGER) AS rank, neighbor_id,
       score_permille
FROM rerank
WINDOW w AS (PARTITION BY query_id ORDER BY score_permille DESC, neighbor_id)
QUALIFY rank <= 5
ORDER BY query_id, rank
""",
    "cms_topk_verified_partkeys": """
SELECT l_partkey, CAST(count(*) AS BIGINT) AS exact_count
FROM lineitem GROUP BY l_partkey
ORDER BY exact_count DESC, l_partkey LIMIT 5
""",
    "kll_trimmed_mean_by_event_type": """
WITH o AS (
  SELECT event_type, value AS x,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY value)
              AS DOUBLE) AS p,
         CAST(count(*) OVER (PARTITION BY event_type) AS DOUBLE) AS n
  FROM events WHERE value IS NOT NULL
), ov AS (
  SELECT event_type, x,
         greatest(0, least(p, 0.9 * n) - greatest(p - 1, 0.1 * n)) AS w
  FROM o
)
SELECT event_type, round(sum(x * w) / sum(w), 4) AS trimmed_mean
FROM ov GROUP BY event_type ORDER BY event_type
""",
    "kll_trimmed_mean_acctbal": """
WITH o AS (
  SELECT c_acctbal AS x,
         CAST(row_number() OVER (ORDER BY c_acctbal) AS DOUBLE) AS p,
         CAST(count(*) OVER () AS DOUBLE) AS n
  FROM customer
), ov AS (
  SELECT x, greatest(0, least(p, 0.9 * n) - greatest(p - 1, 0.1 * n)) AS w
  FROM o
)
SELECT round(sum(x * w) / sum(w), 4) AS trimmed_mean FROM ov
""",
    "kll_price_quantiles_bounded": """
WITH n AS (SELECT count(*) AS c FROM lineitem),
o AS (SELECT l_extendedprice AS p,
             row_number() OVER (ORDER BY l_extendedprice) AS rn
      FROM lineitem)
SELECT q.q_permille,
       (SELECT p FROM o, n
        WHERE rn = CAST(ceil(q.q_permille / 1000.0 * c) AS BIGINT))
         AS exact_q,
       TRUE AS covered
FROM (VALUES (CAST(250 AS BIGINT)), (500), (900)) q(q_permille)
ORDER BY q.q_permille
""",
    "kll_rank_prices": """
SELECT p.probe,
       (SELECT CAST(count(*) FILTER (l_extendedprice <= p.probe) AS DOUBLE)
               / count(*) FROM lineitem) AS exact_rank,
       TRUE AS est_in_bound
FROM (VALUES (CAST(20000 AS BIGINT)), (50000), (80000)) p(probe)
ORDER BY p.probe
""",
    "kll_weighted_price_quantiles": """
WITH cum AS (
  SELECT l_extendedprice AS p,
         sum(l_quantity) OVER (ORDER BY l_extendedprice
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
  FROM lineitem
), tot AS (SELECT sum(l_quantity) AS w FROM lineitem)
SELECT q.q_permille,
       (SELECT min(p) FROM cum, tot
        WHERE cw >= (q.q_permille / 1000.0) * tot.w) AS exact_q,
       TRUE AS est_in_bound
FROM (VALUES (250), (500), (750)) q(q_permille)
ORDER BY q.q_permille
""",
    "streaming_weighted_price_quantiles": """
WITH cum AS (
  SELECT l_extendedprice AS p,
         sum(l_quantity) OVER (ORDER BY l_extendedprice
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
  FROM lineitem
), tot AS (SELECT sum(l_quantity) AS w FROM lineitem)
SELECT q.q_permille,
       (SELECT min(p) FROM cum, tot
        WHERE cw >= (q.q_permille / 1000.0) * tot.w) AS exact_q,
       TRUE AS est_in_bound
FROM (VALUES (CAST(250 AS BIGINT)), (500), (750)) q(q_permille)
ORDER BY q.q_permille
""",
    "ordering_invariant_transcripts": f"""
WITH {_TRANSCRIPTS_SQL}
SELECT count(*) AS n_turns, CAST(0 AS BIGINT) AS n_violations
FROM transcripts
""",
    "tdigest_rank_turn_len_transcripts": f"""
WITH {_TRANSCRIPTS_SQL},
tl AS (SELECT CAST(length(text) AS DOUBLE) AS c FROM transcripts)
SELECT p.probe,
       (SELECT CAST(count(*) FILTER (c <= p.probe) AS DOUBLE) / count(*)
        FROM tl) AS exact_rank,
       TRUE AS est_in_bound
FROM (VALUES (CAST(150 AS BIGINT)), (300), (450)) p(probe)
ORDER BY p.probe
""",
    "trimmed_mean_latency_transcripts": f"""
WITH {_TRANSCRIPTS_SQL},
lat AS (
  SELECT epoch(ts) - epoch(lag(ts) OVER (PARTITION BY conv_id
                                         ORDER BY turn_idx)) AS x
  FROM transcripts
), l AS (SELECT x FROM lat WHERE x IS NOT NULL),
o AS (
  SELECT x, CAST(row_number() OVER (ORDER BY x) AS DOUBLE) AS p,
         CAST(count(*) OVER () AS DOUBLE) AS n
  FROM l
), ov AS (
  SELECT x, greatest(0, least(p, 0.9 * n) - greatest(p - 1, 0.1 * n)) AS w
  FROM o
)
SELECT round(sum(x * w) / sum(w), 4) AS trimmed_mean FROM ov
""",
    "tdigest_weighted_price_quantiles": """
WITH cum AS (
  SELECT l_extendedprice AS p,
         sum(l_quantity) OVER (ORDER BY l_extendedprice
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
  FROM lineitem
), tot AS (SELECT sum(l_quantity) AS w FROM lineitem)
SELECT q.q_permille,
       (SELECT min(p) FROM cum, tot
        WHERE cw >= (q.q_permille / 1000.0) * tot.w) AS exact_q,
       TRUE AS est_in_bound
FROM (VALUES (250), (500), (750)) q(q_permille)
ORDER BY q.q_permille
""",
    "fd_gram_by_label": """
WITH v AS (
  SELECT CAST(label AS BIGINT) AS label,
         list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 100)) AS e
  FROM embeddings
)
SELECT label,
       CAST(sum(list_sum(list_transform(e, x -> x * x))) AS BIGINT) AS trace,
       count(*) AS n_rows
FROM v GROUP BY label ORDER BY label
""",
    "fd_gram_embeddings": """
WITH v AS (
  SELECT list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 100)) AS e
  FROM embeddings
), idx AS (
  SELECT a.i AS i, b.j AS j FROM range(8) a(i), range(8) b(j) WHERE a.i <= b.j
)
SELECT idx.i, idx.j, CAST(sum(e[idx.i + 1] * e[idx.j + 1]) AS BIGINT) AS gram
FROM idx, v GROUP BY idx.i, idx.j ORDER BY idx.i, idx.j
""",
    "cbf_deleted_membership": """
WITH upd AS (
  SELECT o_custkey AS key, 1 AS d FROM orders
  UNION ALL
  SELECT o_custkey AS key, -1 AS d FROM orders WHERE o_orderstatus = 'F'
), h AS (
  SELECT ('0x' || substr(md5(concat(CAST(key AS VARCHAR), '#', '0')), 1, 15))::BIGINT AS hv,
         sum(d) AS net
  FROM upd GROUP BY key
), counters AS (
  SELECT t.j, (hv + t.j * ((hv >> 32) | 1)) & 32767 AS pos, sum(net) AS c
  FROM h, range(4) t(j) GROUP BY 1, 2
), probe AS (
  SELECT c_custkey,
         ('0x' || substr(md5(concat(CAST(c_custkey AS VARCHAR), '#', '0')), 1, 15))::BIGINT AS hv
  FROM customer
)
SELECT p.c_custkey, min(coalesce(c.c, 0)) > 0 AS has_open
FROM probe p
CROSS JOIN range(4) t(j)
LEFT JOIN counters c
  ON c.j = t.j AND c.pos = ((p.hv + t.j * ((p.hv >> 32) | 1)) & 32767)
GROUP BY p.c_custkey
ORDER BY p.c_custkey
""",
    "bloom_custkey_members":
        "SELECT c_custkey, TRUE AS seen FROM customer",
    "bloom_orders_covered":
        "SELECT DISTINCT o_custkey, TRUE AS seen FROM orders",
    "orders_per_priority":
        "SELECT o_orderpriority, count(*) AS n_orders, "
        "count(DISTINCT o_custkey) AS n_custs FROM orders "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority",
    "dedup_exact_documents":
        "SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM documents "
        "GROUP BY text ORDER BY doc_id",
    "hll_jaccard_priorities": """
WITH a AS (SELECT count(DISTINCT o_custkey) AS ca FROM orders
           WHERE o_orderpriority = '1-URGENT'),
     v AS (SELECT count(DISTINCT o_custkey) AS cv FROM orders
           WHERE o_orderpriority = '5-LOW'),
     u AS (SELECT count(DISTINCT o_custkey) AS cu FROM orders
           WHERE o_orderpriority IN ('1-URGENT', '5-LOW'))
SELECT CAST(floor(1000.0 * (greatest(0, ca + cv - cu) / cu)) AS BIGINT)
         AS jaccard_exact_permille,
       TRUE AS est_in_bound
FROM a, v, u
""",
    "hll_fold_verified":
        "SELECT count(DISTINCT user_id) AS n_users_exact, "
        "TRUE AS est_in_bound FROM events WHERE user_id IS NOT NULL",
    "hll_sliding_window_users": """
WITH e AS (
  SELECT user_id,
         unnest([s0, s0 - 43200]) AS window_start_epoch
  FROM (
    SELECT user_id,
           CAST(floor(epoch(ts) / 43200) * 43200 AS BIGINT) AS s0
    FROM events)
)
SELECT window_start_epoch, count(DISTINCT user_id) AS n_users
FROM e GROUP BY window_start_epoch ORDER BY window_start_epoch
""",
    "checkpoint_resume_distinct":
        "SELECT count(DISTINCT user_id) AS n_users, count(*) AS n_rows, "
        "TRUE AS files_resumed_ok FROM events",
    "salted_hot_key_agg":
        "SELECT event_type, count(*) AS n_events, "
        "count(DISTINCT user_id) AS n_users "
        "FROM events GROUP BY event_type ORDER BY event_type",
    "theta_pairwise_jaccard_priorities": """
WITH s AS (
  SELECT DISTINCT o_orderpriority AS p, o_custkey AS c FROM orders
), sizes AS (
  SELECT p, count(*) AS n FROM s GROUP BY p
), pairs AS (
  SELECT a.p AS prio_a, b.p AS prio_b
  FROM sizes a, sizes b WHERE a.p < b.p
), inter AS (
  SELECT x.p AS prio_a, y.p AS prio_b, count(*) AS i
  FROM s x JOIN s y ON x.c = y.c AND x.p < y.p
  GROUP BY x.p, y.p
)
SELECT pr.prio_a, pr.prio_b,
       CAST(floor(1000.0 * (coalesce(i.i, 0) /
            CAST(sa.n + sb.n - coalesce(i.i, 0) AS DOUBLE))) AS BIGINT)
         AS jaccard_permille
FROM pairs pr
JOIN sizes sa ON sa.p = pr.prio_a
JOIN sizes sb ON sb.p = pr.prio_b
LEFT JOIN inter i ON i.prio_a = pr.prio_a AND i.prio_b = pr.prio_b
ORDER BY pr.prio_a, pr.prio_b
""",
    "conversation_fingerprints": """
WITH h AS (
  SELECT user_id,
         ('0x' || substr(md5(concat(
            concat(CAST(event_id AS VARCHAR), chr(31), event_type),
            '#', '0')), 1, 15))::BIGINT & 1099511627775 AS t
  FROM events
)
SELECT user_id, CAST(sum(t) AS BIGINT) AS fingerprint,
       count(*) AS n_turns
FROM h GROUP BY user_id ORDER BY user_id
""",
    "event_type_transitions": """
WITH o AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
           AS from_state,
         event_type AS to_state
  FROM events
)
SELECT from_state, to_state, count(*) AS n_transitions
FROM o GROUP BY from_state, to_state ORDER BY from_state, to_state
""",
    "conversation_integrity_events": """
WITH o AS (
  SELECT user_id, event_id, event_type, epoch(ts) AS e,
         lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY event_id) AS pe,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS pr
  FROM events
), g AS (
  SELECT user_id,
         count(*) AS n_turns,
         CAST(count(DISTINCT event_type) AS BIGINT) AS n_roles,
         CAST(count(*) - count(DISTINCT event_id) AS BIGINT) AS dup_turn_idx,
         CAST(max(event_id) - min(event_id) + 1
              - count(DISTINCT event_id) AS BIGINT) AS missing_turn_idx,
         CAST(sum(CASE WHEN pe IS NOT NULL AND e < pe THEN 1 ELSE 0 END)
              AS BIGINT) AS ts_inversions,
         CAST(sum(CASE WHEN pr IS NOT NULL AND event_type = pr THEN 1 ELSE 0
              END) AS BIGINT) AS role_repeats
  FROM o GROUP BY user_id
)
SELECT *, (dup_turn_idx = 0 AND missing_turn_idx = 0 AND ts_inversions = 0)
       AS is_valid
FROM g ORDER BY user_id
""",
    "sessionize_events": """
WITH e AS (
  SELECT user_id, event_id, epoch(ts) AS t FROM events
), f AS (
  SELECT user_id, event_id, t,
         CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 14400.0
              THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
), s AS (
  SELECT user_id, t,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
                           ROWS UNBOUNDED PRECEDING) - 1 AS session_idx
  FROM f
), g AS (
  SELECT user_id, session_idx, count(*) AS n_events,
         CAST(floor((max(t) - min(t)) * 1000.0) AS BIGINT) AS duration_ms
  FROM s GROUP BY user_id, session_idx
)
SELECT user_id, count(*) AS n_sessions,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       max(n_events) AS longest_session_events,
       max(duration_ms) AS max_duration_ms
FROM g GROUP BY user_id ORDER BY user_id
""",
    "session_window_events": """
WITH e AS (
  SELECT user_id, event_id, epoch(ts) AS t FROM events
), f AS (
  SELECT user_id, event_id, t,
         CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 14400.0
              THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
), s AS (
  SELECT user_id, t,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
                           ROWS UNBOUNDED PRECEDING) - 1 AS session_idx
  FROM f
), g AS (
  SELECT user_id, session_idx, count(*) AS n_events,
         CAST(floor((max(t) - min(t)) * 1000.0) AS BIGINT) AS duration_ms
  FROM s GROUP BY user_id, session_idx
)
SELECT user_id, count(*) AS n_sessions,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       max(n_events) AS longest_session_events,
       max(duration_ms) AS max_duration_ms
FROM g GROUP BY user_id ORDER BY user_id
""",
    "bloom_join_urgent_revenue": """
SELECT l_returnflag, count(*) AS n_items,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY l_returnflag ORDER BY l_returnflag
""",
    "ngram_jaccard_pairs": """
WITH s AS (
  SELECT doc_id,
         CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
              ELSE list_distinct([array_to_string(string_split(text, ' ')[i:i+2], ' ')
                                  for i in range(1, len(string_split(text, ' ')) - 1)])
         END AS sh
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(floor(len(list_intersect(a.sh, b.sh)) * 1000.0 /
            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) AS BIGINT)
         AS jaccard_permille
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE floor(len(list_intersect(a.sh, b.sh)) * 1000.0 /
      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) >= 700
ORDER BY id_a, id_b
""",
    "neardup_minhash_pairs": """
WITH s AS (
  SELECT doc_id,
         CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
              ELSE list_distinct([array_to_string(string_split(text, ' ')[i:i+2], ' ')
                                  for i in range(1, len(string_split(text, ' ')) - 1)])
         END AS sh
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(floor(len(list_intersect(a.sh, b.sh)) * 1000.0 /
            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) AS BIGINT)
         AS jaccard_permille
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE floor(len(list_intersect(a.sh, b.sh)) * 1000.0 /
      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) >= 500
ORDER BY id_a, id_b
""",
    "embedding_topk_bruteforce": """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS u
  FROM e
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(floor(1000.0 * list_sum(list_transform(range(1, len(q.u) + 1),
              i -> q.u[i] * c.u[i]))) AS BIGINT) AS score_permille
  FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
)
SELECT query_id, CAST(row_number() OVER w AS INTEGER) AS rank, neighbor_id, score_permille
FROM scored
WINDOW w AS (PARTITION BY query_id ORDER BY score_permille DESC, neighbor_id)
QUALIFY rank <= 5
ORDER BY query_id, rank
""",
    "kmv_distinct_custkeys": """
WITH h AS (
  SELECT DISTINCT ('0x' || substr(md5(concat(CAST(o_custkey AS VARCHAR), '#', '0')), 1, 15))::BIGINT AS hk
  FROM orders
), topk AS (
  SELECT hk FROM h ORDER BY hk LIMIT 256
), t AS (
  SELECT max(hk) AS kth, count(*) AS n_kept FROM topk
), e AS (
  SELECT count(DISTINCT o_custkey) AS n_exact FROM orders
), est AS (
  SELECT CASE WHEN t.n_kept < 256 THEN t.n_kept
         ELSE CAST(floor(255.0 / ((CAST(t.kth AS DOUBLE) + 1.0)
                   / 1152921504606846976.0)) AS BIGINT) END AS n_distinct_est,
         e.n_exact
  FROM t, e
)
SELECT n_distinct_est, n_exact,
       CAST(abs(n_distinct_est - n_exact) AS DOUBLE)
         <= 3.0 * n_exact / sqrt(254.0) AS in_bound
FROM est
""",
    "priority_sample_documents": """
WITH s AS (
  SELECT doc_id, n_chars,
         ('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR), '#', '0')), 1, 15))::BIGINT AS hk
  FROM documents
), p AS (
  SELECT doc_id, n_chars,
         n_chars / ((CAST(hk AS DOUBLE) + 1.0) / 1152921504606846976.0) AS priority
  FROM s
), top AS (
  SELECT * FROM p ORDER BY priority DESC, doc_id LIMIT 101
), t AS (
  SELECT count(*) AS cnt, min(priority) AS tau FROM top
)
SELECT doc_id, n_chars,
       greatest(CAST(n_chars AS DOUBLE),
                CASE WHEN t.cnt = 101 THEN t.tau ELSE 0.0 END) AS weight_est
FROM top, t
QUALIFY row_number() OVER (ORDER BY priority DESC, doc_id) <= 100
ORDER BY doc_id
""",
    "sample_documents": """
SELECT doc_id, ('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR), '#', '0')), 1, 15))::BIGINT AS sample_key
FROM documents ORDER BY sample_key, doc_id LIMIT 100
""",
    "sample_stratified_by_lang": """
SELECT doc_id, lang, sample_key FROM (
  SELECT doc_id, lang, ('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR), '#', '0')), 1, 15))::BIGINT AS sample_key,
         row_number() OVER (PARTITION BY lang
             ORDER BY ('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR), '#', '0')), 1, 15))::BIGINT, doc_id) AS rn
  FROM documents
) WHERE rn <= 20 ORDER BY lang, sample_key
""",
    "text_token_stats": r"""
SELECT doc_id, length(text) AS n_chars,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_types,
       CAST(floor(len(list_distinct(string_split(text, ' '))) * 1000.0
            / len(string_split(text, ' '))) AS BIGINT) AS ttr_permille,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+'))
            AS BIGINT) AS n_subtokens
FROM documents ORDER BY doc_id
""",
    "text_lang_id": r"""
SELECT CASE
  WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}\x{3040}-\x{30ff}\x{ac00}-\x{d7af}]') THEN 'zh'
  WHEN regexp_matches(text, '[\x{0400}-\x{04ff}]') THEN 'ru'
  WHEN regexp_matches(text, '[äöüßÄÖÜ]') THEN 'de'
  WHEN regexp_matches(text, '[ñ¿¡]') THEN 'es'
  WHEN regexp_matches(text, '[èêëçàâîôûœ]') THEN 'fr'
  WHEN len(list_intersect(string_split(lower(text), ' '),
       ['the','a','an','and','of','to','in','is','it','that','for'])) > 0 THEN 'en'
  ELSE 'unknown' END AS lang_pred, count(*) AS n_docs
FROM documents GROUP BY lang_pred ORDER BY lang_pred
""",
    "curate_documents": r"""
WITH t AS (
  SELECT doc_id, text, string_split(lower(text), ' ') AS w,
         length(text) AS n_chars
  FROM documents
), lang AS (
  SELECT doc_id, CASE
    WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}\x{3040}-\x{30ff}\x{ac00}-\x{d7af}]') THEN 'zh'
    WHEN regexp_matches(text, '[\x{0400}-\x{04ff}]') THEN 'ru'
    WHEN regexp_matches(text, '[äöüßÄÖÜ]') THEN 'de'
    WHEN regexp_matches(text, '[ñ¿¡]') THEN 'es'
    WHEN regexp_matches(text, '[èêëçàâîôûœ]') THEN 'fr'
    WHEN len(list_intersect(w,
         ['the','a','an','and','of','to','in','is','it','that','for'])) > 0 THEN 'en'
    ELSE 'unknown' END AS lang_pred
  FROM t
), qual AS (
  SELECT doc_id,
         greatest(least(CAST(floor(
           least(len(w), 200) * 2
           + least(CAST(floor(len(list_intersect(w,
               ['the','a','an','and','of','to','in','is','it','that','for']))
               * 1000.0 / len(w)) AS BIGINT), 300)
           + CAST(floor(len(list_distinct(w)) * 1000.0 / len(w)) AS BIGINT) / 5
           - least(CAST(floor((n_chars - length(regexp_replace(text,
               '[^\w\s]', '', 'g'))) * 1000.0 / greatest(n_chars, 1))
               AS BIGINT), 300)) AS BIGINT), 1000), 0) AS score
  FROM t
), bgrows AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] AS g
  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM t)
), bg AS (
  SELECT doc_id, max(c) AS topc, sum(c) AS nbg
  FROM (SELECT doc_id, g, count(*) AS c FROM bgrows GROUP BY doc_id, g)
  GROUP BY doc_id
), tgrows AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM t)
), tg AS (
  SELECT doc_id, sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dupc,
         sum(c) AS ntg
  FROM (SELECT doc_id, g, count(*) AS c FROM tgrows GROUP BY doc_id, g)
  GROUP BY doc_id
), rep AS (
  SELECT t.doc_id,
    (CASE WHEN len(t.w) > 0 THEN CAST(floor((len(t.w) - len(list_distinct(t.w)))
         * 1000.0 / len(t.w)) AS BIGINT) ELSE 0 END) > 700
    OR (CASE WHEN coalesce(bg.nbg, 0) > 0
         THEN CAST(floor(bg.topc * 1000.0 / bg.nbg) AS BIGINT) ELSE 0 END) > 180
    OR (CASE WHEN coalesce(tg.ntg, 0) > 0
         THEN CAST(floor(tg.dupc * 1000.0 / tg.ntg) AS BIGINT) ELSE 0 END) > 300
    AS repetitive
  FROM t LEFT JOIN bg ON t.doc_id = bg.doc_id
         LEFT JOIN tg ON t.doc_id = tg.doc_id
), canon AS (
  SELECT doc_id,
         doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical
  FROM documents
), samp AS (
  SELECT doc_id,
         (('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR), '#', '0')), 1, 15))::BIGINT
          % 1000) < 900 AS sampled
  FROM documents
), dw AS (
  SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
), bwx AS (SELECT text, w FROM dw WHERE doc_id % 50 = 0),
bgrams AS (
  SELECT DISTINCT g FROM (
    SELECT ('0x' || substr(md5(text), 1, 15))::BIGINT AS g
    FROM bwx WHERE len(w) < 3
    UNION ALL
    SELECT ('0x' || substr(md5(array_to_string(w[i:i+2], ' ')), 1, 15))::BIGINT AS g
    FROM bwx, UNNEST(range(1, len(w) - 1)) AS t(i)
  )
), dg AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id, ('0x' || substr(md5(text), 1, 15))::BIGINT AS g
    FROM dw WHERE len(w) < 3
    UNION ALL
    SELECT doc_id, ('0x' || substr(md5(array_to_string(w[i:i+2], ' ')), 1, 15))::BIGINT AS g
    FROM dw, UNNEST(range(1, len(w) - 1)) AS t(i)
  )
), cont AS (
  SELECT doc_id,
         ((1000 * CAST(sum(CASE WHEN g IN (SELECT g FROM bgrams) THEN 1
             ELSE 0 END) AS BIGINT)) // count(*)) >= 500 AS contaminated
  FROM dg GROUP BY doc_id
)
SELECT d.doc_id, lang.lang_pred, qual.score, rep.repetitive,
       canon.is_canonical, coalesce(cont.contaminated, FALSE) AS contaminated,
       samp.sampled,
       lang.lang_pred IN ('en') AS lang_ok,
       qual.score >= 300 AS quality_ok,
       canon.is_canonical AND lang.lang_pred IN ('en')
         AND qual.score >= 300 AND NOT rep.repetitive
         AND NOT coalesce(cont.contaminated, FALSE) AND samp.sampled AS keep
FROM documents d
JOIN lang ON d.doc_id = lang.doc_id
JOIN qual ON d.doc_id = qual.doc_id
JOIN rep ON d.doc_id = rep.doc_id
JOIN canon ON d.doc_id = canon.doc_id
JOIN samp ON d.doc_id = samp.doc_id
LEFT JOIN cont ON d.doc_id = cont.doc_id
ORDER BY d.doc_id
""",
    "text_repetition_stats": r"""
WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
base AS (SELECT doc_id, len(w) AS nt, len(list_distinct(w)) AS ty FROM toks),
bgrows AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g
           FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM toks)),
bg AS (SELECT doc_id, max(c) AS topc,
              sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dupc,
              sum(c) AS nbg
       FROM (SELECT doc_id, g, count(*) AS c FROM bgrows GROUP BY doc_id, g)
       GROUP BY doc_id),
tgrows AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM toks)),
tg AS (SELECT doc_id, max(c) AS topc,
              sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dupc,
              sum(c) AS ntg
       FROM (SELECT doc_id, g, count(*) AS c FROM tgrows GROUP BY doc_id, g)
       GROUP BY doc_id),
m AS (
  SELECT b.doc_id, CAST(b.nt AS BIGINT) AS n_tokens,
    CASE WHEN b.nt > 0
         THEN CAST(floor((b.nt - b.ty) * 1000.0 / b.nt) AS BIGINT)
         ELSE 0 END AS dup_word_permille,
    CASE WHEN coalesce(bg.nbg, 0) > 0
         THEN CAST(floor(bg.topc * 1000.0 / bg.nbg) AS BIGINT)
         ELSE 0 END AS top_bigram_permille,
    CASE WHEN coalesce(bg.nbg, 0) > 0
         THEN CAST(floor(bg.dupc * 1000.0 / bg.nbg) AS BIGINT)
         ELSE 0 END AS dup_bigram_permille,
    CASE WHEN coalesce(tg.ntg, 0) > 0
         THEN CAST(floor(tg.topc * 1000.0 / tg.ntg) AS BIGINT)
         ELSE 0 END AS top_trigram_permille,
    CASE WHEN coalesce(tg.ntg, 0) > 0
         THEN CAST(floor(tg.dupc * 1000.0 / tg.ntg) AS BIGINT)
         ELSE 0 END AS dup_trigram_permille
  FROM base b
  LEFT JOIN bg ON b.doc_id = bg.doc_id
  LEFT JOIN tg ON b.doc_id = tg.doc_id
)
SELECT doc_id, n_tokens, dup_word_permille, top_bigram_permille,
       dup_bigram_permille, top_trigram_permille, dup_trigram_permille,
       (dup_word_permille > 700 OR top_bigram_permille > 180
        OR dup_trigram_permille > 300) AS repetitive
FROM m ORDER BY doc_id
""",
    "text_quality": r"""
WITH t AS (
  SELECT doc_id, text, string_split(lower(text), ' ') AS toks,
         length(text) AS n_chars
  FROM documents
), c AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         len(list_intersect(toks,
             ['the','a','an','and','of','to','in','is','it','that','for'])) AS n_stop,
         n_chars - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct,
         len(list_distinct(toks)) AS n_types,
         n_chars
  FROM t
), pm AS (
  SELECT doc_id, n_tokens,
         CAST(floor(n_stop * 1000.0 / n_tokens) AS BIGINT) AS stop_permille,
         CAST(floor(n_punct * 1000.0 / greatest(n_chars, 1)) AS BIGINT) AS punct_permille,
         CAST(floor(n_types * 1000.0 / n_tokens) AS BIGINT) AS ttr_permille
  FROM c
)
SELECT doc_id, n_tokens, stop_permille, punct_permille, ttr_permille,
       greatest(least(CAST(floor(
         least(n_tokens, 200) * 2 + least(stop_permille, 300)
         + ttr_permille / 5 - least(punct_permille, 300)) AS BIGINT),
         1000), 0) AS score
FROM pm ORDER BY doc_id
""",
    "multimodal_video_stats": """
WITH px AS (
  SELECT doc_id, ((doc_id * 41 + f.f * 13 + j.j * 7) % 256) AS v
  FROM documents, range(3) f(f), range(16) j(j)
)
SELECT doc_id AS asset_id,
       CAST(129 AS BIGINT) AS n_bytes,
       CAST(sum(v) AS BIGINT) AS luma_sum,
       CAST(sum(v * v) AS BIGINT) AS luma_sqsum,
       CAST(min(v) AS BIGINT) AS lmin,
       CAST(max(v) AS BIGINT) AS lmax,
       CAST(3 AS BIGINT) AS n_frames,
       CAST(4 AS BIGINT) AS width,
       CAST(4 AS BIGINT) AS height
FROM px GROUP BY doc_id ORDER BY asset_id
""",
    "multimodal_audio_stats": """
WITH sm AS (
  SELECT doc_id, ((doc_id * 37 + r.i * 257) % 4001 - 2000) AS v
  FROM documents, range(24) r(i)
)
SELECT doc_id AS asset_id,
       CAST(92 AS BIGINT) AS n_bytes,
       CAST(sum(v) AS BIGINT) AS sample_sum,
       CAST(sum(v * v) AS BIGINT) AS sample_sqsum,
       CAST(min(v) AS BIGINT) AS smin,
       CAST(max(v) AS BIGINT) AS smax,
       CAST(24 AS BIGINT) AS n_samples,
       CAST(16000 AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT) AS channels
FROM sm GROUP BY doc_id ORDER BY asset_id
""",
    "multimodal_decode_stats": """
WITH px AS (
  SELECT doc_id, ((doc_id * 31 + r.i) % 256) AS v
  FROM documents, range(36) r(i)
)
SELECT doc_id AS asset_id,
       CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS fmt,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 47 ELSE 90 END AS BIGINT) AS n_bytes,
       CAST(4 AS BIGINT) AS width, CAST(3 AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS channels,
       CAST(sum(v) AS BIGINT) AS pixel_sum,
       CAST(sum(v * v) AS BIGINT) AS pixel_sqsum,
       CAST(min(v) AS BIGINT) AS pix_min,
       CAST(max(v) AS BIGINT) AS pix_max
FROM px GROUP BY doc_id ORDER BY asset_id
""",
    "multimodal_features":
        "SELECT doc_id AS asset_id, "
        "(['image','audio','video'])[doc_id % 3 + 1] AS kind, "
        "octet_length(encode(text)) AS n_bytes "
        "FROM documents ORDER BY asset_id",
    # Exclusive-theta bottom-k mirror: retained = k smallest distinct md5
    # keys, theta = (k+1)-th (NULL => exact); set ops keep keys below
    # min(theta_a, theta_b); union re-clips to k; est = floor(cnt/(t/2^60)).
    "theta_set_ops_custkeys": """
WITH ha AS (
  SELECT DISTINCT ('0x' || substr(md5(concat(CAST(o_custkey AS VARCHAR), '#', '0')), 1, 15))::BIGINT AS hk
  FROM orders WHERE o_orderdate < TIMESTAMP '1995-07-01'
), hb AS (
  SELECT DISTINCT ('0x' || substr(md5(concat(CAST(o_custkey AS VARCHAR), '#', '0')), 1, 15))::BIGINT AS hk
  FROM orders WHERE o_orderdate >= TIMESTAMP '1995-07-01' AND o_orderdate < TIMESTAMP '1996-01-01'
), ra AS (SELECT hk FROM ha ORDER BY hk LIMIT 256),
   rb AS (SELECT hk FROM hb ORDER BY hk LIMIT 256),
   th AS (
     SELECT (SELECT hk FROM ha ORDER BY hk LIMIT 1 OFFSET 256) AS ta,
            (SELECT hk FROM hb ORDER BY hk LIMIT 1 OFFSET 256) AS tb
), ct AS (
  SELECT CASE WHEN ta IS NULL THEN tb WHEN tb IS NULL THEN ta
              ELSE least(ta, tb) END AS t FROM th
), um AS (
  SELECT hk FROM (SELECT hk FROM ra UNION SELECT hk FROM rb)
  WHERE (SELECT t FROM ct) IS NULL OR hk < (SELECT t FROM ct)
), uk AS (SELECT hk FROM um ORDER BY hk LIMIT 256),
   ut AS (
     SELECT coalesce((SELECT hk FROM um ORDER BY hk LIMIT 1 OFFSET 256),
                     (SELECT t FROM ct)) AS t
), im AS (
  SELECT hk FROM ra WHERE hk IN (SELECT hk FROM rb)
    AND ((SELECT t FROM ct) IS NULL OR hk < (SELECT t FROM ct))
), am AS (
  SELECT hk FROM ra WHERE hk NOT IN (SELECT hk FROM rb)
    AND ((SELECT t FROM ct) IS NULL OR hk < (SELECT t FROM ct))
), bm AS (
  SELECT hk FROM rb WHERE hk NOT IN (SELECT hk FROM ra)
    AND ((SELECT t FROM ct) IS NULL OR hk < (SELECT t FROM ct))
)
SELECT
  CASE WHEN (SELECT t FROM ut) IS NULL THEN (SELECT count(*) FROM uk)
       ELSE CAST(floor((SELECT count(*) FROM uk) /
            (CAST((SELECT t FROM ut) AS DOUBLE) / 1152921504606846976.0)) AS BIGINT)
  END AS n_union,
  CASE WHEN (SELECT t FROM ct) IS NULL THEN (SELECT count(*) FROM im)
       ELSE CAST(floor((SELECT count(*) FROM im) /
            (CAST((SELECT t FROM ct) AS DOUBLE) / 1152921504606846976.0)) AS BIGINT)
  END AS n_intersect,
  CASE WHEN (SELECT t FROM ct) IS NULL THEN (SELECT count(*) FROM am)
       ELSE CAST(floor((SELECT count(*) FROM am) /
            (CAST((SELECT t FROM ct) AS DOUBLE) / 1152921504606846976.0)) AS BIGINT)
  END AS n_a_not_b,
  CASE WHEN (SELECT t FROM ct) IS NULL THEN (SELECT count(*) FROM bm)
       ELSE CAST(floor((SELECT count(*) FROM bm) /
            (CAST((SELECT t FROM ct) AS DOUBLE) / 1152921504606846976.0)) AS BIGINT)
  END AS n_b_not_a
""",
    "theta_distinct_by_priority": """
WITH h AS (
  SELECT DISTINCT o_orderpriority,
         ('0x' || substr(md5(concat(CAST(o_custkey AS VARCHAR), '#', '0')), 1, 15))::BIGINT AS hk
  FROM orders
), r AS (
  SELECT o_orderpriority, hk,
         row_number() OVER (PARTITION BY o_orderpriority ORDER BY hk) AS rn
  FROM h
), g AS (
  SELECT o_orderpriority, count(*) AS cnt,
         max(CASE WHEN rn = 65 THEN hk END) AS th
  FROM r GROUP BY o_orderpriority
)
SELECT o_orderpriority,
       CASE WHEN th IS NULL THEN cnt
            ELSE CAST(floor(64.0 /
                 (CAST(th AS DOUBLE) / 1152921504606846976.0)) AS BIGINT)
       END AS n_distinct_est
FROM g ORDER BY o_orderpriority
""",
    "asof_join_purchase_view": """
WITH v AS (
  SELECT user_id, ts, max(value) AS view_value
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
), p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, CAST(floor(epoch(p.ts)) AS BIGINT) AS ts_s,
       CASE WHEN v.ts IS NOT NULL AND epoch(p.ts) - epoch(v.ts) <= 604800
            THEN CAST(floor(epoch(v.ts)) AS BIGINT) END AS view_ts_s,
       CASE WHEN v.ts IS NOT NULL AND epoch(p.ts) - epoch(v.ts) <= 604800
            THEN v.view_value END AS view_value
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
ORDER BY p.event_id
""",
    # shingle_hashes mirror: md5 60-bit hash per distinct word 3-gram
    # (whole text when < 3 tokens), integer permille division
    "ngram_contamination_documents": """
WITH dw AS (
  SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
), bw AS (SELECT text, w FROM dw WHERE doc_id % 50 = 0),
bgrams AS (
  SELECT DISTINCT g FROM (
    SELECT ('0x' || substr(md5(text), 1, 15))::BIGINT AS g
    FROM bw WHERE len(w) < 3
    UNION ALL
    SELECT ('0x' || substr(md5(array_to_string(w[i:i+2], ' ')), 1, 15))::BIGINT AS g
    FROM bw, UNNEST(range(1, len(w) - 1)) AS t(i)
  )
), dg AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id, ('0x' || substr(md5(text), 1, 15))::BIGINT AS g
    FROM dw WHERE len(w) < 3
    UNION ALL
    SELECT doc_id, ('0x' || substr(md5(array_to_string(w[i:i+2], ' ')), 1, 15))::BIGINT AS g
    FROM dw, UNNEST(range(1, len(w) - 1)) AS t(i)
  )
), counts AS (
  SELECT doc_id, count(*) AS n_grams,
         CAST(sum(CASE WHEN g IN (SELECT g FROM bgrams) THEN 1 ELSE 0 END)
              AS BIGINT) AS n_matched
  FROM dg GROUP BY doc_id
)
SELECT doc_id, n_grams, n_matched,
       (1000 * n_matched) // n_grams AS contamination_permille,
       ((1000 * n_matched) // n_grams) >= 500 AS contaminated
FROM counts ORDER BY doc_id
""",
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: per-event-type approximate
    distinct users (HLL two-phase aggregation)."""
    from hyperloglog_spark import approx_distinct

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    return approx_distinct(
        events, "user_id", group_by="event_type", alias="approx_users"
    ).orderBy("event_type")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)
