"""Per-round benchmark harness (driver contract).

Runs the headline sketch queries on ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) plus the flagship transcripts workload (the
BASELINE.json north-star table, generated deterministically at a scale
matched to the sf — cached under ``.bench_cache/``) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line::

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {...}, "sf": ..., "turns_per_sec": ..., "n_turns": ...}

``turns_per_sec`` is the BASELINE.md headline: transcripts rows/sec through
the full two-phase HLL sketch build (scan -> Arrow -> numpy registers ->
shuffle of sketch rows -> merge -> estimate).

Scaling-efficiency evidence (same job at two parallelism levels) lives in
``scripts/bench_scaling.py`` -> ``BENCH/BASELINE.md``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache")

# transcripts scale per sf: sf0.1 -> 2M turns / 50k convs (Zipf-skewed)
TURNS_PER_SF = 20_000_000


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def transcripts_path(sf: float) -> str:
    from hyperloglog_spark.data import transcripts as gen

    n_turns = max(int(TURNS_PER_SF * sf), 10_000)
    n_convs = max(n_turns // 40, 100)
    path = os.path.join(CACHE, f"transcripts_{n_turns}")
    done = os.path.join(path, "_DONE")
    if not os.path.exists(done):
        gen.write(path, n_turns=n_turns, n_convs=n_convs, seed=42, n_files=32)
        with open(done, "w") as f:
            f.write(str(n_turns))
    return path


def main() -> None:
    sf = _sf_from_dir(SF_DIR)
    tpath = transcripts_path(sf)

    from pyspark.sql import functions as F

    from hyperloglog_spark import transcripts as tq
    from hyperloglog_spark import (
        approx_distinct, approx_distinct_multi, approx_quantiles, cms_topk,
    )
    from hyperloglog_spark.engine.session import get_spark
    from hyperloglog_spark.pipeline import (
        asof_join, brute_force_topk, curate_documents,
        embedding_neardup_pairs, ivf_topk,
        near_dup_clusters, near_dup_pairs, ngram_contamination,
        ngram_jaccard_pairs, quality_score, repetition_stats,
    )
    from hyperloglog_spark.membership import bloom_filtered_join
    from hyperloglog_spark.pipeline.similarity import (
        fit_ivf_centroids_distributed, fit_pq_codebooks, ivf_pq_topk,
        pq_topk,
    )
    from hyperloglog_spark.setops import (
        theta_set_cardinalities, theta_sketch_agg,
    )

    spark = get_spark("bench", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)

    def t(spark, name):
        return spark.read.parquet(f"{SF_DIR}/{name}.parquet")

    trans = tq.load(spark, tpath)
    n_turns = trans.count()  # warms the JVM + file listing
    # spin up the full Python worker pool (reused across queries, as on a
    # real cluster) so timings measure steady-state, not fork+import cost —
    # must be a full-width pass: limit(n) would start only one worker
    tq.distinct_conversations(trans).collect()

    queries = {
        "hll_distinct_convs": lambda: tq.distinct_conversations(trans),
        "hll_texts_by_role_tool": lambda: tq.distinct_texts_by_role_tool(trans),
        "hll_conv_tool_pairs": lambda: tq.distinct_conv_tool_pairs(trans),
        "cms_heavy_hitter_tools": lambda: tq.heavy_hitter_tools(trans),
        "kll_turn_length_q": lambda: tq.turn_length_quantiles(trans),
        "tdigest_latency_q": lambda: tq.latency_quantiles(trans),
        "hll_event_users": lambda: approx_distinct(
            t(spark, "events"), "user_id", alias="n_users"),
        "cms_top5_partkeys": lambda: cms_topk(
            t(spark, "lineitem"), "l_partkey", k=5),
        "kll_price_quantiles": lambda: approx_quantiles(
            t(spark, "lineitem"), "l_extendedprice", [0.5, 0.9, 0.99]),
        "neardup_minhash_docs": lambda: near_dup_pairs(
            t(spark, "documents"), "text", "doc_id"),
        # exact recall-1.0 variant: prefix-filter inverted index, no
        # signature stage — measures the AllPairs-style path at scale
        "ngram_jaccard_docs": lambda: ngram_jaccard_pairs(
            t(spark, "documents"), "text", "doc_id",
            threshold_permille=700),
        "embedding_topk_docs": lambda: brute_force_topk(
            t(spark, "embeddings"),
            t(spark, "embeddings").filter(F.col("vec_id") < 32),
            "vec_id", "embedding", k=10,
        ),
        "text_quality_docs": lambda: quality_score(
            t(spark, "documents"), "text", "doc_id"),
        # per-doc n-gram multiplicity stats via in-codegen sort+fold — the
        # zero-shuffle path (an explode+groupBy would shuffle ~n_tokens
        # rows per doc); reduced to a 1-row summary for the collect
        "text_repetition_docs": lambda: repetition_stats(
            t(spark, "documents"), "text", "doc_id"
        ).groupBy().agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("repetitive").cast("int")).alias("n_repetitive"),
        ),
        "embedding_topk_ivf": lambda: ivf_topk(
            t(spark, "embeddings"),
            t(spark, "embeddings").filter(F.col("vec_id") < 32),
            "vec_id", "embedding", k=10,
        ),
        # full distributed fit (2 Lloyd's iterations) + search — the
        # trained-quantizer path end to end
        "embedding_topk_ivf_trained": lambda: ivf_topk(
            t(spark, "embeddings"),
            t(spark, "embeddings").filter(F.col("vec_id") < 32),
            "vec_id", "embedding", k=10,
            centroids=fit_ivf_centroids_distributed(
                t(spark, "embeddings"), "vec_id", "embedding",
                n_cells=16, iters=2,
            ),
        ),
        # PQ ANN: 1-iter codebook fit + byte-code ADC shortlist + exact
        # re-rank (IVFADC+R shape) — the memory-scale ANN path
        "embedding_topk_pq": lambda: pq_topk(
            t(spark, "embeddings"),
            t(spark, "embeddings").filter(F.col("vec_id") < 32),
            "vec_id", "embedding", k=10,
            codebooks=fit_pq_codebooks(
                t(spark, "embeddings"), "vec_id", "embedding",
                m=8, n_codes=16, iters=1,
            ),
        ),
        # composed IVFADC (residual form): routed cells + residual byte
        # codes + biased ADC + exact rerank
        "embedding_topk_ivfpq": lambda: ivf_pq_topk(
            t(spark, "embeddings"),
            t(spark, "embeddings").filter(F.col("vec_id") < 32),
            "vec_id", "embedding", k=10, n_cells=16, nprobe=4,
            residual=True,
        ),
        "neardup_clusters_docs": lambda: near_dup_clusters(
            near_dup_pairs(t(spark, "documents"), "text", "doc_id"),
            out_id="doc_id",
        ),
        # near-duplicate embeddings at the library defaults (64-bit
        # sigs, 8-bit pigeonhole chunks) at every sf
        "embedding_neardup_docs_default": lambda: embedding_neardup_pairs(
            t(spark, "embeddings").select("vec_id", "embedding").unionByName(
                t(spark, "embeddings").select(
                    (F.col("vec_id") + 100000).alias("vec_id"),
                    F.expr(
                        "concat(array(CAST(0.0 AS FLOAT)), "
                        "slice(embedding, 2, size(embedding) - 1))"
                    ).alias("embedding"),
                )
            ),
            "vec_id", "embedding", threshold_permille=900,
        ),
        # 3 per-column distinct counts, ONE scan of the transcripts table
        "hll_multi_profile_transcripts": lambda: approx_distinct_multi(
            trans, ["conv_id", "text", "tool"]),
        # gap-based sessionization over every conversation (one window
        # shuffle + per-session agg), reduced to a 1-row summary so the
        # collect measures the operator, not driver transfer
        "sessionize_transcripts": lambda: tq.session_stats(
            trans, "conv_id", "ts", gap_s=600, order_by="turn_idx"
        ).groupBy().agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
        ),
        # per-conversation integrity audit (dup/missing idx, ts inversions,
        # role repeats): one Window + partitioning-reusing groupBy = a
        # single Exchange; reduced to a 1-row summary for the collect
        "conv_integrity_transcripts": lambda: tq.conversation_integrity(
            trans, "conv_id", "turn_idx", "role", "ts"
        ).groupBy().agg(
            F.count(F.lit(1)).alias("n_convs"),
            F.sum(F.col("is_valid").cast("int")).alias("n_valid"),
            F.sum("role_repeats").alias("total_role_repeats"),
        ),
        # decontamination: every doc's 3-gram containment against a
        # benchmark slice (broadcast bench grams, one corpus shuffle)
        "decontam_documents": lambda: ngram_contamination(
            t(spark, "documents"),
            t(spark, "documents").filter(F.col("doc_id") % 50 == 0),
            n=3, threshold_permille=500,
        ).groupBy().agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("contaminated").cast("int")).alias("n_contaminated"),
        ),
        # full curation composition: lang/quality/repetition/sample in one
        # codegen pass + dedup window + decontam broadcast probe — the
        # one-call training-data pipeline, reduced to a keep-count summary
        "curate_documents": lambda: curate_documents(
            t(spark, "documents"), "text", "doc_id",
            benchmark=t(spark, "documents").filter(
                F.col("doc_id") % 50 == 0),
            sample_permille=900,
        ).groupBy().agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("int")).alias("n_kept"),
        ),
        # as-of join: every assistant turn -> most recent prior user turn
        # in its conversation (one window shuffle, no range join), reduced
        # to a 1-row summary so collect measures the operator
        "asof_join_transcripts": lambda: asof_join(
            trans.filter(F.col("role") == "assistant")
            .select("conv_id", "ts", "turn_idx"),
            trans.filter(F.col("role") == "user")
            .groupBy("conv_id", "ts")
            .agg(F.max("turn_idx").alias("user_turn")),
            by="conv_id", left_on="ts",
        ).groupBy().agg(
            F.count("ts_r").alias("n_matched"),
            F.count(F.lit(1)).alias("n_rows"),
        ),
        # theta set algebra: two bottom-k sketch builds over the full turn
        # stream + lazy union/intersect/diff — the set-op-closed family
        "theta_setops_transcripts": lambda: theta_set_cardinalities(
            theta_sketch_agg(trans.filter(F.col("role") == "user"), "text"),
            theta_sketch_agg(
                trans.filter(F.col("role") == "assistant"), "text"),
        ),
        # Bloom semi-join reduction: fact-side probe before the exact join
        "bloom_join_lineitem": lambda: bloom_filtered_join(
            t(spark, "lineitem"),
            t(spark, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey", fpp=0.001,
        ).groupBy("l_returnflag").count(),
    }

    # stored-sketch rollup: persist per-(role, tool) HLL shards once, then
    # answer the per-role query by merging cells — zero rescan of the
    # transcripts rows (compare against hll_distinct_convs, which rescans)
    from hyperloglog_spark import hll_rollup, hll_sketch_agg

    shard_path = os.path.join(CACHE, f"sketch_shards_{int(n_turns)}")
    if not os.path.exists(os.path.join(shard_path, "_SUCCESS")):
        hll_sketch_agg(
            trans, "conv_id", group_by=["role", "tool"]
        ).write.mode("overwrite").parquet(shard_path)
    stored = spark.read.parquet(shard_path)
    queries["hll_rollup_convs_by_role"] = lambda: hll_rollup(
        stored, group_by="role")

    # skew evidence (VERDICT r3 #6): grouped HLL over the HOT role key
    # (role has 4 values; user/assistant absorb ~45% of all turns each —
    # the Zipf-hot-key shape), salted 32 ways vs unsalted. The two-phase
    # engine's phase-1 map-side combine bounds per-group shuffle rows at
    # #partitions either way, so the expected finding is parity (salting
    # is for EXACT aggs over hot keys, q_salted_hot_key_agg); estimates
    # are byte-identical both ways (register-max monoid) — asserted in
    # tests/test_transcripts.py, measured here.
    from hyperloglog_spark.transcripts import with_salted_key

    # estimate-then-verify heavy hitters: sketch pass + candidate-only
    # exact rescan (INSET pushed to the scan) — the two-pass cost profile
    from hyperloglog_spark import approx_rank, cms_topk_verified

    queries["cms_topk_verified_tools"] = lambda: cms_topk_verified(
        trans, "tool", k=10)
    # CDF surface: share of turns under three text-length thresholds
    queries["kll_rank_turn_len"] = lambda: approx_rank(
        trans.selectExpr("length(text) AS n"), "n", [80.0, 256.0, 1024.0])

    queries["hll_hot_role_unsalted"] = lambda: approx_distinct(
        trans, "text", group_by="role")
    queries["hll_hot_role_salted"] = lambda: hll_rollup(
        hll_sketch_agg(
            with_salted_key(trans, "role", buckets=32, salt_col="text"),
            "text", group_by=["role", "role__salted"],
        ),
        group_by="role",
    )

    timings: dict[str, float] = {}
    for name, make in queries.items():
        best = float("inf")
        for _ in range(2):       # best-of-2: the host VM has co-tenant noise
            t0 = time.perf_counter()
            rows = make().collect()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        assert rows, f"{name} returned no rows"

    total = round(sum(timings.values()), 3)
    # headline throughput: full two-phase HLL build over the transcripts
    # table (re-run on the timed query, not the warm-up count)
    turns_per_sec = int(n_turns / timings["hll_distinct_convs"])

    print(json.dumps({
        "metric": "sketch_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_turns": int(n_turns),
        "turns_per_sec": turns_per_sec,
        "cpus": CPUS,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
