"""hyperloglog_spark — PySpark-native distributed sketch library.

Mergeable sketches (HyperLogLog++, count-min, Bloom, KLL, t-digest,
theta) as BinaryType aggregators with explicit two-phase partial
aggregation, built for transcripts-scale tables (see SURVEY.md /
BASELINE.json).
"""

from .engine import worker as _worker
from .frequency import (
    cms_agg, cms_join_size, cms_point_query_udf, cms_topk,
    cms_topk_verified,
    countsketch_agg, countsketch_f2, cs_point_query_udf,
)
from .functions import (
    approx_distinct,
    approx_distinct_multi,
    approx_distinct_verified,
    hll_estimate_udf,
    hll_fold_udf,
    hll_jaccard_udf,
    hll_merge_pair_udf,
    hll_merged_sketch,
    hll_sketch_agg,
    register_sql_functions,
    with_error_bounds,
)
from .membership import bloom_agg, bloom_build, with_might_contain
from .quantiles import (approx_quantiles, approx_quantiles_weighted, approx_rank, approx_trimmed_mean,
                        kll_agg, tdigest_agg)
from .rollup import hll_rollup, merge_sketches, quantiles_rollup
from .setops import (
    register_theta_sql_functions,
    theta_distinct,
    theta_set_cardinalities,
    theta_sketch_agg,
)

__version__ = "0.1.0"

__all__ = [
    "approx_distinct",
    "approx_distinct_multi",
    "approx_distinct_verified",
    "approx_quantiles",
    "approx_quantiles_weighted",
    "approx_rank",
    "approx_trimmed_mean",
    "bloom_agg",
    "bloom_build",
    "cms_agg",
    "cms_join_size",
    "cms_point_query_udf",
    "cms_topk",
    "cms_topk_verified",
    "countsketch_agg",
    "countsketch_f2",
    "cs_point_query_udf",
    "hll_estimate_udf",
    "hll_fold_udf",
    "hll_jaccard_udf",
    "hll_merge_pair_udf",
    "hll_merged_sketch",
    "hll_rollup",
    "hll_sketch_agg",
    "kll_agg",
    "merge_sketches",
    "quantiles_rollup",
    "register_sql_functions",
    "register_theta_sql_functions",
    "theta_distinct",
    "theta_set_cardinalities",
    "theta_sketch_agg",
    "with_error_bounds",
    "tdigest_agg",
    "with_might_contain",
]

# On a Python worker: skip the per-task import-cache flush (engine.worker).
_worker.install()
