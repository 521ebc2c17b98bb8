"""Count-min DataFrame API: distributed frequency sketching and heavy hitters.

    cms_df  = cms_agg(df, "tool")                      # sketch per group
    topk_df = cms_topk(df, "tool", k=10)               # heavy hitters

``cms_topk`` is the scalable heavy-hitter operator: one pass builds, per
partition, a CMS plus a bounded Misra-Gries candidate summary; the merge
stage unions candidates, point-queries the merged CMS, and emits the top k.
Shuffle volume is one sketch + one bounded candidate list per partition —
independent of data size.

Every heavy-hitter answer comes out of ONE rank step, ``cms_topk_rollup``:
per group, add the CMS counters (exact, so the bytes do not depend on the
bracketing), union the candidates (NaN is one value), point-query, keep
the top k. It runs on the sorted group stream
(``engine.aggregate.reduce_sorted_groups``) over ``(sketch, cand_v,
cand_h)`` rows — ``cms_topk``'s per-partition partials, or the stored
``cms_topk_shards`` rows, whose candidates are each shard's EXACT
top-``candidates_per_shard`` values computed in Spark SQL.

The Misra-Gries store gives a DETERMINISTIC guarantee (unlike the
local-top-k heuristic it replaced, VERDICT round 1 #3): with capacity C,
any key whose partition count exceeds N_p/(C+1) keeps a positive residual
(Σ of prune decrements ≤ N_p/(C+1), the classic MG argument), so any key
with GLOBAL count > N/(C+1) appears in the candidate union of at least one
partition — even a key spread so uniformly that it ranks below hundreds of
partition-local decoys everywhere. Final ranking uses CMS point estimates
(>= true count), so the guaranteed candidate also ranks correctly.

The point-query UDF factories (``cms_point_query_udf``,
``cs_point_query_udf``) are ``engine.cells.hash_probe_udf`` calls: a NULL
hash gives a NULL estimate, not the count for hash key 0.
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .engine.aggregate import (
    SKETCH_COL,
    SketchAggregator,
    _as_list,
    _canon,
    counted_rows,
    reduce_sorted_groups,
    sketch_agg,
)
from .engine.cells import hash_probe_udf
from .functions import _to_numpy_u64
from .sketch import cms, countsketch

__all__ = [
    "CmsAggregator",
    "cms_agg",
    "cms_topk",
    "cms_topk_verified",
    "cms_topk_shards",
    "cms_topk_rollup",
    "cms_point_query_udf",
    "cms_join_size",
    "CountSketchAggregator",
    "countsketch_agg",
    "countsketch_f2",
    "cs_point_query_udf",
]


def _hash_expr(cols: list[str], hashing: str) -> F.Column:
    """64-bit value hash. "md5" (top 60 md5 bits of the '#0'-salted string,
    single column) is reproducible in any ANSI engine — the oracle-checkable
    mode shared with ``pipeline.sampling``; xxhash64 is the fast JVM
    default."""
    if hashing == "xxhash64":
        return F.xxhash64(*[F.col(c) for c in cols])
    if hashing == "md5":
        if len(cols) != 1:
            raise ValueError("md5 hashing mode supports a single column")
        return F.expr(
            f"cast(conv(substring(md5(concat(cast({cols[0]} as string), "
            f"'#', '0')), 1, 15), 16, 10) as bigint)"
        )
    raise ValueError(f"hashing must be 'xxhash64' or 'md5': {hashing!r}")


def _int_weight_expr(weight_col: str) -> F.Column:
    """Checked long cast for a weight column: raises on fractional or
    negative values instead of silently floor-truncating them (both the
    CMS counter update and the verified exact rescan promise integer
    total mass — a double weight like 3.7 would otherwise count as 3
    in the rescan while the docstring claims exactness)."""
    c = F.col(weight_col)
    return (
        F.when(
            (c < 0) | (c.cast("double") != F.floor(c.cast("double"))),
            F.raise_error(F.concat(
                F.lit("cms weights must be non-negative integers, got "),
                c.cast("string"),
            )),
        )
        .otherwise(c)
        .cast("long")
    )


class CmsAggregator(SketchAggregator):
    """Count-min over hashed keys. ``weight_col`` turns it into an
    approximate SUM-by-key: each row adds its (non-negative integer)
    weight instead of 1 — totals per key (bytes per domain, tokens per
    source, quantity per part) over key spaces too large to group
    exactly, same epsilon*N overestimate guarantee with N = total mass."""

    name = "cms"

    def __init__(self, d: int = cms.DEFAULT_D, log2_w: int = cms.DEFAULT_LOG2_W,
                 hashing: str = "xxhash64", weight_col: str | None = None):
        cms.empty(d, log2_w)  # validate eagerly
        self.d, self.log2_w, self.hashing = d, log2_w, hashing
        self.weight_col = weight_col
        self.finalize_fields = [T.StructField("n_total", T.LongType(), False)]

    def prepare_columns(self, df: DataFrame, cols: list[str]):
        prepared = [_hash_expr(cols, self.hashing)]
        if self.weight_col is not None:
            prepared.append(_int_weight_expr(self.weight_col))
        return prepared

    def build(self, cols, bounds) -> list[bytes]:
        hashes = _to_numpy_u64(cols[0])
        weights = None
        if self.weight_col is not None:
            weights = np.asarray(cols[1], dtype=np.int64)
            if len(weights) and int(weights.min()) < 0:
                raise ValueError(
                    "cms weights must be non-negative (counters are "
                    "unsigned; for signed updates use the count sketch)"
                )
        return [
            cms.from_hashes(
                hashes[s:e], counts=None if weights is None else weights[s:e],
                d=self.d, log2_w=self.log2_w,
            )
            for s, e in zip(bounds, bounds[1:])
        ]

    def merge_many(self, sketches: list[bytes]) -> bytes:
        return cms.merge_many(sketches)

    def finalize(self, sketch: bytes) -> dict[str, Any]:
        _, _, n = cms.params(sketch)
        return {"n_total": n}


def cms_agg(
    df: DataFrame,
    cols: str | list[str],
    group_by: str | list[str] | None = None,
    d: int = cms.DEFAULT_D,
    log2_w: int = cms.DEFAULT_LOG2_W,
    hashing: str = "xxhash64",
    weight_col: str | None = None,
) -> DataFrame:
    """Per-group CMS sketches as a BinaryType column. ``weight_col`` makes
    each row add its weight instead of 1 (approximate SUM-by-key)."""
    agg = CmsAggregator(d, log2_w, hashing, weight_col=weight_col)
    return sketch_agg(df, cols, agg, group_by, finalize=False)


def cms_point_query_udf(sketch: bytes):
    """Scalar pandas UDF factory: hash column (int64) -> estimated count."""
    return hash_probe_udf(cms.point_query, sketch, T.LongType())


def cms_topk(
    df: DataFrame,
    col: str,
    k: int = 10,
    d: int = cms.DEFAULT_D,
    log2_w: int = cms.DEFAULT_LOG2_W,
    candidates_per_partition: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Approximate top-k heavy hitters of ``col``.

    Returns (col, approx_count) ordered by approx_count DESC, col ASC
    (deterministic tie-break). approx_count is the CMS point estimate of the
    merged sketch (>= true count; == true count when the value space is far
    below the sketch width).

    Candidates come from a per-partition Misra-Gries summary of capacity
    C = max(8 * candidates_per_partition, 256): bounded memory at ANY value
    cardinality, and every key with partition count > N_p/(C+1) is
    guaranteed to survive (see module docstring).

    ``weight_col`` ranks by TOTAL MASS instead of row count (top keys by
    bytes/tokens/quantity): each row contributes its non-negative integer
    weight to both the CMS counters and the Misra-Gries summary — the MG
    bound holds verbatim with N_p = the partition's total mass.
    """
    if candidates_per_partition is None:
        candidates_per_partition = max(4 * k, 64)
    cap = max(8 * candidates_per_partition, 256)
    src = counted_rows(df, [col], weight_col)
    col_field = next(f for f in src.schema.fields if f.name == col)

    weighted = weight_col is not None
    wcol = (_int_weight_expr(weight_col) if weighted
            else F.lit(1).cast("long"))
    proj = src.select(F.col(col).alias("v"), F.xxhash64(col).alias("h"),
                      wcol.alias("w"))
    part_schema = T.StructType([
        T.StructField("sketch", T.BinaryType(), False),
        T.StructField("cand_v", T.ArrayType(col_field.dataType), False),
        T.StructField("cand_h", T.ArrayType(T.LongType()), False),
    ])
    from pyspark.sql.pandas.types import to_arrow_type

    arrow_schema = pa.schema([
        pa.field(f.name, to_arrow_type(f.dataType)) for f in part_schema.fields
    ])

    def build(batches):
        import pandas as pd

        def mg_prune(frames: list) -> list:
            """Misra-Gries reduction (the mergeable-summaries prune): merge
            the buffered count frames; past capacity, subtract the
            (cap+1)-th largest residual from everyone and keep strictly
            positive. Each prune removes >= thr*(cap+1) total mass, so
            Σ thr <= N_p/(cap+1) — the deterministic survival bound."""
            acc = (
                pd.concat(frames, ignore_index=True)
                .groupby("v", sort=False, as_index=False, dropna=False)
                .agg(n=("n", "sum"), h=("h", "first"))
            )
            if len(acc) > cap:
                ns = acc["n"].to_numpy()
                thr = np.partition(ns, len(ns) - cap - 1)[len(ns) - cap - 1]
                acc = acc[acc["n"] > thr].copy()
                acc["n"] -= thr
            return [acc]

        tbl: bytes | None = None
        pending: list = []       # buffered count frames; merged amortized
        pending_rows = 0
        flush_at = max(8 * cap, 8192)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            h = _to_numpy_u64(batch.column(1))
            if weighted:
                w = batch.column(2).to_numpy(
                    zero_copy_only=False).astype(np.int64)
                if len(w) and int(w.min()) < 0:
                    raise ValueError("cms_topk weights must be non-negative")
                part = cms.from_hashes(h, counts=w, d=d, log2_w=log2_w)
            else:
                # unweighted fast path: np.unique pre-aggregation inside
                # from_hashes (one add.at per DISTINCT value)
                w = np.ones(len(h), dtype=np.int64)
                part = cms.from_hashes(h, d=d, log2_w=log2_w)
            tbl = part if tbl is None else cms.merge_many([tbl, part])
            bdf = (
                pd.DataFrame({
                    "v": batch.column(0).to_pandas(),
                    "h": batch.column(1).to_pandas(),
                    "n": w,
                }).groupby("v", sort=False, as_index=False, dropna=False)
                .agg(n=("n", "sum"), h=("h", "first"))
            )
            pending.append(bdf)
            pending_rows += len(bdf)
            if pending_rows >= flush_at:     # amortize the MG merge
                pending = mg_prune(pending)
                pending_rows = len(pending[0])
        if tbl is None:
            return
        acc = mg_prune(pending)[0]
        acc = acc.sort_values(["n", "v"], ascending=[False, True])
        top = list(zip(acc["v"], acc["h"].astype(int)))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([tbl], type=pa.binary()),
                pa.array([[v for v, _ in top]], type=arrow_schema.field(1).type),
                pa.array([[ch for _, ch in top]], type=pa.list_(pa.int64())),
            ],
            schema=arrow_schema,
        )

    return cms_topk_rollup(proj.mapInArrow(build, part_schema), col, k)


def cms_topk_verified(
    df: DataFrame,
    col: str,
    k: int = 10,
    margin: int = 4,
    weight_col: str | None = None,
    **sketch_params,
) -> DataFrame:
    """Estimate-then-verify heavy hitters: EXACT top-k counts at sketch
    cost plus one candidate-only rescan.

    Pass 1 (``cms_topk``) proposes ``margin * k`` candidates — CMS
    estimates rank them, the Misra-Gries store bounds memory. Pass 2
    rescans ONLY rows whose key is in the candidate set (the IN-filter
    pushes to the scan / broadcast-hash semi-joins; the shuffle carries at
    most ``margin*k x #partitions`` partial-count rows) and returns the
    top-k by EXACT count (ties broken by ascending key — deterministic).

    This is the production resolution of the CMS overestimate: the sketch
    narrows 10^9 keys to ~margin*k, the exact pass charges only for those.
    Correct whenever the true top-k survive into the candidate set; the MG
    bound makes a miss require true count <= N_p/(cap+1) in EVERY
    partition, so raise ``margin`` (candidate capacity scales with it) for
    adversarially flat distributions. ``weight_col`` ranks by exact total
    mass instead of row count."""
    cand_rows = cms_topk(
        df, col, k=margin * k, weight_col=weight_col, **sketch_params
    ).collect()  # margin*k rows, driver-held by construction
    cand_vals = [r[0] for r in cand_rows]
    if not cand_vals:
        return df.sparkSession.createDataFrame(
            [], T.StructType([
                next(f for f in df.schema.fields if f.name == col),
                T.StructField("exact_count", T.LongType(), False),
            ])
        )
    wcol = (_int_weight_expr(weight_col) if weight_col
            else F.lit(1).cast("long"))
    src = counted_rows(df, [col], weight_col)
    return (
        src.filter(F.col(col).isin(cand_vals))
        .groupBy(col)
        .agg(F.sum(wcol).alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc(col))
        .limit(k)
    )


def cms_topk_shards(
    df: DataFrame,
    col: str,
    shard_by: str | list[str],
    d: int = cms.DEFAULT_D,
    log2_w: int = cms.DEFAULT_LOG2_W,
    candidates_per_shard: int = 64,
    weight_col: str | None = None,
) -> DataFrame:
    """The STORABLE unit for heavy hitters: one row per shard (e.g. per
    day) holding that shard's CMS plus its candidate list — the EXACT
    per-shard top-``candidates_per_shard`` values by count (by mass with
    ``weight_col``), ties broken by ascending value. Persist these rows
    once; ``cms_topk_rollup`` answers top-k over any union of shards with
    zero rescan. Any global heavy hitter is a local heavy hitter in at
    least one shard when candidates_per_shard is sized generously (>= 4k
    is the usual rule).

    The sketch is ``sketch_agg`` keyed on the shard (per-partition partial
    CMS, then one exact counter-add merge per shard). The candidates are
    plain SQL: per-(shard, value) counts, a ``row_number`` cut that Spark
    plans as a ``WindowGroupLimit`` below the shuffle, and a sorted
    ``collect_list``. No Python stage ever holds a shard's data rows."""
    agg = CmsAggregator(d, log2_w, weight_col=weight_col)
    sketches = sketch_agg(df, col, agg, shard_by, finalize=False)
    shard_by = _as_list(shard_by)
    src = counted_rows(df, [col], weight_col)
    w = (_int_weight_expr(weight_col) if weight_col is not None
         else F.lit(1).cast("long"))
    rank = Window.partitionBy(*shard_by).orderBy(F.desc("__n"), F.asc("__v"))
    cands = (
        src.groupBy(*shard_by, F.col(col).alias("__v"))
        .agg(F.sum(w).alias("__n"))
        .withColumn("__r", F.row_number().over(rank))
        .filter(F.col("__r") <= candidates_per_shard)
        .groupBy(*shard_by)
        .agg(F.sort_array(F.collect_list(F.struct(
            "__r", "__v", F.xxhash64("__v").alias("__h")))).alias("__c"))
        .select(*[F.col(c).alias(f"__k{i}") for i, c in enumerate(shard_by)],
                "__c")
    )
    col_type = src.schema[col].dataType
    same_shard = [F.col(c).eqNullSafe(F.col(f"__k{i}"))
                  for i, c in enumerate(shard_by)]
    return sketches.join(cands, same_shard).select(
        # today's stored layout: shard columns in source-schema order
        *[f.name for f in src.schema.fields if f.name in shard_by],
        SKETCH_COL,
        F.col("__c.__v").cast(T.ArrayType(col_type)).alias("cand_v"),
        F.col("__c.__h").cast(T.ArrayType(T.LongType())).alias("cand_h"),
    )


def cms_topk_rollup(
    stored: DataFrame,
    col: str,
    k: int = 10,
    group_by: str | list[str] | None = None,
) -> DataFrame:
    """Top-k heavy hitters from STORED ``cms_topk_shards`` rows (optionally
    per coarser group): merge the shard sketches, union the candidate
    lists, point-query each candidate against the merged CMS, rank. No
    rescan of the data rows — the same zero-rescan contract as
    ``rollup.merge_sketches``, plus candidate handling (a plain sketch
    cannot enumerate values). This rank step is also ``cms_topk``'s phase
    2, over its per-partition partials; it runs on the sorted group
    stream (``reduce_sorted_groups``), one group's rows at a time."""
    group_cols = _as_list(group_by)
    elem_type = stored.schema["cand_v"].dataType.elementType
    top = T.StructField("__top", T.ArrayType(T.StructType([
        T.StructField(col, elem_type, True),
        T.StructField("approx_count", T.LongType(), False),
    ]), False), False)

    def merge_rank(group: pa.Table) -> tuple:
        merged = cms.merge_many(group.column(SKETCH_COL).to_pylist())
        # NaN candidates from several rows collapse into one key
        cand: dict[Any, int] = {}
        for vs, hs in zip(group.column("cand_v").to_pylist(),
                          group.column("cand_h").to_pylist()):
            for v, ch in zip(vs, hs):
                cand[_canon(v)] = ch
        values = list(cand)
        hashes = np.array(list(cand.values()), dtype=np.int64).view(np.uint64)
        ests = cms.point_query(merged, hashes).astype(np.int64)
        # count DESC, value ASC with NaN last (Spark's order)
        order = sorted(
            range(len(values)),
            key=lambda i: (-int(ests[i]), values[i] != values[i], values[i]),
        )[:k]
        return ([{col: values[i], "approx_count": int(ests[i])}
                 for i in order],)

    rows = stored.select(*group_cols, SKETCH_COL, "cand_v", "cand_h")
    return (
        reduce_sorted_groups(rows, group_cols, [top], merge_rank)
        .select(*group_cols, F.inline("__top"))
        .orderBy(*group_cols, F.desc("approx_count"), F.asc(col))
    )


def cms_join_size(
    df_a: DataFrame,
    key_a: str,
    df_b: DataFrame,
    key_b: str,
    d: int = cms.DEFAULT_D,
    log2_w: int = cms.DEFAULT_LOG2_W,
    hashing: str = "xxhash64",
) -> DataFrame:
    """Equi-join SIZE estimate |A ⋈_k B| = Σ_k cnt_A(k)·cnt_B(k) from two
    CMS sketches — the planner query that decides broadcast vs shuffle vs
    salting BEFORE running a 100 TB join. One scan per side builds a sketch
    (bytes independent of data size), the 1x1 combine is a broadcast-able
    nested loop over two rows; nothing else moves.

    Guarantee (Cormode & Muthukrishnan 2005 §4.2): exact <= est_join_size
    <= exact + eps·N_A·N_B with prob. 1-delta, eps = e/w, delta = e^-d.
    In "md5" hashing mode the estimate is bit-reproducible in any ANSI
    engine (the oracle hook). Returns one row:
    (est_join_size, n_a, n_b, eps_n_a_n_b)."""
    sk_a = cms_agg(df_a, key_a, d=d, log2_w=log2_w, hashing=hashing)
    sk_b = cms_agg(df_b, key_b, d=d, log2_w=log2_w, hashing=hashing)
    joined = (
        sk_a.select(F.col(SKETCH_COL).alias("__sa"))
        .crossJoin(F.broadcast(sk_b.select(F.col(SKETCH_COL).alias("__sb"))))
    )
    fields = [
        T.StructField("est_join_size", T.LongType(), False),
        T.StructField("n_a", T.LongType(), False),
        T.StructField("n_b", T.LongType(), False),
        T.StructField("eps_n_a_n_b", T.DoubleType(), False),
    ]

    def combine(one: pa.Table) -> tuple:
        a, b = one.column("__sa")[0].as_py(), one.column("__sb")[0].as_py()
        _, _, n_a = cms.params(a)
        _, _, n_b = cms.params(b)
        eps, _ = cms.error_bound(a)
        return (cms.inner_product(a, b), n_a, n_b, eps * n_a * n_b)

    return reduce_sorted_groups(joined, [], fields, combine)


class CountSketchAggregator(SketchAggregator):
    """Signed count sketch (Charikar et al. 2002): unbiased point estimates
    and the F2 second frequency moment / self-join size (AMS-over-buckets).
    See ``sketch/countsketch.py`` for the determinism contract that makes
    the "md5" hashing mode replayable bit-for-bit in ANSI SQL."""

    name = "countsketch"

    def __init__(self, d: int = countsketch.DEFAULT_D,
                 log2_w: int = countsketch.DEFAULT_LOG2_W,
                 hashing: str = "xxhash64"):
        countsketch.empty(d, log2_w)  # validate eagerly
        self.d, self.log2_w, self.hashing = d, log2_w, hashing
        self.finalize_fields = [
            T.StructField("f2_est", T.LongType(), False),
            T.StructField("n_total", T.LongType(), False),
        ]

    def prepare_columns(self, df: DataFrame, cols: list[str]):
        return [_hash_expr(cols, self.hashing)]

    def build(self, cols, bounds) -> list[bytes]:
        hashes = _to_numpy_u64(cols[0])
        return [
            countsketch.from_hashes(hashes[s:e], d=self.d, log2_w=self.log2_w)
            for s, e in zip(bounds, bounds[1:])
        ]

    def merge_many(self, sketches: list[bytes]) -> bytes:
        return countsketch.merge_many(sketches)

    def finalize(self, sketch: bytes) -> dict[str, Any]:
        _, _, n = countsketch.params(sketch)
        return {"f2_est": countsketch.f2_estimate(sketch), "n_total": n}


def countsketch_agg(
    df: DataFrame,
    cols: str | list[str],
    group_by: str | list[str] | None = None,
    d: int = countsketch.DEFAULT_D,
    log2_w: int = countsketch.DEFAULT_LOG2_W,
    hashing: str = "xxhash64",
) -> DataFrame:
    """Per-group count sketches as a BinaryType column."""
    agg = CountSketchAggregator(d, log2_w, hashing)
    return sketch_agg(df, cols, agg, group_by, finalize=False)


def countsketch_f2(
    df: DataFrame,
    cols: str | list[str],
    group_by: str | list[str] | None = None,
    d: int = countsketch.DEFAULT_D,
    log2_w: int = countsketch.DEFAULT_LOG2_W,
    hashing: str = "xxhash64",
) -> DataFrame:
    """Second frequency moment F2 = Σ_v count(v)² — the SELF-JOIN SIZE of
    ``cols`` — per group: (group_cols..., f2_est, n_total). F2/n² is the
    standard skew statistic a planner checks before shuffling on a key.
    Exact whenever the median row has no colliding pair of distinct values
    (value space far below w); unbiased with rel. error O(1/sqrt(w))
    otherwise."""
    agg = CountSketchAggregator(d, log2_w, hashing)
    return sketch_agg(df, cols, agg, group_by)


def cs_point_query_udf(sketch: bytes):
    """Scalar pandas UDF factory: hash column (int64) -> unbiased count
    estimate (median over rows of the signed counters)."""
    return hash_probe_udf(countsketch.point_query, sketch, T.LongType())
