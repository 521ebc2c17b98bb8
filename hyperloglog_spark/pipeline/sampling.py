"""Deterministic sampling operators: bottom-k-by-hash and stratified.

Training-data pipelines need samples that are REPRODUCIBLE — the same
eval holdout regardless of cluster size, partitioning, or engine — and
MERGEABLE — the sample of a union computable from per-shard samples.
Bottom-k-by-hash delivers both: keep the k rows whose hash(id) is
smallest. That is exactly the min-k sketch (the KMV cardinality
estimator's state), so union = concatenate + re-take-k, and any engine
that can compute the hash reproduces the selection bit-for-bit.

Catalyst executes ``orderBy(hash).limit(k)`` as TakeOrderedAndProject —
per-partition top-k heaps merged at the driver, never a global sort — so
the plan is a single scan plus a k-row collect regardless of input size.
The stratified variant ranks within groups via a window (one shuffle on
the group key).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..engine.aggregate import _as_list


def _sample_key(id_col: str, hashing: str, salt: int) -> F.Column:
    """64-bit sample key of (id, salt). "md5" keys (top 60 md5 bits) are
    reproducible in any ANSI engine — the oracle-checkable mode; xxhash64
    is the fast JVM default."""
    if hashing == "xxhash64":
        return F.xxhash64(F.col(id_col), F.lit(salt))
    if hashing == "md5":
        return F.expr(
            f"cast(conv(substring(md5(concat(cast({id_col} as string), "
            f"'#', '{salt}')), 1, 15), 16, 10) as bigint)"
        )
    raise ValueError(f"hashing must be 'xxhash64' or 'md5': {hashing!r}")


def deterministic_sample(
    df: DataFrame,
    id_col: str,
    k: int,
    hashing: str = "xxhash64",
    salt: int = 0,
) -> DataFrame:
    """The k rows with the smallest hash(id, salt) — a uniform sample that
    is a pure function of the data (partitioning-invariant), mergeable
    (bottom-k of a union == bottom-k of concatenated bottom-k's), and
    refreshable (change ``salt`` for an independent redraw).

    Appends ``sample_key`` so downstream unions can re-take-k without
    rehashing. Ties cannot occur for distinct ids (64-bit injective-in-
    practice keys); duplicate ids sample together by construction.
    """
    key = _sample_key(id_col, hashing, salt)
    return (
        df.withColumn("sample_key", key)
        .orderBy("sample_key", id_col)
        .limit(k)
    )


def _local_group_bottomk(
    keyed: DataFrame,
    group_by: list[str],
    id_col: str,
    k: int,
) -> DataFrame:
    """Narrow (shuffle-free) pre-reduction: within every Arrow batch keep
    only the ``k`` smallest-(sample_key, id) rows PER GROUP. Output schema
    is unchanged; output size is ≤ k × groups-present per batch. Exact by
    the min-k merge law: per-shard bottom-k is a superset of the global
    bottom-k's members from that shard."""
    sel = keyed.schema.names
    g_idx = [sel.index(g) for g in group_by]
    key_idx, id_idx = sel.index("sample_key"), sel.index(id_col)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            pdf = pa.Table.from_batches([batch]).select(
                [sel[i] for i in g_idx] + [sel[key_idx], sel[id_idx]]
            ).to_pandas()
            order = pdf.sort_values([sel[key_idx], sel[id_idx]],
                                    kind="mergesort")
            keep = order.groupby([sel[i] for i in g_idx], sort=False,
                                 dropna=False).head(k).index.to_numpy()
            yield batch.take(pa.array(np.sort(keep)))

    return keyed.mapInArrow(fn, keyed.schema)


def stratified_sample(
    df: DataFrame,
    id_col: str,
    group_by: str | list[str],
    k_per_group: int,
    hashing: str = "xxhash64",
    salt: int = 0,
) -> DataFrame:
    """Up to ``k_per_group`` smallest-hash rows per group — the per-class
    eval-holdout shape; the same determinism/merge properties as
    ``deterministic_sample`` hold within each group.

    Two-phase (VERDICT r2 #6 — a single window over the group key lands
    the hottest group in one task): phase 1 is a NARROW per-Arrow-batch
    per-group bottom-k (no shuffle; at most k rows per group per batch
    survive, so the hottest group contributes ≤ k × batches rows instead
    of all its rows), phase 2 the global per-group re-take-k window over
    that reduced set. Byte-identical to the one-phase window by the min-k
    merge law (ties impossible: 64-bit keys + id tiebreak)."""
    group_by = _as_list(group_by)
    key = _sample_key(id_col, hashing, salt)
    keyed = df.withColumn("sample_key", key)
    reduced = _local_group_bottomk(keyed, group_by, id_col, k_per_group)
    w = Window.partitionBy(*group_by).orderBy("sample_key", id_col)
    return (
        reduced.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k_per_group)
        .drop("__rn")
    )


def priority_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    hashing: str = "xxhash64",
    salt: int = 0,
) -> DataFrame:
    """Priority sampling (Duffield, Lund & Thorup, JACM 2007): a
    deterministic weighted sample of k rows with UNBIASED subset-sum
    estimators — the weighted counterpart of ``deterministic_sample``.

    Each row gets priority ``q = w / u`` with ``u = (hash(id,salt)+1) /
    2^bits`` in (0, 1]; the k largest priorities are kept and every kept
    row carries ``weight_est = max(w, tau)`` where ``tau`` is the
    (k+1)-th largest priority (0 when nothing was truncated, so the
    sample is exact). For ANY subset S, E[sum of weight_est over kept
    rows of S] equals the true sum of w over S — heavy rows (w >= tau)
    are always kept, light rows are kept with probability w/tau and
    compensated to tau.

    Determinism/scale: the only arithmetic is one IEEE add+divide per row
    (no transcendentals), so any engine reproduces the selection and the
    estimates bit-for-bit ("md5" mode for cross-engine oracles, xxhash64
    JVM default). Selection is top-(k+1) by (priority, id) — Catalyst's
    TakeOrderedAndProject: per-partition heaps, no global sort, and the
    same min-k merge law as bottom-k (it IS bottom-k on u/w), so
    per-shard samples merge exactly. The tau/rank window then runs over
    k+1 rows only.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    key = _sample_key(id_col, hashing, salt)
    if hashing == "xxhash64":
        # signed 64-bit -> (0, 1]: shift into [1, 2^64], divide by 2^64
        u = (
            key.cast("double") + F.lit(9.223372036854775808e18) + F.lit(1.0)
        ) / F.lit(1.8446744073709551616e19)
    else:
        # md5 mode: 60-bit non-negative key -> (0, 1] over 2^60
        u = (key.cast("double") + F.lit(1.0)) / F.lit(1152921504606846976.0)
    top = (
        df.withColumn("priority", F.col(weight_col) / u)
        .orderBy(F.desc("priority"), id_col)
        .limit(k + 1)
    )
    everything = Window.partitionBy()
    rank_w = Window.orderBy(F.desc("priority"), id_col)
    tau = F.when(
        F.count(F.lit(1)).over(everything) == k + 1,
        F.min("priority").over(everything),
    ).otherwise(F.lit(0.0))
    return (
        top.withColumn("__tau", tau)
        .withColumn("__rn", F.row_number().over(rank_w))
        .filter(F.col("__rn") <= k)
        .withColumn(
            "weight_est", F.greatest(F.col(weight_col), F.col("__tau"))
        )
        .drop("__rn", "__tau")
    )


def _local_bottomk_keys(keyed: DataFrame, k: int) -> DataFrame:
    """Narrow (shuffle-free) pre-reduction for KMV: per Arrow batch keep
    only the k smallest DISTINCT sample_key values. Exact by the min-k
    merge law; bounds the downstream shuffle at k rows per batch."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            vals = np.unique(
                batch.column("sample_key").to_numpy(zero_copy_only=False)
            )
            yield pa.RecordBatch.from_arrays(
                [pa.array(vals[:k], type=pa.int64())], ["sample_key"]
            )

    return keyed.mapInArrow(fn, keyed.schema)


def kmv_distinct(
    df: DataFrame,
    id_col: str,
    k: int = 1024,
    hashing: str = "xxhash64",
    salt: int = 0,
) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) cardinality estimate — the
    estimator the deterministic-sample state already IS (Bar-Yossef et
    al. 2002; Beyer et al. 2007 unbiased form): with ``u_k`` the k-th
    smallest of n distinct uniform hashes in (0, 1], ``(k-1)/u_k`` is an
    unbiased estimate of n with relative error ~ 1/sqrt(k-2).

    Returns one row: ``n_distinct_est`` (bigint; exact when fewer than k
    distinct keys exist — the sketch degenerates to the exact set) and
    ``kth_key`` (the sketch state, mergeable by re-taking k smallest).

    Scale: a narrow per-batch distinct-bottom-k bounds the shuffle at k
    rows per input batch (the same pre-reduction as stratified sampling);
    the global re-take runs as TakeOrderedAndProject. No transcendentals
    — in "md5" mode any ANSI engine replays the estimate bit-for-bit.
    Complements HLL: ~2x worse accuracy per byte, but the state doubles
    as a uniform sample of the distinct keys and supports set operations
    by key intersection.
    """
    if k < 3:
        raise ValueError(f"k must be >= 3 for the (k-1)/u_k form: {k}")
    key = _sample_key(id_col, hashing, salt)
    keyed = df.select(key.alias("sample_key"))
    reduced = _local_bottomk_keys(keyed, k)
    topk = reduced.distinct().orderBy("sample_key").limit(k)
    if hashing == "xxhash64":
        u_k = (
            F.col("kth_key").cast("double")
            + F.lit(9.223372036854775808e18) + F.lit(1.0)
        ) / F.lit(1.8446744073709551616e19)
    else:
        u_k = (F.col("kth_key").cast("double") + F.lit(1.0)) / F.lit(
            1152921504606846976.0
        )
    return (
        topk.agg(
            F.max("sample_key").alias("kth_key"),
            F.count(F.lit(1)).alias("__n_kept"),
        )
        .withColumn(
            "n_distinct_est",
            F.when(F.col("__n_kept") < k, F.col("__n_kept"))
            .otherwise(F.floor(F.lit(float(k - 1)) / u_k))
            .cast("long"),
        )
        .select("n_distinct_est", "kth_key")
    )
