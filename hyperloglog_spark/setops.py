"""Theta-sketch DataFrame API: distributed set operations on distinct sets.

HLL answers "how many distinct" but its state supports only union — an
intersection estimate via inclusion-exclusion compounds the error of
three estimates and can go negative. The theta sketch (``sketch/theta``)
is the set-operation-closed alternative: per-group bottom-k states built
with the same two-phase skeleton as every other sketch here, then
union / intersect / a-not-b composed LAZILY over the stored sketch
columns via scalar pandas UDFs (``engine.cells``: a NULL side of a union
is the empty sketch, a NULL right side of a-not-b removes nothing, any
other NULL argument gives NULL).

    va = theta_sketch_agg(events.filter("event_type='view'"), "user_id")
    vb = theta_sketch_agg(events.filter("event_type='purchase'"), "user_id")
    both = theta_set_cardinalities(va, vb)   # union/intersect/diff, lazy

Scale shape: phase 1 ships one <= (8k+24)-byte state per (partition,
group) into the shuffle — never data rows; set operations touch only
sketch cells (KB each), so a stored-sketch table answers arbitrary
slice-intersection queries with zero rescan of the 100 TB base table.
``hashing="md5"`` (60-bit keys) makes every estimate bit-reproducible in
ANSI SQL — the driver-gate oracle mode — at ~3x the hash cost of the
default ``xxhash64``.
"""

from __future__ import annotations

from typing import Any

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .engine.aggregate import SKETCH_COL, SketchAggregator, sketch_agg
from .engine.cells import LEFT, UNION, cell_udf
from .sketch import theta

__all__ = [
    "ThetaAggregator",
    "theta_sketch_agg",
    "theta_distinct",
    "theta_set_cardinalities",
    "theta_estimate_udf",
    "theta_union_udf",
    "theta_intersect_udf",
    "theta_a_not_b_udf",
    "theta_jaccard_udf",
    "register_theta_sql_functions",
]


def _hash_expr(cols: list[str], hashing: str, salt: int) -> Column:
    """Int64 hash key per row. "md5" = top 60 md5 bits of the '#'-joined
    string form (any ANSI engine reproduces it — the oracle mode);
    "xxhash64" = JVM whole-stage-codegen default."""
    if hashing == "xxhash64":
        return F.xxhash64(*[F.col(c) for c in cols], F.lit(salt))
    if hashing == "md5":
        joined = F.concat_ws(
            "#", *[F.col(c).cast("string") for c in cols], F.lit(str(salt))
        )
        return F.conv(
            F.substring(F.md5(joined), 1, 15), 16, 10
        ).cast("bigint")
    raise ValueError(f"hashing must be 'xxhash64' or 'md5': {hashing!r}")


class ThetaAggregator(SketchAggregator):
    name = "theta"

    def __init__(self, k: int = theta.DEFAULT_K, hashing: str = "xxhash64",
                 salt: int = 0, alias: str = "n_distinct_est"):
        theta.build(np.empty(0, dtype=np.int64), k)  # validate k eagerly
        self.k = k
        self.mode = theta.MODE_U60 if hashing == "md5" else theta.MODE_I64
        self.hashing = hashing
        self.salt = salt
        self.alias = alias
        self.finalize_fields = [T.StructField(alias, T.LongType(), False)]

    def prepare_columns(self, df: DataFrame, cols: list[str]):
        return [_hash_expr(cols, self.hashing, self.salt)]

    def build(self, cols, bounds) -> list[bytes]:
        hashes = cols[0].to_numpy(zero_copy_only=False).astype(np.int64)
        return [theta.build(hashes[s:e], self.k, self.mode)
                for s, e in zip(bounds, bounds[1:])]

    def merge_many(self, sketches: list[bytes]) -> bytes:
        return theta.union_many(sketches)

    def finalize(self, sketch: bytes) -> dict[str, Any]:
        return {self.alias: theta.estimate(sketch)}


def theta_sketch_agg(
    df: DataFrame,
    cols: str | list[str],
    group_by: str | list[str] | None = None,
    k: int = theta.DEFAULT_K,
    hashing: str = "xxhash64",
    salt: int = 0,
) -> DataFrame:
    """Merged theta sketch (BinaryType ``sketch``) per group — store it,
    union it across shards, intersect it across slices later."""
    agg = ThetaAggregator(k=k, hashing=hashing, salt=salt)
    return sketch_agg(df, cols, agg, group_by, finalize=False)


def theta_distinct(
    df: DataFrame,
    cols: str | list[str],
    group_by: str | list[str] | None = None,
    k: int = theta.DEFAULT_K,
    hashing: str = "xxhash64",
    salt: int = 0,
    alias: str = "n_distinct_est",
) -> DataFrame:
    """Distinct-count estimate via the theta state (exact below k). Use
    ``approx_distinct`` (HLL) when only union/rollup matters — better
    accuracy per byte; use this when the sets will also be intersected."""
    agg = ThetaAggregator(k=k, hashing=hashing, salt=salt, alias=alias)
    return sketch_agg(df, cols, agg, group_by)


@cell_udf(T.LongType())
def theta_estimate_udf(sketch):
    """Row-wise distinct-count estimate of a theta sketch column."""
    return theta.estimate(sketch)


@cell_udf(T.BinaryType(), nulls=UNION)
def theta_union_udf(a, b):
    """Row-wise union of two sketch columns (NULL-absorbing)."""
    return theta.union(a, b)


@cell_udf(T.BinaryType())
def theta_intersect_udf(a, b):
    """Row-wise intersection of two sketch columns."""
    return theta.intersect(a, b)


@cell_udf(T.BinaryType(), nulls=LEFT)
def theta_a_not_b_udf(a, b):
    """Row-wise set difference a minus b; a NULL b removes nothing."""
    return theta.a_not_b(a, b)


@cell_udf(T.DoubleType())
def theta_jaccard_udf(a, b):
    """Row-wise Jaccard similarity estimate of two sketch columns."""
    return theta.jaccard(a, b)


def register_theta_sql_functions(spark) -> None:
    """SQL scalar surface over stored theta-sketch rows:

        SELECT theta_estimate(theta_intersect(a.sketch, b.sketch)) ...
    """
    spark.udf.register("theta_estimate", theta_estimate_udf)
    spark.udf.register("theta_union", theta_union_udf)
    spark.udf.register("theta_intersect", theta_intersect_udf)
    spark.udf.register("theta_a_not_b", theta_a_not_b_udf)
    spark.udf.register("theta_jaccard", theta_jaccard_udf)


def theta_set_cardinalities(
    a: DataFrame,
    b: DataFrame,
    sketch_col: str = SKETCH_COL,
) -> DataFrame:
    """Lazy one-row set-cardinality report from two single-sketch frames
    (each as produced by an ungrouped ``theta_sketch_agg``): columns
    ``n_union, n_intersect, n_a_not_b, n_b_not_a``. Everything stays a
    plan — two tiny sketch rows cross-joined, four scalar UDF calls."""
    left = a.select(F.col(sketch_col).alias("__sa"))
    right = b.select(F.col(sketch_col).alias("__sb"))
    sa, sb = F.col("__sa"), F.col("__sb")
    return left.crossJoin(right).select(
        theta_estimate_udf(theta_union_udf(sa, sb)).alias("n_union"),
        theta_estimate_udf(theta_intersect_udf(sa, sb)).alias("n_intersect"),
        theta_estimate_udf(theta_a_not_b_udf(sa, sb)).alias("n_a_not_b"),
        theta_estimate_udf(theta_a_not_b_udf(sb, sa)).alias("n_b_not_a"),
    )
