"""Bloom-filter DataFrame API: distributed build (two-phase OR-merge) and
vectorized membership probes.

    sk = bloom_build(df, "c_custkey", expected_items=200_000)
    probed = with_might_contain(other_df, "key_col", sk, alias="seen")

Both probes are ``engine.cells.hash_probe_udf`` calls over ``_probe_hash``:
one vectorized kernel call per Arrow batch, and a key with a NULL column
probes as NULL, as an equi-join key matches nothing.
"""

from __future__ import annotations

from functools import reduce
from operator import and_
from typing import Any

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .engine.aggregate import (
    SketchAggregator,
    _as_list,
    collect_merged,
    sketch_agg,
)
from .engine.cells import hash_probe_udf
from .frequency import _hash_expr
from .functions import _to_numpy_u64
from .sketch import bloom, cbf

__all__ = [
    "BloomAggregator",
    "bloom_build",
    "bloom_agg",
    "with_might_contain",
    "bloom_filtered_join",
    "CbfAggregator",
    "cbf_build",
    "cbf_agg",
    "with_cbf_might_contain",
]


class BloomAggregator(SketchAggregator):
    name = "bloom"

    def __init__(self, m_bits: int = bloom.DEFAULT_M_BITS, k: int = bloom.DEFAULT_K):
        bloom.empty(m_bits, k)  # validate eagerly
        self.m_bits, self.k = m_bits, k
        self.finalize_fields = [
            T.StructField("n_added", T.LongType(), False),
            T.StructField("fill_ratio", T.DoubleType(), False),
        ]

    def prepare_columns(self, df: DataFrame, cols: list[str]):
        return [F.xxhash64(*[F.col(c) for c in cols])]

    def build(self, cols, bounds) -> list[bytes]:
        hashes = _to_numpy_u64(cols[0])
        return [bloom.from_hashes(hashes[s:e], self.m_bits, self.k)
                for s, e in zip(bounds, bounds[1:])]

    def merge_many(self, sketches: list[bytes]) -> bytes:
        return bloom.merge_many(sketches)

    def finalize(self, sketch: bytes) -> dict[str, Any]:
        _, _, n = bloom.params(sketch)
        return {"n_added": n, "fill_ratio": bloom.fill_ratio(sketch)}


def bloom_build(
    df: DataFrame,
    cols: str | list[str],
    expected_items: int | None = None,
    fpp: float = 0.01,
    m_bits: int | None = None,
    k: int | None = None,
    fan_in: int = 32,
) -> bytes:
    """Distributed build -> cluster-side tree-merge -> driver-held filter
    bytes. A billion-key filter is ~1 GiB per partial: ``fan_in`` caps how
    many of those any merge task holds (lower it for very large m_bits)."""
    if m_bits is None or k is None:
        if expected_items is None:
            raise ValueError("pass expected_items (or explicit m_bits and k)")
        m_bits, k = bloom.optimal_params(expected_items, fpp)
    return collect_merged(df, cols, BloomAggregator(m_bits, k), fan_in=fan_in)


def bloom_agg(
    df: DataFrame,
    cols: str | list[str],
    group_by: str | list[str] | None = None,
    m_bits: int = bloom.DEFAULT_M_BITS,
    k: int = bloom.DEFAULT_K,
) -> DataFrame:
    """Per-group Bloom sketches as a BinaryType column."""
    return sketch_agg(df, cols, BloomAggregator(m_bits, k), group_by,
                      finalize=False)


def _probe_hash(cols: list[str], hashing: str) -> Column:
    """The probe key's hash, NULL when any key column is NULL (``xxhash64``
    alone hashes a NULL key to its seed, 42, and would answer for that)."""
    present = reduce(and_, [F.col(c).isNotNull() for c in cols])
    return F.when(present, _hash_expr(cols, hashing))


def with_might_contain(
    df: DataFrame,
    cols: str | list[str],
    sketch: bytes,
    alias: str = "might_contain",
) -> DataFrame:
    """Add a boolean column probing the filter. Hashing stays JVM-side
    (xxhash64, identical to the build path); the probe UDF only touches
    8-byte hashes. The filter bytes ride along as a closure constant
    (broadcast-sized: m_bits/8 bytes). A key with a NULL column gives
    NULL."""
    probe = hash_probe_udf(bloom.might_contain, sketch, T.BooleanType())
    return df.withColumn(alias, probe(_probe_hash(_as_list(cols), "xxhash64")))


def bloom_filtered_join(
    big: DataFrame,
    small: DataFrame,
    on: str | list[str],
    how: str = "inner",
    expected_items: int | None = None,
    fpp: float = 0.001,
    m_bits: int | None = None,
    k: int | None = None,
) -> DataFrame:
    """Join with a Bloom semi-join reduction on the big side — the
    runtime-filter pattern, as an explicit operator.

    Builds a Bloom filter over the small side's join keys (two-phase
    distributed OR-merge; the driver holds ``m_bits/8`` bytes), probes it
    on the big side BEFORE the join, and then performs the exact join.
    The filter has no false negatives, and the exact join removes the
    false positives, so the result equals ``big.join(small, on, how)``
    row-for-row. Restricted to ``how`` in ('inner', 'left_semi') — the
    only semantics where discarding non-matching big rows is sound (an
    outer/anti join must keep them).

    100 TB rationale: in a fact-dim join the dominant cost is shuffling
    the fact side. The probe is a JVM xxhash64 plus an Arrow-batch bit
    test applied right after the scan, so the fact side's shuffle (and
    spill) volume shrinks by the join selectivity (+fpp). Spark's own
    runtime bloom (``spark.sql.optimizer.runtime.bloomFilter.enabled``)
    applies the same idea only when the optimizer can prove selectivity;
    this operator makes the bit budget (``fpp``/``m_bits``) and the
    build side explicit. If ``expected_items`` / ``m_bits`` are omitted,
    one small-side ``count()`` job sizes the filter (cheap by the
    operator's own premise that ``small`` is the small side).
    """
    if how not in ("inner", "left_semi"):
        raise ValueError(
            "bloom_filtered_join is sound only for how in "
            f"('inner', 'left_semi'); got {how!r}"
        )
    on = _as_list(on)
    if expected_items is None and (m_bits is None or k is None):
        expected_items = max(small.count(), 1)
    flt = bloom_build(
        small, on, expected_items=expected_items, fpp=fpp, m_bits=m_bits, k=k
    )
    flag = "__bloom_might__"
    pruned = (
        with_might_contain(big, on, flt, alias=flag)
        .filter(F.col(flag))
        .drop(flag)
    )
    return pruned.join(small, on, how)


class CbfAggregator(SketchAggregator):
    """Counting Bloom filter (Fan et al. 2000): deletion-capable membership.

    Rows carry a signed delta (+1 insert / -1 delete; any int64 weight),
    read from ``weight_col`` (the ``delta_col`` argument); a NULL delta
    is no update.
    Partials are Z-valued counter vectors and the merge is vector addition —
    a commutative group, so a partition holding only the delete rows of a
    key merges correctly with the partition holding its inserts, in any
    order, to byte-identical results. Validity (no negative cell) is a
    property of the fully merged filter and is checked at probe time.
    """

    name = "cbf"

    def __init__(
        self,
        log2_m: int = cbf.DEFAULT_LOG2_M,
        k: int = cbf.DEFAULT_K,
        delta_col: str | None = None,
        hashing: str = "xxhash64",
    ):
        cbf.empty(log2_m, k)  # validate eagerly
        self.log2_m, self.k = log2_m, k
        self.weight_col, self.hashing = delta_col, hashing
        self.finalize_fields = [
            T.StructField("net_added", T.LongType(), False),
            T.StructField("fill_ratio", T.DoubleType(), False),
        ]

    def prepare_columns(self, df: DataFrame, cols: list[str]):
        delta = (
            F.col(self.weight_col).cast("long")
            if self.weight_col is not None
            else F.lit(1).cast("long")
        )
        return [_hash_expr(cols, self.hashing), delta]

    def build(self, cols, bounds) -> list[bytes]:
        hashes = _to_numpy_u64(cols[0])
        deltas = np.asarray(cols[1], dtype=np.int64)
        return [cbf.from_hashes(hashes[s:e], deltas[s:e], self.log2_m, self.k)
                for s, e in zip(bounds, bounds[1:])]

    def merge_many(self, sketches: list[bytes]) -> bytes:
        return cbf.merge_many(sketches)

    def finalize(self, sketch: bytes) -> dict[str, Any]:
        _, _, net = cbf.params(sketch)
        return {"net_added": net, "fill_ratio": cbf.fill_ratio(sketch)}


def cbf_build(
    df: DataFrame,
    cols: str | list[str],
    delta_col: str | None = None,
    log2_m: int = cbf.DEFAULT_LOG2_M,
    k: int = cbf.DEFAULT_K,
    hashing: str = "xxhash64",
    fan_in: int = 32,
) -> bytes:
    """Distributed counting-Bloom build -> driver-held filter bytes.
    ``delta_col`` (int, +insert/-delete) defaults to +1 per row."""
    agg = CbfAggregator(log2_m, k, delta_col=delta_col, hashing=hashing)
    return collect_merged(df, cols, agg, fan_in=fan_in)


def cbf_agg(
    df: DataFrame,
    cols: str | list[str],
    group_by: str | list[str] | None = None,
    delta_col: str | None = None,
    log2_m: int = cbf.DEFAULT_LOG2_M,
    k: int = cbf.DEFAULT_K,
    hashing: str = "xxhash64",
) -> DataFrame:
    """Per-group counting-Bloom sketches as a BinaryType column."""
    agg = CbfAggregator(log2_m, k, delta_col=delta_col, hashing=hashing)
    return sketch_agg(df, cols, agg, group_by, finalize=False)


def with_cbf_might_contain(
    df: DataFrame,
    cols: str | list[str],
    sketch: bytes,
    alias: str = "might_contain",
    hashing: str = "xxhash64",
) -> DataFrame:
    """Probe a counting-Bloom filter: true iff all k counters > 0. No false
    negatives for keys with positive net insert count; raises if the merged
    filter has negative cells (deletes of never-inserted keys). A key with
    a NULL column gives NULL."""
    sketch = bytes(sketch)
    cbf.validate(sketch)  # fail fast on the driver, not inside executors

    probe = hash_probe_udf(cbf.might_contain, sketch, T.BooleanType())
    return df.withColumn(alias, probe(_probe_hash(_as_list(cols), hashing)))
