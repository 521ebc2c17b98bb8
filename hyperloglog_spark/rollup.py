"""Sketch-column re-aggregation (rollup): merge STORED sketches, no rescan.

This is the pattern that makes sketches valuable in a lakehouse: persist
per-(day, key) sketch rows once (`hll_sketch_agg`,
`cms_sketch_agg`, ...), then answer every coarser query — per key, per
week, global — by merging the stored BinaryType cells. At 10^12-turn
scale the rollup input is millions of ~KB sketch rows, not the trillion
data rows, so a query that would rescan 100 TB becomes a sub-second
merge of a few GB.

The reference has no stored-state story at all (its `EstimatorState` is
internal-only, /root/reference/HyperLogLog/EstimatorState.cs:5-12); its
n-ary `Merge(IList)` (/root/reference/HyperLogLog/HyperLogLog.cs:788-803)
is the single-process seed of this operator. Our codec envelope is
self-describing (magic/version/kind — sketch/codec.py), so ONE operator
serves all nine sketch kinds; a group whose cells mix kinds (or, for HLL,
precisions — mirroring the equal-m check at HyperLogLog.cs:740-744)
raises rather than merging garbage.

Scale shape: the stored cells ride the build path's two-phase pipeline
(engine/aggregate.py) as a sketch kind of their own — phase 1 folds each
input partition's cells per key, so at most (#partitions x #groups) sketch
rows cross the shuffle, and phase 2 is the shared sorted merge. Merges are
associative and commutative, so the rolled-up sketch is byte-identical to
one built directly from the raw rows (asserted in tests/test_rollup.py).
NULL cells are skipped; ``hll_rollup`` and ``quantiles_rollup`` then read
each merged cell through an ``engine.cells.cell_udf``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .engine.aggregate import (
    SKETCH_COL,
    SketchAggregator,
    _as_list,
    premerged_sketch,
    rename_output,
    sketch_agg,
)
from .engine.cells import cell_udf
from .functions import hll_estimate_udf
from .sketch import (
    bloom,
    cbf,
    cms,
    codec,
    countsketch,
    fd,
    hll,
    kll,
    tdigest,
    theta,
)

__all__ = ["merge_sketches", "hll_rollup", "quantiles_rollup"]

_MERGERS = {
    codec.KIND_HLL: hll.merge_many,
    codec.KIND_CMS: cms.merge_many,
    codec.KIND_BLOOM: bloom.merge_many,
    codec.KIND_KLL: kll.merge_many,
    codec.KIND_TDIGEST: tdigest.merge_many,
    codec.KIND_THETA: theta.union_many,
    codec.KIND_COUNTSKETCH: countsketch.merge_many,
    codec.KIND_CBF: cbf.merge_many,
    codec.KIND_FD: fd.merge_many,
}


def _merge_cells(sketches: list[bytes], fold_to: int | None = None) -> bytes:
    kinds = {codec.sketch_kind(s) for s in sketches}
    if len(kinds) != 1:
        raise ValueError(
            f"cannot merge mixed sketch kinds in one group: {sorted(kinds)}"
        )
    kind = kinds.pop()
    if fold_to is not None:
        if kind != codec.KIND_HLL:
            raise ValueError("fold_to applies to HLL cells only")
        sketches = [hll.fold(s, fold_to) for s in sketches]
    return _MERGERS[kind](sketches)


class _StoredCells(SketchAggregator):
    """Stored sketch cells as a sketch build: building a group's sketch IS
    merging its cells, so the rollup rides the same two-phase pipeline
    (and the same streamed phase 2) as every build."""

    def __init__(self, fold_to: int | None):
        self.fold_to = fold_to

    def prepare_columns(self, df: DataFrame, cols: list[str]):
        return [F.col(cols[0])]

    def build(self, cols, bounds) -> list[bytes]:
        cells = cols[0].to_pylist()
        return [self.merge_many(cells[s:e])
                for s, e in zip(bounds, bounds[1:])]

    def merge_many(self, sketches: list[bytes]) -> bytes:
        return _merge_cells(sketches, self.fold_to)


def merge_sketches(
    df: DataFrame,
    sketch_col: str = SKETCH_COL,
    group_by: str | list[str] | None = None,
    alias: str = SKETCH_COL,
    fold_to: int | None = None,
) -> DataFrame:
    """Merge a BinaryType sketch column per group (global when no group).

    Returns group_by + one merged-sketch column. NULL cells are skipped;
    a group with only NULLs is dropped (grouped-aggregation convention,
    same as the build path on empty input). Works for every sketch kind
    the codec knows — kind is read from the cell envelope.

    ``fold_to=p`` (HLL only) exactly folds every cell down to precision p
    before merging — for stores whose shards were written at different
    precisions over time (see ``sketch.hll.fold``).
    """
    agg = _StoredCells(fold_to)
    if group_by:
        merged = sketch_agg(df, sketch_col, agg, group_by, finalize=False)
    else:
        # global rollup: tree-reduce the per-partition partials on the
        # cluster — a single-group merge would funnel one partial per
        # input partition into ONE task, a cliff for byte-heavy stored
        # cells (Bloom/CBF) at 10^5+ partitions
        merged = premerged_sketch(df, sketch_col, agg)
    return rename_output(merged, SKETCH_COL, alias)


def hll_rollup(
    df: DataFrame,
    sketch_col: str = SKETCH_COL,
    group_by: str | list[str] | None = None,
    alias: str = "approx_distinct",
    fold_to: int | None = None,
) -> DataFrame:
    """Roll stored HLL sketches up to coarser groups and estimate.

    ``hll_rollup(daily, group_by="event_type")`` over per-(event_type, day)
    sketch rows gives the same estimates as sketching the raw rows per
    event_type — byte-identical registers, zero data rescan. ``fold_to=p``
    exactly folds mixed-precision shards to p first.
    """
    merged = merge_sketches(df, sketch_col, group_by, alias="__sk",
                            fold_to=fold_to)
    group_cols = _as_list(group_by)
    return merged.select(
        *[F.col(c) for c in group_cols],
        hll_estimate_udf(F.col("__sk")).alias(alias),
    )


def quantiles_rollup(
    df: DataFrame,
    qs: list[float],
    sketch_col: str = SKETCH_COL,
    group_by: str | list[str] | None = None,
) -> DataFrame:
    """Quantiles at ranks ``qs`` from STORED KLL or t-digest sketch rows,
    merged up to ``group_by`` — the quantile twin of :func:`hll_rollup`.
    The kind (KLL vs t-digest) is read from each cell's codec envelope.
    Output columns follow approx_quantiles naming (0.5 -> q5, 0.99 -> q99).
    """
    from .quantiles import _q_name

    qs = list(qs)
    if any(not 0 <= q <= 1 for q in qs):
        raise ValueError(f"quantile ranks must be in [0, 1]: {qs}")
    merged = merge_sketches(df, sketch_col, group_by, alias="__sk")
    group_cols = _as_list(group_by)

    @cell_udf(T.ArrayType(T.DoubleType()))
    def qudf(cell):
        kind = codec.sketch_kind(cell)
        if kind == codec.KIND_KLL:
            vals = kll.quantiles(cell, qs)
        elif kind == codec.KIND_TDIGEST:
            vals = tdigest.quantiles(cell, qs)
        else:
            raise ValueError(
                f"quantiles_rollup needs KLL/t-digest cells, got kind {kind}"
            )
        return [None if np.isnan(v) else float(v) for v in vals]

    sel = merged.select(
        *[F.col(c) for c in group_cols], qudf(F.col("__sk")).alias("__qs")
    )
    return sel.select(
        *[F.col(c) for c in group_cols],
        *[
            F.element_at("__qs", i + 1).alias(_q_name(q))
            for i, q in enumerate(qs)
        ],
    )
