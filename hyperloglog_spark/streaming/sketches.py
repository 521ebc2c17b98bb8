"""Stateful streaming sketch aggregation (Structured Streaming).

Sketches are the canonical streaming-aggregation state: tiny (≤16 KB),
mergeable, and update-in-place. The reference's ``AddAs*(Stream)`` ingest
(/root/reference/HyperLogLog/HyperLogLog.cs:464-530) maps here to
``readStream`` micro-batches folded into per-group sketch state with
``applyInPandasWithState`` (SURVEY.md §1.2):

    state[group]  =  merge(state[group], build(batch_rows_of_group))
    emit          =  finalize(state[group])        every trigger (update mode)

Value preparation (hashing, casts) stays JVM-side exactly as in the batch
path — the same ``SketchAggregator`` drives both (here each pandas chunk of
a group is one ``build(cols, [0, n])`` run), and the same front door
(``engine.aggregate.sketch_input``: column lists, name checks, the NULL
rule, the ``-0.0`` key fold) feeds both, so batch and streaming estimates
are bit-identical on identical input (asserted in tests).

Scale notes: state per group is one sketch blob in the state store; the
shuffle per micro-batch moves raw rows once to group them (unavoidable in
update mode); watermark + per-window groups bound state growth for
event-time queries. ``streaming_approx_distinct`` names its estimate column
by renaming the aggregator's ``approx_distinct`` output, as the batch
``approx_distinct`` does.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..engine.aggregate import (
    SKETCH_COL,
    SketchAggregator,
    _group_field,
    rename_output,
    sketch_input,
)
from ..functions import HllAggregator, hll_sketch_agg


def streaming_sketch_agg(
    df: DataFrame,
    value_cols: list[str] | str,
    agg: SketchAggregator,
    group_cols: list[str] | str,
    emit_sketch: bool = False,
) -> DataFrame:
    """Per-group streaming sketch aggregation in update mode.

    Emits one row per group per trigger with the group's current finalized
    estimate. State = the serialized sketch (associative merge makes
    restarts and late arrivals exact, not approximate-on-approximate).
    ``emit_sketch=True`` appends the serialized sketch itself to every
    emitted row — continuous sketch-row production for downstream batch
    rollups / point queries (the update-mode sibling of
    ``sketch_shard_sink``).
    """
    fin_names = [f.name for f in agg.finalize_fields]
    proj, group_cols = sketch_input(
        df, value_cols, agg, group_cols,
        fin_names + [SKETCH_COL] if emit_sketch else fin_names)
    if not group_cols:
        raise ValueError("streaming aggregation needs ≥1 group column "
                         "(use a literal for a global stream)")
    value_names = proj.columns[len(group_cols):]

    out_fields = [_group_field(df, c) for c in group_cols] + list(
        agg.finalize_fields)
    if emit_sketch:
        out_fields = out_fields + [T.StructField(SKETCH_COL, T.BinaryType())]
    out_schema = T.StructType(out_fields)
    state_schema = T.StructType([T.StructField(SKETCH_COL, T.BinaryType())])
    build = agg.build
    merge_many = agg.merge_many
    finalize = agg.finalize

    def update_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        parts: list[bytes] = []
        if state.exists:
            (prev,) = state.get
            parts.append(bytes(prev))
        for pdf in pdfs:
            if not len(pdf):
                continue
            cols = [pa.array(pdf[n]) for n in value_names]
            parts.extend(build(cols, [0, len(pdf)]))
        if not parts:
            return
        merged = merge_many(parts)
        state.update((bytearray(merged),))
        vals = finalize(merged)
        row = {c: [k] for c, k in zip(group_cols, key)}
        for n in fin_names:
            row[n] = [vals[n]]
        if emit_sketch:
            row[SKETCH_COL] = [merged]
        yield pd.DataFrame(row)

    return proj.groupBy(*group_cols).applyInPandasWithState(
        update_fn, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_approx_distinct(
    df: DataFrame,
    cols: list[str] | str,
    group_by: list[str] | str,
    p: int = 14,
    alias: str = "approx_distinct",
) -> DataFrame:
    """Streaming HLL distinct per group (update mode, exact restarts)."""
    out = streaming_sketch_agg(df, cols, HllAggregator(p=p), group_by)
    return rename_output(out, "approx_distinct", alias)


def streaming_approx_quantiles(
    df: DataFrame,
    col: str,
    group_by: list[str] | str,
    qs: list[float],
    method: str = "kll",
    **params,
) -> DataFrame:
    """Streaming KLL / t-digest quantiles per group (update mode).

    The same mergeable aggregators as the batch path ride the generic
    streaming skeleton; in the exact regime (k >= stream size for KLL,
    n < 2δ/π for t-digest) the streamed estimate equals the batch one
    value-for-value, and beyond it the published rank-error bounds hold
    (micro-batch splits only change which compactions fire, not the
    guarantee)."""
    from ..quantiles import _method_agg

    agg = _method_agg(method, "quantiles", qs, **params)
    return streaming_sketch_agg(df, col, agg, group_by)


def streaming_approx_quantiles_weighted(
    df: DataFrame,
    col: str,
    weight_col: str,
    group_by: list[str] | str,
    qs: list[float],
    method: str = "tdigest",
    **params,
) -> DataFrame:
    """Streaming WEIGHTED quantiles per group (update mode): each row
    contributes ``weight_col`` units of mass — the dedup-aware quantile
    form, continuously. Same aggregators as the batch
    ``approx_quantiles_weighted`` (t-digest: arbitrary positive weights;
    KLL: integer weights, exact binary-decomposition placement) riding the
    generic skeleton; in the KLL no-compaction regime the streamed state
    is byte-identical to the batch build over the same rows."""
    from ..quantiles import _method_agg

    agg = _method_agg(method, "weighted", qs, weight_col=weight_col, **params)
    return streaming_sketch_agg(df, col, agg, group_by)


def streaming_cms_sketches(
    df: DataFrame,
    col: str,
    group_by: list[str] | str,
    d: int | None = None,
    log2_w: int | None = None,
) -> DataFrame:
    """Streaming count-min per group (update mode), EMITTING the sketch:
    every trigger yields each group's current CMS bytes (plus n_total), so
    a downstream batch job can point-query frequencies at any moment.
    Counter addition is exact and associative, so the streamed sketch is
    byte-identical to a batch build over the same rows."""
    from ..frequency import CmsAggregator
    from ..sketch import cms

    agg = CmsAggregator(
        d if d is not None else cms.DEFAULT_D,
        log2_w if log2_w is not None else cms.DEFAULT_LOG2_W,
    )
    return streaming_sketch_agg(df, col, agg, group_by, emit_sketch=True)


def streaming_windowed_distinct(
    df: DataFrame,
    cols: list[str] | str,
    ts_col: str,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    p: int = 14,
    alias: str = "approx_distinct",
) -> DataFrame:
    """Event-time tumbling-window HLL distinct with a watermark.

    The window start becomes a group key (computed JVM-side by flooring the
    event time), so state is bounded by #live windows; the watermark lets
    the engine drop state for closed windows.
    """
    import re

    m = re.match(r"(\d+)\s*(second|minute|hour|day)s?", window)
    if not m:
        raise ValueError(f"unsupported window spec: {window}")
    secs = int(m.group(1)) * {
        "second": 1, "minute": 60, "hour": 3600, "day": 86400
    }[m.group(2)]

    with_win = (
        # watermarks require TIMESTAMP (not NTZ); session TZ is pinned UTC
        df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .withColumn(
            "window_start",
            F.timestamp_seconds(
                (F.unix_timestamp(F.col(ts_col)) / secs).cast("long") * secs
            ),
        )
    )
    out = streaming_approx_distinct(
        with_win, cols, "window_start", p=p, alias=alias
    )
    return out


def sketch_shard_sink(
    df: DataFrame,
    cols: list[str] | str,
    path: str,
    checkpoint: str,
    group_by: list[str] | str | None = None,
    p: int = 14,
):
    """Continuous shard production: a ``foreachBatch`` sink that appends one
    HLL sketch row per (group, micro-batch) to a parquet directory — the
    streaming producer for ``rollup.hll_rollup`` / ``merge_sketches``.

    Exactly-once WITHOUT transactional sinks: foreachBatch is at-least-once
    under recovery (a replayed batch appends duplicate shard rows), but the
    register-max merge is IDEMPOTENT — merging a shard twice is a no-op —
    so estimates from rolling up the stored rows are exact regardless of
    replay (asserted in tests). ``batch_id`` is recorded per row for
    lineage/debugging, not for dedup.

    Returns the started StreamingQuery's writer — call
    ``.trigger(...).start()`` (or ``.trigger(availableNow=True)``) on it.
    """
    def write_batch(bdf, bid: int) -> None:
        if not bdf.isEmpty():
            (hll_sketch_agg(bdf, cols, group_by=group_by, p=p)
             .withColumn("batch_id", F.lit(bid))
             .write.mode("append").parquet(path))

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
    )
