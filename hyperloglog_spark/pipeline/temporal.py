"""Temporal as-of join: attach the nearest past/future right row per key.

The workhorse of feature attribution in training-data pipelines ("which
model snapshot / config / consent record was live when this turn was
produced?"): for every left row ``(by, ts)``, find the single right row
with the greatest ``right_on <= ts`` (``direction="backward"``; smallest
``right_on >= ts`` for ``"forward"``), equality-matched on the ``by``
keys, optionally within ``tolerance_s`` seconds.

Spark has no ASOF JOIN operator (DuckDB/Pandas do — the oracle for this
module), and the naive formulation — range join + per-row argmax — is a
quadratic blow-up. This implementation never builds a range join:

- Default path: union both sides tagged with ``__side``, ONE window over
  ``(by)`` ordered by ``(ts, side)``, and ``last(right_struct,
  ignorenulls=True)`` forward-fills the most recent right row onto every
  left row. One shuffle total (the window sort); cost is the sort, not a
  join. The caveat is per-key partition size: every row of one ``by`` key
  lands in one task, fine when keys are plentiful (user_id), wrong for
  low-cardinality keys.
- ``bucket_s`` path (the 100-TB shape for hot keys): rows are windowed
  within ``(by, floor(ts / bucket_s))`` — bounded partitions regardless
  of key skew — and rows whose bucket holds no earlier right row are
  patched from a per-(key, bucket) "edge" table (ONE tiny row per key x
  bucket: the bucket's last right struct, forward-filled across buckets),
  joined back on (by, bucket). Identical output to the default path
  (asserted in tests), three bounded shuffles.

Right rows must be unique per ``(by, right_on)`` — pre-aggregate
duplicates (the gate query does ``groupBy(user, ts).agg(...)``); with
duplicates the matched row is deterministic only up to struct ordering.

No reference counterpart (the reference is a sketch library); this is
pipeline infrastructure the survey's §2 extension scope calls for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..engine.aggregate import _as_list

__all__ = ["asof_join"]

_TS = "__ts"
_SIDE = "__side"
_BUCKET = "__b"
_L = "__l"
_R = "__r"
_MATCH = "__m"


def _epoch(col: Column) -> Column:
    """Orderable seconds-since-epoch double. NTZ timestamps cannot cast
    straight to double; go via TIMESTAMP (session tz is pinned UTC by
    engine.session.get_spark, so this is deterministic)."""
    return col.cast("timestamp").cast("double")


def _is_temporal(df: DataFrame, name: str) -> bool:
    return df.schema[name].dataType.typeName().startswith("timestamp")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: str | list[str],
    left_on: str,
    right_on: str | None = None,
    right_cols: list[str] | None = None,
    direction: str = "backward",
    tolerance_s: float | None = None,
    suffix: str = "_r",
    bucket_s: float | None = None,
) -> DataFrame:
    """Left as-of join. Output = every left row + ``{right_on}{suffix}``
    (the matched right timestamp) + ``{c}{suffix}`` for each of
    ``right_cols`` (default: all right columns minus ``by`` and
    ``right_on``); all-NULL when no right row qualifies (left join
    semantics, matching DuckDB ``ASOF LEFT JOIN``).

    ``tolerance_s`` drops a match farther than that many seconds from the
    left timestamp — because the as-of match is the NEAREST qualifying
    row, this equals "no match within tolerance".
    """
    if direction not in ("backward", "forward"):
        raise ValueError(
            f"direction must be 'backward' or 'forward': {direction!r}"
        )
    if bucket_s is not None and bucket_s <= 0:
        raise ValueError(f"bucket_s must be positive: {bucket_s}")
    by = _as_list(by)
    right_on = right_on or left_on
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (*by, right_on)]
    for c in right_cols:
        if c in by or c == right_on:
            raise ValueError(f"right_cols entry {c!r} duplicates a key")

    l_ts = (_epoch(F.col(left_on)) if _is_temporal(left, left_on)
            else F.col(left_on).cast("double"))
    r_ts = (_epoch(F.col(right_on)) if _is_temporal(right, right_on)
            else F.col(right_on).cast("double"))

    r_struct = F.struct(
        r_ts.alias(_TS),
        F.col(right_on).alias(right_on),
        *[F.col(c) for c in right_cols],
    )
    l_struct = F.struct(*[F.col(c) for c in left.columns])
    r_type = right.select(r_struct.alias("x")).schema[0].dataType
    l_type = left.select(l_struct.alias("x")).schema[0].dataType

    l2 = left.select(
        *by,
        l_ts.alias(_TS),
        F.lit(1).alias(_SIDE),
        l_struct.alias(_L),
        F.lit(None).cast(r_type).alias(_R),
    )
    r2 = right.select(
        *by,
        r_ts.alias(_TS),
        F.lit(0).alias(_SIDE),
        F.lit(None).cast(l_type).alias(_L),
        r_struct.alias(_R),
    )
    u = l2.unionByName(r2)

    backward = direction == "backward"
    # right rows sort before left at the same instant (side 0 < 1), so an
    # exactly-coincident right row matches — inclusive in both directions
    order = (
        [F.col(_TS).asc(), F.col(_SIDE).asc()] if backward
        else [F.col(_TS).desc(), F.col(_SIDE).asc()]
    )

    if bucket_s is None:
        w = (
            Window.partitionBy(*by).orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        filled = u.withColumn(
            _MATCH, F.last(_R, ignorenulls=True).over(w)
        )
    else:
        bucket = F.floor(F.col(_TS) / F.lit(float(bucket_s)))
        wloc = (
            Window.partitionBy(*by, _BUCKET).orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        local = u.withColumn(_BUCKET, bucket).withColumn(
            _MATCH, F.last(_R, ignorenulls=True).over(wloc)
        )
        # per-(key, bucket) edge = the right row an adjacent bucket would
        # inherit: latest (backward) / earliest (forward) in the bucket.
        # The spine covers every (key, bucket) ANY row occupies — a bucket
        # holding only left rows still needs a carry filled into it.
        edge_pick = (F.max_by(_R, _TS) if backward else F.min_by(_R, _TS))
        spine = (
            u.withColumn(_BUCKET, bucket).select(*by, _BUCKET).distinct()
        )
        edges = spine.join(
            r2.withColumn(_BUCKET, bucket)
            .groupBy(*by, _BUCKET)
            .agg(edge_pick.alias("__edge")),
            on=[*by, _BUCKET], how="left",
        )
        wcarry = (
            Window.partitionBy(*by).orderBy(F.col(_BUCKET).asc())
            .rowsBetween(Window.unboundedPreceding, -1)
            if backward else
            Window.partitionBy(*by).orderBy(F.col(_BUCKET).asc())
            .rowsBetween(1, Window.unboundedFollowing)
        )
        carry_fill = (
            F.last("__edge", ignorenulls=True) if backward
            else F.first("__edge", ignorenulls=True)
        )
        carries = edges.withColumn("__carry", carry_fill.over(wcarry)) \
            .select(*by, _BUCKET, "__carry")
        filled = (
            local.join(carries, on=[*by, _BUCKET], how="left")
            .withColumn(_MATCH, F.coalesce(_MATCH, "__carry"))
        )

    m = F.col(_MATCH)
    if tolerance_s is not None:
        delta = (
            F.col(_TS) - m[_TS] if backward else m[_TS] - F.col(_TS)
        )
        m = F.when(delta <= F.lit(float(tolerance_s)), m)

    out = [F.col(f"{_L}.{c}").alias(c) for c in left.columns]
    out.append(m[right_on].alias(f"{right_on}{suffix}"))
    out.extend(m[c].alias(f"{c}{suffix}") for c in right_cols)
    return filled.filter(F.col(_SIDE) == 1).select(*out)
