"""Two-phase distributed sketch aggregation.

Python UDAFs get no automatic partial aggregation from Catalyst, so the
map-side combine is built explicitly (SURVEY.md §3.4):

    phase 1 (mapInArrow):  per-partition, per-group sketch build — each
                           Arrow batch is stably sorted once by its keys
                           (no sort when it holds one key), cut into runs
                           of equal keys, and each kind's ``build`` makes
                           one sketch per run; one output row per
                           (partition, group), each a BinaryType sketch
                           (16 KB dense / smaller sparse)
    phase 2 (shuffle):     repartition(group_cols).sortWithinPartitions
                           (group_cols).mapInArrow — one streamed pass per
                           shuffle partition cuts the sorted partials into
                           groups, merges each group in ONE merge_many call,
                           then finalizes (global: repartition(1), no sort).
                           ``reduce_sorted_groups`` is this pass, and the
                           only phase 2 here: the JVM HLL engines, the
                           stored-sketch rollup, the count-min heavy-hitter
                           rank step and each level of ``tree_merge_rows``
                           ride it too

The shuffle therefore moves #partitions x #groups sketch rows, never data
rows — this is what makes the pipeline scan-bound and embarrassingly parallel
at 100 TB (the reference's designed-in distribution hook is the register-max
monoid, /root/reference/HyperLogLog/HyperLogLog.cs:733-781; we exploit the
same property for every sketch kind).

Hashing runs JVM-side by default (``F.xxhash64``, whole-stage codegen; only
8-byte hashes cross the Arrow boundary, not strings). ``hashing="parity"``
instead ships raw values to Python and applies the reference's FNV-1a 64 /
Murmur-finalizer for bit-parity with the reference sketches.

Every build enters through ONE front door, ``sketch_input``, which owns
the input rules of every path (``sketch_agg``, ``sketch_partials``,
``premerged_sketch``, ``collect_merged``, the checkpointed build and
streaming):

- lists: value and group columns are each a name or a list of names;
- driver checks: an empty value list, or an output name that repeats
  (group columns plus ``sketch``/``rows`` or the finalize fields, and any
  alias an entry point renames to, see ``rename_output``), raises
  ``ValueError`` before anything runs;
- NULL rule: a row adds nothing when a value column is NULL, or when the
  aggregator's weight (or delta) column is — COUNT(DISTINCT)'s rule for
  the values, SQL ``SUM``'s for the weights.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterator
from operator import and_
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SKETCH_COL = "sketch"


class SketchAggregator:
    """Adapter every sketch kind implements to ride the two-phase pipeline.

    Input rows arrive through ``sketch_input``: a row whose value column
    or ``weight_col`` is NULL never reaches ``prepare_columns``' output.

    weight_col:    raw column of per-row weights (or deltas); None: each
                   row counts once
    build:         (cols list[pa.Array], bounds list[int]) -> list[bytes]
                   one sketch per group: ``cols`` are the prepared value
                   columns ordered by group, group i is rows
                   ``bounds[i]:bounds[i+1]`` in input order. A kind never
                   sorts or groups rows itself.
    merge_many:    (list[bytes]) -> bytes
    finalize:      (bytes) -> dict[field -> python value]
    finalize_schema: pyspark StructType fields for the finalized values
    """

    name: str = "sketch"
    weight_col: str | None = None

    def prepare_columns(self, df: DataFrame, cols: list[str]) -> list[Column]:
        """Spark-side (JVM) preparation of the value columns."""
        raise NotImplementedError

    def build(self, cols: list[pa.Array], bounds: list[int]) -> list[bytes]:
        raise NotImplementedError

    def merge_many(self, sketches: list[bytes]) -> bytes:
        raise NotImplementedError

    def finalize(self, sketch: bytes) -> dict[str, Any]:
        raise NotImplementedError

    finalize_fields: list[T.StructField] = []


_NAN = float("nan")
# groups per output RecordBatch of the phase-2 merge
_FLUSH_GROUPS = 4096


def _canon(v):
    """Python group-key value with every NaN mapped to ONE float object:
    Spark groups all NaNs together, and a shared object makes NaN keys
    compare and hash equal inside tuples (NaN != NaN otherwise)."""
    return _NAN if isinstance(v, float) and v != v else v


def _key_codes(cols: list[pa.Array]) -> tuple[list[np.ndarray], list[list]]:
    """Per-column codes and code -> key value lists. NULL is a key of its
    own, distinct from NaN; all NaNs share one code. Codes take the
    narrowest unsigned dtype that holds them: numpy's stable sort is a
    radix sort on 8- and 16-bit keys, several times faster than on int64."""
    encs = [pc.dictionary_encode(c, null_encoding="encode") for c in cols]
    return (
        [e.indices.to_numpy().astype(np.min_scalar_type(len(e.dictionary)))
         for e in encs],
        [[_canon(v) for v in e.dictionary.to_pylist()] for e in encs],
    )


def _run_bounds(codes: list[np.ndarray], n: int) -> list[int]:
    """Run bounds of ``n`` key-sorted rows: run i is rows
    ``bounds[i]:bounds[i+1]``, and a run ends where any key column's code
    changes (no key columns: one run)."""
    new = np.zeros(n, dtype=bool)
    new[0] = True
    for c in codes:
        new[1:] |= c[1:] != c[:-1]
    return np.flatnonzero(new).tolist() + [n]


def _group_field(df: DataFrame, name: str) -> T.StructField:
    for f in df.schema.fields:
        if f.name == name:
            return f
    raise ValueError(f"group column {name!r} not in schema {df.schema.simpleString()}")


def _group_col(df: DataFrame, name: str) -> Column:
    """Group column with -0.0 folded into 0.0 for float keys, as Spark's
    groupBy normalizes them (NaNs need no fold: every NaN encodes to one
    code in ``_key_codes``)."""
    c = F.col(name)
    dt = _group_field(df, name).dataType
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return F.when(c == 0, F.lit(0.0).cast(dt)).otherwise(c).alias(name)
    return c


def _as_list(cols: str | list[str] | None) -> list[str]:
    return [cols] if isinstance(cols, str) else list(cols or [])


def _value_cols(cols: str | list[str]) -> list[str]:
    cols = _as_list(cols)
    if not cols:
        raise ValueError("need at least one column")
    return cols


def _check_output_names(group_cols: list[str], tail: list[str]) -> None:
    """Each output column is one Arrow field of the finalize: a repeated
    name must fail here, not in the executor."""
    names = [*group_cols, *tail]
    clash = sorted({n for n in names if names.count(n) > 1})
    if clash:
        raise ValueError(f"output field(s) {clash} repeat: group and "
                         "result columns need distinct names")


def _drop_null_rows(df: DataFrame, cols: list[str]) -> DataFrame:
    # COUNT(DISTINCT a, b, ...) semantics: skip rows where any key is NULL
    return df.filter(
        functools.reduce(and_, [F.col(c).isNotNull() for c in cols]))


def counted_rows(df: DataFrame, value_cols: list[str],
                 weight_col: str | None) -> DataFrame:
    """The rows that count under the NULL rule: no value column and no
    ``weight_col`` (weight or delta) is NULL. ``sketch_input`` applies it,
    and so do the heavy-hitter paths that build their own rows."""
    weights = [] if weight_col is None else [weight_col]
    return _drop_null_rows(df, value_cols + weights)


def sketch_input(
    df: DataFrame,
    value_cols: str | list[str],
    agg: SketchAggregator,
    group_cols: str | list[str] | None,
    tail: list[str],
) -> tuple[DataFrame, list[str]]:
    """The front door of every sketch build: ``(projection, group
    columns)``, the projection holding the group keys (``-0.0`` folded,
    see ``_group_col``) then ``agg``'s prepared values ``__v0..``, over
    the rows that count. ``tail`` names the output columns that follow
    the keys. Applies the three input rules of the module docstring."""
    value_cols, group_cols = _value_cols(value_cols), _as_list(group_cols)
    _check_output_names(group_cols, tail)
    rows = counted_rows(df, value_cols, agg.weight_col)
    prepared = agg.prepare_columns(rows, value_cols)
    return rows.select(
        *[_group_col(df, c) for c in group_cols],
        *[c.alias(f"__v{i}") for i, c in enumerate(prepared)],
    ), group_cols


def rename_output(out: DataFrame, name: str, alias: str) -> DataFrame:
    """``out`` with its column ``name`` renamed to ``alias``, which must
    not repeat another output name."""
    _check_output_names([c for c in out.columns if c != name], [alias])
    return out.withColumnRenamed(name, alias)


def sketch_partials(
    df: DataFrame,
    value_cols: str | list[str],
    agg: SketchAggregator,
    group_cols: str | list[str] | None = None,
    with_rows: bool = False,
) -> DataFrame:
    """Phase 1: one sketch row per (partition, group).

    with_rows=True adds a ``rows`` LongType column counting the input rows
    each partial consumed (lineage/metrics come free from the same scan)."""
    tail = [SKETCH_COL, "rows"] if with_rows else [SKETCH_COL]
    proj, group_cols = sketch_input(df, value_cols, agg, group_cols, tail)
    return _partials(df, proj, group_cols, agg, SKETCH_COL, with_rows)


def _partials(
    df: DataFrame,
    proj: DataFrame,
    group_cols: list[str],
    agg: SketchAggregator,
    sketch_name: str,
    with_rows: bool,
) -> DataFrame:
    """``sketch_partials`` over ``sketch_input``'s projection ``proj`` of
    ``df``, the partial in column ``sketch_name``."""
    out_fields = [_group_field(df, c) for c in group_cols] + [
        T.StructField(sketch_name, T.BinaryType(), False)
    ]
    if with_rows:
        out_fields.append(T.StructField("rows", T.LongType(), False))
    out_schema = T.StructType(out_fields)
    out_arrow = pa.schema(
        [pa.field(f.name, _to_arrow(f.dataType)) for f in out_fields]
    )

    n_keys = len(group_cols)
    build = agg.build
    merge_many = agg.merge_many

    def build_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc: dict[tuple, bytes] = {}
        nrows: dict[tuple, int] = {}
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            cols = batch.columns[n_keys:]
            col_codes, col_uniqs = _key_codes(batch.columns[:n_keys])
            if any(len(u) > 1 for u in col_uniqs):
                # one stable sort by the keys: rows of a group end up
                # adjacent, in input order
                order = np.lexsort(col_codes[::-1])
                col_codes = [c[order] for c in col_codes]
                cols = [c.take(order) for c in cols]
                bounds = _run_bounds(col_codes, n)
            else:
                bounds = [0, n]
            sketches = build(cols, bounds)
            for s, e, sk in zip(bounds, bounds[1:], sketches):
                key = tuple(u[c[s]] for c, u in zip(col_codes, col_uniqs))
                prev = acc.get(key)
                acc[key] = sk if prev is None else merge_many([prev, sk])
                nrows[key] = nrows.get(key, 0) + e - s
        if not acc:
            return
        keys = list(acc.keys())
        arrays = []
        for i in range(n_keys):
            arrays.append(
                pa.array([k[i] for k in keys], type=out_arrow.field(i).type)
            )
        arrays.append(
            pa.array([acc[k] for k in keys], type=pa.binary())
        )
        if with_rows:
            arrays.append(pa.array([nrows[k] for k in keys], type=pa.int64()))
        yield pa.RecordBatch.from_arrays(arrays, schema=out_arrow)

    return proj.mapInArrow(build_partition, out_schema)


def sketch_agg(
    df: DataFrame,
    value_cols: str | list[str],
    agg: SketchAggregator,
    group_cols: str | list[str] | None = None,
    finalize: bool = True,
) -> DataFrame:
    """Full two-phase aggregation. Returns group_cols + finalized fields
    (or group_cols + the merged sketch when finalize=False).

    Phase 2 (``reduce_sorted_groups``) merges each group's partials in a
    single ``merge_many`` call — the same multiset in one call as a
    per-group merge, so the bytes do not depend on the batching."""
    if finalize:
        tail_fields = list(agg.finalize_fields)
    else:
        tail_fields = [T.StructField(SKETCH_COL, T.BinaryType(), False)]
    names = [f.name for f in tail_fields]
    proj, group_cols = sketch_input(df, value_cols, agg, group_cols, names)
    # the partial column is internal: it takes ``sketch`` unless a group
    # key has that name
    part = SKETCH_COL
    while part in group_cols:
        part = "_" + part
    partials = _partials(df, proj, group_cols, agg, part, False)
    merge_many, fin = agg.merge_many, agg.finalize

    def reduce(group: pa.Table) -> tuple:
        merged = merge_many(group.column(part).to_pylist())
        if not finalize:
            return (merged,)
        vals = fin(merged)
        return tuple(vals[n] for n in names)

    return reduce_sorted_groups(partials, group_cols, tail_fields, reduce)


def reduce_sorted_groups(
    rows: DataFrame,
    group_cols: list[str],
    tail_fields: list[T.StructField],
    reduce: Callable[[pa.Table], tuple],
) -> DataFrame:
    """Phase 2 of every two-phase aggregation: one output row per group,
    group_cols + ``tail_fields``, the tail computed by ``reduce`` from the
    group's rows (all columns of ``rows``, as one Arrow table).

    ``rows`` is hash-partitioned on the group keys and each shuffle
    partition sorted by them (global: one partition, no sort); ONE
    mapInArrow pass per partition then streams the sorted batches and cuts
    groups at key changes (a group may span batches). Keys stay Arrow
    values end to end, so NULL, NaN and ±0.0 keys come out as Spark's
    ``groupBy`` forms them. Python holds one group's rows at a time."""
    out_fields = [_group_field(rows, c) for c in group_cols] + tail_fields
    out_arrow = pa.schema(
        [pa.field(f.name, _to_arrow(f.dataType)) for f in out_fields]
    )
    n_keys = len(group_cols)

    def reduce_partition(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        out: list[tuple] = []
        key: tuple | None = None  # key of the open group
        pending: list[pa.RecordBatch] = []  # its rows so far

        def close_group() -> None:
            out.append(key + reduce(pa.Table.from_batches(pending)))

        def flush() -> pa.RecordBatch:
            cols = list(zip(*out))
            out.clear()
            return pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, out_arrow)],
                schema=out_arrow,
            )

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            col_codes, col_uniqs = _key_codes(
                [batch.column(i) for i in range(n_keys)]
            )
            # the input is sorted by key (row 0 may continue the open group)
            bounds = _run_bounds(col_codes, n)
            for s, e in zip(bounds, bounds[1:]):
                k = tuple(u[c[s]] for c, u in zip(col_codes, col_uniqs))
                if k != key:
                    if pending:
                        close_group()
                        if len(out) >= _FLUSH_GROUPS:
                            yield flush()
                    key, pending = k, []
                pending.append(batch.slice(s, e - s))
        if pending:
            close_group()
        if out:
            yield flush()

    if group_cols:
        shuffled = rows.repartition(*group_cols).sortWithinPartitions(
            *group_cols
        )
    else:
        shuffled = rows.repartition(1)
    return shuffled.mapInArrow(reduce_partition, T.StructType(out_fields))


def _to_arrow(dt: T.DataType) -> pa.DataType:
    from pyspark.sql.pandas.types import to_arrow_type

    return to_arrow_type(dt)


def tree_merge_rows(
    partials: DataFrame,
    merge_many: Callable[[list[bytes]], bytes],
    fan_in: int = 32,
    n_partials: int | None = None,
) -> DataFrame:
    """Tree-reduce a one-sketch-row-per-partition DataFrame to ONE row.

    The rows are reduced on the cluster in ``ceil(log_fan_in(P))`` levels,
    each one ``reduce_sorted_groups`` pass: a level groups CONTIGUOUS runs
    of ``fan_in`` partials (key ``floor(origin / fan_in)``) and merges each
    group sorted by origin; the last level is the global (keyless) form.
    The whole tree is therefore a pure RE-BRACKETING of the sequential
    left-to-right merge — byte-identical for every sketch kind with the
    re-bracketing law (HLL/CMS/Bloom/CBF/Count-Sketch/theta/KMV: exact
    monoids; KLL/t-digest: shuffled-merge byte-identity is tested; FD:
    identical in the exact regime, certificate-lawful otherwise). No
    level's task ever holds more than ``fan_in`` partials. Returns a
    DataFrame with the single SKETCH_COL column and at most one row (zero
    when ``partials`` is empty)."""
    if fan_in < 2:
        raise ValueError(f"fan_in must be >= 2 (got {fan_in})")
    # upper bound on partial rows (empty partitions emit no row); callers
    # that already know the partition count pass it to avoid a second
    # DataFrame->RDD conversion
    n = (partials.rdd.getNumPartitions()
         if n_partials is None else n_partials)
    tail = [T.StructField(SKETCH_COL, T.BinaryType(), False)]

    def merge_bucket(group: pa.Table) -> tuple:
        # sorted by origin, the bucket merge replays left-to-right order
        ordered = group.sort_by("__b").column(SKETCH_COL).to_pylist()
        return (merge_many(ordered),)

    level = partials.select(
        F.spark_partition_id().cast("long").alias("__b"), F.col(SKETCH_COL)
    )
    while n > fan_in:
        # contiguous runs of fan_in origins -> one bucket, whose (dense,
        # order-preserving) index is the origin at the next level
        bucket = F.floor(F.col("__b") / F.lit(int(fan_in))).alias("__k")
        level = reduce_sorted_groups(
            level.select("*", bucket), ["__k"], tail, merge_bucket
        ).withColumnRenamed("__k", "__b")
        n = -(-n // fan_in)
    return reduce_sorted_groups(level, [], tail, merge_bucket)


def premerged_sketch(
    df: DataFrame,
    value_cols: str | list[str],
    agg: SketchAggregator,
    fan_in: int = 32,
) -> DataFrame:
    """Distributed tree-merge of the phase-1 partials down to ONE sketch row.

    Phase 1 emits one partial per scan partition; at 100 TB that is 1e5-1e6
    rows, and for byte-heavy sketches (a billion-key Bloom partial is ~1 GiB)
    a driver collect() of all of them is a genuine memory cliff — see
    ``tree_merge_rows`` for the reduction shape and its byte-identity
    guarantee."""
    partials = sketch_partials(df, value_cols, agg)
    return tree_merge_rows(partials, agg.merge_many, fan_in=fan_in)


def collect_merged(
    df: DataFrame,
    value_cols: str | list[str],
    agg: SketchAggregator,
    fan_in: int = 32,
) -> bytes:
    """Driver-side variant: build partials distributed, reduce to one
    sketch, collect it. Driver memory is bounded by ``fan_in`` partials at
    any partition count — the same bound every tree task holds:

    - P <= fan_in partitions: collect the partials directly (at most
      fan_in rows — exactly what a single merge task would hold) and fold
      them in partition order on the driver. No extra stage; this is the
      common small-job case and the left-to-right fold the tree
      re-brackets, so bytes are identical to the tree path.
    - P > fan_in: tree-merge ON THE CLUSTER (see premerged_sketch) and
      collect exactly one row. At 10^6 scan partitions and GiB-sized
      Bloom partials the driver sees one sketch, not a PiB."""
    if fan_in < 2:
        raise ValueError(f"fan_in must be >= 2 (got {fan_in})")
    partials = sketch_partials(df, value_cols, agg)
    n = partials.rdd.getNumPartitions()
    if n <= fan_in:
        rows = partials.select(
            F.spark_partition_id().alias("__b"), F.col(SKETCH_COL)
        ).collect()
        if not rows:
            raise ValueError("no input rows")
        ordered = sorted(rows, key=lambda r: r["__b"])
        return agg.merge_many([r[SKETCH_COL] for r in ordered])
    rows = tree_merge_rows(
        partials, agg.merge_many, fan_in=fan_in, n_partials=n
    ).collect()
    if not rows:
        raise ValueError("no input rows")
    return rows[0][SKETCH_COL]
