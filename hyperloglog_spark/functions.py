"""Public DataFrame-level API: approximate distinct (HLL), sketch columns,
and estimate UDFs.

Usage:
    from hyperloglog_spark import approx_distinct, hll_sketch_agg, hll_estimate

    approx_distinct(df, "conv_id")                       # 1-row DataFrame
    approx_distinct(df, ["conv_id", "tool"])             # composite distinct
    approx_distinct(df, "text", group_by=["role","tool"])

Every ``hashing="spark"`` count-distinct (``approx_distinct``,
``approx_distinct_multi``, ``hll_sketch_agg``) takes one path at any group
count, ``_register_sets``: a codegen'd Project packs each row's HLL
register (``idx << 7 | σ``), ``groupBy(keys).agg(collect_set(...),
count(1))`` gathers each group's distinct registers in one shuffle (the
partial aggregate dedups them per partition, so never more entries than
data rows leave a partition), and one ``mapInArrow`` in the same stage
estimates or serializes every group of a batch in one numpy pass.
``HllAggregator`` is the BinaryType mergeable aggregator behind
``hll_merged_sketch``, checkpointed builds, streaming and
``hashing="parity"``.

The scalar UDFs over stored sketch cells (``hll_estimate_udf``,
``hll_merge_pair_udf``, ``hll_fold_udf``, ``hll_jaccard_udf``) are each one
``engine.cells.cell_udf`` call: a NULL argument gives NULL, except that a
NULL side of a merge is the empty sketch.
"""

from __future__ import annotations

from typing import Any, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .engine.aggregate import (
    SKETCH_COL,
    SketchAggregator,
    _as_list,
    _check_output_names,
    _drop_null_rows,
    _group_field,
    _value_cols,
    collect_merged,
    rename_output,
    sketch_agg,
)
from .engine.cells import UNION, cell_udf
from .sketch import hll
from .sketch.hashing import fnv1a64_binary, fnv1a64_utf16le, mix64

__all__ = [
    "HllAggregator",
    "approx_distinct",
    "approx_distinct_verified",
    "hll_sketch_agg",
    "hll_estimate_udf",
    "hll_merged_sketch",
]


def _to_numpy_u64(arr: pa.Array) -> np.ndarray:
    """int64 arrow array (xxhash64 output) -> uint64 view, nulls dropped."""
    if arr.null_count:
        arr = arr.drop_null()
    return arr.to_numpy(zero_copy_only=False).astype(np.int64).view(np.uint64)


def _run_ids(bounds: list[int]) -> np.ndarray:
    """Group index of every row of a ``build`` batch."""
    return np.repeat(np.arange(len(bounds) - 1), np.diff(bounds))


class HllAggregator(SketchAggregator):
    """HLL over one or more columns.

    hashing="spark"  (default): F.xxhash64(cols...) JVM-side — whole-stage
        codegen, only 8-byte hashes cross the Arrow boundary. The scale path.
    hashing="parity": reference-parity hashes computed in numpy — FNV-1a 64
        over UTF-16-LE code units for strings, Murmur finalizer for integers
        (semantics of /root/reference/HyperLogLog/HyperLogLog.cs:143-159,
        809-817). Single column only.
    """

    name = "hll"

    def __init__(self, p: int = hll.DEFAULT_P, hashing: str = "spark"):
        if hashing not in ("spark", "parity"):
            raise ValueError(f"hashing must be 'spark' or 'parity': {hashing}")
        if not 4 <= p <= 16:  # fail fast on the driver, not in an executor
            raise ValueError(f"precision p must be in [4, 16], got {p}")
        self.p = p
        self.hashing = hashing
        self.finalize_fields = [
            T.StructField("approx_distinct", T.LongType(), False)
        ]

    def prepare_columns(self, df: DataFrame, cols: list[str]):
        if self.hashing == "spark":
            # packed registers, not 64-bit hashes: half the Arrow IPC bytes
            return [_composite_register(cols, self.p)]
        if len(cols) != 1:
            raise ValueError("parity hashing supports a single column")
        return [F.col(cols[0])]

    def _hashes(self, arr: pa.Array) -> np.ndarray:
        if self.hashing == "spark":
            return _to_numpy_u64(arr)
        if arr.null_count:
            arr = arr.drop_null()
        if pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type):
            return fnv1a64_utf16le(arr.to_pandas())
        if pa.types.is_binary(arr.type) or pa.types.is_large_binary(arr.type):
            return fnv1a64_binary(arr.to_pandas())
        if pa.types.is_floating(arr.type):
            # reference Add(float/double) VALUE-casts (truncates) before
            # hashing (/root/reference/HyperLogLog/HyperLogLog.cs:201-213);
            # negatives follow int64 two's-complement (documented deviation
            # from C#'s platform-defined negative float->ulong cast)
            vals = np.trunc(arr.to_numpy(zero_copy_only=False))
            return mix64(vals.astype(np.int64))
        return mix64(arr.to_numpy(zero_copy_only=False).astype(np.int64))

    def build(self, cols, bounds) -> list[bytes]:
        (arr,) = cols
        runs = _run_ids(bounds)
        if self.hashing == "spark":
            packed = arr.to_numpy(zero_copy_only=False).astype(np.int64)
            idx = packed >> 7
            sigma = (packed & 127).astype(np.uint8)
            return hll.group_from_registers(
                runs, idx, sigma, len(bounds) - 1, self.p)
        if arr.null_count:
            runs = runs[~np.asarray(arr.is_null())]
        return hll.group_from_hashes(
            runs, self._hashes(arr), len(bounds) - 1, self.p)

    def merge_many(self, sketches: list[bytes]) -> bytes:
        return hll.merge_many(sketches)

    def finalize(self, sketch: bytes) -> dict[str, Any]:
        return {"approx_distinct": hll.estimate(sketch)}


def _hll_register_expr(h: Column, p: int) -> Column:
    """Packed HLL register ``idx << 7 | σ`` (int) of the 64-bit hash ``h``:
    the one σ/idx kernel of every HLL path, bit-identical to the numpy
    kernel (σ = 65 − popcount(smear(h << p)) ≡ 1 + clz(h << p); σ ≤ 65
    needs 7 bits).

    The smear doubles the tree six times and is cheap only while Catalyst's
    subexpression elimination shares the subtrees; CSE does not look inside
    a conditional branch. So never wrap this in ``when``/``CASE`` or build
    it inside a Generate or an aggregate's input: compute it in a plain
    Project and mask NULLs as ``when(c IS NOT NULL, 0) | kernel``
    (``_hll_packed_register_expr``); ``|`` propagates the NULL."""
    x = F.shiftleft(h, p)
    for s in (1, 2, 4, 8, 16, 32):
        x = x.bitwiseOR(F.shiftrightunsigned(x, s))
    sigma = F.lit(65) - F.bit_count(x)
    idx = F.shiftrightunsigned(h, 64 - p)
    return F.shiftleft(idx, 7).bitwiseOR(sigma).cast("int")


def _composite_register(cols: list[str], p: int) -> Column:
    """Packed register of the one hash ``xxhash64(cols...)``."""
    return _hll_register_expr(F.xxhash64(*[F.col(c) for c in cols]), p)


def _register_sets(
    df: DataFrame,
    registers: list[Column],
    group_cols: list[str],
    p: int,
    tail_fields: list[T.StructField],
    sketch: bool = False,
) -> DataFrame:
    """The one path of every ``hashing="spark"`` count-distinct: tail field
    i of a group comes from the packed registers ``registers[i]`` (NULL =
    no update) of its rows. A codegen'd Project packs them (XXH64 once per
    column) for ``groupBy(keys).agg(collect_set(__v0), ..., count(1))``,
    whose partial aggregate dedups each partition's registers before the
    one Exchange. ``collect_set`` skips NULLs, so a group NULL in every
    column keeps an empty set (n_c = 0); the finalize, directly above the
    final aggregate, drops the count-0 row of a global aggregate over
    empty input."""
    n_keys, n_sets = len(group_cols), len(registers)
    sets = df.select(
        *[F.col(g) for g in group_cols],
        *[r.alias(f"__v{i}") for i, r in enumerate(registers)],
    ).groupBy(*group_cols).agg(
        *[F.collect_set(f"__v{i}").alias(f"__s{i}") for i in range(n_sets)],
        F.count(F.lit(1)).alias("__n"),
    )
    names = [*group_cols, *(f.name for f in tail_fields)]

    def finalize(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            batch = batch.filter(pc.greater(batch.column(n_keys + n_sets), 0))
            if batch.num_rows:
                yield pa.RecordBatch.from_arrays(batch.columns[:n_keys] + [
                    _finalize_sets(batch.column(n_keys + i), p, sketch)
                    for i in range(n_sets)], names=names)

    return sets.mapInArrow(finalize, T.StructType(
        [_group_field(sets, g) for g in group_cols] + tail_fields))


def _finalize_sets(sets: pa.ListArray, p: int, sketch: bool) -> pa.Array:
    """Estimate (or, with ``sketch``, serialize) each row's set of packed
    ``idx << 7 | σ`` registers. One sort of ``(row << 23) | packed`` puts
    each (row, idx) run's max σ last; a ``(rows, 66)`` rank histogram then
    feeds one vectorized HLL++ pass, or each row's (idx, σ) run one
    ``hll._serialize``."""
    n = len(sets)
    row = np.repeat(np.arange(n, dtype=np.int64), np.diff(sets.offsets))
    packed = sets.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    key = np.sort((row << 23) | packed)
    last = np.ones(len(key), bool)  # last of its (row, idx) run
    last[:-1] = (key[1:] >> 7) != (key[:-1] >> 7)
    key = key[last]
    row, idx, sigma = key >> 23, (key >> 7) & 0xFFFF, key & 127
    if sketch:
        cuts = np.searchsorted(row, np.arange(n + 1)).tolist()
        return pa.array(
            [hll._serialize(p, idx[s:e], sigma[s:e])
             for s, e in zip(cuts, cuts[1:])],
            pa.binary(),
        )
    hist = np.bincount(row * hll.RANKS + sigma, minlength=n * hll.RANKS)
    hist = hist.reshape(n, hll.RANKS)
    hist[:, 0] = (1 << p) - np.bincount(row, minlength=n)  # unset registers
    return pa.array(hll.estimate_histograms(hist, p).astype(np.int64))


def _check_engine(engine: str | None) -> None:
    if engine not in (None, "arrow", "jvm"):
        raise ValueError(f"engine must be 'arrow' or 'jvm': {engine!r}")


def approx_distinct(
    df: DataFrame,
    cols: str | list[str],
    group_by: str | list[str] | None = None,
    p: int = hll.DEFAULT_P,
    hashing: str = "spark",
    alias: str = "approx_distinct",
    engine: str | None = None,
) -> DataFrame:
    """HLL approximate count-distinct of ``cols`` (optionally per group).

    Matches COUNT(DISTINCT ...) null semantics: rows where any key column is
    NULL are excluded. On empty input the result has zero rows (not a 0-count
    row) — the grouped-aggregation convention.

    hashing="spark" (default): per-group register sets, one shuffle and
        one vectorized finalize (``_register_sets``) — at any group count,
        no data row reaches Python.
    hashing="parity": the reference's hash functions, computed in numpy
        by the two-phase ``sketch_agg(HllAggregator(p, "parity"))``.

    ``engine`` selects nothing: ``"arrow"`` and ``"jvm"`` are accepted (any
    other value raises) and run the same path as omitting it."""
    hll._validate_p(p)
    _check_engine(engine)
    if hashing != "spark":
        out = sketch_agg(df, cols, HllAggregator(p, hashing), group_by)
        return rename_output(out, "approx_distinct", alias)
    cols, group_by = _value_cols(cols), _as_list(group_by)
    _check_output_names(group_by, [alias])
    return _register_sets(
        _drop_null_rows(df, cols), [_composite_register(cols, p)], group_by,
        p, [T.StructField(alias, T.LongType(), False)],
    )


def hll_sketch_agg(
    df: DataFrame,
    cols: str | list[str],
    group_by: str | list[str] | None = None,
    p: int = hll.DEFAULT_P,
    hashing: str = "spark",
) -> DataFrame:
    """Like approx_distinct but returns the merged sketch (BinaryType) per
    group — composable: store it, merge it later, estimate at the driver.
    Under hashing="spark" the sketch bytes are serialized from each
    group's register set (the ``approx_distinct`` path); they equal the
    bytes of ``sketch_agg(HllAggregator(p), finalize=False)``."""
    hll._validate_p(p)
    if hashing != "spark":
        return sketch_agg(df, cols, HllAggregator(p, hashing), group_by,
                          finalize=False)
    cols, group_by = _value_cols(cols), _as_list(group_by)
    _check_output_names(group_by, [SKETCH_COL])
    return _register_sets(
        _drop_null_rows(df, cols), [_composite_register(cols, p)], group_by,
        p, [T.StructField(SKETCH_COL, T.BinaryType(), False)], sketch=True,
    )


def hll_merged_sketch(
    df: DataFrame,
    cols: str | list[str],
    p: int = hll.DEFAULT_P,
    hashing: str = "spark",
    fan_in: int = 32,
) -> bytes:
    """Distributed partial build + CLUSTER-side tree-merge (one row to the
    driver); ``fan_in`` caps partials per merge task — lower it for
    byte-heavy custom precisions."""
    return collect_merged(df, cols, HllAggregator(p, hashing), fan_in=fan_in)


@cell_udf(T.LongType())
def hll_estimate_udf(sketch):
    """Scalar pandas UDF: sketch binary column -> cardinality estimate."""
    return hll.estimate(sketch)


@cell_udf(T.BinaryType(), nulls=UNION)
def hll_merge_pair_udf(a, b):
    """Row-wise merge of two sketch columns (NULL-absorbing: NULL ∪ x = x)."""
    return hll.merge(a, b)


@cell_udf(T.BinaryType())
def hll_fold_udf(sketch, p_target):
    """Row-wise exact precision downgrade (see sketch.hll.fold)."""
    return hll.fold(sketch, int(p_target))


@cell_udf(T.DoubleType())
def hll_jaccard_udf(a, b):
    """Row-wise Jaccard similarity estimate of two sketch columns."""
    return hll.jaccard_estimate(a, b)


def register_sql_functions(spark) -> None:
    """Make the sketch surface reachable from plain ``spark.sql``:

        SELECT role, hll_estimate(sketch) FROM stored_sketches
        SELECT hll_estimate(hll_merge(a.sketch, b.sketch)) ...
        SELECT hll_jaccard(a.sketch, b.sketch) ...

    Aggregation itself stays in the DataFrame API (Python UDAFs are not
    SQL-registrable); these cover the scalar read side over stored rows.
    """
    spark.udf.register("hll_estimate", hll_estimate_udf)
    spark.udf.register("hll_merge", hll_merge_pair_udf)
    spark.udf.register("hll_jaccard", hll_jaccard_udf)
    spark.udf.register("hll_fold", hll_fold_udf)


def approx_distinct_verified(
    df: DataFrame,
    cols: str | list[str],
    p: int = hll.DEFAULT_P,
    alias: str = "n_exact",
    k: float = 3.0,
) -> DataFrame:
    """Error-bound verification query: one row ``(alias, est_in_bound)``
    where ``alias`` is the EXACT distinct count and ``est_in_bound`` asserts
    the HLL estimate sits inside the published k-sigma interval
    (std-err = 1.04/√m, /root/reference/HyperLogLog/HyperLogLog.cs:93-98).

    This is the distributed form of the reference's own validity harness —
    exact Dictionary count vs estimate, /root/reference/HyperLogLog.BenchMark/
    HyperLogLogTests.cs:206-232 — and the oracle-checkable shape for
    cardinalities where the estimate is genuinely approximate: the exact
    count and the boolean are engine-independent even though the estimate
    itself is not SQL-reproducible. Both aggregates scan once each; at
    verification scale (this is a test harness, not the production path)
    that is the point — production uses ``approx_distinct`` alone.
    """
    cols = _as_list(cols)
    est = approx_distinct(df, cols, p=p, alias="__est")
    exact = _drop_null_rows(df, cols).agg(
        F.count_distinct(*[F.col(c) for c in cols]).alias(alias)
    )
    se = k * hll.error_bound(p)
    return exact.crossJoin(est).select(
        F.col(alias),
        (
            F.abs(F.col("__est") - F.col(alias))
            <= F.ceil(F.col(alias) * F.lit(se))
        ).alias("est_in_bound"),
    )


def with_error_bounds(
    df: DataFrame,
    est_col: str = "approx_distinct",
    p: int = hll.DEFAULT_P,
    k: float = 3.0,
) -> DataFrame:
    """Append ``{est_col}_lo`` / ``{est_col}_hi`` — the k-sigma interval
    from the published bound std-err = 1.04/√m
    (/root/reference/HyperLogLog/HyperLogLog.cs:93-98). Pure JVM column
    arithmetic, no UDF."""
    se = k * hll.error_bound(p)
    c = F.col(est_col)
    return df.withColumn(
        f"{est_col}_lo",
        F.greatest(F.floor(c * (1.0 - se)).cast("long"), F.lit(0)),
    ).withColumn(f"{est_col}_hi", F.ceil(c * (1.0 + se)).cast("long"))


# ------------------------------------------------- multi-column single scan


def _hll_packed_register_expr(col: Column | str, p: int) -> Column:
    """Packed register of one column, NULL in -> NULL out (the mask shape
    is explained at ``_hll_register_expr``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isNotNull(), F.lit(0)).bitwiseOR(
        _hll_register_expr(F.xxhash64(c), p)
    )


def approx_distinct_multi(
    df: DataFrame,
    cols: list[str],
    group_by: str | list[str] | None = None,
    p: int = hll.DEFAULT_P,
    engine: str | None = None,
) -> DataFrame:
    """Per-column approximate distinct counts for ALL of ``cols`` in one
    scan (columns ``n_<col>``, optionally per group) — the ANALYZE-TABLE
    shape: at 100 TB a second pass costs more than every sketch combined.
    Null semantics are per-column COUNT(DISTINCT c): a NULL in one column
    drops that column's update only, and a group NULL in every column is
    kept with n_c = 0.

    Each column's packed register (NULL for a NULL value) feeds its own
    ``collect_set`` of one aggregate (``_register_sets``); estimates are
    bit-identical to running ``approx_distinct`` per column. A column may
    appear once in ``cols``. ``engine`` selects nothing (see
    ``approx_distinct``)."""
    hll._validate_p(p)
    cols = _value_cols(cols)
    repeated = sorted({c for c in cols if cols.count(c) > 1})
    if repeated:
        raise ValueError(f"repeated column(s) {repeated}: each n_<col> "
                         "is one output field")
    _check_engine(engine)
    group_by = _as_list(group_by)
    tail = [T.StructField(f"n_{c}", T.LongType(), False) for c in cols]
    _check_output_names(group_by, [f.name for f in tail])
    return _register_sets(
        df, [_hll_packed_register_expr(c, p) for c in cols], group_by, p,
        tail,
    )


# ------------------------------------------------------- packed-binary ingest


_PACK_DTYPES = {
    "int32": np.int32, "uint32": np.uint32,
    "int64": np.int64, "uint64": np.uint64,
    "float32": np.float32, "float64": np.float64,
}


class PackedBinaryHllAggregator(SketchAggregator):
    """``AddAs{Int,UInt,Long,ULong,Float,Double}`` equivalent
    (/root/reference/HyperLogLog/HyperLogLog.cs:538-669): each BINARY cell
    is a packed little-endian array of fixed-width values; every value is
    hashed with the reference Murmur-finalizer (``mix64``,
    /root/reference/HyperLogLog/HyperLogLog.cs:809-817) and inserted.

    Trailing bytes that do not fill a value are ignored, mirroring the
    reference's ``size / width`` loop bound. Floats are truncated toward
    zero before hashing (the reference's value-cast quirk at
    /root/reference/HyperLogLog/HyperLogLog.cs:201-213); negative floats
    follow int64 two's-complement, documented as a deviation from C#'s
    platform-defined negative-to-ulong cast.
    """

    name = "hll_packed"

    def __init__(self, value_type: str = "int32", p: int = hll.DEFAULT_P):
        if value_type not in _PACK_DTYPES:
            raise ValueError(f"value_type must be one of {sorted(_PACK_DTYPES)}")
        if not 4 <= p <= 16:
            raise ValueError(f"precision p must be in [4, 16], got {p}")
        self.value_type = value_type
        self.p = p
        self.finalize_fields = [
            T.StructField("approx_distinct", T.LongType(), False)
        ]

    def prepare_columns(self, df: DataFrame, cols: list[str]):
        if len(cols) != 1:
            raise ValueError("packed ingest takes exactly one binary column")
        return [F.col(cols[0])]

    def _unpack(self, arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
        """-> (values as uint64 hash inputs, per-row value counts)."""
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        dt = np.dtype(_PACK_DTYPES[self.value_type])
        width = dt.itemsize
        offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32,
                                count=len(arr) + 1, offset=arr.offset * 4)
        data = arr.buffers()[2]
        lens = np.diff(offsets.astype(np.int64))
        counts = lens // width
        aligned = bool(np.all(lens % width == 0)) and len(arr) > 0
        if aligned and offsets[0] % width == 0:
            flat = np.frombuffer(
                data, dtype=dt, count=int(counts.sum()),
                offset=int(offsets[0]),
            )
        else:  # rare: ragged rows — trim each row's tail
            raw = np.frombuffer(data, dtype=np.uint8)
            pieces = [
                raw[offsets[i]: offsets[i] + counts[i] * width]
                for i in range(len(arr))
            ]
            flat = np.concatenate(pieces).view(dt) if pieces else \
                np.empty(0, dt)
        if dt.kind == "f":
            vals = np.trunc(flat).astype(np.int64).view(np.uint64)
        else:
            vals = flat.astype(np.int64).view(np.uint64)
        return vals, counts

    def build(self, cols, bounds) -> list[bytes]:
        (arr,) = cols
        runs = _run_ids(bounds)
        if arr.null_count:
            runs = runs[~np.asarray(arr.is_null())]
            arr = arr.drop_null()
        vals, counts = self._unpack(arr)
        return hll.group_from_hashes(
            np.repeat(runs, counts), mix64(vals), len(bounds) - 1, self.p)

    def merge_many(self, sketches: list[bytes]) -> bytes:
        return hll.merge_many(sketches)

    def finalize(self, sketch: bytes) -> dict[str, Any]:
        return {"approx_distinct": hll.estimate(sketch)}


def approx_distinct_packed(
    df: DataFrame,
    binary_col: str,
    value_type: str = "int32",
    group_by: str | list[str] | None = None,
    p: int = hll.DEFAULT_P,
    alias: str = "approx_distinct",
) -> DataFrame:
    """Approximate distinct of values packed inside a binary column —
    the distributed form of the reference's byte-buffer/Stream ingest
    (``AddAs*``; Streams arrive as Structured Streaming micro-batches of
    binary rows instead, see hyperloglog_spark.streaming)."""
    agg = PackedBinaryHllAggregator(value_type=value_type, p=p)
    return rename_output(sketch_agg(df, binary_col, agg, group_by),
                         "approx_distinct", alias)
