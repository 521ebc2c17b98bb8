"""Phase-2 merge equivalence: ``sketch_agg`` output must be byte-identical
to a driver-side reference that collects the phase-1 partials, groups them
in Python and calls ``merge_many`` once per group — for every sketch kind,
every key shape (NULL, NaN, ±0.0, multi-column), groups whose partials span
Arrow batches, empty input and global input. The other users of the shared
sorted phase 2 — the HLL register-path finalize, the stored-sketch
rollup, the count-min heavy-hitter family and the tree merge — must form
the same groups on the same keys and give the reference bytes.

Phase 1 is pinned separately, against the sketch kernels: each partial is
the kind's kernel over its group's rows in input order (or the left fold
of those kernels over Arrow batches), and multi-column keys never merge
distinct groups."""

from __future__ import annotations

import math
import struct

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hyperloglog_spark import (
    approx_distinct,
    approx_distinct_multi,
    approx_quantiles,
    hll_rollup,
    hll_sketch_agg,
    kll_agg,
    merge_sketches,
)
from hyperloglog_spark.engine.aggregate import (
    SKETCH_COL, sketch_agg, sketch_partials, tree_merge_rows,
)
from hyperloglog_spark.engine.plans import python_operators
from hyperloglog_spark.frequency import (
    CmsAggregator, CountSketchAggregator, cms_topk, cms_topk_rollup,
    cms_topk_shards,
)
from hyperloglog_spark.functions import (
    HllAggregator, PackedBinaryHllAggregator,
)
from hyperloglog_spark.linalg import FdAggregator
from hyperloglog_spark.membership import BloomAggregator, CbfAggregator
from hyperloglog_spark.quantiles import (
    KllAggregator, TDigestAggregator, WeightedKllAggregator,
    WeightedTDigestAggregator,
)
from hyperloglog_spark.setops import ThetaAggregator
from hyperloglog_spark.sketch import (
    bloom, cbf, cms, countsketch, fd, hll, kll, tdigest, theta,
)
from hyperloglog_spark.sketch.hashing import fnv1a64_utf16le, mix64

KEYS = [None, float("nan"), 0.0, -0.0, 1.5, -2.0]


def _norm(v):
    """Comparable key value: NaN equal to NaN, -0.0 distinct from 0.0."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return v


def _reference(df, value_cols, agg, group_cols, finalize):
    """Driver-side phase 2 over the same phase-1 partials."""
    groups: dict[tuple, list[bytes]] = {}
    for r in sketch_partials(df, value_cols, agg, group_cols).collect():
        key = tuple(_norm(r[c]) for c in group_cols)
        groups.setdefault(key, []).append(bytes(r[SKETCH_COL]))
    out = {}
    for key, sks in groups.items():
        merged = agg.merge_many(sks)
        if finalize:
            vals = agg.finalize(merged)
            out[key] = tuple(vals[f.name] for f in agg.finalize_fields)
        else:
            out[key] = (merged,)
    return out


def _actual(out, group_cols):
    tail = [c for c in out.columns if c not in group_cols]
    got = {}
    for r in out.collect():
        key = tuple(_norm(r[c]) for c in group_cols)
        assert key not in got, f"group {key} emitted twice"
        got[key] = tuple(
            bytes(r[c]) if isinstance(r[c], (bytes, bytearray)) else r[c]
            for c in tail
        )
    return got


@pytest.fixture(scope="module")
def data(spark):
    """k: double key over NULL/NaN/±0.0; s: string key; dense group
    k=1.5 (thousands of distinct values), sparse others; n: NULL in every
    row of the k=NaN groups and in a third of the rest; 4 input
    partitions so every group has several partials."""
    rows = []
    for i in range(6000):
        k = KEYS[(i // 2) % len(KEYS)] if i % 2 else 1.5
        n = None if (k is not None and k != k) or i % 3 == 0 else f"n{i % 50}"
        rows.append((k, f"s{i % 3}", f"v{i}", float(i % 997) * 0.5, n))
    return spark.createDataFrame(
        rows, "k double, s string, v string, x double, n string"
    ).repartition(4)


AGGS = [
    ("hll_sparse", lambda: HllAggregator(p=14), ["v"]),
    ("hll_dense", lambda: HllAggregator(p=6), ["v"]),
    ("kll", lambda: KllAggregator([0.1, 0.5, 0.9], k=32), ["x"]),
    ("tdigest", lambda: TDigestAggregator([0.25, 0.75]), ["x"]),
    ("cms", lambda: CmsAggregator(d=3, log2_w=8), ["v"]),
]


@pytest.mark.parametrize("finalize", [True, False])
@pytest.mark.parametrize("group_cols", [["k"], ["k", "s"], []])
@pytest.mark.parametrize("name,make,cols", AGGS, ids=[a[0] for a in AGGS])
def test_sketch_agg_matches_reference(data, name, make, cols, group_cols,
                                      finalize):
    agg = make()
    got = _actual(sketch_agg(data, cols, agg, group_cols, finalize),
                  group_cols)
    assert got == _reference(data, cols, agg, group_cols, finalize)
    if not group_cols:
        assert len(got) == 1


@pytest.mark.parametrize("group_cols", [["k"], ["k", "s"]])
def test_groups_match_spark_groupby(data, group_cols):
    """NULL and NaN are separate groups, -0.0 folds into 0.0, exactly as
    ``groupBy(...).count()`` groups them."""
    want = {
        tuple(_norm(r[c]) for c in group_cols)
        for r in data.groupBy(*group_cols).count().collect()
    }
    out = sketch_agg(data, ["v"], HllAggregator(p=10), group_cols)
    assert set(_actual(out, group_cols)) == want
    assert {k[0] for k in want} == {None, "nan", "0.0", "1.5", "-2.0"}


def test_hll_sketch_agg_matches_reference(data):
    got = _actual(hll_sketch_agg(data, "v", group_by=["k", "s"], p=12),
                  ["k", "s"])
    clean = data.filter(F.col("v").isNotNull())
    want = _reference(clean, ["v"], HllAggregator(p=12), ["k", "s"], False)
    assert got == want


def test_groups_spanning_arrow_batches(spark, data):
    """Two records per Arrow batch: every group's partials arrive in
    several batches and must still merge in one call."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", 2)
    try:
        for make, cols in [(lambda: HllAggregator(p=8), ["v"]),
                           (lambda: KllAggregator([0.5], k=16), ["x"])]:
            for group_cols in (["k", "s"], []):
                agg = make()
                got = _actual(sketch_agg(data, cols, agg, group_cols),
                              group_cols)
                assert got == _reference(data, cols, agg, group_cols, True)
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


@pytest.mark.parametrize("group_cols", [["k"], []])
def test_empty_input_gives_zero_rows(data, group_cols):
    empty = data.filter(F.lit(False))
    assert sketch_agg(empty, ["v"], HllAggregator(), group_cols).count() == 0


@pytest.mark.parametrize("group_cols", [["k"], ["k", "s"], []])
def test_jvm_engines_match_arrow(data, group_cols):
    """The three register-path entry points return the groups and values
    of the two-phase ``HllAggregator`` reference over the same non-NULL
    rows: estimates, sketch bytes, and multi-column estimates (column n is
    NULL in every row of the NaN groups: NULL-tag rows, n = 0)."""
    def reference(col, p, finalize):
        clean = data.filter(F.col(col).isNotNull())
        return _actual(sketch_agg(clean, [col], HllAggregator(p), group_cols,
                                  finalize), group_cols)

    want_v = reference("v", 14, True)
    assert _actual(approx_distinct(data, "v", alias="d", group_by=group_cols),
                   group_cols) == want_v
    assert _actual(hll_sketch_agg(data, "v", p=12, group_by=group_cols),
                   group_cols) == reference("v", 12, False)
    want_n = reference("n", 14, True)
    for cols in (["v", "n"], ["n"]):
        got = _actual(approx_distinct_multi(data, cols, group_by=group_cols),
                      group_cols)
        assert set(got) == set(want_v)
        assert got == {
            key: tuple((want_v[key] if c == "v" else want_n.get(key, (0,)))[0]
                       for c in cols)
            for key in want_v
        }
    if group_cols:
        assert {k[0] for k in want_v} == {None, "nan", "0.0", "1.5", "-2.0"}


@pytest.mark.parametrize("group_cols", [["k"], ["k", "s"]])
def test_rollup_matches_direct_build(data, group_cols):
    """Grouped ``merge_sketches`` and ``hll_rollup`` over finer stored
    cells equal the direct grouped build: NULL and NaN keys stay apart,
    and a stored -0.0 key rolls into the 0.0 group."""
    sharded = data.withColumn("shard", F.crc32("v") % 4)
    stored = hll_sketch_agg(sharded, "v", group_by=group_cols + ["shard"],
                            p=12)
    stored = stored.withColumn(
        "k", F.when((F.col("k") == 0) & (F.col("shard") == 1), F.lit(-0.0))
        .otherwise(F.col("k")))
    direct = hll_sketch_agg(data, "v", group_by=group_cols, p=12)
    want = _actual(direct, group_cols)
    assert {k[0] for k in want} == {None, "nan", "0.0", "1.5", "-2.0"}
    assert _actual(merge_sketches(stored, group_by=group_cols),
                   group_cols) == want
    assert _actual(hll_rollup(stored, group_by=group_cols, alias="d"),
                   group_cols) == _actual(
        approx_distinct(data, "v", group_by=group_cols, p=12, alias="d"),
        group_cols)


# ---- the count-min heavy-hitter family and the tree merge ----------------

def _canon_value(v):
    """A candidate value as Spark's groupBy forms it: -0.0 folds into
    0.0 (NaN stays one value under ``_norm``)."""
    return 0.0 if isinstance(v, float) and v == 0 else v


def _rank_key(v, n):
    """count DESC, value ASC, NaN after every other value (Spark's order)."""
    return (-n, isinstance(v, float) and math.isnan(v), v)


@pytest.fixture(scope="module")
def cms_data(data):
    """c: a skewed double value column (ten digits) with NaN wherever n
    is NULL and -0.0 for the s1 zeros; w: a positive integer weight."""
    digit = F.substring("n", 2, 1).cast("double")
    return data.withColumn(
        "c",
        F.when(F.col("n").isNull(), F.lit(float("nan")))
        .when((digit == 0) & (F.col("s") == "s1"), F.lit(-0.0))
        .otherwise(digit),
    ).withColumn("w", F.length("v"))


def _shards_reference(df, col, shard_by, cpp, weight_col, d, log2_w):
    """Per shard: ``cms.from_hashes`` over the shard's collected rows, and
    the exact top-``cpp`` values by (count or mass) DESC, value ASC."""
    w = F.col(weight_col) if weight_col else F.lit(1)
    rows = df.filter(F.col(col).isNotNull()).select(
        *shard_by, F.col(col).alias("v"), F.xxhash64(col).alias("h"),
        w.cast("long").alias("w"),
    ).collect()
    shards: dict[tuple, list] = {}
    for r in rows:
        key = tuple(_norm(_canon_value(r[c])) for c in shard_by)
        shards.setdefault(key, []).append(r)
    out = {}
    for key, rs in shards.items():
        hashes = np.array([r["h"] for r in rs], dtype=np.int64).view(
            np.uint64)
        counts = (np.array([r["w"] for r in rs], dtype=np.int64)
                  if weight_col else None)
        sketch = cms.from_hashes(hashes, counts=counts, d=d, log2_w=log2_w)
        top = (
            pd.DataFrame({
                "v": [_canon_value(r["v"]) for r in rs],
                "h": [r["h"] for r in rs],
                "n": [r["w"] for r in rs],
            }).groupby("v", dropna=False, as_index=False)
            .agg(n=("n", "sum"), h=("h", "first"))
        )
        top = sorted(zip(top["v"], top["n"], top["h"]),
                     key=lambda t: _rank_key(t[0], t[1]))[:cpp]
        out[key] = (sketch, [_norm(float(v)) for v, _, _ in top],
                    [int(h) for _, _, h in top])
    return out


@pytest.mark.parametrize("weight_col", [None, "w"])
@pytest.mark.parametrize("shard_by", [["k"], ["k", "s"]])
def test_cms_topk_shards_match_reference(cms_data, shard_by, weight_col):
    got = {}
    for r in cms_topk_shards(cms_data, "c", shard_by, d=3, log2_w=8,
                             candidates_per_shard=3,
                             weight_col=weight_col).collect():
        key = tuple(_norm(r[c]) for c in shard_by)
        assert key not in got, f"shard {key} emitted twice"
        got[key] = (bytes(r["sketch"]), [_norm(v) for v in r["cand_v"]],
                    list(r["cand_h"]))
    want = _shards_reference(cms_data, "c", shard_by, 3, weight_col, 3, 8)
    assert got == want
    assert {k[0] for k in got} == {None, "nan", "0.0", "1.5", "-2.0"}
    assert any("nan" in cands for _, cands, _ in got.values())


def _rollup_reference(stored, col, k, group_cols):
    """Driver-side rank step: per group, ``merge_many`` the sketches,
    union the candidates, point-query them, keep the top k."""
    groups: dict[tuple, list] = {}
    for r in stored.collect():
        key = tuple(_norm(r[c]) for c in group_cols)
        groups.setdefault(key, []).append(r)
    out = {}
    for key, rs in groups.items():
        merged = cms.merge_many([bytes(r["sketch"]) for r in rs])
        cand = {}
        for r in rs:
            for v, h in zip(r["cand_v"], r["cand_h"]):
                cand[_norm(v)] = (v, h)
        values = list(cand.values())
        ests = cms.point_query(merged, np.array(
            [h for _, h in values], dtype=np.int64).view(np.uint64))
        ranked = sorted(zip([v for v, _ in values], ests.tolist()),
                        key=lambda t: _rank_key(t[0], t[1]))[:k]
        out[key] = [(_norm(v), int(n)) for v, n in ranked]
    return out


def _rollup_rows(out, col, group_cols):
    got: dict[tuple, list] = {}
    for r in out.collect():
        key = tuple(_norm(r[c]) for c in group_cols)
        got.setdefault(key, []).append((_norm(r[col]), r["approx_count"]))
    return got


def test_cms_topk_rollup_matches_reference(cms_data):
    """Grouped rollup equals the per-group reference rank step, and the
    global rollup equals the grouped one over a constant key."""
    stored = cms_topk_shards(cms_data, "c", ["k", "s"], d=3, log2_w=8,
                             candidates_per_shard=3)
    grouped = _rollup_rows(cms_topk_rollup(stored, "c", k=4, group_by="k"),
                           "c", ["k"])
    assert grouped == _rollup_reference(stored, "c", 4, ["k"])
    assert set(grouped) == {(None,), ("nan",), ("0.0",), ("1.5",), ("-2.0",)}
    one = stored.withColumn("g", F.lit(1))
    assert _rollup_rows(cms_topk_rollup(stored, "c", k=4), "c", []) == {
        (): _rollup_rows(cms_topk_rollup(one, "c", k=4, group_by="g"),
                         "c", ["g"])[(1,)]
    }


def test_nan_heavy_hitter_is_ranked(spark):
    """NaN is one value, and here the heaviest: every heavy-hitter entry
    point must rank it, and NaN candidates from several partitions or
    shards must collapse into one row."""
    vals = [float("nan")] * 50 + [1.0] * 10 + [2.0] * 5
    df = spark.createDataFrame(
        [(v, i % 2) for i, v in enumerate(vals)], "v double, s int"
    ).repartition(3)
    want = [("nan", 50), ("1.0", 10), ("2.0", 5)]
    got = [(_norm(r["v"]), r["approx_count"])
           for r in cms_topk(df, "v", k=3).collect()]
    assert got == want
    shards = cms_topk_shards(df, "v", "s")
    for r in shards.collect():
        assert [_norm(v) for v in r["cand_v"]] == ["nan", "1.0", "2.0"]
    got = [(_norm(r["v"]), r["approx_count"])
           for r in cms_topk_rollup(shards, "v", k=3).collect()]
    assert got == want


@pytest.mark.parametrize("make", [lambda: HllAggregator(p=10),
                                  lambda: CmsAggregator(d=3, log2_w=8)],
                         ids=["hll", "cms"])
def test_tree_merge_is_a_rebracketed_fold(data, make):
    """fan_in=2 over 9 partials: four levels (9 -> 5 -> 3 -> 2 -> 1) with
    uneven buckets, each a ``reduce_sorted_groups`` pass; the bytes equal
    the sequential left-to-right fold."""
    agg = make()
    partials = sketch_partials(data.repartition(9), ["v"], agg)
    rows = partials.select(F.spark_partition_id().alias("p"),
                           SKETCH_COL).collect()
    assert len(rows) == 9
    fold = agg.merge_many(
        [bytes(r[SKETCH_COL]) for r in sorted(rows, key=lambda r: r["p"])])
    tree = tree_merge_rows(partials, agg.merge_many, fan_in=2)
    assert [bytes(r[SKETCH_COL]) for r in tree.collect()] == [fold]
    assert [n for n, _ in python_operators(tree)] == ["MapInArrow"] * 5


# ---- phase 1: partials equal the kernels ----------------------------------

@pytest.fixture(scope="module")
def p1_data(spark):
    """One partition, in row order: five key columns over NULL/NaN/±0.0
    (k, k2 double; s, t string; j long) and value columns for every
    kind — v string (NULL every 4th row), x double, w integer weight,
    b packed int32 binary (NULL every 5th row), e a 3-dim embedding."""
    rows = []
    for i in range(240):
        rows.append((
            KEYS[i % 6], [None, "a", "b"][i % 3], [None, 0, 1][i // 2 % 3],
            [-0.0, 0.0, float("nan"), None][i // 3 % 4],
            ["x", None][i // 5 % 2],
            None if i % 4 == 0 else f"v{i % 29}", float(i % 17) - 4.5,
            1 + i % 4,
            None if i % 5 == 0 else struct.pack("<2i", i % 37, -(i % 11)),
            [float(i % 7), float(i % 3) - 1.0, 0.5 * (i % 5)],
        ))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        "k double, s string, j long, k2 double, t string, v string, "
        "x double, w long, b binary, e array<double>",
    )


@pytest.fixture(scope="module")
def p1_rows(p1_data):
    """The input rows in partition order, with Spark's ``xxhash64`` of v
    (h; th with theta's salt 0)."""
    return p1_data.select(
        "*", F.xxhash64("v").alias("h"),
        F.xxhash64(F.col("v"), F.lit(0)).alias("th"),
    ).collect()


def _col(rs, c, dtype):
    return np.array([r[c] for r in rs], dtype=dtype)


def _u64(rs, c="h"):
    return _col(rs, c, np.int64).view(np.uint64)


def _packed(rs):
    vals = [np.frombuffer(r["b"], "<i4") for r in rs if r["b"] is not None]
    flat = np.concatenate(vals + [np.empty(0, "<i4")]).astype(np.int64)
    return mix64(flat.view(np.uint64))


# (id, aggregator, value columns, kernel over one group's rows)
KERNELS = [
    ("hll_spark", lambda: HllAggregator(p=10), ["v"],
     lambda rs: hll.from_hashes(_u64(rs), 10)),
    ("hll_parity", lambda: HllAggregator(p=10, hashing="parity"), ["v"],
     lambda rs: hll.from_hashes(fnv1a64_utf16le(
         [r["v"] for r in rs if r["v"] is not None]), 10)),
    ("hll_packed", lambda: PackedBinaryHllAggregator("int32", p=10), ["b"],
     lambda rs: hll.from_hashes(_packed(rs), 10)),
    ("cms", lambda: CmsAggregator(d=3, log2_w=8), ["v"],
     lambda rs: cms.from_hashes(_u64(rs), d=3, log2_w=8)),
    ("cms_weighted", lambda: CmsAggregator(d=3, log2_w=8, weight_col="w"),
     ["v"], lambda rs: cms.from_hashes(
         _u64(rs), counts=_col(rs, "w", np.int64), d=3, log2_w=8)),
    ("countsketch", lambda: CountSketchAggregator(d=3, log2_w=8), ["v"],
     lambda rs: countsketch.from_hashes(_u64(rs), d=3, log2_w=8)),
    ("theta", lambda: ThetaAggregator(k=16), ["v"],
     lambda rs: theta.build(_col(rs, "th", np.int64), 16)),
    ("kll", lambda: KllAggregator([0.5], k=8), ["x"],
     lambda rs: kll.from_values(_col(rs, "x", np.float64), 8)),
    ("tdigest", lambda: TDigestAggregator([0.5]), ["x"],
     lambda rs: tdigest.from_values(_col(rs, "x", np.float64))),
    ("kll_weighted", lambda: WeightedKllAggregator([0.5], "w", k=8), ["x"],
     lambda rs: kll.from_weighted(_col(rs, "x", np.float64),
                                  _col(rs, "w", np.float64), 8)),
    ("tdigest_weighted", lambda: WeightedTDigestAggregator([0.5], "w"),
     ["x"], lambda rs: tdigest.from_weighted(_col(rs, "x", np.float64),
                                             _col(rs, "w", np.float64))),
    ("bloom", lambda: BloomAggregator(m_bits=256, k=3), ["v"],
     lambda rs: bloom.from_hashes(_u64(rs), 256, 3)),
    ("cbf", lambda: CbfAggregator(log2_m=6, k=3, delta_col="w"), ["v"],
     lambda rs: cbf.from_hashes(_u64(rs), _col(rs, "w", np.int64), 6, 3)),
    ("fd", lambda: FdAggregator(ell=2), ["e"],
     lambda rs: fd.append(fd.empty(2), _col(rs, "e", np.float64))),
]

P1_KEYS = [[], ["k"], ["k", "s"], ["k", "s", "j", "k2", "t"]]


def _group_rows(rows, group_cols):
    """Rows per group key (Spark's groupBy key forms), in input order."""
    groups: dict[tuple, list] = {}
    for r in rows:
        key = tuple(_norm(_canon_value(r[c])) for c in group_cols)
        groups.setdefault(key, []).append(r)
    return groups


@pytest.mark.parametrize("name,make,cols,kernel", KERNELS,
                         ids=[k[0] for k in KERNELS])
def test_partials_equal_kernel_per_group(p1_data, p1_rows, name, make, cols,
                                         kernel):
    """One partition, one Arrow batch: each group's partial is the kind's
    kernel over that group's rows in input order, for 0, 1, 2 and 5 key
    columns. A row with a NULL value column adds nothing (the NULL rule
    of ``sketch_input``), so a group of only such rows has no partial."""
    agg = make()
    rows = [r for r in p1_rows if all(r[c] is not None for c in cols)]
    for group_cols in P1_KEYS:
        want = {key: (kernel(rs),)
                for key, rs in _group_rows(rows, group_cols).items()}
        got = _actual(sketch_partials(p1_data, cols, agg, group_cols),
                      group_cols)
        assert got == want, group_cols


def test_partials_fold_kernels_over_batches(spark, p1_data, p1_rows):
    """Seven rows per Arrow batch: a group's partial is the left fold
    ``merge_many([acc, kernel(rows of batch i)])`` over the batches that
    hold its rows."""
    group_cols = ["k", "s"]
    want: dict[tuple, bytes] = {}
    for b in range(0, len(p1_rows), 7):
        groups = _group_rows(p1_rows[b:b + 7], group_cols)
        for key, rs in groups.items():
            sk = kll.from_values(_col(rs, "x", np.float64), 8)
            want[key] = sk if key not in want else kll.merge_many(
                [want[key], sk])
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", 7)
    try:
        got = _actual(sketch_partials(p1_data, ["x"], KllAggregator(k=8),
                                      group_cols), group_cols)
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert got == {key: (sk,) for key, sk in want.items()}


def test_multi_column_keys_never_merge(spark):
    """8,193 distinct 5-column long keys in one partition (one batch),
    8,192 distinct values per column: (4096, 0, 0, 0, 0) is a group of
    its own and keeps its value -1.0; (0, 0, 0, 0, 0) holds only 0.0."""
    cols = [f"c{i}" for i in range(5)]
    last = F.col("id") == 8192
    df = spark.range(0, 8193, 1, 1).select(
        *[F.when(last, F.lit(4096 if i == 0 else 0)).otherwise(F.col("id"))
          .alias(c) for i, c in enumerate(cols)],
        F.when(last, -1.0).otherwise(0.0).alias("x"),
    )
    n_groups = df.groupBy(*cols).count().count()
    assert n_groups == 8193
    q = {tuple(r[c] for c in cols): r["q5"]
         for r in approx_quantiles(df, "x", [0.5], group_by=cols).collect()}
    assert len(q) == n_groups
    assert q[(4096, 0, 0, 0, 0)] == -1.0
    assert q[(0, 0, 0, 0, 0)] == 0.0
    assert kll_agg(df, "x", group_by=cols).count() == n_groups
