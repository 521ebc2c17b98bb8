"""NULL table of every scalar sketch UDF (``engine.cells``).

Each UDF runs over each NULL pattern of its arguments — NULL first, NULL
second, both NULL, neither — and must give what the rule below says,
written out here independently of the helper that implements it:

- any NULL argument gives NULL;
- in the two unions a NULL side is the empty sketch, so the other side
  comes back (NULL ∪ NULL = NULL);
- in ``theta_a_not_b`` a NULL right side returns the left side.

One-argument UDFs read the first argument's pattern. Probes hash their
key columns first, so their NULL rule applies to the hash: a key with any
NULL column hashes to NULL, as an equi-join key matches nothing (bare
``xxhash64`` of a NULL key would be its seed, 42). ``quantiles_rollup`` merges stored cells per group, so a NULL cell
is skipped and a group of NULL cells is dropped.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hyperloglog_spark import (
    cms_point_query_udf,
    cs_point_query_udf,
    hll_estimate_udf,
    hll_fold_udf,
    hll_jaccard_udf,
    hll_merge_pair_udf,
    quantiles_rollup,
    with_might_contain,
)
from hyperloglog_spark.frequency import _hash_expr
from hyperloglog_spark.membership import with_cbf_might_contain
from hyperloglog_spark.setops import (
    theta_a_not_b_udf,
    theta_estimate_udf,
    theta_intersect_udf,
    theta_jaccard_udf,
    theta_union_udf,
)
from hyperloglog_spark.sketch import (
    bloom,
    cbf,
    cms,
    countsketch,
    hll,
    kll,
    tdigest,
    theta,
)

PATTERNS = ["neither", "first", "second", "both"]
QS = [0.1, 0.5, 0.9]

_H = np.arange(1, 3001, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
HA, HB = hll.from_hashes(_H[:2000], p=12), hll.from_hashes(_H[1000:], p=12)
TA = theta.build(_H[:2000].view(np.int64), k=256)
TB = theta.build(_H[1000:].view(np.int64), k=256)
KEY, P = 7, 10
_KEYS = np.array([KEY] * 5 + list(range(100, 200)), dtype=np.uint64)
CMS = cms.from_hashes(_KEYS, d=4, log2_w=8)
CS = countsketch.from_hashes(_KEYS, d=5, log2_w=8)
BLOOM = bloom.from_hashes(_H[:500], m_bits=4096, k=3)
CBF = cbf.from_hashes(_H[:500], log2_m=10, k=3)
_VALS = np.linspace(-5.0, 5.0, 400)
CELLS = {
    "kll": (kll.from_values(_VALS[:300]), kll.from_values(_VALS[200:]),
            kll.merge_many, kll.quantiles),
    "tdigest": (tdigest.from_values(_VALS[:300]),
                tdigest.from_values(_VALS[200:]),
                tdigest.merge_many, tdigest.quantiles),
}


def _cell(value, pattern, pos):
    """``value``, or NULL when the pattern nulls argument ``pos``."""
    nulled = ("first", "both") if pos == 0 else ("second", "both")
    return None if pattern in nulled else value


def _any(fn):
    return lambda *args: None if None in args else fn(*args)


def _union(fn):
    return lambda a, b: b if a is None else a if b is None else fn(a, b)


def _probe(kernel, sketch):
    return _any(lambda h: kernel(sketch, np.array([h], np.int64).view(
        np.uint64))[0].item())


# name -> (UDF, argument columns, expected answer); the probes without a
# UDF of their own are columns added by ``with_*might_contain``.
UDFS = {
    "hll_estimate": (hll_estimate_udf, ["ha"], _any(hll.estimate)),
    "hll_merge": (hll_merge_pair_udf, ["ha", "hb"], _union(hll.merge)),
    "hll_fold": (hll_fold_udf, ["ha", "p"], _any(hll.fold)),
    "hll_jaccard": (hll_jaccard_udf, ["ha", "hb"],
                    _any(hll.jaccard_estimate)),
    "theta_estimate": (theta_estimate_udf, ["ta"], _any(theta.estimate)),
    "theta_union": (theta_union_udf, ["ta", "tb"], _union(theta.union)),
    "theta_intersect": (theta_intersect_udf, ["ta", "tb"],
                        _any(theta.intersect)),
    "theta_a_not_b": (theta_a_not_b_udf, ["ta", "tb"],
                      lambda a, b: a if a is None or b is None
                      else theta.a_not_b(a, b)),
    "theta_jaccard": (theta_jaccard_udf, ["ta", "tb"], _any(theta.jaccard)),
    "cms_point_query": (cms_point_query_udf(CMS), ["k"],
                        _probe(cms.point_query, CMS)),
    "cs_point_query": (cs_point_query_udf(CS), ["k"],
                       _probe(countsketch.point_query, CS)),
    "bloom_probe": (None, ["k_xxhash64"], _probe(bloom.might_contain, BLOOM)),
    "bloom_probe_pair": (None, ["kp_xxhash64"],
                         _probe(bloom.might_contain, BLOOM)),
    "cbf_probe": (None, ["k_md5"], _probe(cbf.might_contain, CBF)),
    "cbf_probe_xxhash64": (None, ["k_xxhash64"],
                           _probe(cbf.might_contain, CBF)),
}


@pytest.fixture(scope="module")
def table(spark):
    """One row per pattern with every UDF's answer and its arguments."""
    schema = T.StructType([
        T.StructField("pat", T.StringType()),
        *[T.StructField(c, T.BinaryType()) for c in ("ha", "hb", "ta", "tb")],
        T.StructField("p", T.LongType()),
        T.StructField("k", T.LongType()),
    ])
    df = spark.createDataFrame([
        (pat, _cell(HA, pat, 0), _cell(HB, pat, 1), _cell(TA, pat, 0),
         _cell(TB, pat, 1), _cell(P, pat, 1), _cell(KEY, pat, 0))
        for pat in PATTERNS
    ], schema)
    df = with_might_contain(df, "k", BLOOM, alias="udf_bloom_probe")
    df = with_might_contain(df, ["k", "p"], BLOOM,
                            alias="udf_bloom_probe_pair")
    df = with_cbf_might_contain(df, "k", CBF, alias="udf_cbf_probe",
                                hashing="md5")
    df = with_cbf_might_contain(df, "k", CBF,
                                alias="udf_cbf_probe_xxhash64")
    rows = df.select(
        "*",
        F.when(F.col("k").isNotNull(), F.xxhash64("k")).alias("k_xxhash64"),
        F.when(F.col("k").isNotNull() & F.col("p").isNotNull(),
               F.xxhash64("k", "p")).alias("kp_xxhash64"),
        _hash_expr(["k"], "md5").alias("k_md5"),
        *[udf(*args).alias(f"udf_{name}")
          for name, (udf, args, _) in UDFS.items() if udf],
    ).collect()
    return {r["pat"]: r.asDict() for r in rows}


@pytest.mark.parametrize("pattern", PATTERNS)
@pytest.mark.parametrize("name", list(UDFS))
def test_null_table(table, name, pattern):
    _, args, expected = UDFS[name]
    row = table[pattern]
    got = row[f"udf_{name}"]
    want = expected(*[bytes(v) if isinstance(v, bytearray) else v
                      for v in (row[a] for a in args)])
    assert (bytes(got) if isinstance(got, bytearray) else got) == want


@pytest.fixture(scope="module")
def rolled_up(spark):
    """Stored KLL / t-digest cells, two per (kind, pattern) group."""
    rows = [(kind, pat, _cell(a, pat, 0)) for kind, (a, _, _, _)
            in CELLS.items() for pat in PATTERNS]
    rows += [(kind, pat, _cell(b, pat, 1)) for kind, (_, b, _, _)
             in CELLS.items() for pat in PATTERNS]
    df = spark.createDataFrame(rows, "kind string, pat string, sketch binary")
    got = quantiles_rollup(df, QS, group_by=["kind", "pat"]).collect()
    return {(r["kind"], r["pat"]): list(r)[2:] for r in got}


@pytest.mark.parametrize("pattern", PATTERNS)
@pytest.mark.parametrize("kind", list(CELLS))
def test_null_table_quantiles_rollup(rolled_up, kind, pattern):
    a, b, merge_many, quantiles = CELLS[kind]
    cells = [c for c in (_cell(a, pattern, 0), _cell(b, pattern, 1)) if c]
    if not cells:
        assert (kind, pattern) not in rolled_up
        return
    want = [float(v) for v in quantiles(merge_many(cells), QS)]
    assert rolled_up[(kind, pattern)] == want


def test_hll_fold_null_precision_gives_null(spark):
    # A NULL int precision reaches the UDF as NaN; it used to raise
    # "cannot convert float NaN to integer" in the executor.
    sk = hll.from_hashes(_H, p=14)
    df = spark.createDataFrame(
        [(sk, 14), (sk, None), (None, 14)], "sk binary, p int"
    )
    got = [r[0] for r in df.select(hll_fold_udf("sk", "p")).collect()]
    assert [None if g is None else bytes(g) for g in got] == [
        hll.fold(sk, 14), None, None,
    ]
