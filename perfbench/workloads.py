"""The three benchmark workloads over the transcripts table.

A workload is built per SparkSession. ``prepare()`` is its untimed
preparation (counted in ``setup_s``); ``cycle(rec)`` issues one fixed
sequence of operations, one after another, through a ``Recorder`` that
times each, checks its answer and counts failures.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from collections import defaultdict

import hyperloglog_spark as H
from hyperloglog_spark import transcripts as TR
from hyperloglog_spark.engine import checkpoint, io
from hyperloglog_spark.engine.aggregate import collect_merged
from hyperloglog_spark.functions import HllAggregator
from pyspark.sql import functions as F

from checks import (QS, bloom_check, hll_check, kll_check, tdigest_check,
                    topk_check)

UNTIMED = "untimed"


class Recorder:
    """Times operations, checks answers and counts what failed.

    An operation fails when it raises or when its check reports a problem;
    both are written to stderr and counted, none is dropped."""

    def __init__(self, spark, label_prefix: str = "", checking: bool = True):
        self.spark = spark
        self.prefix = label_prefix
        self.checking = checking
        # (label, kind, seconds, turns, cycle)
        self.samples: list[tuple[str, str, float, int, int]] = []
        self.cycle = 0
        self.attempted = 0
        self.failed = 0
        self.hll_errs: list[float] = []
        self.layers: dict[str, list[float]] = defaultdict(list)

    def _failed(self, label: str) -> None:
        print(f"[perfbench] {label} raised:", file=sys.stderr)
        traceback.print_exc()
        self.failed += 1

    def _timed(self, label, fn, check, turns, kind):
        self.attempted += 1
        sc = self.spark.sparkContext
        sc.setJobDescription(self.prefix + label)
        try:
            t0 = time.perf_counter()
            result = fn()
            dt = time.perf_counter() - t0
        except Exception:
            self._failed(label)
            return None
        finally:
            sc.setJobDescription(UNTIMED)
        self.samples.append((label, kind, dt, turns, self.cycle))
        if self.checking and check is not None:
            problems, errs = check(result)
            self.hll_errs.extend(errs)
            if problems:
                self.failed += 1
                for p in problems:
                    print(f"[perfbench] check failed: {p}", file=sys.stderr)
        return result

    def query(self, label, make_df, check=None, turns=0):
        """Time ``collect()`` of the DataFrame ``make_df()`` builds."""
        try:
            df = make_df()
        except Exception:
            self.attempted += 1
            self._failed(label)
            return None
        return self._timed(label, df.collect, check, turns, "query")

    def call(self, label, fn, check=None, turns=0, kind="query"):
        return self._timed(label, fn, check, turns, kind)


def _only(problems: list) -> tuple[list, list]:
    return problems, []


class GlobalScan:
    """Ungrouped sketches over the whole table, in a fixed order."""

    def __init__(self, spark, paths: list, turns: int, n_convs: int,
                 exact: dict | None):
        self.spark, self.paths = spark, paths
        self.turns, self.n_convs, self.exact = turns, n_convs, exact

    def prepare(self) -> None:
        self.df = self.spark.read.parquet(*self.paths)

    def cycle(self, rec: Recorder, engines=("arrow", "jvm")) -> None:
        """The whole cycle; ``engines=("jvm",)`` runs only the JVM-engine
        queries."""
        df, n, ex = self.df, self.turns, self.exact or {}
        d = ex.get("distinct", {})
        multi = ["conv_id", "text", "tool"]
        arrow = "arrow" in engines

        def one(label, key):
            return lambda rows: hll_check(
                label, {key: rows[0][0]}, {key: d[key]})

        for engine in engines:
            rec.query(f"approx_distinct.conv_id.{engine}",
                      lambda: H.approx_distinct(df, "conv_id", engine=engine),
                      one(f"conv_id {engine}", "conv_id"), n)
        if arrow:
            rec.query("approx_distinct.conv_tool.arrow",
                      lambda: H.approx_distinct(df, ["conv_id", "tool"]),
                      one("conv_id,tool", "conv_tool"), n)
        for engine in engines:
            rec.query(
                f"approx_distinct_multi.{engine}",
                lambda: H.approx_distinct_multi(df, multi, engine=engine),
                lambda rows: hll_check(
                    f"multi {engine}", dict(zip(multi, rows[0])),
                    {c: d[c] for c in multi}), n)
        if not arrow:
            return
        rec.query("cms_topk.tool", lambda: H.cms_topk(df, "tool", k=10),
                  lambda rows: _only(topk_check(
                      "cms_topk", [r[0] for r in rows], ex["tool_top10"])),
                  n)
        rec.query("kll.turn_length",
                  lambda: TR.turn_length_quantiles(df, qs=QS),
                  lambda rows: _only(kll_check(
                      "kll turn_length", {"all": list(rows[0])},
                      {"all": ex["len_hist"]})), n)
        rec.query("tdigest.latency",
                  lambda: TR.latency_quantiles(df, qs=QS),
                  lambda rows: _only(tdigest_check(
                      "tdigest latency", list(rows[0]),
                      ex["latency_bounds"])), n)
        rec.call("bloom_build.conv_id",
                 lambda: H.bloom_build(df, "conv_id",
                                       expected_items=self.n_convs),
                 lambda sk: _only(bloom_check(
                     "bloom", sk, ex["conv_hashes"])), n)


class GroupedSkew:
    """Grouped sketches over many Zipf-skewed keys."""

    def __init__(self, spark, paths: list, turns: int, exact: dict | None):
        self.spark, self.paths = spark, paths
        self.turns, self.exact = turns, exact

    def prepare(self) -> None:
        self.df = self.spark.read.parquet(*self.paths)

    def cycle(self, rec: Recorder) -> None:
        df, n, ex = self.df, self.turns, self.exact or {}

        def by_key(label, exact_key):
            return lambda rows: hll_check(
                label, {str(r[0]): r[1] for r in rows}, ex[exact_key])

        rec.query("approx_distinct.text_by_conv",
                  lambda: H.approx_distinct(df, "text", group_by="conv_id"),
                  by_key("text by conv", "text_by_conv"), n)
        rec.query(
            "kll.turn_length_by_conv",
            lambda: H.approx_quantiles(
                df.select("conv_id", F.length("text").alias("turn_chars")),
                "turn_chars", list(QS), group_by="conv_id"),
            lambda rows: _only(kll_check(
                "kll by conv", {r[0]: list(r[1:]) for r in rows},
                ex["len_hist_by_conv"])), n)
        rec.query(
            "approx_distinct.conv_by_sliding_window",
            lambda: H.approx_distinct(
                TR.with_sliding_windows(df, "ts", 3600, 600), "conv_id",
                group_by="window_start_epoch"),
            by_key("convs by window", "convs_by_window"), n)
        rec.query("approx_distinct.text_by_role",
                  lambda: H.approx_distinct(df, "text", group_by="role"),
                  by_key("text by role", "text_by_role"), n)


SHARD_KEYS = ["day", "role", "tool"]


def write_shards(df, hll_path: str, kll_path: str, part: str) -> None:
    """Persist per-(day, role, tool) HLL (conv_id) and KLL (turn length)
    sketch rows, tagged with the slice they came from."""
    d = (df.withColumn("day", F.to_date("ts"))
         .withColumn("turn_chars", F.length("text")))
    for sk, path in ((H.hll_sketch_agg(d, "conv_id", group_by=SHARD_KEYS),
                      hll_path),
                     (H.kll_agg(d, "turn_chars", group_by=SHARD_KEYS),
                      kll_path)):
        sk.withColumn("part", F.lit(part)).write.mode("append").parquet(path)


def link_tree(src: str, dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst, copy_function=os.link)


class IncrementalRollup:
    """A day's write path (append, resumed checkpoint build, new stored
    shards) followed by short reads over the stored sketch rows. Every
    iteration starts from the same prepared state."""

    def __init__(self, spark, inp, work: str, exact: dict | None):
        self.spark, self.inp, self.exact = spark, inp, exact
        self.cur = os.path.join(work, "rollup", "cur")
        self.state = os.path.join(work, "rollup", "state")
        self.table = os.path.join(self.cur, "table")
        self.ckpt = os.path.join(self.cur, "ckpt")
        self.hll = os.path.join(self.cur, "shards_hll")
        self.kll = os.path.join(self.cur, "shards_kll")
        self.turns = inp.slice_turns
        self.one_shot: bytes | None = None

    def prepare(self) -> None:
        """Base table with a committed snapshot, its checkpoint lineage and
        its stored shards; saved as the state every iteration starts from."""
        shutil.rmtree(self.cur, ignore_errors=True)
        os.makedirs(self.cur)
        names = sorted(f for f in os.listdir(self.inp.table)
                       if f.endswith(".parquet"))
        link_tree(self.inp.table, self.table)
        io.commit_snapshot(self.table, add=names)
        checkpoint.resumable_sketch_build(
            self.spark, self.table, "conv_id", HllAggregator(), self.ckpt)
        write_shards(self.spark.read.parquet(self.table), self.hll, self.kll,
                     "base")
        link_tree(self.cur, self.state)
        self.n_base_files = len(names)
        self.n_slice_files = sum(f.endswith(".parquet")
                                 for f in os.listdir(self.inp.slice))

    def _write_path(self):
        t0 = time.perf_counter()
        io.append(self.spark.read.parquet(self.inp.slice), self.table)
        t1 = time.perf_counter()
        res = checkpoint.resumable_sketch_build(
            self.spark, self.table, "conv_id", HllAggregator(), self.ckpt)
        t2 = time.perf_counter()
        write_shards(self.spark.read.parquet(self.inp.slice), self.hll,
                     self.kll, "slice")
        return res, (t1 - t0, t2 - t1)

    def _check_write(self, out) -> tuple[list, list]:
        res, _ = out
        ex = self.exact
        if self.one_shot is None:
            self.one_shot = collect_merged(
                self.spark.read.parquet(self.table), ["conv_id"],
                HllAggregator())
        snap = io.resolve_snapshot(self.table, None)
        problems = []
        if (res.files_processed, res.files_resumed) != (
                self.n_slice_files, self.n_base_files):
            problems.append(
                f"resume processed {res.files_processed} / resumed "
                f"{res.files_resumed} files, expected {self.n_slice_files}"
                f" / {self.n_base_files}")
        if res.rows != ex["rows_all"] or snap["rows"] != ex["rows_all"]:
            problems.append(f"rows {res.rows} / snapshot {snap['rows']} "
                            f"!= {ex['rows_all']}")
        if res.sketch != self.one_shot:
            problems.append("resumed sketch differs from one-shot build")
        p, errs = hll_check("resumed estimate", {"": res.estimate},
                            {"": ex["n_conv"]})
        return problems + p, errs

    def cycle(self, rec: Recorder) -> None:
        """Reset to the prepared state, run the write path, then one round
        of reads."""
        link_tree(self.state, self.cur)
        out = rec.call("write_path", self._write_path, self._check_write,
                       self.turns, kind="write")
        if out is not None:
            res, (append_s, build_s) = out
            rec.layers["io.append_s"].append(append_s)
            rec.layers["checkpoint.build_s"].append(build_s)
            rec.layers["checkpoint.files_processed"].append(
                res.files_processed)
            rec.layers["checkpoint.files_resumed"].append(res.files_resumed)
            t0 = time.perf_counter()
            checkpoint.read_lineage(self.ckpt)
            rec.layers["checkpoint.read_lineage_s"].append(
                time.perf_counter() - t0)
        self.reads(rec)

    def reads(self, rec: Recorder) -> None:
        spark, ex = self.spark, self.exact or {}
        hll_rows = spark.read.parquet(self.hll)
        kll_rows = spark.read.parquet(self.kll)
        hll_rows.createOrReplaceTempView("shards_hll")
        H.register_sql_functions(spark)

        def keyed(label, exact_key):
            return lambda rows: hll_check(
                label, {str(r[0]): r[1] for r in rows}, ex[exact_key])

        rec.query("hll_rollup.by_role",
                  lambda: H.hll_rollup(hll_rows, group_by="role"),
                  keyed("rollup by role", "by_role"))
        rec.query("hll_rollup.by_day",
                  lambda: H.hll_rollup(hll_rows, group_by="day"),
                  keyed("rollup by day", "by_day"))
        rec.query("hll_rollup.global", lambda: H.hll_rollup(hll_rows),
                  lambda rows: hll_check("rollup global", {"": rows[0][0]},
                                         {"": ex["n_conv"]}))
        rec.query("quantiles_rollup.by_role",
                  lambda: H.quantiles_rollup(kll_rows, list(QS),
                                             group_by="role"),
                  lambda rows: _only(kll_check(
                      "quantiles rollup", {r[0]: list(r[1:]) for r in rows},
                      ex["len_hist_by_role"])))
        rec.query(
            "sql.hll_estimate",
            lambda: spark.sql(
                "SELECT part, day, role, tool, hll_estimate(sketch) "
                "FROM shards_hll"),
            lambda rows: hll_check(
                "sql hll_estimate",
                {"|".join(map(str, r[:4])): r[4] for r in rows},
                ex["by_shard"]))
