"""Executed-plan diff of the benchmarked queries, parent against change.

    python scripts/plan_diff.py --parent 99bc774

Exports the parent commit with ``git archive`` (as
``scripts/perfbench_pairs.py`` does, default ``.bench_cache/parent_<rev>``),
writes one generated transcripts table per workload at the benchmark's
sizes (``TABLES``), then, once from the parent's tree and once from this
working tree, builds every ``global_scan`` and ``grouped_skew`` query of the
benchmark on its workload's table at ``local[nproc]`` (as the benchmark
runs), runs it, and reads its final adaptive plan with that tree's
``engine.plans.final_plan``. Expression ids (``#123``) and plan ids are
masked, so two runs of one plan read the same. Prints, per query, ``same``
or a unified diff of the two plans, and exits 1 if any differ.

The query list and ``TABLES`` mirror the benchmark's workloads and its
``bench`` input sizes by hand (this script imports nothing from
``perfbench/``); keep them in step. A query that only returns driver-side
bytes (``bloom_build``) is read as the last DataFrame it collected.

An unchanged plan rules out plan-level effects of a change (operators,
exchanges, partition counts): the benchmark's run-to-run spread alone can
be as wide as its bounds. It does not rule out a change to the code that
runs inside the operators (the Python kernels of a ``MapInArrow``), which
moves a metric without changing the plan.
"""

from __future__ import annotations

import argparse
import difflib
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.abspath(os.path.dirname(__file__)))
QS = [0.5, 0.9, 0.99]
MASKS = [(re.compile(r"#\d+L?"), "#"), (re.compile(r"plan_id=\d+"),
                                        "plan_id=")]
# (turns, files) of each workload's table: the benchmark's "bench" sizes
TABLES = {"global_scan": (300_000, 8), "grouped_skew": (25_000, 8)}


def n_convs(turns: int) -> int:
    """Conversations of a ``turns``-row table, the benchmark's ratio."""
    return max(1, turns * 3 // 40)


def queries(workload: str, df) -> dict:
    """label -> thunk running the query; labels follow the benchmark's."""
    import hyperloglog_spark as H
    from hyperloglog_spark import transcripts as TR
    from pyspark.sql import functions as F

    q = {}
    if workload == "global_scan":
        multi = ["conv_id", "text", "tool"]
        for engine in ("arrow", "jvm"):
            q[f"approx_distinct.conv_id.{engine}"] = (
                lambda e=engine: H.approx_distinct(df, "conv_id", engine=e))
        q["approx_distinct.conv_tool.arrow"] = (
            lambda: H.approx_distinct(df, ["conv_id", "tool"]))
        for engine in ("arrow", "jvm"):
            q[f"approx_distinct_multi.{engine}"] = (
                lambda e=engine: H.approx_distinct_multi(df, multi,
                                                         engine=e))
        q["cms_topk.tool"] = lambda: H.cms_topk(df, "tool", k=10)
        q["kll.turn_length"] = lambda: TR.turn_length_quantiles(df, qs=QS)
        q["tdigest.latency"] = lambda: TR.latency_quantiles(df, qs=QS)
        q["bloom_build.conv_id"] = lambda: H.bloom_build(
            df, "conv_id", expected_items=n_convs(TABLES[workload][0]))
    else:
        q["approx_distinct.text_by_conv"] = (
            lambda: H.approx_distinct(df, "text", group_by="conv_id"))
        q["kll.turn_length_by_conv"] = lambda: H.approx_quantiles(
            df.select("conv_id", F.length("text").alias("turn_chars")),
            "turn_chars", QS, group_by="conv_id")
        q["approx_distinct.conv_by_sliding_window"] = (
            lambda: H.approx_distinct(
                TR.with_sliding_windows(df, "ts", 3600, 600), "conv_id",
                group_by="window_start_epoch"))
        q["approx_distinct.text_by_role"] = (
            lambda: H.approx_distinct(df, "text", group_by="role"))
    return {f"{workload}/{label}": run for label, run in q.items()}


def emit(root: str, work: str) -> None:
    """Child: print {label: masked final plan} for the tree at ``root``."""
    sys.path.insert(0, root)
    from pyspark.sql import DataFrame

    from hyperloglog_spark.engine.plans import final_plan
    from hyperloglog_spark.engine.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="plan_diff", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    try:
        # the concrete DataFrame class (pyspark.sql.classic under Spark 4)
        cls, collected = type(spark.range(1)), []
        collect = cls.collect

        def remembering_collect(self):
            collected.append(self)
            return collect(self)

        cls.collect = remembering_collect
        plans = {}
        for workload in TABLES:
            df = spark.read.parquet(table_path(work, workload))
            for label, run in queries(workload, df).items():
                out = run()
                if isinstance(out, DataFrame):
                    out.collect()
                plan = final_plan(collected[-1])
                for pat, rep in MASKS:
                    plan = pat.sub(rep, plan)
                plans[label] = plan
    finally:
        spark.stop()
    print(json.dumps(plans))


def table_path(work: str, workload: str) -> str:
    turns, files = TABLES[workload]
    return os.path.join(work, f"{workload}_{turns}x{files}")


def side_plans(root: str, work: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--emit", root,
         "--work", work],
        cwd=root, capture_output=True, text=True, timeout=1800,
    )
    if out.returncode:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"plan run failed under {root}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", help="git rev of the parent")
    ap.add_argument("--parent-dir", help="where to export the parent")
    ap.add_argument("--work", default=os.path.join(REPO, ".bench_cache",
                                                   "plan_diff"))
    ap.add_argument("--emit", help=argparse.SUPPRESS)
    args = ap.parse_args()
    work = os.path.abspath(args.work)
    if args.emit:
        emit(args.emit, work)
        return 0
    if not args.parent:
        ap.error("--parent is required")

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from perfbench_pairs import export

    parent = export(args.parent, args.parent_dir or os.path.join(
        REPO, ".bench_cache", f"parent_{args.parent}"))
    for workload, (turns, files) in TABLES.items():
        table = table_path(work, workload)
        if not os.path.isdir(table):
            sys.path.insert(0, REPO)
            from hyperloglog_spark.data import transcripts

            transcripts.write(table, turns, n_convs(turns), seed=7,
                              n_files=files, parallel=1)
    old = side_plans(parent, work)
    new = side_plans(REPO, work)
    changed = 0
    for label in sorted(set(old) | set(new)):
        a, b = old.get(label, ""), new.get(label, "")
        if a == b:
            print(f"same     {label}")
            continue
        changed += 1
        print(f"CHANGED  {label}")
        sys.stdout.writelines(difflib.unified_diff(
            a.splitlines(True), b.splitlines(True), "parent", "change"))
    print(f"{changed} of {len(set(old) | set(new))} plans differ")
    return 1 if changed else 0


if __name__ == "__main__":
    sys.exit(main())
