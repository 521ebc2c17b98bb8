"""Per-layer readings, all taken from outside the library.

- ``EventLog``: Spark's own event log. SQL metrics are summed per operator
  of the final AQE plans Spark records for each execution (so executions
  the library starts internally, as ``bloom_build`` and
  ``resumable_sketch_build`` do, are covered too); task records give skew,
  and GC time. Units are normalised here: Spark's ``timing``
  metrics are in ms, ``nsTiming`` (shuffle write time) in ns.
- ``peak_rss_mb``: VmHWM of this process and every descendant (the JVM,
  the Python daemon and workers), read from ``/proc``, in total and split
  into the JVM and the Python processes.
- ``kernel_timings``: the sketch kernels timed in-process on one
  Arrow-batch-sized slice of the input.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from collections import defaultdict

import numpy as np

PY_NODE = re.compile(r"InArrow|InPandas|EvalPython")


def peak_rss_mb() -> dict:
    """Summed VmHWM in MB of this process and every descendant: ``jvm``
    (the java processes), ``python`` (the driver, the Python daemon and
    workers) and ``total``."""
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(d))
    kb = {"jvm": 0, "python": 0}
    stack = [os.getpid()]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/comm") as fh:
                kind = "jvm" if fh.read().strip() == "java" else "python"
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb[kind] += int(line.split()[1])
        except OSError:
            continue
    mb = {k: v / 1024.0 for k, v in kb.items()}
    mb["total"] = mb["jvm"] + mb["python"]
    return mb


class EventLog:
    """One application's event log, reduced to per-label sums.

    Labels are the job descriptions the benchmark sets around each
    operation; every SQL execution and stage carries one."""

    def __init__(self, app_dir: str):
        events = []
        for path in sorted(glob.glob(os.path.join(app_dir, "events_*"))):
            with open(path) as fh:
                events.extend(json.loads(line) for line in fh)
        # accumulator id -> (label, node, metric, type); final plan per exec
        self.accs: dict[int, tuple] = {}
        final_plan: dict[int, tuple] = {}
        stage_label: dict[int, str] = {}
        self.metric = defaultdict(float)   # (label, node, metric) -> value
        self.tasks = defaultdict(list)     # (label, stage) -> durations ms
        self.stage_wall = {}               # (label, stage) -> wall ms
        self.reads_shuffle = set()         # (label, stage) after a shuffle
        self.task_sums = defaultdict(float)  # (label, field) -> ms
        for e in events:
            kind = e["Event"].rsplit(".", 1)[-1]
            if kind in ("SparkListenerSQLExecutionStart",
                        "SparkListenerSQLAdaptiveExecutionUpdate"):
                xid = e["executionId"]
                label = (e.get("description") if "description" in e
                         else final_plan.get(xid, ("",))[0])
                final_plan[xid] = (label, e["sparkPlanInfo"])
                self._index(label, e["sparkPlanInfo"])
            elif kind == "SparkListenerJobStart":
                label = (e.get("Properties") or {}).get(
                    "spark.job.description", "")
                for sid in e["Stage IDs"]:
                    stage_label[sid] = label
            elif kind == "SparkListenerTaskEnd":
                self._task(e, stage_label.get(e["Stage ID"], ""))
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    sid = info["Stage ID"]
                    self.stage_wall[(stage_label.get(sid, ""), sid)] = (
                        info["Completion Time"] - info["Submission Time"])
            elif kind == "SparkListenerDriverAccumUpdates":
                for acc_id, value in e["accumUpdates"]:
                    self._add(acc_id, value)
        self.python_nodes = defaultdict(int)  # label -> python operators
        for label, plan in final_plan.values():
            self.python_nodes[label] += self._count_python(plan)

    def _index(self, label, plan) -> None:
        for m in plan.get("metrics", []):
            self.accs[m["accumulatorId"]] = (
                label, plan["nodeName"].strip(), m["name"], m["metricType"])
        for c in plan.get("children", []):
            self._index(label, c)

    def _count_python(self, plan) -> int:
        return (bool(PY_NODE.search(plan["nodeName"]))
                + sum(self._count_python(c) for c in plan.get("children", [])))

    def _add(self, acc_id, value) -> None:
        key = self.accs.get(acc_id)
        if key is None:
            return
        label, node, name, mtype = key
        v = float(value)
        if mtype == "timing":
            v /= 1e3
        elif mtype == "nsTiming":
            v /= 1e9
        self.metric[(label, node, name)] += v

    def _task(self, e, label) -> None:
        info, tm = e["Task Info"], e.get("Task Metrics") or {}
        self.tasks[(label, e["Stage ID"])].append(
            info["Finish Time"] - info["Launch Time"])
        self.task_sums[(label, "gc")] += tm.get("JVM GC Time", 0)
        read = tm.get("Shuffle Read Metrics") or {}
        if read.get("Local Blocks Fetched", 0) + read.get(
                "Remote Blocks Fetched", 0):
            self.reads_shuffle.add((label, e["Stage ID"]))
        for a in info.get("Accumulables", []):
            if "Update" in a:
                self._add(a["ID"], a["Update"])

    def total(self, labels, node_re: str, name: str) -> float:
        """Sum of one SQL metric over operators matching ``node_re`` in the
        executions of ``labels`` (times in s, sizes in bytes)."""
        pat = re.compile(node_re)
        return sum(v for (lab, node, n), v in self.metric.items()
                   if lab in labels and n == name and pat.search(node))

    def task_total_s(self, labels, field: str) -> float:
        return sum(v for (lab, f), v in self.task_sums.items()
                   if lab in labels and f == field) / 1e3

    def stage_wall_s(self, labels) -> tuple[float, float]:
        """Summed stage wall time in the executions of ``labels``: stages
        that read no shuffle (scan and phase 1), stages that read one
        (phase 2)."""
        before = after = 0.0
        for key, ms in self.stage_wall.items():
            if key[0] in labels:
                if key in self.reads_shuffle:
                    after += ms
                else:
                    before += ms
        return before / 1e3, after / 1e3

    def worst_skew(self, labels) -> float:
        """max / median task time in the worst stage with >= 2 tasks."""
        skews = [max(d) / max(statistics.median(d), 1.0)
                 for (lab, _), d in self.tasks.items()
                 if lab in labels and len(d) >= 2]
        return max(skews, default=1.0)


def sql_layers(log: EventLog, labels: set, per: int, jvm_labels: set,
               jvm_per: int, n_ops: int) -> dict:
    """The SQL-metric and task layers, per workload cycle."""
    t = log.total
    phase1, phase2 = r"^MapInArrow", r"^FlatMapGroupsInPandas"
    sent, got = "data sent to Python workers", "data returned from Python workers"
    run, init, boot = ("time to run Python workers",
                       "time to initialize Python workers",
                       "time to start Python workers")
    return {
        "io.scan_s": (t(labels, r"^Scan", "scan time") / per, "s"),
        "io.scan_rows": (t(labels, r"^Scan", "number of output rows") / per,
                         "rows"),
        "aggregate.phase1.python_s": (t(labels, phase1, run) / per, "s"),
        "aggregate.phase1.init_s": (
            (t(labels, phase1, init) + t(labels, phase1, boot)) / per, "s"),
        "aggregate.phase1.bytes_in": (t(labels, phase1, sent) / per, "bytes"),
        "aggregate.phase1.bytes_out": (t(labels, phase1, got) / per, "bytes"),
        "aggregate.partial_rows": (
            t(labels, phase1, "number of output rows") / per, "rows"),
        "aggregate.phase2.python_s": (t(labels, phase2, run) / per, "s"),
        "aggregate.phase2.init_s": (
            (t(labels, phase2, init) + t(labels, phase2, boot)) / per, "s"),
        "aggregate.phase2.bytes_in": (t(labels, phase2, sent) / per, "bytes"),
        "python.stages": (
            sum(log.python_nodes[lab] for lab in labels) / max(n_ops, 1),
            "count"),
        "shuffle.bytes": (
            t(labels, r"Exchange", "shuffle bytes written") / per, "bytes"),
        "shuffle.write_s": (
            t(labels, r"Exchange", "shuffle write time") / per, "s"),
        "shuffle.records": (
            t(labels, r"Exchange", "shuffle records written") / per, "rows"),
        "tasks.skew": (log.worst_skew(labels), "ratio"),
        "tasks.gc_s": (log.task_total_s(labels, "gc") / per, "s"),
        "functions.jvm.agg_s": (
            t(jvm_labels, r"^HashAggregate", "time in aggregation build")
            / jvm_per, "s"),
        "functions.jvm.register_rows": (
            t(jvm_labels, r"^HashAggregate", "number of output rows")
            / jvm_per, "rows"),
    }


def _median_time(fn, reps: int = 5) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kernel_timings(table: str, n_convs: int, batch_rows: int) -> dict:
    """Sketch kernels on the first ``batch_rows`` rows of the input."""
    import pandas as pd
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from hyperloglog_spark.sketch import bloom, cms, hll, kll, tdigest

    first = sorted(glob.glob(os.path.join(table, "*.parquet")))[0]
    batch = pq.read_table(first).slice(0, batch_rows)
    conv = batch.column("conv_id").to_pandas()
    hashes = pd.util.hash_array(conv.to_numpy(dtype=object))
    codes, uniq = pd.factorize(conv)
    codes = codes.astype(np.int64)
    tools = batch.column("tool").drop_null().to_pandas()
    tool_hashes = pd.util.hash_array(tools.to_numpy(dtype=object))
    lengths = pc.utf8_length(batch.column("text")).to_numpy(
        zero_copy_only=False).astype(np.float64)
    m_bits, k = bloom.optimal_params(n_convs, 0.01)
    n = len(hashes)

    def ns_per_row(fn, rows):
        return _median_time(fn) * 1e9 / max(rows, 1)

    parts = [hll.from_hashes(h) for h in np.array_split(hashes, 64)]
    dense = hll.from_hashes(hashes)
    est_reps = 50
    return {
        "sketch.hll.build_ns_per_row": (
            ns_per_row(lambda: hll.from_hashes(hashes), n), "ns/row"),
        "sketch.hll.build_grouped_ns_per_row": (ns_per_row(
            lambda: hll.group_from_hashes(codes, hashes, len(uniq)), n),
            "ns/row"),
        "sketch.cms.build_ns_per_row": (ns_per_row(
            lambda: cms.from_hashes(tool_hashes), len(tool_hashes)),
            "ns/row"),
        "sketch.kll.build_ns_per_row": (
            ns_per_row(lambda: kll.from_values(lengths), n), "ns/row"),
        "sketch.tdigest.build_ns_per_row": (
            ns_per_row(lambda: tdigest.from_values(lengths), n), "ns/row"),
        "sketch.bloom.build_ns_per_row": (ns_per_row(
            lambda: bloom.from_hashes(hashes, m_bits, k), n), "ns/row"),
        "sketch.hll.merge_s": (
            _median_time(lambda: hll.merge_many(parts)), "s"),
        "sketch.hll.estimate_us": (_median_time(
            lambda: [hll.estimate(dense) for _ in range(est_reps)])
            * 1e6 / est_reps, "us"),
    }
