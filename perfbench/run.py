"""Benchmark of the hyperloglog_spark sketch library over transcripts.

    python3 perfbench/run.py --workload global_scan --seed 1 --seconds 5 \
        --trace 0

Run from the root of a checkout. One driver process at local[nproc] issues
the workload's operations one after another (a closed loop with one
client) for ``--seconds``, checks every answer against exact answers
computed with plain Spark SQL, and prints one JSON object as the last line
of stdout. ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
WORKLOADS = ("global_scan", "grouped_skew", "incremental_rollup")
N_SETUPS = 3
SCALING_REPS = 3
BATCH_ROWS = 2 ** 17  # the library's Arrow batch size
PR_SET_CHILD_SUBREAPER = 36
REAP_GRACE_S = 5.0  # how long leftovers may take to exit by themselves
REAP_TERM_S = 15.0  # then how long after SIGTERM before SIGKILL


def _become_subreaper() -> None:
    """Make this process the parent of every orphaned descendant (the JVM
    launcher's shell, Python workers whose daemon has exited), so that
    ``_reap`` sees and waits for each of them."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _live_children() -> list[int]:
    me = str(os.getpid())
    kids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
        except OSError:
            continue
        if ppid == me and state != "Z":
            kids.append(int(pid))
    return kids


def _reap() -> None:
    """Wait until every process this run started has ended: give them
    REAP_GRACE_S to exit, then SIGTERM, then SIGKILL. As a subreaper this
    process inherits each grandchild whose parent ends, so waiting for all
    children until none is left waits for all descendants."""
    t0 = time.monotonic()
    signalled: dict[int, int] = {}
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no child left, running or exited
        waited = time.monotonic() - t0
        if waited > REAP_GRACE_S:
            sig = (signal.SIGKILL if waited > REAP_GRACE_S + REAP_TERM_S
                   else signal.SIGTERM)
            for pid in _live_children():
                if signalled.get(pid) != sig:
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
                    signalled[pid] = sig
        time.sleep(0.05)


def _isolate_scratch() -> None:
    """Keep every file Spark, the JVM and Python write under WORK."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    # every JVM, the launcher included: no hsperfdata, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    tempfile.tempdir = None


def _conf(trace_dir: str | None) -> dict:
    conf = {
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    }
    if trace_dir:
        os.makedirs(trace_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": Path(trace_dir).as_uri(),
            "spark.eventLog.compress": "false",
        })
    return conf


def _forget_java_udfs() -> None:
    """The library's module-level pandas UDFs cache their Java function,
    bound to the SparkContext that first ran them; drop that cache when a
    session stops so the next session in this process builds its own."""
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("hyperloglog_spark"):
            for obj in vars(mod).values():
                udf = getattr(obj, "_unwrapped", None)
                if hasattr(udf, "_judf_placeholder"):
                    udf._judf_placeholder = None


class Bench:
    def __init__(self, args):
        from inputs import Input, n_convs

        self.args = args
        self.nproc = len(os.sched_getaffinity(0))
        self.inp = Input(str(WORK), args.workload, args.seed, args.scale,
                         self.nproc)
        self.inp.ensure_files()
        self.n_convs = n_convs(self.inp.turns)
        self.exact = None
        self.spark = None

    # ------------------------------------------------------------ sessions

    def session(self, cpus: int, trace_dir: str | None = None):
        from hyperloglog_spark.engine.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{self.args.workload}",
                          master=f"local[{cpus}]", shuffle_partitions=cpus,
                          extra_conf=_conf(trace_dir))
        t1 = time.perf_counter()

        def hold(batches):
            import time as _t

            _t.sleep(0.05)  # keeps all tasks alive at once: one worker each
            yield from batches

        spark.sparkContext.setJobDescription("setup")
        spark.range(0, cpus * 1024, 1, cpus).mapInArrow(
            hold, "id long").count()
        t2 = time.perf_counter()
        self.spark = spark
        return spark, t1 - t0, t2 - t1

    def workload(self, spark, paths=None):
        """The workload over the whole input, or over ``paths``."""
        import workloads as W

        name, paths = self.args.workload, paths or [self.inp.table]
        if name == "global_scan":
            return W.GlobalScan(spark, paths, self.inp.turns, self.n_convs,
                                self.exact)
        if name == "grouped_skew":
            return W.GroupedSkew(spark, paths, self.inp.turns, self.exact)
        return W.IncrementalRollup(spark, self.inp, str(WORK), self.exact)

    def warm(self, wl) -> None:
        """One unchecked, unreported pass so that code generation, JIT and
        the Python workers' imports are done before timing: a cycle over
        the small warm-up table, or for incremental_rollup (whose write
        path the preparation already ran) one round of reads."""
        from workloads import Recorder

        rec = Recorder(self.spark, "warm:", checking=False)
        if self.args.workload == "incremental_rollup":
            wl.reads(rec)
            return
        warm = self.workload(self.spark, paths=[self.inp.warm])
        warm.prepare()
        warm.cycle(rec)

    def set_up(self, trace_dir: str | None = None):
        """Session start + full-width warm-up + the workload's untimed
        preparation; returns (workload, start_s, warm_s, total_s)."""
        t0 = time.perf_counter()
        spark, start_s, warm_s = self.session(self.nproc, trace_dir)
        wl = self.workload(spark)
        wl.prepare()
        return wl, start_s, warm_s, time.perf_counter() - t0

    def set_ups(self, last_trace_dir: str | None = None, between=None):
        """N_SETUPS set-ups, the last one kept; ``between(wl)`` runs in the
        second-to-last session before it stops."""
        parts = []
        for i in range(N_SETUPS):
            last = i == N_SETUPS - 1
            wl, start_s, warm_s, total_s = self.set_up(
                last_trace_dir if last else None)
            parts.append((start_s, warm_s, total_s))
            if not last:
                if between is not None and i == N_SETUPS - 2:
                    between(wl)
                self.stop_session()
        return wl, parts

    def stop_session(self) -> None:
        self.spark.stop()
        _forget_java_udfs()

    # ---------------------------------------------------------------- loop

    def loop(self, wl, seconds: float, rec) -> list[float]:
        """Whole cycles until ``seconds`` have passed; returns cycle times."""
        cycles: list[float] = []
        while not cycles or sum(cycles) < seconds:
            rec.cycle = len(cycles)
            t0 = time.perf_counter()
            wl.cycle(rec)
            cycles.append(time.perf_counter() - t0)
        return cycles

    def prepare_checks(self, wl) -> None:
        """Exact answers, computed once per run."""
        if self.exact is None:
            self.spark.sparkContext.setJobDescription("exact")
            self.exact = self.inp.exact(self.spark)
        wl.exact = self.exact

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


def _end_to_end(bench: Bench, args) -> tuple[dict, object]:
    from workloads import Recorder

    t0 = time.perf_counter()
    wl, parts = bench.set_ups()
    t1 = time.perf_counter()
    bench.prepare_checks(wl)
    t2 = time.perf_counter()
    bench.warm(wl)
    t3 = time.perf_counter()
    rec = Recorder(bench.spark)
    cycles = bench.loop(wl, args.seconds, rec)
    queries = [dt for _, kind, dt, _, _ in rec.samples if kind == "query"]
    built = [(dt, n, c) for _, _, dt, n, c in rec.samples if n]
    # sketch-build throughput of each cycle; the run reports their median
    throughput = [
        sum(n for _, n, c in built if c == i)
        / max(sum(dt for dt, _, c in built if c == i), 1e-9)
        for i in range(len(cycles))
    ]
    print(f"[perfbench] {args.workload}: {len(queries)} timed queries, "
          f"{len(built)} sketch builds, {rec.failed}/{rec.attempted} failed; "
          f"input {bench.inp.gen_s:.1f} s, set-ups {t1 - t0:.1f} s ("
          + ", ".join(f"{p[2]:.2f}" for p in parts) + "), exact "
          f"answers {t2 - t1:.1f} s, warm pass {t3 - t2:.1f} s, "
          f"{len(cycles)} cycles "
          f"{sum(cycles):.1f} s", flush=True)
    by_label: dict = {}
    for label, _, dt, _, _ in rec.samples:
        by_label.setdefault(label, []).append(dt)
    for label, dts in by_label.items():
        print(f"[perfbench]   {label}: n={len(dts)} median "
              f"{statistics.median(dts):.3f} s", flush=True)
    metrics = {
        "setup_s": (statistics.median(p[2] for p in parts), "s"),
        "turns_per_s": (statistics.median(throughput), "turns/s"),
        "query_s_p50": (statistics.median(queries) if queries else 0.0, "s"),
        "ops_ok_frac": (1 - rec.failed / max(rec.attempted, 1), "ratio"),
    }
    return metrics, rec


def _scaling_s(spark, table: str) -> float:
    """Median time of SCALING_REPS HLL builds (approx_distinct of conv_id,
    the arrow engine) over ``table``, after one untimed build."""
    import hyperloglog_spark as H

    df = spark.read.parquet(table)
    spark.sparkContext.setJobDescription("probe:scaling")
    times = []
    for _ in range(SCALING_REPS + 1):
        t0 = time.perf_counter()
        H.approx_distinct(df, "conv_id").collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times[1:])


def _per_layer(bench: Bench, args) -> tuple[dict, object]:
    """The traced run (README.md, "Traced run")."""
    import glob
    import shutil
    from collections import defaultdict

    import workloads as W
    from hyperloglog_spark.engine.aggregate import sketch_partials
    from hyperloglog_spark.functions import HllAggregator
    from inputs import Input, n_convs
    from layers import EventLog, kernel_timings, peak_rss_mb, sql_layers
    from workloads import Recorder

    trace_root = WORK / "trace"
    shutil.rmtree(trace_root, ignore_errors=True)
    untraced: list[float] = []

    def baseline(wl):
        # the same warm pass and one cycle without the event log: the
        # reference for the tracing overhead
        bench.prepare_checks(wl)
        bench.warm(wl)
        untraced.extend(bench.loop(wl, 0, Recorder(bench.spark)))

    wl, parts = bench.set_ups(str(trace_root / "main"), between=baseline)
    spark = bench.spark
    app_id = spark.sparkContext.applicationId
    bench.prepare_checks(wl)
    bench.warm(wl)
    rec = Recorder(spark)
    cycles = bench.loop(wl, args.seconds, rec)
    rss = peak_rss_mb()
    labels = {s[0] for s in rec.samples}
    layers = defaultdict(list, rec.layers)

    # the global_scan input of this seed: the scaling figure, and the
    # JVM-engine layers of the workloads that run no JVM-engine query
    if args.workload == "global_scan":
        scan = bench.inp
        jvm_labels, jvm_per = labels, len(cycles)
    else:
        scan = Input(str(WORK), "global_scan", args.seed, args.scale,
                     bench.nproc)
        scan.ensure_files()
        grec = Recorder(spark, "probe:", checking=False)
        gwl = W.GlobalScan(spark, [scan.table], scan.turns,
                           n_convs(scan.turns), None)
        gwl.prepare()
        gwl.cycle(grec, engines=("jvm",))
        jvm_labels, jvm_per = {"probe:" + s[0] for s in grec.samples}, 1
    jvm_labels = {lab for lab in jvm_labels if lab.endswith(".jvm")}
    wide_s = _scaling_s(spark, scan.table)

    spark.sparkContext.setJobDescription("probe:phase1")
    t0 = time.perf_counter()
    sketch_partials(spark.read.parquet(bench.inp.table), ["conv_id"],
                    HllAggregator()).write.format("noop").mode(
                        "overwrite").save()
    layers["aggregate.phase1.wall_s"].append(time.perf_counter() - t0)
    # the write path and the rollup reads over this input's table and slice,
    # for the workloads whose loop does not run them
    rrec = rec
    if args.workload != "incremental_rollup":
        rrec = Recorder(spark, "probe:", checking=False)
        rollup = W.IncrementalRollup(spark, bench.inp, str(WORK), None)
        rollup.prepare()
        rollup.cycle(rrec)
        layers.update(rrec.layers)
    layers["rollup.query_s"] = [dt for _, kind, dt, _, _ in rrec.samples
                                if kind == "query"]
    bench.stop_session()

    narrow_spark, _, _ = bench.session(1, str(trace_root / "narrow"))
    narrow_s = _scaling_s(narrow_spark, scan.table)

    log = EventLog(glob.glob(str(trace_root / "main" / f"*{app_id}*"))[0])
    metrics = sql_layers(log, labels, len(cycles), jvm_labels, jvm_per,
                         len(rec.samples))
    query_s = sum(s[2] for s in rec.samples)
    map_s, reduce_s = log.stage_wall_s(labels)
    print(f"[perfbench] {args.workload}: {len(cycles)} cycles, {query_s:.1f}"
          f" s of operations; share of that wall time in stages that read "
          f"no shuffle (scan, phase 1) {map_s / query_s:.1%}, in stages "
          f"after a shuffle (phase 2) {reduce_s / query_s:.1%}; tasks.skew "
          f"{metrics['tasks.skew'][0]:.2f}", flush=True)
    metrics.update(kernel_timings(bench.inp.table, bench.n_convs, BATCH_ROWS))
    for name in ("io.append_s", "checkpoint.build_s",
                 "checkpoint.read_lineage_s", "rollup.query_s",
                 "aggregate.phase1.wall_s"):
        metrics[name] = (statistics.median(layers[name]), "s")
    for name in ("checkpoint.files_processed", "checkpoint.files_resumed"):
        metrics[name] = (statistics.median(layers[name]), "count")
    metrics.update({
        "session.start_s": (statistics.median(p[0] for p in parts), "s"),
        "session.warm_s": (statistics.median(p[1] for p in parts), "s"),
        "scaling.eff_1_to_4": (narrow_s / (bench.nproc * wide_s), "ratio"),
        "memory.peak_rss_mb": (rss["total"], "MB"),
        "memory.jvm_peak_mb": (rss["jvm"], "MB"),
        "memory.python_peak_mb": (rss["python"], "MB"),
        "tracing.overhead": (statistics.median(cycles)
                             / statistics.median(untraced), "ratio"),
        "hll.rel_err_max": (max(rec.hll_errs, default=0.0), "ratio"),
    })
    return metrics, rec


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "tiny"), default="bench",
                    help="input size; 'tiny' is for the self-test")
    args = ap.parse_args()
    if not (ROOT / "hyperloglog_spark" / "__init__.py").is_file():
        print(f"perfbench: no hyperloglog_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    _become_subreaper()
    _isolate_scratch()
    sys.path.insert(0, str(ROOT))
    try:
        bench = Bench(args)
        try:
            metrics, rec = (_per_layer if args.trace else _end_to_end)(
                bench, args)
        finally:
            bench.stop()
    finally:
        _reap()
    print(json.dumps({
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
