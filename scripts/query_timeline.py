"""Per-query job timeline from Spark event logs.

    python scripts/query_timeline.py .perfbench_work/trace/main
    python scripts/query_timeline.py LOG_DIR --label 'approx_distinct\\.'

Reads every event log file under LOG_DIR (rolling ``eventlog_v2_*/events_*``
directories or single-file logs, uncompressed; ``perfbench/run.py --trace 1``
writes them under ``.perfbench_work/trace``). A query is a run of
consecutive jobs with one ``spark.job.description``; a description set
again later (the next benchmark cycle) starts a new query. For each query
it prints the number of jobs, each job's duration, and the driver gaps:
from the start of the query's SQL executions to the first job, between
jobs, and from the last job to the end of its SQL executions. Planning
that happens before a SQL execution starts is not in the log, so it shows
in no gap. Times are milliseconds.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
from dataclasses import dataclass, field


@dataclass
class Query:
    label: str
    jobs: list = field(default_factory=list)       # [job id, start, end]
    executions: set = field(default_factory=set)   # SQL execution ids


def log_files(root: str) -> dict[str, list[str]]:
    """Event log files of each application under ``root`` (keyed by its
    log directory or file), in order."""
    apps: dict[str, list[str]] = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            rolling = os.path.basename(d).startswith("eventlog_v2_")
            if rolling and not f.startswith("events_"):
                continue            # e.g. the appstatus_ marker
            apps.setdefault(d if rolling else path, []).append(path)

    def index(path):  # events_<n>_<app id>: order by n
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    return {k: sorted(v, key=index) for k, v in sorted(apps.items())}


def _events(paths: list[str]):
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def queries(paths: list[str]) -> tuple[list[Query], dict]:
    """The queries of one application, in job order, and each SQL
    execution's ``(start, end)`` time."""
    out: list[Query] = []
    running: dict[int, list] = {}
    spans: dict[int, list] = {}
    for e in _events(paths):
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerSQLExecutionStart":
            spans[e["executionId"]] = [e["time"], None]
        elif kind == "SparkListenerSQLExecutionEnd":
            spans.setdefault(e["executionId"], [None, None])[1] = e["time"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            label = props.get("spark.job.description", "")
            if not out or out[-1].label != label:
                out.append(Query(label))
            job = [e["Job ID"], e["Submission Time"], None]
            out[-1].jobs.append(job)
            running[e["Job ID"]] = job
            if "spark.sql.execution.id" in props:
                out[-1].executions.add(int(props["spark.sql.execution.id"]))
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in running:
            running.pop(e["Job ID"])[2] = e["Completion Time"]
    return out, spans


def timeline(q: Query, spans: dict) -> dict:
    """Jobs and driver gaps of one query (``None`` where a time is not
    in the log, e.g. a job that never ended)."""
    own = [spans[x] for x in q.executions if x in spans]
    starts = [s for s, _ in own if s is not None]
    ends = [e for _, e in own if e is not None]
    jobs = sorted(q.jobs, key=lambda j: j[1])

    def gap(a, b):
        return None if a is None or b is None else b - a

    return {
        "label": q.label,
        "jobs": [(j, gap(s, t)) for j, s, t in jobs],
        "before": gap(min(starts), jobs[0][1]) if starts else None,
        "between": [gap(a[2], b[1]) for a, b in zip(jobs, jobs[1:])],
        "after": gap(jobs[-1][2], max(ends)) if ends else None,
    }


def _ms(v) -> str:
    return "?" if v is None else f"{v}"


def render(t: dict) -> str:
    parts = [f"before {_ms(t['before'])}"]
    for i, (job, dur) in enumerate(t["jobs"]):
        if i:
            parts.append(f"gap {_ms(t['between'][i - 1])}")
        parts.append(f"job {job}: {_ms(dur)}")
    parts.append(f"after {_ms(t['after'])}")
    return f"{t['label'] or '(no description)'}: {len(t['jobs'])} jobs\n" \
        f"  {' | '.join(parts)}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("log_dir")
    ap.add_argument("--label", default="",
                    help="only descriptions matching this regex")
    args = ap.parse_args(argv)
    apps = log_files(args.log_dir)
    if not apps:
        print(f"no event log under {args.log_dir}", file=sys.stderr)
        return 1
    pattern = re.compile(args.label)
    for app, paths in apps.items():
        print(f"== {app}")
        qs, spans = queries(paths)
        for q in qs:
            if pattern.search(q.label):
                print(render(timeline(q, spans)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
