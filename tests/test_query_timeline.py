"""scripts/query_timeline.py over a small hand-written event log: jobs
grouped into queries by ``spark.job.description``, each job's duration
and the driver gaps around them."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest

_SCRIPT = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                       "scripts", "query_timeline.py")


@pytest.fixture(scope="module")
def qt():
    spec = importlib.util.spec_from_file_location("query_timeline", _SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod    # dataclasses resolve it by name
    spec.loader.exec_module(mod)
    return mod


def _job(jid, start, end, label, execution):
    props = {"spark.job.description": label}
    if execution is not None:
        props["spark.sql.execution.id"] = str(execution)
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid,
         "Submission Time": start, "Stage IDs": [jid], "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid,
         "Completion Time": end, "Job Result": {"Result": "JobSucceeded"}},
    ]


def _sql(xid, start, end, label, jobs):
    pkg = "org.apache.spark.sql.execution.ui."
    out = [{"Event": pkg + "SparkListenerSQLExecutionStart",
            "executionId": xid, "description": label, "time": start}]
    for j in jobs:
        out += _job(*j, label, xid)
    out.append({"Event": pkg + "SparkListenerSQLExecutionEnd",
                "executionId": xid, "time": end})
    return out


@pytest.fixture
def log_dir(tmp_path):
    """One rolling application log in two files: query ``a`` (two SQL
    executions, three jobs), then ``b`` (one job), then ``a`` again."""
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    first = (
        [{"Event": "SparkListenerApplicationStart", "Timestamp": 0}]
        + _sql(0, 1000, 1250, "a", [(0, 1010, 1100), (1, 1130, 1200)])
        + _sql(1, 1260, 1400, "a", [(2, 1300, 1390)])
    )
    second = (
        _sql(2, 2000, 2100, "b", [(3, 2050, 2090)])
        + _sql(3, 3000, 3100, "a", [(4, 3005, 3095)])
        + _job(5, 3200, 3210, "", None)       # an RDD job, no SQL
    )
    for name, events in (("events_1_local-1", first),
                         ("events_2_local-1", second)):
        (app / name).write_text("".join(json.dumps(e) + "\n" for e in events))
    (app / "appstatus_local-1").write_text("")
    return tmp_path


def test_queries_jobs_and_gaps(qt, log_dir):
    [(app, paths)] = qt.log_files(str(log_dir)).items()
    assert app.endswith("eventlog_v2_local-1") and len(paths) == 2
    qs, spans = qt.queries(paths)
    assert [q.label for q in qs] == ["a", "b", "a", ""]
    first = qt.timeline(qs[0], spans)
    assert first["jobs"] == [(0, 90), (1, 70), (2, 90)]
    assert first["before"] == 10          # execution 0 start -> job 0
    assert first["between"] == [30, 100]  # job 0 -> 1, job 1 -> 2
    assert first["after"] == 10           # job 2 -> execution 1 end
    assert qt.timeline(qs[1], spans) == {
        "label": "b", "jobs": [(3, 40)], "before": 50, "between": [],
        "after": 10}
    rdd = qt.timeline(qs[3], spans)
    assert rdd["jobs"] == [(5, 10)] and rdd["before"] is None


def test_main_prints_each_query(qt, log_dir, capsys):
    assert qt.main([str(log_dir), "--label", "^a$"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out[1:] == [
        "a: 3 jobs",
        "  before 10 | job 0: 90 | gap 30 | job 1: 70 | gap 100 | "
        "job 2: 90 | after 10",
        "a: 1 jobs",
        "  before 5 | job 4: 90 | after 5",
    ]


def test_empty_dir_fails(qt, tmp_path):
    assert qt.main([str(tmp_path)]) == 1
