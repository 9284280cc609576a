"""Tests for the event-log parser on a small captured log.

Run with ``python3 -m pytest perfbench/test_eventlog.py``. The fixture
``fixtures/eventlog_small/`` is a real Spark 4 rolling event log of one
application (three job groups and one ungrouped action, among them a
shuffle and an Arrow Python UDF), reduced to the fields the parser reads.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "eventlog_small")


def raw_events():
    for files in eventlog.event_files(FIXTURE):
        for path in files:
            with open(path) as f:
                for line in f:
                    if line.strip():
                        yield json.loads(line)


def test_group_counters_sum_to_log_totals():
    s = eventlog.parse(FIXTURE)
    events = list(raw_events())
    task_metrics = [e["Task Metrics"] for e in events if e["Event"] == "SparkListenerTaskEnd"]
    totals = s.totals
    assert s.apps == 1
    assert totals.jobs == sum(e["Event"] == "SparkListenerJobStart" for e in events)
    assert totals.tasks == len(task_metrics)
    assert totals.stages == sum(e["Event"] == "SparkListenerStageCompleted" for e in events)
    run_s = sum(m["Executor Run Time"] for m in task_metrics) / 1000.0
    assert abs(totals.executor_run_s - run_s) < 1e-9
    shuffle = sum(m["Shuffle Write Metrics"]["Shuffle Bytes Written"] for m in task_metrics)
    assert totals.shuffle_write_bytes == shuffle > 0
    # Every counter of the totals is the sum over the groups.
    for name in ("jobs", "tasks", "executor_run_s", "scan_rows", "shuffle_read_bytes",
                 "python_eval_s", "python_rows"):
        assert abs(getattr(totals, name) - sum(getattr(c, name) for c in s.groups.values())) < 1e-9


def test_attribution_by_job_group():
    s = eventlog.parse(FIXTURE)
    named = {g for g in s.groups if g is not None}
    assert named == {"setup.warmup", "g.shuffle", "g.python"}
    ungrouped = [
        e for e in raw_events()
        if e["Event"] == "SparkListenerJobStart" and not e["Properties"].get("spark.jobGroup.id")
    ]
    assert s.unattributed_jobs == len(ungrouped) > 0
    assert s.groups["g.python"].python_rows > 0
    assert s.groups["g.python"].python_eval_s > 0
    assert s.groups["g.shuffle"].python_rows == 0
    assert s.select(lambda g: g.startswith("g.")).jobs == (
        s.groups["g.shuffle"].jobs + s.groups["g.python"].jobs
    )


def test_empty_or_missing_log_gives_zeros(tmp_path):
    for root in (str(tmp_path), str(tmp_path / "missing")):
        s = eventlog.parse(root)
        assert s.apps == 0
        assert s.unattributed_jobs == 0
        assert all(v == 0 for v in vars(s.totals).values())
    empty_app = tmp_path / "eventlog_v2_local-1"
    empty_app.mkdir()
    (empty_app / "events_1_local-1").write_text("")
    s = eventlog.parse(str(tmp_path))
    assert s.apps == 1 and s.totals.jobs == 0


def test_torn_last_line_is_ignored(tmp_path):
    app = tmp_path / "eventlog_v2_local-2"
    app.mkdir()
    src = eventlog.event_files(FIXTURE)[0][0]
    with open(src) as f:
        text = f.read()
    (app / "events_1_local-2").write_text(text + '{"Event": "SparkListenerJobSt')
    assert eventlog.parse(str(tmp_path)).totals.jobs == eventlog.parse(FIXTURE).totals.jobs
