"""Stdlib-only reader for Spark's JSON event log.

Turns the uncompressed event log of one or more applications into
counters per job group: jobs, tasks, executor run / CPU / GC time,
scan, shuffle and spill bytes, Python-eval time and rows, and the
worst task-time skew of any stage. A job without a group is counted
under ``None`` so a caller can check that attribution is complete.

Usage: ``python3 perfbench/eventlog.py <log-dir>`` prints the summary
as JSON.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
from collections import defaultdict
from dataclasses import asdict, dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
# Plan nodes that run Python: (Arrow|Batch)EvalPython, Python data
# sources, and the *InPandas / *InArrow map and group operators.
PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")
PY_TIME = "time to run Python workers"
ROWS = "number of output rows"


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    scan_rows: int = 0
    scan_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    python_eval_s: float = 0.0
    python_rows: int = 0
    skew: float = 0.0  # worst stage's max / median task run time

    def add(self, other: "Counters") -> None:
        for k, v in asdict(other).items():
            if k == "skew":
                self.skew = max(self.skew, v)
            else:
                setattr(self, k, getattr(self, k) + v)


@dataclass
class Summary:
    groups: dict = field(default_factory=dict)  # group id (or None) -> Counters
    apps: int = 0

    @property
    def totals(self) -> Counters:
        out = Counters()
        for c in self.groups.values():
            out.add(c)
        return out

    def select(self, pred) -> Counters:
        """Sum of the groups whose id satisfies ``pred``."""
        out = Counters()
        for g, c in self.groups.items():
            if g is not None and pred(g):
                out.add(c)
        return out

    @property
    def unattributed_jobs(self) -> int:
        c = self.groups.get(None)
        return c.jobs if c else 0


def event_files(root: str) -> list[list[str]]:
    """One list of files per application, in write order. Handles the
    rolling ``eventlog_v2_<app>/events_<n>_<app>`` layout and single
    plain files."""
    apps: list[list[str]] = []
    if not os.path.isdir(root):
        return apps
    for name in sorted(os.listdir(root)):
        path = os.path.join(root, name)
        if os.path.isdir(path) and name.startswith("eventlog_v2_"):
            parts = [
                f for f in os.listdir(path) if f.startswith("events_") and not f.endswith(".crc")
            ]
            parts.sort(key=lambda f: int(f.split("_")[1]))
            apps.append([os.path.join(path, f) for f in parts])
        elif os.path.isfile(path) and not name.startswith(".") and not name.endswith(".crc"):
            apps.append([path])
    return apps


def _python_accumulators(plan: dict, rows: set[int], times: set[int]) -> None:
    if PYTHON_NODE.search(plan.get("nodeName", "")):
        for m in plan.get("metrics", []):
            if m["name"] == ROWS:
                rows.add(m["accumulatorId"])
            elif m["name"] == PY_TIME:
                times.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _python_accumulators(child, rows, times)


def _parse_app(files: list[str], groups: dict) -> None:
    stage_group: dict[int, str | None] = {}
    stage_task_ms: dict[int, list[int]] = defaultdict(list)
    py_rows_acc: set[int] = set()
    py_time_acc: set[int] = set()
    # Accumulator updates are resolved after the whole log is read:
    # an adaptive re-plan can name a node after its first tasks ran.
    acc_updates: list[tuple[str | None, int, int]] = []

    def counters(g):
        if g not in groups:
            groups[g] = Counters()
        return groups[g]

    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                try:
                    e = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a torn last line of a log still being written
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    counters(g).jobs += 1
                    for sid in e.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif ev == "SparkListenerStageCompleted":
                    sid = e["Stage Info"]["Stage ID"]
                    counters(stage_group.get(sid)).stages += 1
                elif ev == "SparkListenerTaskEnd":
                    sid = e["Stage ID"]
                    g = stage_group.get(sid)
                    c = counters(g)
                    m = e.get("Task Metrics") or {}
                    c.tasks += 1
                    run_ms = m.get("Executor Run Time", 0)
                    stage_task_ms[sid].append(run_ms)
                    c.executor_run_s += run_ms / 1000.0
                    c.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    c.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    inp = m.get("Input Metrics") or {}
                    c.scan_rows += inp.get("Records Read", 0)
                    c.scan_bytes += inp.get("Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    c.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    c.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") in (ROWS, PY_TIME) and "Update" in acc:
                            try:
                                acc_updates.append((g, acc["ID"], int(acc["Update"])))
                            except (TypeError, ValueError):
                                pass
                elif ev in (SQL_START, SQL_AQE):
                    plan = e.get("sparkPlanInfo")
                    if plan:
                        _python_accumulators(plan, py_rows_acc, py_time_acc)

    for g, acc_id, v in acc_updates:
        if acc_id in py_time_acc:
            counters(g).python_eval_s += v / 1000.0
        elif acc_id in py_rows_acc:
            counters(g).python_rows += v
    for sid, times in stage_task_ms.items():
        if len(times) >= 2:
            med = statistics.median(times)
            skew = max(times) / med if med > 0 else 0.0
            c = counters(stage_group.get(sid))
            c.skew = max(c.skew, skew)


def parse(root: str) -> Summary:
    """Summary of every application log under ``root``; an empty or
    missing directory gives an empty summary (all counters zero)."""
    summary = Summary()
    for files in event_files(root):
        _parse_app(files, summary.groups)
        summary.apps += 1
    return summary


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print("usage: eventlog.py <log-dir>", file=sys.stderr)
        return 2
    s = parse(argv[1])
    out = {
        "apps": s.apps,
        "totals": asdict(s.totals),
        "groups": {str(g): asdict(c) for g, c in sorted(s.groups.items(), key=lambda kv: str(kv[0]))},
    }
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
