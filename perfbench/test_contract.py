"""Checks of the harness: the metric names in BENCHMARK.json match
what run.py prints, the tail rule, the refusal to run without the
package under test, and that a run leaves no process behind.

Run with ``python3 -m pytest perfbench/test_contract.py``.
"""

import json
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import common  # noqa: E402
import run  # noqa: E402


def test_benchmark_json_names_match_run_py():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == run.per_layer_units()
    assert doc["command"] == ["python3", "perfbench/run.py"]


def test_tail_is_highest_percentile_with_ten_beyond():
    values = [float(i) for i in range(1, 101)]  # N=100: p90 leaves 10 beyond
    p, v, beyond = common.tail(values)
    assert (p, beyond) == (90.0, 10)
    assert abs(v - common.percentile(values, 90.0)) < 1e-12
    p, _, _ = common.tail(values * 10)  # N=1000: p99
    assert p == 99.0
    p, v, _ = common.tail([3.0, 1.0, 2.0])  # too few: the median
    assert (p, v) == (50.0, 2.0)


def test_tail_of_grouped_samples_needs_ten_groups_beyond():
    values = [float(i) for i in range(1000)]
    p, _, _ = common.tail(values, [i % 20 for i in range(1000)])  # p99's 10 span 10 groups
    assert p == 99.0
    p, _, _ = common.tail(values, [i // 100 for i in range(1000)])  # 10 blocks of 100
    assert p == 50.0  # even p75's 250 beyond lie in 3 groups


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_run"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "flows", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_leaves_no_process_running():
    """A session with Python workers, stopped as run.py stops it: once
    the process exits, nothing it started may still exist."""
    script = (
        "import sys, common\n"
        "sys.path.insert(0, common.ROOT)\n"
        "common.prepare_environment()\n"
        "common.adopt_orphans()\n"
        "try:\n"
        "    spark = common.Session(tracer=common.Tracer(False)).start()\n"
        "    spark.range(8).rdd.map(lambda x: x).count()\n"
        "finally:\n"
        "    common.stop_processes()\n"
    )
    p = subprocess.Popen(
        [sys.executable, "-c", script], cwd=BENCH_DIR, start_new_session=True,
        stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True,
    )
    _, err = p.communicate(timeout=170)
    assert p.returncode == 0, err[-2000:]
    left = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                if os.getsid(int(name)) == p.pid:
                    left.append(int(name))
            except ProcessLookupError:
                pass
    assert left == []
