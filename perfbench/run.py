"""Benchmark entry point: runs one workload and prints its metrics.

    python3 perfbench/run.py --workload {flows,store_upsert,stream_ingest}
        --seed N --seconds S --trace {0,1}

Run from the repository root. A run generates its inputs from the
seed, sets up a Spark session, measures the first operation in that
fresh process (``cold_s``), measures for ``--seconds`` seconds in the
same session and checks every output, then restarts the session
(``setups`` in all, per workload); ``setup_s`` is the median setup. With
``--trace 1`` Spark's event log is on, every call runs under its own
job group, and the per-layer metrics are printed instead of the
end-to-end ones, together with the tracing overhead against the
untraced runs recorded in ``perfbench/_run/results.jsonl``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` ({name: {value, unit}}).
"""

import argparse
import json
import os
import signal
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, os.path.dirname(BENCH_DIR))

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "rows_per_s": "rows/s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric, in report order; workloads that leave a
    layer idle report it as 0."""
    from wl_flows import FLOWS

    units = {"session.start_s": "s", "session.warmup_s": "s", "memory.peak_rss_mb": "MB"}
    for f in FLOWS:
        units[f"flows.build_s.{f}"] = "s"
        units[f"flows.build_jobs.{f}"] = "count"
        units[f"flows.exec_s.{f}"] = "s"
    units.update(
        {
            "catalyst.plan_s": "s",
            "arrow.python_eval_s": "s",
            "arrow.python_rows": "rows",
            "sources.scan_rows": "rows",
            "sources.scan_bytes": "bytes",
            "shuffle.write_bytes": "bytes",
            "shuffle.read_bytes": "bytes",
            "shuffle.skew": "ratio",
            "spill_bytes": "bytes",
            "spark.jobs": "count",
            "spark.tasks": "count",
            "spark.executor_run_s": "s",
            "spark.executor_cpu_s": "s",
            "spark.gc_s": "s",
            "spark.busy_share": "ratio",
            "spark.unattributed_jobs": "count",
            "stores.merge_s": "s",
            "stores.put_if_absent_s": "s",
            "stores.read_s": "s",
            "stores.bytes_written": "bytes",
            "stores.files": "count",
            "stores.useful_ratio": "ratio",
            "stores.write_amp": "ratio",
            "streaming.batch_s": "s",
            "streaming.add_batch_s": "s",
            "streaming.planning_s": "s",
            "streaming.wal_commit_s": "s",
            "streaming.backlog_rows": "rows",
            "streaming.generator_late_s": "s",
            "streaming.max_rate_eps": "1/s",
            "streaming.local1_latency_p50_s": "s",
            "streaming.local1_rows_per_s": "rows/s",
        }
    )
    return units


def workload_class(name: str):
    if name == "flows":
        from wl_flows import FlowsWorkload

        return FlowsWorkload
    if name == "store_upsert":
        from wl_store import StoreWorkload

        return StoreWorkload
    if name == "stream_ingest":
        from wl_stream import StreamWorkload

        return StreamWorkload
    raise SystemExit(f"unknown workload {name!r}")


def trace_layers(wl, summary, wall: float, cores: int) -> dict:
    """Per-operation means of the event-log counters over the timed
    phase's job groups."""
    c = summary.select(wl.timed_group)
    ops = max(1, wl.trace_ops)
    return {
        "arrow.python_eval_s": (c.python_eval_s / ops, "s"),
        "arrow.python_rows": (c.python_rows / ops, "rows"),
        "sources.scan_rows": (c.scan_rows / ops, "rows"),
        "sources.scan_bytes": (c.scan_bytes / ops, "bytes"),
        "shuffle.write_bytes": (c.shuffle_write_bytes / ops, "bytes"),
        "shuffle.read_bytes": (c.shuffle_read_bytes / ops, "bytes"),
        "shuffle.skew": (c.skew, "ratio"),
        "spill_bytes": (c.spill_bytes / ops, "bytes"),
        "spark.jobs": (c.jobs / ops, "count"),
        "spark.tasks": (c.tasks / ops, "count"),
        "spark.executor_run_s": (c.executor_run_s / ops, "s"),
        "spark.executor_cpu_s": (c.executor_cpu_s / ops, "s"),
        "spark.gc_s": (c.gc_s / ops, "s"),
        "spark.busy_share": (c.executor_run_s / max(1e-9, wall * cores), "ratio"),
        "spark.unattributed_jobs": (summary.unattributed_jobs, "count"),
    }


def untraced_medians(path: str, workload: str) -> dict[str, float]:
    import statistics

    vals: dict[str, list[float]] = {}
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                rec = json.loads(line)
                if rec["workload"] == workload and not rec["trace"]:
                    for k, v in rec["metrics"].items():
                        vals.setdefault(k, []).append(v)
    return {k: statistics.median(v) for k, v in vals.items()}


def main(argv=None) -> int:
    # Every way out, a timeout's SIGTERM included, stops the JVM and
    # the Python workers and waits for them.
    import common

    common.adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run_workload(argv)
    finally:
        common.stop_processes()


def run_workload(argv) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--write-hashes",
        action="store_true",
        help="flows only: record the current output hashes in flow_hashes.json and exit",
    )
    args = ap.parse_args(argv)

    try:
        import pyspark  # noqa: F401

        import aces_nifi_processors_bundle_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2

    import common
    import eventlog

    common.prepare_environment()
    cpu0 = common.cpu_times()
    tracer = common.Tracer(enabled=bool(args.trace))
    if tracer.enabled:
        tracer.log_dir = common.fresh_dir("eventlog")
    wl = workload_class(args.workload)(args.seed, tracer)
    wl.prepare()
    session = common.Session(tracer=tracer)

    if args.write_hashes:
        import wl_flows

        spark = session.start()
        hashes = wl.record_hashes(spark)
        session.stop()
        with open(wl_flows.HASH_FILE, "w") as f:
            json.dump(hashes, f, indent=1)
            f.write("\n")
        print(json.dumps(hashes, indent=1))
        return 0

    attempted = failed = 0
    setup_s: list[float] = []

    def setup(k: int):
        t0 = time.perf_counter()
        spark = session.start()
        with tracer.group(spark, f"setup.fixture#{k}"):
            wl.fixture(spark)
        setup_s.append(time.perf_counter() - t0)
        return spark

    with common.RssSampler() as rss:
        # The first setup launches the JVM; the cold operation runs in
        # that fresh process and warms the session the timed phase then
        # runs in. The further setups restart the context in the same
        # JVM and only measure setup.
        spark = setup(0)
        tracer.prefix = "cold."
        cold_s, a, f = wl.cold(spark)
        tracer.prefix = ""
        res = wl.run(spark, args.seconds)
        attempted += a + res["attempted"]
        failed += f + res["failed"]
        for k in range(1, wl.setups):
            spark = setup(k)
        extra_layers = {}
        if tracer.enabled and args.workload == "stream_ingest":
            tracer.prefix = "ladder."
            lad = wl.ladder(spark)
            res["notes"] += ["ladder: " + s for s in lad["steps"]]
            extra_layers["streaming.max_rate_eps"] = (lad["max_rate_eps"], "1/s")
            tracer.prefix = "local1."
            extra_layers.update(wl.local1_baseline(session, args.seconds / 2))
            tracer.prefix = ""
        session.stop()

    e2e = {
        "setup_s": common.median(setup_s),
        "cold_s": cold_s,
        "latency_p50_s": res["p50"],
        "latency_tail_s": res["tail"],
        "rows_per_s": res["rows_per_s"],
    }
    out = sys.stdout
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} "
          f"trace {args.trace} cores {common.CORES}", file=out)
    for note in res["notes"]:
        print("  " + note, file=out)
    print(f"  setups: {', '.join(f'{s:.3f}' for s in setup_s)} s "
          f"(first includes the JVM launch); session start "
          f"{', '.join(f'{s:.3f}' for s in session.start_s)} s, warm-up "
          f"{', '.join(f'{s:.3f}' for s in session.warmup_s)} s", file=out)
    print(f"  peak RSS: {rss.peak_mb:.0f} MB = Python {rss.peak_parts_kb[0] / 1024:.0f}"
          f" MB + JVM {rss.peak_parts_kb[1] / 1024:.0f} MB", file=out)
    print(f"  latency: {res['tail_desc']}", file=out)
    print(f"  CPU steal by other machines during the run: "
          f"{common.steal_share(cpu0, common.cpu_times()):.1%}", file=out)
    for k, v in e2e.items():
        print(f"  {k:16s} {v:12.4f} {END_TO_END[k]}", file=out)
    print(f"  error_rate       {failed / max(1, attempted):12.4f} "
          f"({failed} of {attempted} operations)", file=out)
    for err in wl.errors[:10]:
        print(f"  error: {err}", file=out)

    results = os.path.join(common.RUN_DIR, "results.jsonl")
    if tracer.enabled:
        summary = eventlog.parse(tracer.log_dir)
        layers = {k: (0.0, u) for k, u in per_layer_units().items()}
        layers["session.start_s"] = (session.start_s[0], "s")
        layers["session.warmup_s"] = (common.median(session.warmup_s), "s")
        layers["memory.peak_rss_mb"] = (rss.peak_mb, "MB")
        layers.update(trace_layers(wl, summary, res["wall"], common.CORES))
        layers.update(wl.layer_metrics(summary))
        layers.update(extra_layers)
        base = untraced_medians(results, args.workload)
        print("  tracing overhead (traced - untraced median):", file=out)
        for k, v in e2e.items():
            if k in base:
                print(f"    {k:16s} {v - base[k]:+12.4f} {END_TO_END[k]}", file=out)
            else:
                print(f"    {k:16s} {'n/a':>12s} (no untraced run recorded)", file=out)
        print(f"  event log: {summary.apps} applications, {summary.totals.jobs} jobs, "
              f"{summary.unattributed_jobs} without a job group", file=out)
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in layers.items()}
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}
    with open(results, "a") as f:
        f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                            "trace": args.trace, "metrics": e2e}) + "\n")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
