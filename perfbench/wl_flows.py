"""``flows``: closed loop, one client, repeated passes over example flows.

Each request is one example flow: ``flows.build_flow`` on the read-only
inputs, then a collect of its result. The seed sets the order of the
flows in every pass. The inputs are fixed (generated from DATA_SEED) so
each flow's output has one known value hash, recorded in
``flow_hashes.json``; a run that returns anything else counts the
request as failed.
"""

import hashlib
import json
import os
import random
import time
import traceback

import datagen
from common import BENCH_DIR, ROOT, fresh_dir, latency_summary, median

# Paper ops (c) binning and (b) marking with routing, an as-of join,
# the text pipeline (exact dedup, PII redaction, repetition filter,
# sampling, splits, token budgets, chunking) and IVF-PQ vector search,
# whose cell assignment and probing run as Arrow pandas UDFs.
FLOWS = ["binning", "routed_fanout", "asof_enrich", "llm_pipeline", "quality_serving"]
DATA_SEED = 42
SIZES = {
    "customer": 1500,
    "orders": 15000,
    "events": 10000,
    "documents": 250,
    "embeddings": 250,
}
HASH_FILE = os.path.join(BENCH_DIR, "flow_hashes.json")
# Each flow's latency is the median of its runs; three runs per flow
# keep one slow run (a GC pause, a neighbour's burst of CPU) out of it.
MIN_PASSES = 3


def output_hash(rows, columns) -> str:
    """Order-insensitive, type-strict value hash of a collected result
    (the normaliser the test suite compares oracle results with)."""
    from tests.conftest import _norm

    cols = sorted(columns)
    lines = sorted(repr(tuple(_norm(r[c]) for c in cols)) for r in rows)
    h = hashlib.sha256(repr(cols).encode())
    for line in lines:
        h.update(line.encode())
    return h.hexdigest()


class FlowsWorkload:
    name = "flows"
    setups = 5

    def __init__(self, seed: int, tracer) -> None:
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.specs = {}
        for f in FLOWS:
            with open(os.path.join(ROOT, "examples", f"{f}.flow.json")) as fh:
                self.specs[f] = json.load(fh)
        self.expected = {}
        if os.path.exists(HASH_FILE):
            with open(HASH_FILE) as fh:
                self.expected = json.load(fh)
        self.build_s = {f: [] for f in FLOWS}
        self.exec_s = {f: [] for f in FLOWS}
        self.plan_s: list[float] = []
        self.errors: list[str] = []

    def prepare(self) -> None:
        self.data_dir = fresh_dir("flows_data")
        datagen.write_tables(self.data_dir, DATA_SEED, SIZES)
        self.input_rows = {
            f: sum(SIZES[s["table"]] for s in spec if s["op"] == "load")
            for f, spec in self.specs.items()
        }

    def fixture(self, spark) -> None:
        """Nothing to build: the flows read the generated tables."""

    def run_flow(self, spark, flow: str, tag: str):
        """(seconds, ok) for one request: build, execute, check."""
        from aces_nifi_processors_bundle_spark.flows import build_flow

        t0 = time.perf_counter()
        try:
            with self.tracer.group(spark, f"flow.build.{flow}#{tag}"):
                df = build_flow(spark, self.specs[flow], self.data_dir)
            t1 = time.perf_counter()
            if self.tracer.enabled:
                # Planning is forced apart from execution only when
                # tracing, so plan time shows as its own layer.
                df._jdf.queryExecution().executedPlan()
                self.plan_s.append(time.perf_counter() - t1)
            with self.tracer.group(spark, f"flow.exec.{flow}#{tag}"):
                rows = df.collect()
            t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - a failed request is counted, not fatal
            traceback.print_exc()
            self.errors.append(f"{flow}: {type(e).__name__}: {str(e)[:200]}")
            return time.perf_counter() - t0, False, None
        got = output_hash(rows, df.columns)
        if got != self.expected.get(flow):
            self.errors.append(f"{flow}: output hash {got[:12]} != recorded")
            return t2 - t0, False, got
        if tag != "cold":
            self.build_s[flow].append(t1 - t0)
            self.exec_s[flow].append(t2 - t1)
        return t2 - t0, True, got

    def cold(self, spark) -> tuple[float, int, int]:
        """The first pass in a fresh session: (seconds, attempted,
        failed)."""
        total = 0.0
        failed = 0
        for f in FLOWS:
            dt, ok, _ = self.run_flow(spark, f, "cold")
            total += dt
            failed += not ok
        return total, len(FLOWS), failed

    def run(self, spark, seconds: float) -> dict:
        """Whole passes in seeded order: at least MIN_PASSES, then
        another while at least half of one (by the median pass so far)
        fits in the window. The latency of a warm pass is composed from
        each flow's own runs (the sum of the per-flow medians, or
        tails)."""
        lat = {f: [] for f in FLOWS}
        attempted = failed = rows = 0
        t0 = time.perf_counter()
        passes: list[float] = []
        while (
            len(passes) < MIN_PASSES
            or time.perf_counter() - t0 + median(passes) / 2 <= seconds
        ):
            p0 = time.perf_counter()
            for f in self.rng.sample(FLOWS, len(FLOWS)):
                dt, ok, _ = self.run_flow(spark, f, str(attempted))
                attempted += 1
                failed += not ok
                if ok:
                    lat[f].append(dt)
                    rows += self.input_rows[f]
            passes.append(time.perf_counter() - p0)
        wall = time.perf_counter() - t0
        self.trace_ops = attempted
        summaries = {f: latency_summary(v) for f, v in lat.items()}
        return {
            "p50": sum(m for m, _, _ in summaries.values()),
            "tail": sum(t for _, t, _ in summaries.values()),
            "tail_desc": "warm pass = sum of per-flow medians (tail: of per-flow "
            "tails, which are medians below 40 runs); runs per flow: "
            + ", ".join(f"{f} {len(v)}" for f, v in lat.items()),
            "rows_per_s": rows / wall,
            "wall": wall,
            "attempted": attempted,
            "failed": failed,
            "notes": [
                f"{len(passes)} timed passes in {wall:.2f} s, {rows} input rows",
                "median build + exec per flow: "
                + ", ".join(
                    f"{f} {median(self.build_s[f]):.3f}+{median(self.exec_s[f]):.3f} s"
                    for f in FLOWS
                ),
            ],
        }

    def layer_metrics(self, trace) -> dict:
        out = {}
        for f in FLOWS:
            out[f"flows.build_s.{f}"] = (median(self.build_s[f]), "s")
            out[f"flows.exec_s.{f}"] = (median(self.exec_s[f]), "s")
            runs = max(1, len(self.build_s[f]))
            jobs = trace.select(lambda g, f=f: g.startswith(f"flow.build.{f}#")).jobs
            out[f"flows.build_jobs.{f}"] = (jobs / runs, "count")
        out["catalyst.plan_s"] = (median(self.plan_s), "s")
        return out

    def timed_group(self, g: str) -> bool:
        return g.startswith("flow.")

    def record_hashes(self, spark) -> dict:
        """Current output hash of every flow (for refreshing HASH_FILE)."""
        from aces_nifi_processors_bundle_spark.flows import build_flow

        out = {}
        for f in FLOWS:
            df = build_flow(spark, self.specs[f], self.data_dir)
            out[f] = output_hash(df.collect(), df.columns)
        return out
