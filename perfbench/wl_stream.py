"""``stream_ingest``: open loop, the DataBinning -> PartialUpdate chain.

A generator thread writes event parquet files into a watched directory
on a fixed schedule; event k of a run is due at ``k / rate`` seconds
after the start and is stamped with that time when generated. A
Structured Streaming query bins each micro-batch
(``operators.binning.bin_records``) and ``$inc``-merges the counts
into a ``KeyedParquetStore`` with ``txn=(name, epoch_id)``. An event's
latency runs from when it was due to when the merge of its
micro-batch returned. After the open-loop window the timed phase
drops bursts of DRAIN_EVENTS events into the idle query and times
each until its merge returned: the drain rate is the query's
throughput when a backlog is waiting, which the open loop cannot show
(it commits what it is offered). The final per-bin totals must equal
the generator's exact counts, which also checks exactly-once delivery.
"""

import datetime as dt
import json
import os
import threading
import time
import traceback
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from common import dir_bytes, fresh_dir, latency_summary, median, percentile

# Events per second in the timed phase: a sixteenth of the ladder step
# that held in every traced run on a 4-core VM (256000/s; 512000/s
# held in one run of three, 1024000/s never), so batches stay small
# and commit overhead dominates, as in the NiFi chain this models; the
# bursts measure the per-row rate.
REF_RATE = 16000
FILE_PERIOD = 0.2  # seconds between generator files
WARM_S = 2.0  # untimed streaming after the cold batch
N_BUCKETS = 8
N_USERS = 1500
DRAINS = 3  # bursts after the open-loop window; rows_per_s is their median rate
DRAIN_EVENTS = 300_000
LADDER = (16000, 32000, 64000, 128000, 256000, 512000, 1024000)  # events/s; traced only
LADDER_STEP_S = 3.0
PRIME_EVENTS = 100
PRIME_FILE = "part-prime"
LATENCY_LIMIT_S = 5.0  # p99 limit for a ladder rate to count as sustained
SPAN_DAYS = 30  # event times fall in the first SPAN_DAYS days of 2024, UTC
DAY_US = 86_400 * 1_000_000
EPOCH_US = int(datagen.EPOCH_2024.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
DAYS = [f"{datagen.EPOCH_2024 + dt.timedelta(days=d):%Y-%m-%d}" for d in range(SPAN_DAYS)]
SCHEMA_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, due_s double"
)
SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("due_s", pa.float64()),
    ]
)


class Commit(NamedTuple):
    """One micro-batch, as the query's foreachBatch callback saw it."""

    epoch: int
    at: float  # perf_counter time the merge returned
    files: list[str]  # the generator files the batch read
    merge_s: float  # the store.merge call alone
    metrics: object  # its MergeMetrics


def bin_names(day: str, event_type: str) -> list[str]:
    """The bins the streaming query's binners assign to one event on
    UTC date ``day`` (YYYY-MM-DD)."""
    day = f"byDay.DAY.{day}"
    kind = f"byType.{event_type}"
    return [day, kind, f"dayType.{day}|{kind}"]


def binners():
    from aces_nifi_processors_bundle_spark.operators.binning import (
        DateBinner,
        LiteralBinner,
        MergedBinner,
    )

    return [
        DateBinner(bin_name="byDay", data_field="ts", granularity="DAY"),
        LiteralBinner(bin_name="byType", data_field="event_type"),
        MergedBinner(bin_name="dayType", components=["byDay", "byType"]),
    ]


class Generator(threading.Thread):
    """Writes one parquet file per FILE_PERIOD holding the events due
    in that period, stamping each with its due time. Files appear by
    atomic rename, so the query always sees a prefix of the sequence."""

    def __init__(self, rng, watch_dir, schedule, expected):
        super().__init__(daemon=True)
        self.rng, self.watch_dir = rng, watch_dir
        self.t0 = 0.0  # perf_counter time of schedule time 0, set before start()
        self.schedule = schedule  # [(start_s, end_s, rate)]
        self.next_id = 0  # also the number of events made so far
        self.expected = expected  # bin name -> count, updated as events are made
        self.due_chunks: list[np.ndarray] = []  # due times of the events, in order
        self.files: dict[str, range] = {}  # file name -> its events' indexes
        self.late: list[float] = []
        self.arrow_bytes = 0  # in-memory size of every table written

    def events(self, n, due0, step):
        """``n`` events due from ``due0`` every ``step`` seconds, drawn
        with numpy so the generator outpaces the query it feeds."""
        rng, types = self.rng, datagen.EVENT_TYPES
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        us = rng.integers(0, SPAN_DAYS * DAY_US, n)
        kinds = rng.integers(0, len(types), n)
        cells, counts = np.unique((us // DAY_US) * len(types) + kinds, return_counts=True)
        for cell, c in zip(cells.tolist(), counts.tolist()):
            for b in bin_names(DAYS[cell // len(types)], types[cell % len(types)]):
                self.expected[b] = self.expected.get(b, 0) + c
        due = due0 + step * np.arange(n)
        self.due_chunks.append(due)
        return pa.table(
            {
                "event_id": ids,
                "ts": pa.array(us + EPOCH_US, pa.timestamp("us", tz="UTC")),
                "user_id": rng.integers(0, N_USERS, n),
                "event_type": pa.array(types).take(pa.array(kinds)),
                "value": np.round(rng.exponential(50.0, n), 2),
                "due_s": due,
            },
            schema=SCHEMA,
        )

    def write(self, table, name):
        name += ".parquet"
        tmp = os.path.join(self.watch_dir, f".{name}.tmp")
        pq.write_table(table, tmp)
        end = self.next_id
        self.files[name] = range(end - table.num_rows, end)
        self.arrow_bytes += table.nbytes
        os.rename(tmp, os.path.join(self.watch_dir, name))

    def due(self) -> np.ndarray:
        return np.concatenate(self.due_chunks)

    def run(self):
        j = 0
        carry = 0.0
        for start, end, rate in self.schedule:
            t = start
            while t < end - 1e-9:
                t_next = min(end, t + FILE_PERIOD)
                wait = self.t0 + t_next - time.perf_counter()
                if wait > 0:
                    time.sleep(wait)
                exact = (t_next - t) * rate + carry
                n = int(exact)
                carry = exact - n
                if n:
                    self.write(self.events(n, t, 1.0 / rate), f"part-{j:06d}")
                    self.late.append(time.perf_counter() - (self.t0 + t_next))
                j += 1
                t = t_next


class StreamWorkload:
    name = "stream_ingest"
    setups = 3

    def __init__(self, seed: int, tracer) -> None:
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.tracer = tracer
        self.errors: list[str] = []
        self.n_setups = 0
        self.read_s = 0.0
        self.layer: dict = {}

    def prepare(self) -> None:
        pass

    def fixture(self, spark) -> None:
        """A fresh, empty counts store for this session."""
        from aces_nifi_processors_bundle_spark.stores import KeyedParquetStore

        self.n_setups += 1
        self.base = fresh_dir(f"stream_{self.n_setups}")
        self.store = KeyedParquetStore(
            spark=spark, path=os.path.join(self.base, "store"), keys=["name"], n_buckets=N_BUCKETS
        )
        self.store.init(spark.createDataFrame([], "name string, total long"))

    def start_query(self, spark, phase_dir):
        """Start the binning -> $inc merge query reading
        ``<phase_dir>/watch``; returns (query, commits) where the query's
        thread appends a ``Commit`` per micro-batch; readers take a copy
        (``commits[:]``)."""
        from pyspark.sql import functions as F

        from aces_nifi_processors_bundle_spark.operators.binning import bin_records
        from aces_nifi_processors_bundle_spark.operators.partial_update import (
            PartialUpdateConfig,
        )
        from aces_nifi_processors_bundle_spark.streaming.binning_stream import (
            foreach_batch_merge,
        )

        cfg = PartialUpdateConfig(keys=["name"], operations={"total": "$inc"}, upsert=True)
        ckpt = os.path.join(phase_dir, "checkpoint")
        commits: list[Commit] = []
        store, tracer, bins = self.store, self.tracer, binners()
        txn_app = "perfbench_" + os.path.basename(phase_dir)

        def merge(batch_df, epoch_id):
            with tracer.group(batch_df.sparkSession, f"stream.batch#{epoch_id}"):
                pre = (
                    bin_records(batch_df, bins)
                    .groupBy("name")
                    .agg(F.count(F.lit(1)).cast("long").alias("total"))
                )
                t0 = time.perf_counter()
                m = store.merge(pre, cfg, txn=(txn_app, int(epoch_id)))
            done = time.perf_counter()
            files = batch_files(ckpt, int(epoch_id))
            commits.append(Commit(int(epoch_id), done, files, done - t0, m))

        stream = spark.readStream.schema(SCHEMA_DDL).parquet(os.path.join(phase_dir, "watch"))
        with tracer.group(spark, "stream.query"):
            q = foreach_batch_merge(stream, merge, ckpt).start()
        return q, commits

    def open_phase(self, spark, name: str, schedule, expected=None) -> dict:
        """Start a query on a new watch directory and commit one
        priming batch, so the query's start-up is not billed to the
        timed events; returns the live phase. ``expected`` holds the
        per-bin totals already in the store."""
        phase = os.path.join(self.base, name)
        watch = os.path.join(phase, "watch")
        os.makedirs(watch)
        expected = dict(expected or {})
        gen = Generator(self.rng, watch, schedule, expected)
        gen.write(gen.events(PRIME_EVENTS, 0.0, 0.0), PRIME_FILE)
        prefix = self.tracer.prefix
        self.tracer.prefix = prefix + "prime."  # keeps the priming batch out of the timed groups
        t0 = time.perf_counter()
        q, commits = self.start_query(spark, phase)
        while not commits and q.isActive and time.perf_counter() - t0 < 120:
            time.sleep(0.01)
        self.tracer.prefix = prefix
        first = min((c.at for c in commits[:]), default=None)
        return {"q": q, "commits": commits, "gen": gen, "expected": expected,
                "start_s": (first or time.perf_counter()) - t0, "ok": first is not None}

    def drive(self, spark, live: dict, check: bool = True, drains: int = 0) -> dict:
        """Run the generator on its schedule, let the query catch up,
        time ``drains`` bursts, stop the query; returns per-event
        latencies, commits, progress, backlog and burst times."""
        q, commits, gen = live["q"], live["commits"], live["gen"]
        t0 = gen.t0 = time.perf_counter()
        gen.start()
        backlog_marks = []
        for start, end, _rate in gen.schedule:
            for mark in (start + (end - start) / 2, end):
                while time.perf_counter() < t0 + mark:
                    time.sleep(0.02)
                done = sum(len(gen.files[f]) for c in commits[:] for f in c.files)
                backlog_marks.append((mark, gen.next_id - done))
        gen.join()
        wall = time.perf_counter() - t0
        n_sched = gen.next_id
        ok = live["ok"]
        drain_s: list[float] = []
        try:
            q.processAllAvailable()
            for k in range(drains):
                table = gen.events(DRAIN_EVENTS, time.perf_counter() - t0, 0.0)
                gen.write(table, f"part-drain{k}")
                drain_s.append(self.await_file(q, commits, f"part-drain{k}.parquet"))
        except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
            traceback.print_exc()
            self.errors.append(f"query: {type(e).__name__}: {str(e)[:200]}")
            ok = False
        q.stop()
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        lat_by_event, batch_by_event, commit_at = self.latencies(gen, commits, t0, n_sched)
        ok = ok and (not check or self.check_totals(spark, live["expected"]))
        return {"lat_by_event": lat_by_event, "batch_by_event": batch_by_event,
                "commit_at": commit_at,
                "gen": gen, "wall": wall, "progress": progress, "backlog": backlog_marks,
                "ok": ok, "commits": commits[:], "drain_s": drain_s}

    @staticmethod
    def await_file(q, commits, name: str, timeout: float = 120.0) -> float:
        """Seconds until a committed batch holds generator file ``name``."""
        t0 = time.perf_counter()
        while q.isActive and time.perf_counter() - t0 < timeout:
            for c in commits[:]:
                if name in c.files:
                    return c.at - t0
            time.sleep(0.002)
        raise TimeoutError(f"{name} not committed within {timeout:.0f} s")

    def cold(self, spark) -> tuple[float, int, int]:
        """Query start to its first committed batch, in a fresh session;
        the query then runs WARM_S seconds at the reference rate, so the
        timed phase that follows in this session does not measure the JVM
        compiling the batch path."""
        live = self.open_phase(spark, "cold", [(0.0, WARM_S, REF_RATE)])
        res = self.drive(spark, live)
        self.in_store = live["expected"]
        return live["start_s"], 1, int(not res["ok"])

    def latencies(self, gen, commits, t0, n_sched):
        """Latency of each scheduled event (in generation order, the
        first ``n_sched`` minus the priming ones; NaN if never
        committed) from the commit time of the batch whose file list
        holds the event's file, that batch's epoch (-1 if none), and the
        cumulative rows committed at each commit."""
        due = gen.due()
        lat = np.full(len(due), np.nan)
        batch = np.full(len(due), -1)
        commit_at: list[tuple[float, int]] = []
        done = 0
        for c in sorted(commits):
            for f in c.files:
                r = gen.files[f]
                lat[r.start:r.stop] = c.at - t0 - due[r.start:r.stop]
                batch[r.start:r.stop] = c.epoch
                done += len(r)
            if PRIME_FILE + ".parquet" not in c.files:
                commit_at.append((c.at - t0, done - PRIME_EVENTS))
        if done != len(due):
            self.errors.append(f"query committed {done} events, generator wrote {len(due)}")
        return lat[PRIME_EVENTS:n_sched], batch[PRIME_EVENTS:n_sched], commit_at

    def check_totals(self, spark, expected) -> bool:
        t0 = time.perf_counter()
        with self.tracer.group(spark, "stream.read#final"):
            got = {r["name"]: r["total"] for r in self.store.read().collect()}
        self.read_s = time.perf_counter() - t0
        if got != expected:
            diff = sorted(set(got.items()) ^ set(expected.items()))[:4]
            self.errors.append(f"per-bin totals differ from the generator's, e.g. {diff}")
            return False
        return True

    def run(self, spark, seconds: float) -> dict:
        live = self.open_phase(spark, "timed", [(0.0, seconds, REF_RATE)], self.in_store)
        bytes0, _ = dir_bytes(self.store.path)
        res = self.drive(spark, live, drains=DRAINS)
        gen = res["gen"]
        store_bytes, store_files = dir_bytes(self.store.path)
        store_bytes -= bytes0
        # Open-loop batches only: the priming batch and the bursts are
        # left out of the per-batch figures.
        batches = [c for c in res["commits"]
                   if all(f.startswith("part-0") for f in c.files)]
        epochs = {c.epoch for c in batches}
        prog = [p for p in res["progress"] if p["batchId"] in epochs]
        dur = lambda key: [p["durationMs"].get(key, 0) / 1000.0 for p in prog]  # noqa: E731
        merged = sum(c.metrics.updated + c.metrics.unmodified + c.metrics.inserted
                     for c in res["commits"])
        useful = sum(c.metrics.updated + c.metrics.inserted for c in res["commits"])
        self.layer = {
            "stores.merge_s": (median([c.merge_s for c in batches]), "s"),
            "stores.read_s": (self.read_s, "s"),
            "stores.bytes_written": (store_bytes / max(1, len(res["commits"])), "bytes"),
            "stores.files": (store_files, "count"),
            "stores.useful_ratio": (useful / max(1, merged), "ratio"),
            "stores.write_amp": (store_bytes / max(1, gen.arrow_bytes), "ratio"),
            "streaming.batch_s": (median(dur("triggerExecution")), "s"),
            "streaming.add_batch_s": (median(dur("addBatch")), "s"),
            "streaming.planning_s": (median(dur("queryPlanning")), "s"),
            "streaming.wal_commit_s": (median(dur("walCommit")), "s"),
            "streaming.backlog_rows": (res["backlog"][-1][1], "rows"),
            "streaming.generator_late_s": (percentile(gen.late, 99.0) if gen.late else 0.0, "s"),
        }
        self.trace_ops = len(batches)
        # Events of one micro-batch commit together, so the tail needs
        # events beyond it from ten batches, not just ten events.
        committed = ~np.isnan(res["lat_by_event"])
        p50, tail, desc = latency_summary(
            res["lat_by_event"][committed].tolist(), res["batch_by_event"][committed].tolist()
        )
        drain = [DRAIN_EVENTS / s for s in res["drain_s"]]
        return {
            "p50": p50,
            "tail": tail,
            "tail_desc": desc + " events",
            "rows_per_s": median(drain),
            "wall": res["wall"],
            "attempted": gen.next_id,
            "failed": 0 if res["ok"] and not self.errors else gen.next_id,
            "notes": [
                f"rate {REF_RATE} events/s, {len(prog)} micro-batches of "
                + " ".join(f"{d:.2f}" for d in dur("triggerExecution"))
                + " s",
                f"bursts of {DRAIN_EVENTS} events committed in "
                + ", ".join(f"{s:.3f}" for s in res["drain_s"])
                + " s; rows_per_s is the median burst rate",
                f"store: {store_bytes} bytes in {len(res['commits'])} merges "
                f"(write_amp {self.layer['stores.write_amp'][0]:.3f}), "
                f"merge median {self.layer['stores.merge_s'][0]:.3f} s",
                f"generator lateness p50 {percentile(gen.late, 50.0):.4f} s, "
                f"p99 {percentile(gen.late, 99.0):.4f} s, max {max(gen.late):.4f} s"
                if gen.late
                else "generator wrote no files",
            ],
        }

    def ladder(self, spark) -> dict:
        """Fixed-rate steps on one query; the highest step that, with
        every lower step, keeps p99 latency within LATENCY_LIMIT_S
        without the backlog growing."""
        schedule = []
        t = 0.0
        for rate in LADDER:
            schedule.append((t, t + LADDER_STEP_S, rate))
            t += LADDER_STEP_S
        res = self.drive(spark, self.open_phase(spark, "ladder", schedule), check=False)
        # The backlog swings by up to one batch of arrivals as batches
        # start and commit, so it counts as growing only beyond that.
        batch_s = median([p["durationMs"].get("triggerExecution", 0) / 1000.0
                          for p in res["progress"]])
        best = 0
        steps = []
        due = res["gen"].due()[PRIME_EVENTS:]
        for i, (start, end, rate) in enumerate(schedule):
            step = res["lat_by_event"][(start <= due) & (due < end)]
            mid, last = res["backlog"][2 * i][1], res["backlog"][2 * i + 1][1]
            # An event never committed counts as infinitely late.
            step = np.nan_to_num(step, nan=np.inf)
            p99 = float(np.percentile(step, 99.0)) if len(step) else float("inf")
            ok = p99 <= LATENCY_LIMIT_S and last - mid <= rate * batch_s
            steps.append(f"{rate}/s: p99 {p99:.3f} s, backlog {mid}->{last} {'ok' if ok else 'over'}")
            if ok and best == (LADDER[i - 1] if i else 0):
                best = rate
        return {"max_rate_eps": best, "steps": steps}

    def local1_baseline(self, session, seconds: float) -> dict:
        """The reference rate on a single-threaded session."""
        session.master = "local[1]"
        spark = session.start()
        with self.tracer.group(spark, "setup.fixture"):
            self.fixture(spark)
        res = self.drive(spark, self.open_phase(spark, "local1", [(0.0, seconds, REF_RATE)]))
        session.stop()
        n = res["commit_at"][-1][1] if res["commit_at"] else 0
        end = res["commit_at"][-1][0] if res["commit_at"] else 1.0
        return {
            "streaming.local1_latency_p50_s": (float(np.nanmedian(res["lat_by_event"])), "s"),
            "streaming.local1_rows_per_s": (n / end, "rows/s"),
        }

    def layer_metrics(self, trace) -> dict:
        return dict(self.layer)

    def timed_group(self, g: str) -> bool:
        return g.startswith("stream.batch#") or g == "stream.read#final"


def batch_files(ckpt: str, epoch: int) -> list[str]:
    """Names of the files micro-batch ``epoch`` read, from the file
    source's metadata log in the checkpoint (plain or compacted)."""
    d = os.path.join(ckpt, "sources", "0")
    for name in (str(epoch), f"{epoch}.compact"):
        path = os.path.join(d, name)
        if os.path.exists(path):
            with open(path) as f:
                entries = [json.loads(line) for line in f.read().splitlines()[1:] if line]
            return [
                os.path.basename(e["path"]) for e in entries if e.get("batchId") == epoch
            ]
    return []
