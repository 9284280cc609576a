"""Shared plumbing for the workloads: paths, the Spark session cycle,
timing statistics, the RSS sampler and the job-group tracer."""

import contextlib
import ctypes
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
RUN_DIR = os.path.join(BENCH_DIR, "_run")
CORES = len(os.sched_getaffinity(0))
# Tail percentiles tried from the highest down; the reported tail is
# the highest one with at least TAIL_BEYOND samples above it, else the
# median.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_BEYOND = 10


def prepare_environment() -> None:
    """Keep every file Spark, its JVM and the Python workers write
    inside the checkout, and let the workers import the package."""
    tmp = os.path.join(RUN_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # Every JVM, the spark-submit launcher included: temp files in the
    # checkout and no /tmp/hsperfdata_* file.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = tmp


def fresh_dir(*parts: str) -> str:
    path = os.path.join(RUN_DIR, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            with contextlib.suppress(FileNotFoundError):
                total += os.path.getsize(os.path.join(base, n))
                files += 1
    return total, files


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default definition)."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values: list[float], groups: list | None = None) -> tuple[float, float, int]:
    """(percentile, value, samples beyond) for the highest ladder
    percentile with at least TAIL_BEYOND samples above it, else for
    the median. ``groups`` labels samples that are not independent,
    such as the events one micro-batch commits together: then the
    samples beyond must span TAIL_BEYOND groups."""
    n = len(values)
    for p in TAIL_LADDER:
        if n * (100.0 - p) >= TAIL_BEYOND * 100.0 - 1e-6:
            v = percentile(values, p)
            beyond = [i for i, x in enumerate(values) if x > v]
            if groups is None or len({groups[i] for i in beyond}) >= TAIL_BEYOND:
                return p, v, len(beyond)
    v = percentile(values, 50.0)
    return 50.0, v, sum(1 for x in values if x > v)


def latency_summary(values: list[float], groups: list | None = None) -> tuple[float, float, str]:
    """(median, tail value, description of the tail) of latency
    samples; ``groups`` as for ``tail``."""
    p, v, beyond = tail(values, groups)
    desc = f"tail = p{p:g} of N={len(values)} ({beyond} samples beyond"
    if groups is not None:
        desc += f", {len(set(groups))} commits in all"
    return median(values), v, desc + ")"


def cpu_times() -> list[int]:
    """Machine-wide CPU time counters from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other machines between
    two ``cpu_times`` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def children() -> dict[int, list[int]]:
    """Parent pid -> child pids of every live process, from /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    PR_SET_CHILD_SUBREAPER), so ``stop_processes`` can wait for the
    processes the JVM leaves behind when it exits."""
    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def stop_processes(timeout: float = 60.0) -> None:
    """Stop the JVM PySpark launched and every process under it (the
    Python workers, the launcher's shells), and wait until each has
    ended. Left alone, the JVM exits only after this process does, when
    it sees its stdin close."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        with contextlib.suppress(Exception):
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    # Orphans are re-parented to this process (``adopt_orphans``): reap
    # them until none is left, killing what still runs at the deadline.
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in descendants(os.getpid()):
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
        time.sleep(0.05)


class RssSampler:
    """Peak of (this Python process + its JVM descendants) resident
    set size, sampled from /proc every ``period`` seconds."""

    def __init__(self, period: float = 0.1) -> None:
        self.period = period
        self.peak_kb = 0
        self.peak_parts_kb = (0, 0)  # (python, jvm) at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    @staticmethod
    def _comm(pid: int) -> str:
        try:
            with open(f"/proc/{pid}/comm") as f:
                return f.read().strip()
        except OSError:
            return ""

    def sample(self) -> None:
        me = os.getpid()
        kids = children()
        py = self._rss_kb(me)
        jvm = 0
        todo = list(kids.get(me, []))
        while todo:
            pid = todo.pop()
            if self._comm(pid) == "java":
                jvm += self._rss_kb(pid)
            todo.extend(kids.get(pid, []))
        if py + jvm > self.peak_kb:
            self.peak_kb = py + jvm
            self.peak_parts_kb = (py, jvm)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


@dataclass
class Tracer:
    """Job groups and event-log settings for a traced run. With
    ``enabled`` False every method is a no-op, so the timed code is
    the same in both modes."""

    enabled: bool
    log_dir: str = ""
    prefix: str = ""  # marks groups of untimed phases, e.g. "ladder."

    def spark_conf(self) -> dict[str, str]:
        if not self.enabled:
            return {}
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + self.log_dir,
        }

    @contextlib.contextmanager
    def group(self, spark, name: str):
        if not self.enabled:
            yield
            return
        sc = spark.sparkContext
        sc.setJobGroup(self.prefix + name, self.prefix + name)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


@dataclass
class Session:
    """One Spark session cycle per setup: the first start pays the JVM
    launch, later ones restart the context inside the same JVM."""

    tracer: Tracer
    master: str = f"local[{CORES}]"
    spark: object = None
    start_s: list[float] = field(default_factory=list)
    warmup_s: list[float] = field(default_factory=list)

    def start(self):
        from aces_nifi_processors_bundle_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        conf = {
            "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
            **self.tracer.spark_conf(),
        }
        self.spark = get_spark(
            app_name="perfbench", master=self.master, extra_conf=conf
        )
        t1 = time.perf_counter()
        with self.tracer.group(self.spark, "setup.warmup"):
            warm_up(self.spark)
        t2 = time.perf_counter()
        self.start_s.append(t1 - t0)
        self.warmup_s.append(t2 - t1)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def warm_up(spark) -> None:
    """One small shuffle job: executor pool and codegen, paid once per
    session."""
    from pyspark.sql import functions as F

    (
        spark.range(20_000)
        .groupBy((F.col("id") % 7).alias("k"))
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
