"""Measurement plumbing: spans around layer calls, Spark job groups, the
event-log reader, the /proc memory sampler and the host probe.

Spans and job groups are recorded only in a traced run; the untraced run
that yields the end-to-end metrics calls the program exactly as a user
would.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict

MB = 1024 * 1024


def median(xs, default=0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


class Tracer:
    """Collects spans ``(name, call, seconds)``; ``call`` is the index of
    the job call the span ran under, so per-call sums can be formed."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.call = 0
        self.spans: list[tuple[str, int, float]] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def group(self, name: str):
        """Run the body under Spark job group ``name#<call>`` (traced only)."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{name}#{self.call}", name)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if self.enabled:
                self.spans.append((name, self.call, time.perf_counter() - t0))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a timing wrapper until ``unwrap``."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        def timed(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, timed)

    def unwrap(self) -> None:
        while self._patches:
            owner, attr, fn = self._patches.pop()
            setattr(owner, attr, fn)

    def per_call(self, name: str) -> list[float]:
        """Sum of ``name`` spans per job call, one entry per call."""
        acc: dict[int, float] = defaultdict(float)
        for n, c, s in self.spans:
            if n == name:
                acc[c] += s
        return list(acc.values())

    def each(self, name: str) -> list[float]:
        return [s for n, _, s in self.spans if n == name]


# -- Spark event log ----------------------------------------------------------

#: per-group Spark metrics, in output order
SPARK_FIELDS = (
    "run_s",
    "cpu_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "gc_s",
    "tasks",
    "task_skew",
)


class StageStats:
    def __init__(self):
        self.run_ms = 0
        self.cpu_ns = 0
        self.gc_ms = 0
        self.read_b = 0
        self.write_b = 0
        self.spill_b = 0
        self.durations: list[int] = []
        self.python = False  # the stage ran a Python UDF (ArrowEvalPython)


class EventLog:
    """Task and stage totals of one application's event log, keyed by the
    job group id (``name#call``) the benchmark set around each call."""

    def __init__(self, log_dir: str):
        paths = sorted(glob.glob(os.path.join(log_dir, "*")))
        if not paths:
            raise FileNotFoundError(f"no Spark event log under {log_dir}")
        self.stages: dict[int, StageStats] = defaultdict(StageStats)
        self.stage_group: dict[int, str] = {}
        self.failed_tasks = 0
        with open(paths[-1]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev["Stage IDs"]:
                        # a reused shuffle stage appears in later jobs'
                        # lists too; it belongs to the job that ran it
                        self.stage_group.setdefault(sid, gid)
                elif kind == "SparkListenerTaskEnd":
                    self._task(ev)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    names = " ".join(a.get("Name", "") for a in info.get("Accumulables", []))
                    if "Python" in names:
                        self.stages[info["Stage ID"]].python = True

    def _task(self, ev: dict) -> None:
        if ev.get("Task End Reason", {}).get("Reason") != "Success":
            self.failed_tasks += 1
        m = ev.get("Task Metrics")
        if not m:
            return
        st = self.stages[ev["Stage ID"]]
        info = ev["Task Info"]
        st.durations.append(info["Finish Time"] - info["Launch Time"])
        st.run_ms += m.get("Executor Run Time", 0)
        st.cpu_ns += m.get("Executor CPU Time", 0)
        st.gc_ms += m.get("JVM GC Time", 0)
        r = m.get("Shuffle Read Metrics", {})
        st.read_b += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
        st.write_b += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        st.spill_b += m.get("Disk Bytes Spilled", 0)

    def calls(self, group: str) -> list[list[StageStats]]:
        """Stages of each call made under ``group``, one list per call."""
        acc: dict[str, list[StageStats]] = defaultdict(list)
        for sid, gid in self.stage_group.items():
            if gid and gid.split("#")[0] == group and sid in self.stages:
                acc[gid].append(self.stages[sid])
        return list(acc.values())

    def group_metrics(self, group: str) -> dict[str, float]:
        """Median over calls of each per-call total in SPARK_FIELDS."""
        rows = []
        for stages in self.calls(group):
            main = max(stages, key=lambda s: s.run_ms)
            d = sorted(main.durations)
            rows.append(
                {
                    "run_s": sum(s.run_ms for s in stages) / 1e3,
                    "cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
                    "shuffle_read_mb": sum(s.read_b for s in stages) / MB,
                    "shuffle_write_mb": sum(s.write_b for s in stages) / MB,
                    "spill_mb": sum(s.spill_b for s in stages) / MB,
                    "gc_s": sum(s.gc_ms for s in stages) / 1e3,
                    "tasks": sum(len(s.durations) for s in stages),
                    # slowest task over the median task of the call's
                    # busiest stage
                    "task_skew": d[-1] / max(statistics.median(d), 1) if d else 0.0,
                }
            )
        return {k: median(r[k] for r in rows) for k in SPARK_FIELDS}

    def python_run_s(self, group: str) -> list[tuple[float, float]]:
        """(Python-UDF stage run time, all-stage run time) per call, s."""
        return [
            (
                sum(s.run_ms for s in stages if s.python) / 1e3,
                sum(s.run_ms for s in stages) / 1e3,
            )
            for stages in self.calls(group)
        ]


# -- /proc memory sampler ---------------------------------------------------------


def children_map() -> dict[int, list[int]]:
    """Child pids of every process, by parent pid, read from /proc."""
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    return kids


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / MB
    except (OSError, IndexError, ValueError):
        return 0.0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class RssSampler(threading.Thread):
    """Peak RSS of the JVM and peak summed RSS of the Python workers among
    this process's descendants, sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        super().__init__(daemon=True)
        self.period = period
        self.worker_mb = 0.0
        self.jvm_mb = 0.0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        kids = children_map()
        todo, workers, jvm = [os.getpid()], 0.0, 0.0
        while todo:
            for c in kids.get(todo.pop(), []):
                todo.append(c)
                cmd = _cmdline(c)
                if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
                    workers += _rss_mb(c)
                elif "java" in cmd.split(" ", 1)[0]:
                    jvm += _rss_mb(c)
        self.worker_mb = max(self.worker_mb, workers)
        self.jvm_mb = max(self.jvm_mb, jvm)

    def run(self) -> None:
        while not self._stop_evt.wait(self.period):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=10)


# -- host probe ----------------------------------------------------------------


def probe_child() -> None:
    """One host-probe process: allocate, say ``ready``, wait for a line on
    stdin, then time fixed work with no Spark and print its seconds: a
    pure-Python loop (core speed) and numpy adds streaming 64 MB arrays
    (memory bandwidth, shared by all cores)."""
    import numpy as np

    a, b = np.ones(4_000_000), np.ones(4_000_000)
    print("ready", flush=True)
    sys.stdin.readline()
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    for _ in range(40):
        np.add(a, b, out=a)
    print(time.perf_counter() - t0, flush=True)


def host_probe(n_procs: int) -> float:
    """Median seconds of the fixed work, started at once in ``n_procs``
    processes; it moves with host load and contention, not with the
    program under test. Every probe process has ended when this returns."""
    cmd = [sys.executable, "-c", "import tracing; tracing.probe_child()"]
    here = os.path.dirname(os.path.abspath(__file__))
    procs = [
        subprocess.Popen(cmd, cwd=here, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        for _ in range(n_procs)
    ]
    try:
        for p in procs:
            if p.stdout.readline().strip() != "ready":
                raise RuntimeError("host probe process failed to start")
        for p in procs:
            p.stdin.write("go\n")
            p.stdin.flush()
        times = [float(p.stdout.readline()) for p in procs]
    finally:
        for p in procs:
            p.stdin.close()
            try:
                p.wait(timeout=60)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
            p.stdout.close()
    return median(times)
