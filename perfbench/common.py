"""Shared pieces of the benchmark: statistics, spans, timing proxies,
process-tree memory sampling and Spark status-store readers.

Everything here observes the package from outside: spans wrap calls
into the package's public functions, and Spark metrics come from the
driver's status store after an operation has finished.
"""

from __future__ import annotations

import math
import os
import threading
import time
from collections import defaultdict


# ------------------------------------------------------------- statistics
def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    if not values:
        return 0.0
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


# ------------------------------------------------------------------ spans
class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent id,
    run id); the parent is the innermost open span on the same thread.
    Spans stay in memory until ``dump``. A disabled tracer records
    nothing and costs one attribute check per call."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[tuple] = []
        self._local = threading.local()
        self._next = 0
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        return _Span(self, name)

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


class _Span:
    __slots__ = ("tracer", "name", "start", "end", "sid", "parent")

    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        t = self.tracer
        self.start = time.perf_counter()
        if t.enabled:
            st = t._stack()
            self.parent = st[-1] if st else None
            with t._lock:
                self.sid = t._next
                t._next += 1
            st.append(self.sid)
        return self

    def __exit__(self, *exc) -> None:
        t = self.tracer
        end = time.perf_counter()
        self.end = end
        if t.enabled:
            t._stack().pop()
            with t._lock:
                t.spans.append((self.sid, self.name, self.start, end, self.parent, t.run_id))

    @property
    def seconds(self) -> float:
        return self.end - self.start


def self_times(spans: list[tuple]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sid, _n, s, e, parent, _r in spans:
        if parent is not None:
            children[parent].append((s, e))
    out = {}
    for sid, _n, s, e, _p, _r in spans:
        out[sid] = (e - s) - union_seconds(children.get(sid, []))
    return out


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_cost_seconds(n: int = 20000) -> float:
    """Measured cost of recording one span on this host (seconds)."""
    t = Tracer(True, "calibration")
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n


class TimedProxy:
    """Wraps an object so every call of a listed method records a span
    named ``<prefix>.<label>``. Other attributes pass through."""

    def __init__(self, target, tracer: Tracer, prefix: str, methods: dict[str, str]) -> None:
        self._target = target
        self._tracer = tracer
        self._prefix = prefix
        self._methods = methods

    def __getattr__(self, attr):
        value = getattr(self._target, attr)
        label = self._methods.get(attr)
        if label is None or not callable(value):
            return value
        name = f"{self._prefix}.{label}"
        tracer = self._tracer

        def call(*args, **kwargs):
            with tracer.span(name):
                return value(*args, **kwargs)

        return call


def span_stats(spans: list[tuple], name: str) -> tuple[int, float, float]:
    """(calls, busy seconds, p50 ms) for spans called ``name``."""
    durs = [e - s for _i, n, s, e, _p, _r in spans if n == name]
    return len(durs), sum(durs), median(durs) * 1000.0


# ----------------------------------------------------- process-tree memory
def _tree_pids(root: int) -> list[int]:
    parents: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(b")") + 2 :].split()[1])
        parents[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(parents.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes mapping it, so forked Python workers do not
    count their parent's pages again."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Samples the summed resident memory (PSS) of this process and all
    its descendants every ``interval`` seconds on a daemon thread."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        total = sum(_pss_bytes(p) for p in _tree_pids(os.getpid()))
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak / (1024 * 1024)


# ----------------------------------------------------- spark status store
class SparkJobs:
    """Reads finished jobs of one job group from the driver's status
    store (populated with the UI off). Used in traced runs only."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.read_seconds = 0.0

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def collect(self, group: str) -> dict:
        """jobs, stages, tasks, shuffle bytes, spill and the job
        intervals (epoch seconds) of every job run under ``group``."""
        t0 = time.perf_counter()
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        store = self._jsc.statusStore()
        out = {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            "intervals": [],
        }
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(job_id)
            out["jobs"] += 1
            out["stages"] += job.numCompletedStages()
            out["tasks"] += job.numCompletedTasks()
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["intervals"].append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                try:
                    st = store.lastStageAttempt(stage_ids.apply(i))
                except Exception:  # noqa: BLE001 - skipped stages have no attempt
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        self.read_seconds += time.perf_counter() - t0
        return out
