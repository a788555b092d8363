"""Measurement helpers: statistics, the in-memory span tracer, the Spark job
counter and the resident-memory sampler.  All of them observe the program
from outside; none changes what the program does."""

from __future__ import annotations

import contextlib
import math
import os
import threading
import time

# Percentiles op_tail_s may report, highest first.  The tail is the highest
# one that leaves at least TAIL_MIN_BEYOND samples of every operation type
# above it; when the run is too short for any of them it is the median.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def _beta_cdf(a: float, b: float, steps: int = 4000) -> list[float]:
    """Beta(a, b) CDF on a uniform grid over [0, 1] (a, b >= 1, so the
    density is bounded and the trapezoid rule suffices)."""
    logc = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)

    def pdf(x: float) -> float:
        if x <= 0.0:
            return math.exp(logc) if a == 1.0 else 0.0
        if x >= 1.0:
            return math.exp(logc) if b == 1.0 else 0.0
        return math.exp(logc + (a - 1.0) * math.log(x) + (b - 1.0) * math.log1p(-x))

    dens = [pdf(i / steps) for i in range(steps + 1)]
    cdf = [0.0]
    for i in range(steps):
        cdf.append(cdf[-1] + (dens[i] + dens[i + 1]) / (2 * steps))
    return [c / cdf[-1] for c in cdf]


def percentile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p``-th percentile: a Beta-weighted
    mean of all order statistics.  Operations of one pass differ in cost,
    so a single order statistic jumps between operation types from run to
    run; the weighted mean moves smoothly."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("percentile of no samples")
    if n == 1:
        return xs[0]
    q = p / 100.0
    steps = 4000
    cdf = _beta_cdf(q * (n + 1), (1.0 - q) * (n + 1), steps)

    def at(x: float) -> float:
        k = min(int(x * steps), steps - 1)
        frac = x * steps - k
        return cdf[k] + (cdf[k + 1] - cdf[k]) * frac

    return sum(x * (at((i + 1) / n) - at(i / n)) for i, x in enumerate(xs))


def tail_percentile(n: int) -> tuple[float, int]:
    """(percentile, samples beyond it) for op_tail_s with ``n`` samples."""
    for p in TAIL_LADDER:
        beyond = n - int(n * p / 100.0)
        if beyond >= TAIL_MIN_BEYOND:
            return p, beyond
    return TAIL_LADDER[-1], n - n // 2


def median(values: list[float]) -> float:
    return percentile(values, 50.0) if values else 0.0


def per_type(samples: dict[str, list[float]], p: float) -> float:
    """The ``p``-th percentile of each operation type, geometric mean over
    the types.  Operation types in one pass differ several-fold in cost, so
    a percentile of the pooled samples jumps between types from run to run
    (it spread twice as wide over ten identical sql_analytics runs)."""
    logs = [math.log(percentile(v, p)) for v in samples.values()]
    return math.exp(sum(logs) / len(logs))


class Tracer:
    """Spans kept in memory: name, start, end, parent.  With ``enabled``
    false every span is a no-op, so the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def finish(self) -> list[dict]:
        """Durations and self times (duration minus the children's share)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            s["dur_s"] = s["end"] - s["start"]
            if s["parent"] is not None:
                child_time[s["parent"]] += s["dur_s"]
        for s, c in zip(self.spans, child_time):
            s["self_s"] = s["dur_s"] - c
        return self.spans


class JobCounter:
    """Spark jobs, stages and tasks of one operation, read back from the
    status tracker through a job group set around the operation."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._n = 0

    @contextlib.contextmanager
    def group(self, out: dict):
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            jobs = stages = tasks = 0
            for jid in self.tracker.getJobIdsForGroup(gid):
                jobs += 1
                info = self.tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = self.tracker.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks > 0:
                        stages += 1
                        tasks += st.numCompletedTasks
            out.update(jobs=jobs, stages=stages, tasks=tasks)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


class RssSampler:
    """One low-rate thread recording the peak resident memory of this
    process tree: the Python driver, its JVM and the JVM's Python workers."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
