"""Spans, Spark stage counters and memory sampling for the benchmark.

The benchmark records spans from its own side of each layer boundary:
``Tracer.patched`` swaps module attributes of the engine for wrappers
that open a span around each call, run it in its own Spark job group
and keep the DataFrame it returns. Because the engine's DataFrames are
lazy, a call span holds only driver time (planning plus any probe jobs
the call runs). ``Tracer.layer`` then executes a layer's output and
the inputs the caller names for it with a ``noop`` sink, each in a job
group of its own; the layer's self time is its calls' own driver time
plus its output's forced time minus its inputs' forced times.

Everything stays in memory until ``Tracer.dump`` writes it out.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

_GROUP = "spark.jobGroup.id"


@dataclass
class Counters:
    """Spark task counters summed over the stages of some jobs."""

    jobs: int = 0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    tasks_failed: int = 0

    def __add__(self, o: Counters) -> Counters:
        return Counters(*(a + b for a, b in zip(self._values(), o._values())))

    def __sub__(self, o: Counters) -> Counters:
        return Counters(*(a - b for a, b in zip(self._values(), o._values())))

    def _values(self):
        return (self.jobs, self.run_s, self.gc_s, self.shuffle_bytes,
                self.spill_bytes, self.tasks_failed)


def counters(spark, groups) -> Counters:
    """Counters of every stage run by the jobs of the given job groups
    (``None`` names the jobs that ran outside any group)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), jsc.statusStore()
    out = Counters()
    stages = set()
    for g in groups:
        for job in tracker.getJobIdsForGroup(g):
            out.jobs += 1
            info = tracker.getJobInfo(job)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
    for sid in stages:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted from the status store
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        out.run_s += sd.executorRunTime() / 1000.0
        out.gc_s += sd.jvmGcTime() / 1000.0
        out.shuffle_bytes += sd.shuffleWriteBytes()
        out.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out.tasks_failed += sd.numFailedTasks()
    return out


@contextmanager
def job_group(spark, group: str | None):
    """Run the body's Spark jobs under ``group``; restore the previous one."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty(_GROUP)
    sc.setLocalProperty(_GROUP, group)
    try:
        yield
    finally:
        sc.setLocalProperty(_GROUP, prev)


@dataclass
class Call:
    """One traced call into a layer."""

    name: str
    span: int
    out: object = None
    call_s: float = 0.0  # wall time of the call
    own_s: float = 0.0  # call_s minus that of the traced calls it made


@dataclass
class Forced:
    """One DataFrame executed by ``Tracer.force``."""

    seconds: float
    rows: int
    counters: Counters


class Tracer:
    """Spans, plus the DataFrames forced so far."""

    def __init__(self, spark):
        self.spark = spark
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.groups: list[str] = []
        self._open: list[int] = []
        self._nested: list[float] = []
        self._forced: dict[int, Forced] = {}

    @contextmanager
    def span(self, name: str, kind: str = "step"):
        """Record a span; its Spark jobs run in a job group of its own."""
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "kind": kind,
               "parent": self._open[-1] if self._open else None,
               "start": time.perf_counter() - self.t0, "end": None}
        self.spans.append(rec)
        group = f"span-{sid}"
        self.groups.append(group)
        self._open.append(sid)
        try:
            with job_group(self.spark, group):
                yield rec
        finally:
            self._open.pop()
            rec["end"] = time.perf_counter() - self.t0

    def record(self, name: str, start: float, end: float) -> None:
        """Add a span timed before it could be opened (perf_counter times)."""
        self.spans.append({"id": len(self.spans), "name": name, "kind": "call",
                           "parent": None, "start": start - self.t0,
                           "end": end - self.t0})

    def counters_of(self, sid: int) -> Counters:
        return counters(self.spark, [f"span-{sid}"])

    def duration(self, sid: int) -> float:
        rec = self.spans[sid]
        return rec["end"] - rec["start"]

    # -- layer calls ------------------------------------------------------
    @contextmanager
    def patched(self, targets):
        """Within the body, each ``(module, attr, name)`` target is
        wrapped so that every call is recorded as a ``Call``; yields the
        list the body's calls are appended to."""
        calls: list[Call] = []

        def wrap(fn, name):
            def traced(*args, **kwargs):
                self._nested.append(0.0)
                try:
                    with self.span(name, "call") as rec:
                        out = fn(*args, **kwargs)
                finally:
                    nested = self._nested.pop()
                call_s = rec["end"] - rec["start"]
                if self._nested:
                    self._nested[-1] += call_s
                calls.append(Call(name, rec["id"], out, call_s, call_s - nested))
                return out
            return traced

        saved = [(m, a, getattr(m, a)) for m, a, _ in targets]
        for (m, a, fn), (_, _, name) in zip(saved, targets):
            setattr(m, a, wrap(fn, name))
        try:
            yield calls
        finally:
            for m, a, fn in saved:
                setattr(m, a, fn)

    # -- forcing ------------------------------------------------------------
    def force(self, df: DataFrame, name: str) -> Forced:
        """Execute ``df`` in full once (noop sink), counting its rows."""
        key = id(df)
        if key not in self._forced:
            obs = Observation(f"rows{len(self.spans)}")
            t = time.perf_counter()
            with self.span(f"force:{name}", "force") as rec:
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                    "noop").mode("overwrite").save()
            self._forced[key] = Forced(
                time.perf_counter() - t, int(obs.get["n"]),
                self.counters_of(rec["id"]))
        return self._forced[key]

    def layer(self, calls: list[Call], out: DataFrame,
              inputs: list[DataFrame]) -> dict:
        """Self time, rows and counters of a layer whose traced calls
        are ``calls``: their own driver time, plus the forced time of
        the layer's output ``out`` minus that of each of ``inputs``.

        A self value can come out negative: inside the full plan Spark
        prunes the columns an input does not pass on, while the input
        forced on its own materialises all of them."""
        name = calls[0].name
        res = self.force(out, name)
        ins = [self.force(d, f"{name}.input") for d in inputs]
        own = res.counters
        for c in calls:  # probe jobs the calls ran themselves
            own = own + self.counters_of(c.span)
        for i in ins:
            own = own - i.counters
        return {
            "self_s": sum(c.own_s for c in calls) + res.seconds
            - sum(i.seconds for i in ins),
            "rows": res.rows,
            "counters": own,
        }

    def dump(self, path: str, metrics: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "metrics": metrics}, f, indent=1)


def _tree_rss(root: int, page: int) -> int:
    """Resident bytes of the JVM ``root`` and of the Python workers
    among its descendants. A worker counts its proportional set size:
    forked workers share most of their pages with the worker daemon,
    and proportional sizes count each shared page once. The JVM counts
    its plain resident size: reading its proportional size takes tens
    of milliseconds. Other descendants are skipped: they are short-lived
    helpers (such as the shell commands Hadoop runs), and in the moment
    between fork and exec such a child still maps all of the JVM's
    memory."""
    parent: dict[int, int] = {}
    python: set[int] = set()
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            head, tail = stat.rsplit(")", 1)
            parent[int(entry)] = int(tail.split()[1])
            if head.split("(", 1)[1].startswith("python"):
                python.add(int(entry))
    tree, todo = set(), [root]
    while todo:
        p = todo.pop()
        tree.add(p)
        todo.extend(c for c, pp in parent.items() if pp == p and c not in tree)
    total = 0
    for p in tree:
        try:
            if p == root:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * page
            elif p in python:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    total += next(int(line.split()[1]) for line in f
                                  if line.startswith("Pss:")) * 1024
        except (OSError, StopIteration):
            continue
    return total


_RSS_INTERVAL_S = 0.2


class PeakRss:
    """Samples the resident memory of a process tree until closed."""

    def __init__(self, pid: int):
        self.pid = pid
        self.peak = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_rss(self.pid, self._page))
            if self._stop.wait(_RSS_INTERVAL_S):
                return

    def close(self) -> int:
        self._stop.set()
        self._thread.join()
        return self.peak
