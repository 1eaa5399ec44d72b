"""Instruments the benchmark reads from outside the engine.

- :class:`Tracer` records spans (name, start, end, parent, trace id) in
  memory and writes them once at exit.
- :class:`SparkCounters` reads job, stage and task counters for a range of
  Spark job ids from the driver's AppStatusStore, which stays live with the
  Spark UI disabled.
- :class:`MemorySampler` samples the memory of this process and all its
  descendants (the JVM and its Python workers) from ``/proc``.
- :func:`host_context` records the load average and a fixed pure-CPU loop
  time, so a reader can spot runs taken on a busy host.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import threading
import time


class Tracer:
    """In-memory span recorder on the wall clock, so spans can be joined
    with the engine's own timestamps. When disabled every call is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.bookkeeping_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str, **attrs):
        if not self.enabled:
            yield None
            return
        b0 = time.time()
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"id": next(self._ids), "name": name, "trace": trace_id,
               "parent": stack[-1]["id"] if stack else None, **attrs}
        stack.append(rec)
        rec["start"] = time.time()
        self.bookkeeping_s += rec["start"] - b0
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)
            self.bookkeeping_s += time.time() - rec["end"]

    def add(self, name: str, trace_id: str, start: float, end: float, **attrs) -> None:
        """Record a span whose interval was measured elsewhere."""
        if not self.enabled:
            return
        rec = {"id": next(self._ids), "name": name, "trace": trace_id,
               "parent": None, "start": start, "end": end, **attrs}
        with self._lock:
            self.spans.append(rec)

    def link_children(self, child: str, parent: str) -> None:
        """Parent each ``child`` span without a parent to the ``parent``
        span of the same trace id."""
        ids = {s["trace"]: s["id"] for s in self.spans if s["name"] == parent}
        for s in self.spans:
            if s["name"] == child and s["parent"] is None:
                s["parent"] = ids.get(s["trace"])

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name: each span's duration minus
        the part of its interval that its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, fh)


class SparkCounters:
    """Job/stage/task counters for Spark job-id ranges.

    Job ids are handed out in sequence by the DAG scheduler, and the
    benchmark runs one operation at a time, so the jobs an operation
    launched (from any thread) are exactly the ids between two reads of
    the scheduler's next id."""

    FIELDS = ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def collect(self, first: int, end: int) -> dict[str, float]:
        """Counters for jobs ``first <= id < end``, once the listener bus
        has delivered their events to the status store."""
        out = dict.fromkeys(self.FIELDS, 0)
        if end <= first:
            return out
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        seen: set[int] = set()
        for jid in range(first, end):
            job = store.job(jid)
            out["jobs"] += 1
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["task_run_ms"] += st.executorRunTime()
                out["task_cpu_ms"] += st.executorCpuTime() / 1e6
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


def _proc_table() -> dict[int, int]:
    """pid -> ppid for every readable process that has not exited."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                state, ppid = fh.read().rsplit(")", 1)[1].split()[:2]
        except OSError:
            continue
        if state != "Z":
            out[int(d)] = int(ppid)
    return out


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _proc_table().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split among
    the processes sharing it (forked Python workers share most of theirs)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_pss_bytes(root: int, exclude: frozenset[int] = frozenset()) -> int:
    """PSS of ``root`` and its descendants, skipping the subtrees rooted at
    ``exclude``."""
    skip = set(exclude)
    for pid in exclude:
        skip.update(descendants(pid))
    return sum(_pss_bytes(p) for p in [root, *descendants(root)] if p not in skip)


class MemorySampler:
    """Background sampler of the process tree's memory (PSS), active
    between :meth:`start` and :meth:`stop`."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.exclude: set[int] = set()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes,
                              tree_pss_bytes(os.getpid(), frozenset(self.exclude)))

    def start(self) -> None:
        if self._thread is None:
            self._thread = threading.Thread(target=self._loop, daemon=True)
            self._thread.start()

    def stop(self) -> None:
        if self._thread is not None and not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self.sample()


def calibration_ms(n: int = 2_000_000) -> float:
    """Milliseconds of a fixed pure-Python integer loop."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc + i * i) % 1_000_003
    return (time.perf_counter() - t0) * 1e3


def host_context() -> dict:
    return {"loadavg": list(os.getloadavg()), "calibration_ms": calibration_ms()}


def median(values) -> float:
    vals = list(values)
    return statistics.median(vals) if vals else 0.0


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    vals = sorted(values)
    if not vals:
        return 0.0
    pos = (len(vals) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)
