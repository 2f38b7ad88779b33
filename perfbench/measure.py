"""Measurement helpers that read only what Python, Spark and the OS
already expose: spans, /proc memory and CPU, and the Spark status
store."""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, request id, counts),
    written out when the run ends. A disabled tracer records nothing and
    costs one branch per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, request: str | None = None, **counts):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "request": request if request is not None else self._request(),
            "counts": dict(counts),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        t1 = time.perf_counter()
        rec["start"] = t1
        try:
            yield rec["counts"]
        finally:
            t2 = time.perf_counter()
            rec["end"] = t2
            self._stack.pop()
            self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    @contextmanager
    def overhead(self):
        """Work a traced run adds outside the span bookkeeping (job-group
        tags, status-store reads, output listings): its time counts as
        tracing overhead."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t

    def _request(self) -> str | None:
        return self.spans[self._stack[-1]]["request"] if self._stack else None

    def self_times(self) -> list[float]:
        """Per span: its duration minus the part of it that its child
        spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            covered, edge = 0.0, s["start"]
            for a, b in sorted(children.get(i, ())):
                a, b = max(a, edge), min(b, s["end"])
                if b > a:
                    covered += b - a
                    edge = b
            out.append(s["end"] - s["start"] - covered)
        return out

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, origin: float) -> list[dict]:
        selfs = self.self_times()
        return [
            {
                "name": s["name"],
                "request": s["request"],
                "parent": s["parent"],
                "start_s": round(s["start"] - origin, 6),
                "end_s": round(s["end"] - origin, 6),
                "self_s": round(selfs[i], 6),
                **({"counts": s["counts"]} if s["counts"] else {}),
            }
            for i, s in enumerate(self.spans)
        ]


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


_TICKS = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    descendant, children they have reaped included. Time the host steals
    from the virtual CPUs is not in it, which makes it the steady cost
    figure on a shared machine."""
    total = 0
    pid = os.getpid()
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return total / _TICKS


class RssSampler:
    """Peak summed RSS of this process and every descendant (the JVM and
    the Python workers), polled from /proc on a background thread; the
    breakdown of the peak sample is kept alongside."""

    INTERVAL_S = 0.5

    def __init__(self) -> None:
        self.peak_kb = 0
        self.breakdown: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        pid = os.getpid()
        parts = {"driver_kb": _rss_kb(pid), "jvm_kb": 0, "workers_kb": 0, "workers": 0}
        for p in descendants(pid):
            if _comm(p) == "java":
                parts["jvm_kb"] += _rss_kb(p)
            else:
                parts["workers_kb"] += _rss_kb(p)
                parts["workers"] += 1
        total = parts["driver_kb"] + parts["jvm_kb"] + parts["workers_kb"]
        if total > self.peak_kb:
            self.peak_kb, self.breakdown = total, parts

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

_STAGE_FIELDS = (
    ("tasks", "numCompleteTasks", 1.0),
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1.0),
    ("input_bytes", "inputBytes", 1.0),
    ("output_bytes", "outputBytes", 1.0),
    ("spill_bytes", "memoryBytesSpilled", 1.0),
    ("spill_bytes", "diskBytesSpilled", 1.0),
    ("peak_exec_mem_bytes", "peakExecutionMemory", 1.0),
)


def group_stats(spark, group: str) -> dict:
    """Jobs, stages and summed stage metrics of one job group, read from
    the StatusTracker and the core app status store (the store behind
    the UI, which Spark keeps even with the UI off)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"jobs": len(job_ids), "stages": 0}
    for name, _attr, _scale in _STAGE_FIELDS:
        out[name] = 0.0
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(
        gw.jvm.java.util.ArrayList(), False, False,
        gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList(),
    )
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        if int(s.stageId()) not in stage_ids or int(s.numCompleteTasks()) == 0:
            continue
        out["stages"] += 1
        for name, attr, scale in _STAGE_FIELDS:
            if name == "peak_exec_mem_bytes":
                out[name] = max(out[name], float(getattr(s, attr)()))
            else:
                out[name] += float(getattr(s, attr)()) * scale
    return out
