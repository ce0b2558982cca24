"""Spans, Spark scheduler counters and process memory, all recorded from
outside the library: spans wrap the benchmark's calls into each layer's
public functions, counters come from Spark's status store, memory from
``/proc``."""

from __future__ import annotations

import json
import os
import resource
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans ``(id, name, op, parent, start, end)``. While
    ``enabled`` is false, ``span`` records nothing. Spans are written out
    once, by ``dump``, when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self.op: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    def self_times(self) -> dict[int, dict[str, float]]:
        """Per op: each span name's self time (its duration minus the part
        its child spans cover; children run one after another)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[int, dict[str, float]] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
            per = out.setdefault(s["op"], {})
            per[s["name"]] = per.get(s["name"], 0.0) + own
        return out


def check_spans(path: str) -> list[str]:
    """Problems with a span file: missing keys, end before start, a parent
    that is unknown, from another op, or does not enclose its child."""
    problems = []
    spans = {}
    with open(path) as f:
        for line in f:
            s = json.loads(line)
            missing = {"id", "name", "op", "parent", "start", "end"} - set(s)
            if missing:
                problems.append(f"span {s.get('id')} lacks {sorted(missing)}")
                continue
            spans[s["id"]] = s
    for s in spans.values():
        if s["end"] is None or s["end"] < s["start"]:
            problems.append(f"span {s['id']} ends before it starts")
        p = spans.get(s["parent"]) if s["parent"] is not None else None
        if s["parent"] is not None and p is None:
            problems.append(f"span {s['id']} has unknown parent {s['parent']}")
        elif p is not None and (p["op"] != s["op"] or p["start"] > s["start"]
                                or p["end"] < s["end"]):
            problems.append(f"span {s['id']} is not inside its parent {p['id']}")
    if not spans:
        problems.append("no spans")
    return problems


class SparkCounters:
    """Per-op Spark scheduler counts. Each op runs under its own job group;
    ``counts`` reads the group's jobs, the stages that ran tasks, and each
    task's wall time from the status store."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()

    def start(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def counts(self, group: str) -> dict:
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        walls: list[float] = []
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                st = self.tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped: its output was reused
                stages += 1
                tasks += st.numCompletedTasks + st.numFailedTasks
                failed += st.numFailedTasks
                tl = self.store.taskList(sid, st.currentAttemptId, 100_000)
                for i in range(tl.size()):
                    d = tl.apply(i).duration()
                    if d.isDefined():
                        walls.append(d.get() / 1000.0)
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed, "task_walls": walls}


def jvm_pid(sc) -> int:
    return int(sc._jvm.java.lang.ProcessHandle.current().pid())


def jvm_gc_s(sc) -> float:
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def _rss_kb(pid: int, field: str = "VmRSS") -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
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
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


class RssSampler:
    """Samples the resident memory of the Spark JVM and of the Python
    processes (this one and Spark's Python workers) every ``period``
    seconds on a background thread, keeping the peak of each sum."""

    def __init__(self, jvm: int, period: float = 0.2):
        self.jvm = jvm
        self.period = period
        self.jvm_peak_kb = 0
        self.py_peak_kb = 0
        self.total_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        jvm = _rss_kb(self.jvm)
        py = _rss_kb(os.getpid()) + sum(_rss_kb(p) for p in _descendants(self.jvm))
        self.jvm_peak_kb = max(self.jvm_peak_kb, jvm, _rss_kb(self.jvm, "VmHWM"))
        self.py_peak_kb = max(self.py_peak_kb, py,
                              resource.getrusage(resource.RUSAGE_SELF).ru_maxrss)
        self.total_peak_kb = max(self.total_peak_kb, jvm + py)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def tail_percentile(samples: list[float]) -> tuple[float, float, int]:
    """The highest whole percentile that leaves at least ten samples above
    it, as (value, percentile, samples above). Below twenty samples no
    percentile above the median qualifies, and the maximum is reported as
    percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0, 0
    p = 100 * (n - 10) // n
    idx = max(0, -(-p * n // 100) - 1)  # nearest-rank
    return xs[idx], float(p), n - 1 - idx


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
