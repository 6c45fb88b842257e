"""Spans around the benchmark's calls into the engine, Spark job counts
per span, and peak RSS of the Spark processes.

A span records its name, request id, parent span, start and end. Each
span runs under its own Spark job group, so after the request the
public `statusTracker()` gives the jobs, stages and tasks it launched.
Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time


class Tracer:
    """Records spans when enabled; every method is a no-op otherwise.
    `cost` adds up the seconds spent inside begin() and end(), which is
    what tracing adds to a request: job counts are read afterwards."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.cost = 0.0

    def begin(self, name: str, rid=None, **attrs) -> None:
        if not self.enabled:
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "name": name,
             "rid": rid if rid is not None else (parent or {}).get("rid"),
             "parent": parent["id"] if parent else None, **attrs}
        s["group"] = f"perfbench-{s['id']}"
        self.sc.setJobGroup(s["group"], name)
        self.spans.append(s)
        self._stack.append(s)
        s["start"] = time.perf_counter()
        self.cost += s["start"] - t0

    def end(self, **attrs) -> None:
        if not self.enabled:
            return
        s = self._stack.pop()
        s["end"] = time.perf_counter()
        s.update(attrs)
        if self._stack:
            self.sc.setJobGroup(self._stack[-1]["group"],
                                self._stack[-1]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.cost += time.perf_counter() - s["end"]

    @contextlib.contextmanager
    def span(self, name: str, rid=None, **attrs):
        self.begin(name, rid, **attrs)
        try:
            yield
        finally:
            self.end()

    def count_jobs(self) -> None:
        """Attach job, stage and task counts to every finished span that
        has none yet. Call outside timed intervals: it first waits for
        Spark's listener bus to deliver every pending event, because the
        status store is filled asynchronously."""
        if not self.enabled:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        for s in self.spans:
            if "jobs" in s or "end" not in s:
                continue
            jobs = sorted(st.getJobIdsForGroup(s["group"]))
            stages, tasks, failed = set(), 0, 0
            for j in jobs:
                for sid in st.getJobInfo(j).stageIds:
                    info = st.getStageInfo(sid)
                    # a stage whose shuffle output is reused shows up in
                    # later jobs as skipped: count each run stage once
                    if (info is None or sid in stages
                            or info.numCompletedTasks + info.numFailedTasks
                            == 0):
                        continue
                    stages.add(sid)
                    tasks += info.numCompletedTasks
                    failed += info.numFailedTasks
            s.update(jobs=len(jobs), stages=len(stages), tasks=tasks,
                     failed_tasks=failed)

    def dump(self) -> list[dict]:
        """Spans with times relative to the first span, in seconds."""
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
                for s in self.spans if "end" in s]


def self_times(spans: list[dict]) -> dict:
    """Median over requests of each layer's self time: its span's
    duration minus the part its child spans cover."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + (
                s["end"] - s["start"])
    per = {}
    for s in spans:
        own = s["end"] - s["start"] - child.get(s["id"], 0.0)
        key = (s["name"], s["rid"])
        per[key] = per.get(key, 0.0) + own
    by_name = {}
    for (name, _), v in per.items():
        by_name.setdefault(name, []).append(v)
    return {n: statistics.median(v) for n, v in sorted(by_name.items())}


def _descendants(root: int) -> list[int]:
    children = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Samples the summed RSS of a process and its descendants (the
    Spark JVM and the Python workers it forks) on a background thread
    and keeps the peak."""

    def __init__(self, pid: int, interval_s: float = 0.1):
        self.pid = pid
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            rss = sum(_rss_bytes(p) for p in _descendants(self.pid))
            self.peak = max(self.peak, rss)
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
