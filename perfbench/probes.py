"""Measurement helpers: the per-call Spark tracer and the memory sampler.

``Tracer`` runs each public call under its own Spark job group and, when
the call returns, reads Spark's own bookkeeping for that group: job ids
from ``statusTracker()`` and per-stage task counts, executor run/CPU
time, input bytes and shuffle-write bytes from
``statusStore().lastStageAttempt`` (both work with the UI disabled).
Spans stay in memory; ``write`` dumps one JSON record per call at the
end of the run. A disabled tracer only times the call, so the timed runs
pay nothing for it.

``MemSampler`` polls /proc for the proportional set size (PSS) of this
process and all of its descendants (the JVM that pyspark launches and
the Python workers the JVM forks) and keeps the peak of their sum. PSS
rather than RSS: the workers are forked from one daemon, and summed RSS
counts their shared copy-on-write pages once per worker.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._parents: list[int] = []

    @contextmanager
    def span(self, name: str, phase: bool = False, **attrs):
        """Time one public call under its own job group, or, with
        ``phase``, a stretch of the run that call spans nest in (a phase
        owns no job group). Yields the span dict; callers may add
        counters to it. Spans of one query share its ``request`` attr."""
        sid = next(self._ids)
        rec = {"span_id": sid, "parent": self._parents[-1] if self._parents else None,
               "name": name, **attrs}
        sc = self.spark.sparkContext
        group = f"perfbench-{sid}-{name}"
        grouped = self.enabled and not phase
        if grouped:
            sc.setJobGroup(group, name)
        self._parents.append(sid)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._parents.pop()
            if grouped:
                sc.setLocalProperty("spark.jobGroup.id", None)
                rec.update(self.group_stats(group))
                rec["job_group"] = group
            if self.enabled:
                self.spans.append(rec)

    def group_stats(self, group: str) -> dict:
        """Jobs, stages run (skipped ones excluded), tasks and executor
        totals for every job of ``group``."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "executor_run_s": 0.0,
               "executor_cpu_s": 0.0, "input_bytes": 0, "shuffle_write_bytes": 0}
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for s in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(s)
            except Py4JJavaError:  # evicted from the status store
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["input_bytes"] += st.inputBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, sort_keys=True) + "\n")


def _stat(pid) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:  # exited
        return None


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        st = _stat(d) if d.isdigit() else None
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited, or not ours to read
        pass
    return 0


class MemSampler:
    """Peak summed PSS of a process tree, sampled every ``interval`` s."""

    def __init__(self, root: int, interval: float = 0.25):
        self.root = root
        self.interval = interval
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> int:
        """Take one sample now; returns the peak so far."""
        with self._lock:
            self.peak = max(self.peak, sum(_pss_bytes(p) for p in _descendants(self.root)))
            return self.peak

    def start(self) -> "MemSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak


def children(root: int) -> list[int]:
    """Every live descendant of ``root``."""
    return [p for p in _descendants(root) if p != root]


def _running(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` runs (zombies count as ended);
    returns the ones still running."""
    deadline = time.monotonic() + timeout
    left = [p for p in pids if _running(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = [p for p in left if _running(p)]
    return left
