"""Measurement helpers: spans around layer calls, process-tree memory from
/proc, Spark job/stage/task counts from the status tracker, and task
metrics from the Spark event log.

Spans are recorded from the benchmark's side of each layer boundary: a
layer's public function is wrapped for the duration of a traced op and
restored afterwards, so the engine itself carries no tracing code.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import threading
import time


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class Tracer:
    """In-memory spans (name, start, end, parent) plus named counters."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def wrap(self, owner, attr: str, name: str, counter=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper until
        ``unwrap_all``; ``counter(result, tracer)`` may add counts."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            with tracer.span(name):
                out = orig(*a, **kw)
            if counter is not None:
                counter(out, tracer)
            return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- span arithmetic ----------------------------------------------------

    def total(self, name: str, within: dict | None = None) -> float:
        """Summed duration of ``name`` spans (optionally only those nested
        under span ``within``)."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None
                   and (within is None or self._under(s, within["id"])))

    def n(self, name: str, within: dict | None = None) -> int:
        return sum(1 for s in self.spans if s["name"] == name
                   and (within is None or self._under(s, within["id"])))

    def self_time(self, span: dict) -> float:
        """Duration minus the time its direct children cover."""
        kids = sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] == span["id"] and s["end"] is not None)
        return span["end"] - span["start"] - kids

    def _under(self, s: dict, ancestor: int) -> bool:
        p = s["parent"]
        while p is not None:
            if p == ancestor:
                return True
            p = self.spans[p]["parent"]
        return False

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [{**s, "start": s["start"] - t0,
                  "end": (s["end"] or t0) - t0} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, "counts": self.counts, **extra}, f)


# -- memory -------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                raw = f.read()
        except OSError:
            continue
        # comm may contain spaces: the ppid is the 2nd field after ')'
        fields = raw[raw.rindex(")") + 2:].split()
        kids.setdefault(int(fields[1]), []).append(
            int(stat.split("/")[2]))
    return kids


def tree_pids(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_pss_mb(root: int) -> dict[str, float]:
    """Resident memory of the process tree in MB, summed as PSS (Python
    workers fork from one daemon and share pages with it, which plain RSS
    would count once per process), split into the JVM and the Python
    processes (this one, the worker daemon and its workers)."""
    out = {"jvm": 0.0, "python": 0.0}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                side = "jvm" if f.read().strip() == "java" else "python"
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        out[side] += int(line.split()[1]) / 1024
                        break
        except (OSError, ValueError, IndexError):
            pass
    return out


def tree_hwm_mb(root: int) -> dict[str, float]:
    """Per-process peak resident memory (VmHWM) of the tree, by pid/name."""
    out = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                st = dict(line.split(":", 1) for line in f if ":" in line)
            out[f"{pid}/{st['Name'].strip()}"] = int(
                st["VmHWM"].split()[0]) / 1024
        except (OSError, KeyError, ValueError):
            pass
    return out


class PeakMemory:
    """Peak PSS of the JVM and of the Python processes under this one,
    sampled every ``interval`` seconds while active."""

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.peak = {"jvm": 0.0, "python": 0.0}
        self._on = threading.Event()
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    def _sample(self) -> None:
        for side, mb in tree_pss_mb(os.getpid()).items():
            self.peak[side] = max(self.peak[side], mb)

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._on.wait(0.2):
                self._sample()
                time.sleep(self.interval)

    @contextlib.contextmanager
    def active(self):
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()
            self._sample()

    def close(self) -> None:
        self._stop.set()
        self._t.join()


# -- Spark status and event log -----------------------------------------------

def group_status(sc, group: str) -> dict:
    """Jobs, executed stages, tasks and failed tasks of one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            s = st.getStageInfo(sid)
            if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                continue           # skipped (shuffle output reused)
            stages += 1
            tasks += s.numCompletedTasks
            failed += s.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
            "failed_tasks": failed}


def event_log_task_metrics(log_dir: str, groups: set[str]) -> dict:
    """Task metrics summed over the tasks of jobs whose job group is in
    ``groups``, read from the (closed) event log files in ``log_dir``."""
    durs: list[float] = []
    agg = {"shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
           "spill_bytes": 0, "executor_run_s": 0.0, "gc_s": 0.0}
    # Spark 4 writes one eventlog_v2_<app>/events_<n>_<app> per context
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
        stage_group: dict[int, str] = {}     # stage ids restart per context
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    if stage_group.get(ev.get("Stage ID")) not in groups:
                        continue
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    durs.append((info.get("Finish Time", 0)
                                 - info.get("Launch Time", 0)) / 1000.0)
                    sw = m.get("Shuffle Write Metrics", {})
                    sr = m.get("Shuffle Read Metrics", {})
                    agg["shuffle_write_bytes"] += sw.get(
                        "Shuffle Bytes Written", 0)
                    agg["shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0))
                    agg["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
                    agg["executor_run_s"] += m.get("Executor Run Time",
                                                   0) / 1000.0
                    agg["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    agg["tasks"] = len(durs)
    agg["task_s_max"] = max(durs) if durs else 0.0
    agg["task_s_median"] = median(durs)
    return agg
