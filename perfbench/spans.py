"""Measurement plumbing that lives outside the program: spans recorded around
each layer call, the Spark event-log reader, and the /proc memory sampler."""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent); written out at the end.
    A span's self time is its duration minus the time its children cover."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def duration(self, name: str) -> float:
        """Median duration of the spans called ``name``."""
        return statistics.median(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[int, float]:
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}

    def layers_over_wall(self, root: int = 0) -> float:
        """Share of the root span's wall that named child layers account for."""
        st = self.self_times()
        wall = self.spans[root]["end"] - self.spans[root]["start"]
        return (wall - st[root]) / wall

    def dump(self, path: str, counters: dict) -> None:
        """Spans (seconds from the first span's start) and the event-log
        counters of each job group."""
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, "job_groups": counters}, f, indent=1)


# ---------------------------------------------------------------------------
# Spark event log (spark.eventLog.compress=false; Spark 4.1 rolls the log
# into eventlog_v2_<app>/events_<n>_<app> files)
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the one application logged under ``log_dir``, in order."""
    files = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    if not files:
        raise FileNotFoundError(f"no rolling event log under {log_dir}")
    events = []
    for p in files:
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


class EventLog:
    """Task and stage counters per job group (``SparkContext.setJobGroup``)."""

    def __init__(self, events: list[dict]) -> None:
        self.stage_group: dict[int, str] = {}
        self.tasks: dict[str, list[dict]] = {}
        self.stages: dict[str, set[int]] = {}
        self.groups: set[str] = set()
        for e in events:
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
                self.groups.add(group)
                for sid in e.get("Stage IDs", []):
                    self.stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = self.stage_group.get(e["Stage ID"], "")
                self.tasks.setdefault(group, []).append(e)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                group = self.stage_group.get(info["Stage ID"], "")
                self.stages.setdefault(group, set()).add(info["Stage ID"])

    def _metric(self, group: str, *path: str) -> float:
        total = 0.0
        for t in self.tasks.get(group, []):
            v = t.get("Task Metrics") or {}
            for k in path:
                v = v.get(k, {}) if isinstance(v, dict) else {}
            total += v if isinstance(v, (int, float)) else 0
        return total

    def counters(self, group: str) -> dict[str, float]:
        tasks = self.tasks.get(group, [])
        failures = sum(1 for t in tasks if (t.get("Task End Reason") or {}).get("Reason") != "Success")
        mb = 1024.0 * 1024.0
        return {
            "shuffle_mb": self._metric(group, "Shuffle Write Metrics", "Shuffle Bytes Written") / mb,
            "spill_mb": (self._metric(group, "Memory Bytes Spilled") + self._metric(group, "Disk Bytes Spilled")) / mb,
            "input_rows": self._metric(group, "Input Metrics", "Records Read"),
            "task_failures": float(failures),
            "tasks": float(len(tasks)),
            "stages": float(len(self.stages.get(group, ()))),
        }

    def task_skew(self, group: str) -> float:
        """max/median task run time over the group's busiest stage."""
        by_stage: dict[int, list[float]] = {}
        for t in self.tasks.get(group, []):
            by_stage.setdefault(t["Stage ID"], []).append(
                float((t.get("Task Metrics") or {}).get("Executor Run Time", 0))
            )
        if not by_stage:
            return 0.0
        runs = max(by_stage.values(), key=sum)
        med = statistics.median(runs)
        return max(runs) / med if med > 0 else 0.0


# ---------------------------------------------------------------------------
# memory of the driver JVM and its Python workers (no psutil here)
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may contain spaces; ppid follows its closing paren
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_mem_mb(jvm_pid: int) -> float:
    """Resident set of the JVM plus the proportional set size of every Python
    process under it. PSS splits a page shared by forked workers among them,
    so idle workers forked from the daemon do not count the daemon's pages
    again; the JVM shares nothing with them, and its RSS is read in O(1)
    where its smaps_rollup costs ~20 ms. Other children (file-system helpers
    the JVM spawns, which share its memory until they exec) are skipped."""
    kids = _children()
    total, todo = _status_kb(jvm_pid, "VmRSS:"), list(kids.get(jvm_pid, []))
    while todo:
        pid = todo.pop()
        if _comm(pid).startswith("python"):
            total += _pss_kb(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024.0


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _reap() -> None:
    """Collect every exited child of this process without blocking."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts, so a
    descendant whose parent exits first (the pyspark daemon's workers, the
    helpers the JVM forks) is re-parented here, where ``stop_descendants``
    finds and reaps it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_descendants(grace: float = 10.0) -> None:
    """Stop every process this one started and wait until each has ended.
    The multiprocessing resource tracker (started by the spawn pools) would
    otherwise outlive this process until it notices its closed pipe; any
    other descendant gets SIGTERM, then SIGKILL after ``grace`` seconds.
    Returns once no descendant is left, not even an unreaped zombie: a
    zombie whose parent exits is re-parented here and reaped."""
    import signal
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + grace
    sig = signal.SIGTERM
    while True:
        _reap()
        live = descendants(os.getpid())
        if not live:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in live:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


class MemorySampler:
    """Samples ``tree_mem_mb`` every ``interval`` s on a thread; ``peak_mb``
    is the largest value seen."""

    def __init__(self, jvm_pid: int, interval: float = 0.5) -> None:
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_mem_mb(self.jvm_pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
