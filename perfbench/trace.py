"""Tracing and resource accounting recorded from outside the engine.

- ``Tracer``: spans (id, name, start, end, parent, attrs) kept in memory and
  written as one JSON file when the run ends. Disabled, ``span`` records
  nothing, so untraced runs pay one no-op context manager per call.
- ``JobCounter``: Spark jobs and tasks caused by one call, counted through a
  job group and the status tracker. Jobs started from threads the engine
  spawns carry no group; they are counted as the ungrouped jobs that appeared
  during the call.
- ``RssSampler``: peak resident memory of this process and its descendants
  (the Spark JVM and its Python workers), polled from ``/proc``.
"""

from __future__ import annotations

import json
import os
import signal
import sys
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.cost = 0.0  # seconds spent recording spans

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": t - self.t0,
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.cost += time.perf_counter() - t
        try:
            yield rec
        finally:
            t = time.perf_counter()
            rec["end"] = t - self.t0
            self._stack.pop()
            self.cost += time.perf_counter() - t

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_time(self, span: dict) -> float:
        """Span duration minus the union of its direct children's intervals
        (children of one parent run sequentially here, so a sum suffices)."""
        kids = [s for s in self.spans if s["parent"] == span["id"]]
        return (span["end"] - span["start"]) - sum(k["end"] - k["start"] for k in kids)

    def write(self, path: str, summary: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        for s in self.spans:
            s["self"] = self.self_time(s)
        with open(path, "w") as f:
            json.dump({"summary": summary, "spans": self.spans}, f)


class JobCounter:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()
        self._n = 0
        self.cost = 0.0  # seconds spent asking Spark for job and task counts

    def _ungrouped(self) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(None))

    @contextmanager
    def count(self, label: str):
        """Yields a dict that holds ``jobs`` and ``tasks`` once the block ends."""
        t = time.perf_counter()
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        before = self._ungrouped()
        self.sc.setJobGroup(group, label)
        out = {"jobs": 0, "tasks": 0}
        self.cost += time.perf_counter() - t
        try:
            yield out
        finally:
            t = time.perf_counter()
            self.sc._jsc.clearJobGroup()
            jobs = set(self.tracker.getJobIdsForGroup(group))
            jobs |= self._ungrouped() - before
            out["jobs"] = len(jobs)
            for jid in jobs:
                info = self.tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = self.tracker.getStageInfo(sid)
                    out["tasks"] += st.numTasks if st else 0
            self.cost += time.perf_counter() - t


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid``, from the /proc parent links."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces: fields resume after its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):  # the process just exited
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def reap_descendants(timeout: float = 30.0) -> None:
    """Terminate and wait out any process this one started that is still
    running (normally none: the JVM takes its Python workers down)."""
    pids = descendants(os.getpid())
    if not pids:
        return
    print(f"perfbench: stopping leftover processes {pids}", file=sys.stderr)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            try:
                os.waitpid(-1, os.WNOHANG)  # collect our own exited children
            except ChildProcessError:
                pass
            pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
            if not pids:
                return
            time.sleep(0.1)


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().decode(errors="replace")
    except OSError:
        return ""


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Polls the summed RSS of this process and its descendants (the Spark
    JVM and its Python workers) on a daemon thread.

    Of the Python worker processes only the ``slots`` largest count: Spark
    keeps idle workers of earlier stages alive, one pool per worker
    factory, and how many pools a run ends up with varies between runs of
    the same input, while at most ``slots`` workers run tasks at once."""

    def __init__(self, slots: int, interval: float = 0.5) -> None:
        self.slots = slots
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        workers, others = [], []
        for p in [me, *descendants(me)]:
            (workers if "pyspark.daemon" in _cmdline(p) else others).append(_rss_kb(p))
        kb = sum(others) + sum(sorted(workers, reverse=True)[: self.slots])
        self.peak_kb = max(self.peak_kb, kb)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stops polling; returns the peak in MB."""
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak_kb / 1024.0
