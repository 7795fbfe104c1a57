"""Spans, counters and host readings for the traced run.

Spans are recorded by the benchmark around its calls into the program
(and around the program's own ``process_batch`` and ``StateStore``
methods, wrapped only when tracing is on). They stay in memory and are
written out as JSON lines when the run ends.
"""

from __future__ import annotations

import json
import os
import resource
import threading
import time
from collections import Counter
from contextlib import contextmanager

from informixcdc_spark.streaming.statestore import PosixStateStore


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the block; yields the span dict (or
        None when tracing is off) so the block can add counts."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        rec = {"id": sid, "parent": stack[-1] if stack else None,
               "name": name, "start": time.perf_counter(), **attrs}
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a function that records ``name``
        around each call (tracing only)."""
        if not self.enabled:
            return
        inner = getattr(owner, attr)
        tracer = self

        def traced(*a, **kw):
            with tracer.span(name):
                return inner(*a, **kw)

        setattr(owner, attr, traced)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")


def counting_store(tracer: Tracer, counts: Counter):
    """A ``StateStore`` class for ``store_cls`` that counts the calls the
    materializer makes (reads, lists, writes, deletes) and records a
    span around each pointer commit. Calls from the main thread are the
    benchmark's own reads and are not counted."""

    def _count(kind):
        if threading.current_thread() is not threading.main_thread():
            counts[kind] += 1

    class CountingStore(PosixStateStore):
        def read_doc(self, name):
            _count("read")
            return super().read_doc(name)

        def write_doc(self, name, doc):
            _count("write")
            return super().write_doc(name, doc)

        def listdir(self, *parts):
            _count("list")
            return super().listdir(*parts)

        def exists(self, *parts):
            _count("list")
            return super().exists(*parts)

        def delete_tree(self, *parts):
            _count("delete")
            return super().delete_tree(*parts)

        def commit_state(self, state):
            with tracer.span("statestore.commit"):
                return super().commit_state(state)

    return CountingStore


class JobCounter:
    """Spark jobs per job group, through the public status tracker."""

    def __init__(self, sc):
        self.sc = sc

    def count(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    @contextmanager
    def group(self, group: str):
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


def steal_seconds() -> float:
    from informixcdc_spark.hostmeter import steal_seconds as read

    return read()


def python_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def child_java_peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of the JVM this process started."""
    me = os.getpid()
    best = 0.0
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
            comm = stat[stat.index("(") + 1:stat.rindex(")")]
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            if ppid != me or comm != "java":
                continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]) / 1024.0)
        except (OSError, ValueError, IndexError):
            continue
    return best


def dir_bytes(*paths: str) -> int:
    total = 0
    for p in paths:
        for root, _dirs, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
