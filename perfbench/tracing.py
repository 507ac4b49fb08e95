"""Spans recorded around every call the benchmark makes into a layer's
public function, plus a memory sampler.

A span is (id, name, start, end, parent, run).  Spans stay in memory and
are written out as JSON lines when the benchmark ends.  While a span is
open, the Spark local property ``perfbench.span`` carries its id, so
every Spark job it launches can be attributed to it from the event log.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    def __init__(self, spark=None, enabled: bool = True):
        self.spark = spark
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []
        self._run = None

    def _tag(self, sid) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(
                SPAN_PROPERTY, None if sid is None else str(sid)
            )

    @contextmanager
    def run(self, name: str):
        """Root span of one measured job run; yields the span record so
        the caller can read its duration after the block."""
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": None, "run": sid, "start": 0.0, "end": 0.0}
        self._run = sid
        with self._open(rec):
            yield rec
        self._run = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled or self._run is None:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "parent": self._stack[-1]["id"],
               "run": self._run, "start": 0.0, "end": 0.0}
        with self._open(rec):
            yield rec

    @contextmanager
    def _open(self, rec: dict):
        self.spans.append(rec)
        self._stack.append(rec)
        if self.enabled:
            self._tag(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                self._tag(self._stack[-1]["id"] if self._stack else None)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_times(spans: list) -> dict:
    """span id -> self time: the span's duration minus the part of its
    interval that its direct children cover (overlapping children are
    merged, so a child interval is never subtracted twice)."""
    children: dict = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def ancestors(spans: list) -> dict:
    """span id -> set of its own id and every ancestor's id."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for s in spans:
        chain, cur = set(), s
        while cur is not None:
            chain.add(cur["id"])
            cur = by_id.get(cur["parent"])
        out[s["id"]] = chain
    return out


def _children_of(pid: int) -> list:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def descendants_rss_mb() -> float:
    """RSS of every process below this one (the JVM and its Python
    workers), in MiB."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _children_of(os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total / 2**20


class RssSampler:
    """Samples :func:`descendants_rss_mb` on a thread; ``peak`` is the max."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, descendants_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
