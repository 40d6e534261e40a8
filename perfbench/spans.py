"""Measurement helpers: in-memory spans, percentiles, a sampler of the
process tree's resident memory, and the host's CPU steal counter.

Spans are recorded by the benchmark around its calls into the program
(or rebuilt from Spark's own progress reports); nothing here reaches
into the program. They stay in memory until `Tracer.dump` writes them
at the end of a run.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank q-quantile (0 < q <= 1) of a non-empty list."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    i = max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))
    return s[i]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Tracer:
    """Spans of one run: name, start, end, parent, and the task or batch
    they belong to. When disabled, `span` only runs the body."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, task=None):
        if not self.enabled:
            yield
            return
        idx = self.add(name, time.time(), None, task)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()

    def add(self, name: str, start: float, end: float | None, task=None, parent: int | None = None) -> int:
        """Record a span; the parent defaults to the innermost open one."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        if task is None and parent is not None:
            task = self.spans[parent]["task"]
        self.spans.append({"id": len(self.spans), "name": name, "start": start, "end": end, "parent": parent, "task": task})
        return len(self.spans) - 1

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"] is not None]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of its interval that its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"] or c["start"], s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_time_s": self.self_times(), **(extra or {})}, f)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of `root_pid` and all its descendants right now."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread tracking the peak RSS of this process tree
    (Python driver, JVM, generator). Reading /proc is cheap next to a
    0.25 s period; the thread only waits on the clock otherwise."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.period_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs since boot (the `steal` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def process_start_time() -> float:
    """Wall-clock time this process was started (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")
