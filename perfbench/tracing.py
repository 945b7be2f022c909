"""Spans, process-tree memory sampling and Spark event-log parsing.

Spans are recorded only from the benchmark's own files, around calls
into the package (``CrawlRun.run``, each ``run_round``, ``publish``,
``SearchBackend`` calls, HTTP requests, loopback-server GETs). They are
kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Minimal span recorder: (name, trace id, span id, parent, start,
    end) with perf_counter timestamps. Disabled tracers record nothing
    but still run the wrapped code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def current(self) -> "dict | None":
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    def add(self, name: str, start: float, end: float, parent: "dict | None" = None,
            trace: "str | None" = None) -> "dict | None":
        if not self.enabled:
            return None
        with self._lock:
            span = {
                "name": name,
                "id": next(self._ids),
                "parent": parent["id"] if parent else None,
                "trace": trace or (parent["trace"] if parent else name),
                "start": start,
                "end": end,
            }
            self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, trace: "str | None" = None, parent: "dict | None" = None):
        if not self.enabled:
            yield None
            return
        parent = parent if parent is not None else self.current()
        s = self.add(name, time.perf_counter(), 0.0, parent, trace)
        stack = self._local.__dict__.setdefault("stack", [])
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Seconds per layer (the span-name prefix before the first '.')
        not covered by the span's own children."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_NCPU = os.cpu_count() or 1


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine since boot
    (the ``steal`` column of /proc/stat), summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def clock() -> float:
    """Steal-adjusted clock: wall seconds minus the mean per-CPU steal.
    On a shared host the hypervisor's steal stretches wall time by
    1.5-3x within minutes while the work done stays the same; intervals
    on this clock remove that first-order effect (exactly when the
    process keeps every CPU busy, partly when it idles)."""
    return time.perf_counter() - steal_s() / _NCPU


def _proc_stats() -> dict[int, list[str]]:
    """pid → /proc/<pid>/stat fields after the command name."""
    stat: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat[int(d)] = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    return stat


def tree_pids(stat: "dict[int, list[str]] | None" = None) -> set[int]:
    """This process and all its live descendants (driver, JVM, Python
    workers)."""
    stat = _proc_stats() if stat is None else stat
    tree, todo = {os.getpid()}, [os.getpid()]
    while todo:
        p = str(todo.pop())
        for c, fields in stat.items():
            if fields[1] == p and c not in tree:
                tree.add(c)
                todo.append(c)
    return tree


def tree_usage() -> tuple[int, float]:
    """(resident bytes, CPU seconds) of the process tree. CPU includes
    reaped children, so no work is lost when a worker exits."""
    stat = _proc_stats()
    rss = cpu = 0
    for p in tree_pids(stat):
        fields = stat.get(p)
        if fields is None:
            continue
        cpu += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        rss += int(fields[21]) * _PAGE
    return rss, cpu / _TICK


class RssSampler:
    """Peak resident memory of the process tree, sampled every
    ``interval_s`` on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_usage()[0])
            self._stop.wait(self.interval_s)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_bytes / (1 << 20)


def event_log_stats(log_dir: str, windows: dict[str, list[tuple[float, float]]],
                    cores: int) -> dict[str, dict[str, float]]:
    """Per phase (wall-clock windows in epoch seconds): task count,
    busy ratio (executor run time ÷ window × cores), shuffle bytes
    written, bytes spilled and JVM GC seconds, from the Spark event log
    of the finished application."""
    out = {
        k: {"tasks": 0, "run_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0, "gc_s": 0.0}
        for k in windows
    }
    paths = [os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names]
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                launch = ev["Task Info"]["Launch Time"] / 1000.0
                m = ev.get("Task Metrics") or {}
                for phase, spans in windows.items():
                    if any(a <= launch <= b for a, b in spans):
                        o = out[phase]
                        o["tasks"] += 1
                        o["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                        o["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                        sw = m.get("Shuffle Write Metrics") or {}
                        o["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                        o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                            "Disk Bytes Spilled", 0
                        )
                        break
    for phase, spans in windows.items():
        wall = sum(b - a for a, b in spans)
        out[phase]["busy_ratio"] = out[phase]["run_s"] / (wall * cores) if wall > 0 else 0.0
    return out
