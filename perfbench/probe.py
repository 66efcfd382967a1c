"""Measurement taken from outside the program: resident memory of the
JVM and its Python workers, Spark's public per-batch progress, and
spans kept in memory and written as JSON at the end of a traced run."""

from __future__ import annotations

import json
import os
import signal
import threading
import time
from datetime import datetime, timezone

PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as f:
            return int(f.read().split()[1]) * PAGE
    except OSError:
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm", encoding="ascii", errors="replace") as f:
            return f.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Samples, every ``interval`` seconds, the summed resident memory of
    every JVM started under ``root_pid`` and all of that JVM's
    descendants (the Python workers); keeps the peak."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root_pid, self.interval = root_pid, interval
        self.peak_bytes = 0
        self.peak_parts: dict = {}
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def tree(self) -> list[int]:
        """The JVMs started under the root process and all their descendants."""
        kids = _children()
        todo = [p for p in kids.get(self.root_pid, []) if _comm(p) == "java"]
        pids = []
        while todo:
            pid = todo.pop()
            pids.append(pid)
            todo.extend(kids.get(pid, []))
        return pids

    def _loop(self) -> None:
        while not self._halt.is_set():
            # only the JVM and the Python workers: a helper the JVM has just
            # spawned shares its address space and would count it twice
            rss = {p: _rss(p) for p in self.tree() if _comm(p) == "java"
                   or _comm(p).startswith("python")}
            total = sum(rss.values())
            if total > self.peak_bytes:
                jvm = sum(v for p, v in rss.items() if _comm(p) == "java")
                self.peak_bytes = total
                self.peak_parts = {"jvm_mb": round(jvm / 2**20), "procs": len(rss),
                                   "workers_mb": round((total - jvm) / 2**20)}
            self._halt.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._halt.set()
        self._thread.join()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def wait_ended(pids: list[int], timeout: float) -> None:
    """Wait until every process in ``pids`` has exited; kill what is left
    at the timeout and wait for that too."""
    deadline = time.time() + timeout
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in pids):
        time.sleep(0.05)


def progress_rows(query) -> list[dict]:
    """The query's retained ``StreamingQueryProgress`` events as dicts,
    one per batch id (the latest report wins)."""
    rows = {}
    for p in query.recentProgress:
        r = json.loads(p.json)
        rows[r["batchId"]] = r
    return [rows[b] for b in sorted(rows)]


def batch_window(row: dict) -> tuple[float, float]:
    """(start, end) epoch seconds of a micro-batch from its progress."""
    start = datetime.strptime(row["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=timezone.utc).timestamp()
    return start, start + row["durationMs"].get("triggerExecution", 0) / 1000.0


class Tracer:
    """Spans in memory: name, start, end, parent span and attributes.
    Span 0 is the whole run; every other span has a parent, and all share
    the trace id."""

    def __init__(self, trace_id: str, start: float, **attrs):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self.span("run", start, start, parent=None, **attrs)

    def span(self, name: str, start: float, end: float, parent: int | None = 0,
             **attrs) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent, "attrs": attrs})
        return len(self.spans) - 1

    def end(self, span_id: int, t: float) -> None:
        self.spans[span_id]["end"] = t

    def write(self, path: str, **extra) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"trace_id": self.trace_id, "spans": self.spans, **extra}, f, indent=1)
