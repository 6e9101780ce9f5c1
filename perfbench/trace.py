"""In-memory spans, Spark job tagging and process-tree memory sampling.

A :class:`Tracer` records one span per layer call the benchmark makes:
name, start, end and the enclosing span. While a span is open, every Spark
job started from the calling thread carries the span path (``a/b``) as its
job description, so the event log can be split by the same names. Spans stay
in memory until :meth:`Tracer.dump`. :class:`NullTracer` has the same
interface and records nothing; untraced runs use it, so both kinds of run
execute the same code.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

SAMPLE_INTERVAL_S = 0.1


class NullTracer:
    @contextmanager
    def span(self, name: str):
        yield


class Tracer:
    def __init__(self, spark_context):
        self.sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = "/".join(self._stack) or None
        self._stack.append(name)
        path = "/".join(self._stack)
        self.sc.setJobDescription(path)
        wall_start, start = time.time(), time.perf_counter()
        try:
            yield
        finally:
            end, wall_end = time.perf_counter(), time.time()
            self._stack.pop()
            self.sc.setJobDescription(parent)
            # wall-clock bounds let the event-log parser place untagged jobs
            self.spans.append(
                {"name": name, "path": path, "parent": parent,
                 "start": start, "end": end,
                 "wall_start": wall_start, "wall_end": wall_end}
            )

    def durations(self, name: str) -> list[float]:
        """Wall seconds of every span called ``name``, in start order."""
        return [s["end"] - s["start"] for s in
                sorted(self.spans, key=lambda s: s["start"]) if s["name"] == name]

    def median(self, name: str) -> float:
        d = self.durations(name)
        if not d:
            raise KeyError(f"no span named {name!r}")
        return statistics.median(d)

    def dump(self, path: str, extra: dict | None = None) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
                 for s in sorted(self.spans, key=lambda s: s["start"])]
        with open(path, "w") as fh:
            json.dump({"spans": spans, **(extra or {})}, fh, indent=1)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # the process ended between listdir and open
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root_pid: int) -> tuple[int, int]:
    """Resident bytes of the process tree under ``root_pid``, split into
    (Python processes: the root and its non-JVM descendants, JVM processes).
    Under a PySpark driver these are the driver and its worker daemon and
    workers, and the driver JVM."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    python = jvm = 0
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/comm") as fh:
                is_jvm = fh.read().strip() == "java"
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
        except OSError:
            continue  # the process ended while being read
        if is_jvm:
            jvm += rss
        else:
            python += rss
    return python, jvm


class RssSampler:
    """Samples :func:`tree_rss_bytes` of this process every
    :data:`SAMPLE_INTERVAL_S` on a daemon thread between :meth:`start` and
    :meth:`stop`."""

    def __init__(self):
        self.samples: list[tuple[float, int, int]] = []  # (time, python, jvm)
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.samples.append((time.perf_counter(), *tree_rss_bytes(pid)))
            if self._stop.wait(SAMPLE_INTERVAL_S):
                return

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def median_peaks(self, intervals: list[tuple[float, float]]) -> tuple[float, float]:
        """Median over ``intervals`` (perf_counter start, end) of the peak
        Python and JVM bytes sampled inside each: a short spike in one
        iteration does not move it."""
        peaks = [
            [max((s[k] for s in self.samples if lo <= s[0] <= hi), default=0)
             for lo, hi in intervals]
            for k in (1, 2)
        ]
        return statistics.median(peaks[0]), statistics.median(peaks[1])
