"""Spans, counters and Spark event-log metrics for the traced run.

Spans are recorded by the benchmark around its calls into the package's
layers; nothing inside the package is edited. A span has a name, a start,
an end, the span that caused it and the pass it belongs to. A layer's self
time is its span minus the part of that interval its child spans cover.

:func:`instrument` swaps a package function for a wrapper in every loaded
package module that refers to it (``from ..session import load_table``
binds the name per module), and restores the originals on exit.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

PACKAGE = "etl_dashboard_project_1_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    pass_id: str | None = None
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span and counter store; read out when the run ends."""

    def __init__(self):
        self.spans: list[Span] = []
        self.counters: dict[str, list[float]] = defaultdict(list)
        self._stack: list[int] = []
        self.pass_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), parent=parent, pass_id=self.pass_id))
        if parent is not None:
            self.spans[parent].children.append(sid)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid].end = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        self.counters[name].append(value)

    def self_time(self, sid: int) -> float:
        s = self.spans[sid]
        covered, edge = 0.0, s.start
        for c in sorted((self.spans[i] for i in s.children), key=lambda c: c.start):
            lo, hi = max(c.start, edge), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                edge = hi
        return s.duration - covered

    def per_pass(self, name: str, self_only: bool = False) -> list[float]:
        """Total (or self) seconds of spans called ``name``, one value per pass."""
        by_pass: dict[str | None, float] = defaultdict(float)
        for sid, s in enumerate(self.spans):
            if s.name == name:
                by_pass[s.pass_id] += self.self_time(sid) if self_only else s.duration
        return list(by_pass.values())

    def median(self, name: str, self_only: bool = False) -> float:
        vals = self.per_pass(name, self_only)
        return statistics.median(vals) if vals else 0.0

    def counter_median(self, name: str) -> float:
        vals = self.counters.get(name)
        return statistics.median(vals) if vals else 0.0

    def span_table(self) -> list[tuple[str, int, float, float]]:
        """(name, count, total s, self s) per span name, in first-seen order."""
        rows: dict[str, list[float]] = {}
        for sid, s in enumerate(self.spans):
            r = rows.setdefault(s.name, [0, 0.0, 0.0])
            r[0] += 1
            r[1] += s.duration
            r[2] += self.self_time(sid)
        return [(n, int(c), t, st) for n, (c, t, st) in rows.items()]


@contextlib.contextmanager
def instrument(func, wrapper):
    """Replace every module-level reference to ``func`` inside the package
    (and the registry module) with ``wrapper`` for the duration."""
    patched = []
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")
                               or name == "__spark_entry__"):
            continue
        for attr, val in list(vars(mod).items()):
            if val is func:
                setattr(mod, attr, wrapper)
                patched.append((mod, attr))
    try:
        yield
    finally:
        for mod, attr in patched:
            setattr(mod, attr, func)


# --- Spark's own event log -----------------------------------------------

EVENT_METRICS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1.0),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1.0),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1.0),
}
PASS_PROPERTY = "perfbench.pass"


def event_log_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    """Per pass (the ``perfbench.pass`` local property of each job): the
    completed stages and tasks and the summed task metrics."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1 or not os.path.isfile(files[0]):
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    stage_pass: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(files[0], encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                tag = (ev.get("Properties") or {}).get(PASS_PROPERTY)
                if tag:
                    for sid in ev["Stage IDs"]:
                        stage_pass[sid] = tag
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                tag = stage_pass.get(info["Stage ID"])
                if tag is None:
                    continue
                m = out[tag]
                m["stages"] += 1
                m["tasks"] += info["Number of Tasks"]
                for acc in info.get("Accumulables", []):
                    key = EVENT_METRICS.get(acc.get("Name"))
                    if key is not None:
                        m[key[0]] += float(acc["Value"]) * key[1]
    return out


def peak_rss_mb(pid: int) -> float:
    """High-water resident set size (VmHWM) of ``pid``."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
