"""Spans, boundary counters and Spark REST attribution for the traced run.

Everything here observes the engine from outside:

- spans are opened by the harness around its own calls into each layer
  (pass -> call -> construct / plan / action) and, after a pass, Spark
  job spans are added from the REST API's submission and completion
  times;
- counters wrap PySpark methods at the class the engine's objects are
  instances of, so calls made through names the engine bound at import
  time are still counted;
- jobs belong to a call through the job group the harness sets around
  it, and SQL executions belong to a call through their job IDs (a
  checkpointed Python node runs in an execution started while the
  query was being constructed, not in the final plan's execution).

Spans stay in memory; the harness writes them out when the run ends.
"""

from __future__ import annotations

import calendar
import itertools
import json
import re
import time
import urllib.request
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    trace_id: int  # shared by every span of one call
    span_id: int
    parent_id: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span store. ``open``/``close`` bracket harness calls;
    ``add`` records a span whose times were measured elsewhere."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)

    def add(self, name, start, end, trace_id, parent_id=None, **attrs) -> Span:
        span = Span(name, start, end, trace_id, next(self._ids), parent_id, attrs)
        self.spans.append(span)
        return span

    def open(self, name, trace_id, parent_id=None, **attrs) -> Span:
        return self.add(name, time.time(), float("nan"), trace_id, parent_id, **attrs)

    @staticmethod
    def close(span: Span) -> Span:
        span.end = time.time()
        return span

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent_id == span.span_id]

    def dump(self, path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def covered(intervals, lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover."""
    return span.duration - covered(
        [(c.start, c.end) for c in children], span.start, span.end
    )


# ---------------------------------------------------------------- counters

# (layer counter, class path, method names) — the classes the engine's
# objects are instances of. On PySpark 4 ``pyspark.sql.DataFrame`` is an
# abstract parent whose methods the classic DataFrame overrides, so
# wrapping it would count nothing.
BOUNDARY = (
    ("stagemat.checkpoints", "pyspark.sql.classic.dataframe", "DataFrame", ("localCheckpoint", "checkpoint")),
    ("stagemat.persists", "pyspark.sql.classic.dataframe", "DataFrame", ("persist", "cache")),
    ("sources.repartitions", "pyspark.sql.classic.dataframe", "DataFrame", ("repartition",)),
    ("sources.reads", "pyspark.sql.readwriter", "DataFrameReader", ("parquet", "text")),
)


class BoundaryCounters:
    """Counts calls into PySpark methods while installed."""

    def __init__(self, boundary=BOUNDARY) -> None:
        self.counts: Counter = Counter()
        self._boundary = boundary
        self._saved: list[tuple[type, str, object]] = []

    def install(self) -> None:
        import importlib

        for counter, mod, cls_name, methods in self._boundary:
            cls = getattr(importlib.import_module(mod), cls_name)
            for m in methods:
                orig = cls.__dict__[m]
                self._saved.append((cls, m, orig))
                setattr(cls, m, self._wrap(counter, orig))

    def _wrap(self, counter, orig):
        counts = self.counts

        def counted(*args, **kwargs):
            counts[counter] += 1
            return orig(*args, **kwargs)

        counted.__wrapped__ = orig
        return counted

    def uninstall(self) -> None:
        for cls, m, orig in reversed(self._saved):
            setattr(cls, m, orig)
        self._saved.clear()


# ------------------------------------------------------------ REST + SQL

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Value of a SQL-metric string from the REST API, in seconds for
    times and bytes for sizes: ``"36.5 s"``, ``"1,024"``, ``"2.0 MiB"``
    or the task-summary form ``"total (min, med, max (stageId: taskId))
    \\n36.5 s (0.1 s, 0.2 s, 9.0 s (stage 3.0: task 7))"``, whose total
    is the first value on the second line."""
    text = text.strip()
    if text.startswith("total"):
        text = text.split("\n", 1)[1] if "\n" in text else ""
    m = _VALUE.search(text)
    if not m:
        raise ValueError(f"unparseable SQL metric {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return num * _UNITS.get(unit, 1.0) if unit else num


def parse_rest_time(text: str) -> float:
    """``2026-10-17T02:47:22.123GMT`` -> epoch seconds."""
    dt = datetime.strptime(text.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return calendar.timegm(dt.timetuple()) + dt.microsecond / 1e6


def jobs_by_group(jobs: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for j in jobs:
        if j.get("jobGroup"):
            out.setdefault(j["jobGroup"], []).append(j)
    return out


def executions_for_jobs(executions: list[dict], job_ids) -> list[dict]:
    """SQL executions that ran any of ``job_ids``."""
    ids = set(job_ids)
    return [
        e for e in executions
        if ids & set(e.get("successJobIds", []) + e.get("failedJobIds", []) + e.get("runningJobIds", []))
    ]


def window_of(t: float, windows: list[tuple[str, float, float]], default: str) -> str:
    """Name of the first ``(name, start, end)`` window holding ``t``.
    REST times have millisecond resolution, so windows are widened by
    one millisecond on each side."""
    for name, lo, hi in windows:
        if lo - 1e-3 <= t <= hi + 1e-3:
            return name
    return default


PY_METRICS = {
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_in",
    "data returned from Python workers": "python.bytes_out",
}


def python_node_metrics(executions: list[dict]) -> Counter:
    """Sum the Python-worker metrics of every node in ``executions`` that
    runs Python workers; ``python.nodes`` counts those nodes."""
    out: Counter = Counter()
    for e in executions:
        for node in e.get("nodes", []):
            metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
            hits = [k for k in metrics if k in PY_METRICS]
            if not hits:
                continue
            out["python.nodes"] += 1
            for k in hits:
                out[PY_METRICS[k]] += parse_metric(metrics[k])
    return out


class Rest:
    """Minimal client for the driver's monitoring REST API."""

    def __init__(self, ui_url: str, app_id: str) -> None:
        self.base = f"{ui_url.rstrip('/')}/api/v1/applications/{app_id}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def jobs(self):
        return self.get("/jobs")

    def stages(self):
        return self.get("/stages")

    def task_quantiles(self, stage_id: int, attempt: int) -> list[float]:
        s = self.get(f"/stages/{stage_id}/{attempt}/taskSummary?quantiles=0.5,1.0")
        return s["executorRunTime"]

    def sql(self):
        return self.get("/sql?details=true&planDescription=false&length=100000")

    def held_bytes(self) -> int:
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in self.get("/storage/rdd"))
