"""Spans around calls into the program's layers, and the fold of Spark's
event log into per-span counters.

A span is named ``<layer>.<function>`` (``operators.filter``,
``stages.extract_text``). While a span is open, every Spark job it
starts carries the span name as its job group; after the session stops,
``fold_event_log`` sums the task metrics of those jobs per group. The
program itself is not instrumented: spans are opened here, around its
public functions.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

GROUP = "spark.jobGroup.id"

# SQL metric names the Python-evaluation operators (MapInPandas,
# ArrowEvalPython, FlatMapGroupsInPandas) report per task.
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_TIME = "time to run Python workers"

COUNTERS = (
    "jobs", "tasks", "cpu_s", "run_s", "gc_s", "shuffle_mb", "spill_mb",
    "write_mb", "py_sent_mb", "py_returned_mb", "py_worker_s",
)


class Tracer:
    """Records (name, start, end) wall-clock spans. With a SparkContext,
    each span is also the job group of the jobs started inside it."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[tuple[str, float, float]] = []

    @contextmanager
    def span(self, name: str):
        if self.sc:
            self.sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time()))
            if self.sc:
                self.sc.setLocalProperty(GROUP, None)
                self.sc.setLocalProperty("spark.job.description", None)

    def durations(self, name: str) -> list[float]:
        return [t1 - t0 for n, t0, t1 in self.spans if n == name]


def _event_files(event_dir: Path) -> list[Path]:
    """Event files of every application logged under ``event_dir``, in
    order (rolling logs are ``eventlog_v2_<app>/events_<n>_<app>``)."""
    files = [p for p in event_dir.rglob("events_*") if p.is_file()]
    return sorted(files, key=lambda p: (p.parent.name, int(p.name.split("_")[1])))


def fold_event_log(event_dir: Path):
    """Fold an uncompressed event log.

    Returns ``(counters, job_intervals)``: ``counters[group][counter]``
    sums the tasks of every job whose job group is ``group`` (see
    ``COUNTERS``; times in seconds, sizes in MB), and ``job_intervals``
    is a list of ``(group, start, end)`` in epoch seconds, one per job.
    """
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    intervals: list[tuple[str, float, float]] = []
    acc: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    for path in _event_files(event_dir):
        with open(path) as fp:
            for line in fp:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(GROUP)
                    if group is None:
                        continue
                    job_group[ev["Job ID"]] = group
                    job_start[ev["Job ID"]] = ev["Submission Time"] / 1e3
                    acc[group]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
                    jid = ev["Job ID"]
                    intervals.append((job_group[jid], job_start[jid], ev["Completion Time"] / 1e3))
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_group:
                    _add_task(acc[stage_group[ev["Stage ID"]]], ev)
    return dict(acc), intervals


def _add_task(c: dict[str, float], ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    c["tasks"] += 1
    c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    c["run_s"] += m.get("Executor Run Time", 0) / 1e3
    c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    c["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
    c["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
    c["write_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / 1e6
    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
        name, update = a.get("Name"), a.get("Update")
        if update is None:
            continue
        if name == PY_SENT:
            c["py_sent_mb"] += float(update) / 1e6
        elif name == PY_RETURNED:
            c["py_returned_mb"] += float(update) / 1e6
        elif name == PY_TIME:
            c["py_worker_s"] += float(update) / 1e3  # ms


def covered(windows: list[tuple[float, float]], intervals: list[tuple[float, float]]) -> float:
    """Share of the total length of ``windows`` covered by the union of
    ``intervals``."""
    total = sum(b - a for a, b in windows)
    hit = 0.0
    for a, b in windows:
        clipped = sorted((max(a, s), min(b, e)) for s, e in intervals if s < b and e > a)
        end = a
        for s, e in clipped:
            if e > end:
                hit += e - max(s, end)
                end = e
    return hit / total if total else 0.0
