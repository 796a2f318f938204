"""Spans recorded around calls into the engine, and the Spark event-log
reducer that splits each span into jobs, stages, tasks and task metrics.

A span is opened by the benchmark around one call into a layer's public
function. While it is open, every Spark job the call submits carries the
span's id as its job group (``SparkContext.setJobGroup``), so the event log
that Spark writes (``spark.eventLog.enabled``) can be reduced to one row of
Spark work per span. Spans are kept in memory; run.py writes them with the
run's result when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Task metrics summed per span: event-log key path -> row field.
_TASK_SUMS = {
    ("Executor CPU Time",): ("task_cpu_s", 1e-9),
    ("Executor Run Time",): ("task_run_s", 1e-3),
    ("JVM GC Time",): ("gc_s", 1e-3),
    ("Shuffle Write Metrics", "Shuffle Bytes Written"): (
        "shuffle_write_bytes", 1),
    ("Shuffle Read Metrics", "Local Bytes Read"): ("shuffle_read_bytes", 1),
    ("Shuffle Read Metrics", "Remote Bytes Read"): ("shuffle_read_bytes", 1),
    ("Disk Bytes Spilled",): ("spill_bytes", 1),
}
# SQL accumulables of the Arrow Python runners (mapInPandas, applyInPandas)
_PYTHON_IO = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class Span:
    id: str
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``spark_context`` set, tags each span's Spark jobs
    with the span id as job group. A disabled tracer records nothing and
    touches no job group, so the untraced timed path carries no tracing
    code beyond one attribute check."""

    def __init__(self, enabled: bool, spark_context=None):
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"s{len(self.spans)}", name, layer, time.perf_counter(),
                  parent=parent.id if parent else None, attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(sp.id, f"{layer}:{name}",
                                interruptOnCancel=False)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.id, f"{parent.layer}:"
                                        f"{parent.name}",
                                        interruptOnCancel=False)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def paused(self):
        """Record nothing inside: for untraced passes of a traced run."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was


def _dig(d: dict, path: tuple):
    for k in path:
        d = d.get(k, {}) if isinstance(d, dict) else {}
    return d if isinstance(d, (int, float)) else 0


def event_log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir``: plain single-file logs and the
    ``events_*`` parts of rolling logs, in write order."""
    out = []
    for root, _dirs, files in os.walk(log_dir):
        for f in sorted(files):
            if f.endswith(".inprogress") or f.startswith(("appstatus", ".")):
                continue
            out.append(os.path.join(root, f))
    return sorted(out)


def reduce_event_log(paths: list[str]) -> dict[str, dict]:
    """Reduce Spark JSON event logs to one row per job group.

    Row fields: jobs, stages (completed, so skipped stages of a reused
    shuffle do not count), tasks, task_cpu_s, task_run_s, gc_s,
    shuffle_read_bytes, shuffle_write_bytes, spill_bytes, python_io_bytes,
    task_skew (max / median task duration in the group's stage with the
    most task time), and ``by_callsite``: per stage call site, its stages,
    tasks and task_run_s. Jobs without a group are reduced under ``""``."""
    stage_group: dict[int, str] = {}
    stage_site: dict[int, str] = {}
    rows: dict[str, dict] = {}
    task_secs: dict[int, list[float]] = {}

    def row(g: str) -> dict:
        if g not in rows:
            rows[g] = {"jobs": 0, "stages": 0, "tasks": 0, "task_cpu_s": 0.0,
                       "task_run_s": 0.0, "gc_s": 0.0,
                       "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                       "spill_bytes": 0, "python_io_bytes": 0,
                       "task_skew": 0.0, "by_callsite": {}}
        return rows[g]

    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or ""
                    site = props.get("callSite.short", "")
                    row(g)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                        stage_site.setdefault(sid, site)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    g = stage_group.get(sid, "")
                    r = row(g)
                    r["stages"] += 1
                    site = stage_site.get(sid) or info.get("Stage Name", "")
                    c = r["by_callsite"].setdefault(
                        site, {"stages": 0, "tasks": 0, "task_run_s": 0.0})
                    c["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    g = stage_group.get(sid, "")
                    r = row(g)
                    r["tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    for p, (name, scale) in _TASK_SUMS.items():
                        r[name] += _dig(tm, p) * scale
                    for acc in (ev.get("Task Info") or {}).get(
                            "Accumulables", []):
                        if acc.get("Name") in _PYTHON_IO:
                            r["python_io_bytes"] += int(acc.get("Update", 0))
                    info = ev.get("Task Info") or {}
                    dur = (info.get("Finish Time", 0)
                           - info.get("Launch Time", 0)) / 1e3
                    task_secs.setdefault(sid, []).append(dur)
                    site = stage_site.get(sid, "")
                    c = r["by_callsite"].setdefault(
                        site, {"stages": 0, "tasks": 0, "task_run_s": 0.0})
                    c["tasks"] += 1
                    c["task_run_s"] += _dig(tm, ("Executor Run Time",)) / 1e3
    # skew of each group's heaviest stage
    heaviest: dict[str, tuple[float, int]] = {}
    for sid, secs in task_secs.items():
        g = stage_group.get(sid, "")
        tot = sum(secs)
        if tot > heaviest.get(g, (-1.0, -1))[0]:
            heaviest[g] = (tot, sid)
    for g, (_tot, sid) in heaviest.items():
        secs = task_secs[sid]
        med = statistics.median(secs)
        rows[g]["task_skew"] = max(secs) / med if med > 0 else 1.0
    return rows


def span_rows(spans: list[Span], groups: dict[str, dict],
              slots: int) -> list[dict]:
    """Join spans with their reduced Spark rows. A span's Spark work is
    its own job group plus its descendants' (a child span re-tags jobs);
    ``slot_busy_frac`` is task run time over the span's wall times slots."""
    children: dict[str, list[str]] = {}
    for s in spans:
        if s.parent:
            children.setdefault(s.parent, []).append(s.id)

    def subtree(sid: str) -> list[str]:
        out = [sid]
        for c in children.get(sid, []):
            out += subtree(c)
        return out

    out = []
    for s in spans:
        agg = {"jobs": 0, "stages": 0, "tasks": 0, "task_cpu_s": 0.0,
               "task_run_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0,
               "python_io_bytes": 0, "task_skew": 0.0}
        for gid in subtree(s.id):
            g = groups.get(gid)
            if not g:
                continue
            for k in agg:
                if k == "task_skew":
                    agg[k] = max(agg[k], g[k])
                else:
                    agg[k] += g[k]
        wall = s.wall_s
        agg["slot_busy_frac"] = (
            agg["task_run_s"] / (wall * slots) if wall > 0 else 0.0)
        out.append({"id": s.id, "name": s.name, "layer": s.layer,
                    "parent": s.parent, "wall_s": wall, **agg,
                    "attrs": s.attrs})
    return out
