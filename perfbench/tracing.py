"""Spans and Spark event-log figures for the benchmark's traced run.

The traced run times each layer from outside the package: the benchmark
wraps a span around its call into one module's public functions, and
tags every Spark job started inside that span with a job group named
``<op_id>/<span name>``. After ``spark.stop()`` the event log is read
once and each task is charged to the layer whose job group started it.

``tools/scale_probe._parse_event_log`` sums every task that finished
after one timestamp. It cannot split one op into layers and does not
keep task times, so this parser does not reuse it.
"""

from __future__ import annotations

import itertools
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path

# Layers that get event-log figures; a span's layer is the first dotted
# part of its name ("set_checks.uniqueness" -> "set_checks").
EVENT_LOG_LAYERS = ("sources", "row_checks", "set_checks", "report", "pipeline")
UNTRACED_GROUP = "untraced"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op_id: str


class Tracer:
    """Spans kept in memory and written once by ``dump``."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._open: list[tuple[int, str]] = []  # (span id, job group)

    def _set_group(self, group: str) -> None:
        # the description doubles as the SQL execution description in the
        # event log, which is how plans are matched to spans
        self._sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, op_id: str):
        """Time ``name``; Spark jobs started inside run in job group
        ``<op_id>/<name>``. On exit the enclosing span's group, or no
        span's, applies again."""
        sid = next(self._ids)
        parent = self._open[-1][0] if self._open else None
        group = f"{op_id}/{name}"
        self._open.append((sid, group))
        self._set_group(group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._open.pop()
            self._set_group(self._open[-1][1] if self._open else UNTRACED_GROUP)
            self.spans.append(Span(sid, name, t0, t1, parent, op_id))

    def self_times(self, name: str) -> list[float]:
        """Each ``name`` span's duration minus the time its children cover.
        Children of one span never overlap: the client is one thread."""
        out = []
        for s in self.spans:
            if s.name == name:
                covered = sum(c.end - c.start for c in self.spans if c.parent == s.id)
                out.append((s.end - s.start) - covered)
        return out

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([asdict(s) for s in self.spans]))


def _events(evdir: Path):
    for f in sorted(evdir.rglob("events_*")):
        with f.open() as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue  # a torn last line


def _op_layer(group: str | None) -> tuple[str, str] | None:
    """``"<op_id>/<span name>"`` -> ``(op_id, layer)``."""
    if not group or "/" not in group:
        return None
    op_id, name = group.split("/", 1)
    return op_id, name.split(".", 1)[0]


def _count_scans(node: dict, is_corpus) -> int:
    """Scan nodes that read the corpus. A reused exchange's subtree was
    computed once elsewhere, so it is not descended into."""
    if node.get("nodeName", "").startswith("ReusedExchange"):
        return 0
    own = 1 if node.get("nodeName", "").startswith("Scan") and is_corpus(node) else 0
    return own + sum(_count_scans(c, is_corpus) for c in node.get("children", []))


def read_event_log(evdir: Path, is_corpus) -> tuple[dict, dict]:
    """``({(op_id, layer): task figures}, {job group: corpus scans})``.

    Task figures: tasks, shuffle bytes written and read, the largest
    per-task peak execution memory, and task skew (max / median task
    wall time). Corpus scans are counted in the last plan each SQL
    execution reported, which under AQE is its final plan."""
    stage_layer: dict[int, tuple[str, str]] = {}
    tasks: dict[tuple[str, str], list[dict]] = defaultdict(list)
    exec_group: dict[int, str] = {}
    exec_plan: dict[int, dict] = {}
    for ev in _events(evdir):
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            key = _op_layer((ev.get("Properties") or {}).get("spark.jobGroup.id"))
            if key:
                for sid in ev.get("Stage IDs", []):
                    stage_layer.setdefault(sid, key)
        elif kind == "SparkListenerTaskEnd":
            key = stage_layer.get(ev.get("Stage ID"))
            if key is None:
                continue
            info = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            rd = tm.get("Shuffle Read Metrics") or {}
            tasks[key].append({
                "wall_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                "shuffle_write": (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "shuffle_read": rd.get("Local Bytes Read", 0) + rd.get("Remote Bytes Read", 0),
                "peak_mem": tm.get("Peak Execution Memory", 0),
            })
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            exec_group[ev["executionId"]] = ev.get("description", "")
            exec_plan[ev["executionId"]] = ev.get("sparkPlanInfo") or {}
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            exec_plan[ev["executionId"]] = ev.get("sparkPlanInfo") or {}

    figures = {}
    for key, ts in tasks.items():
        walls = [t["wall_ms"] for t in ts]
        med = statistics.median(walls)
        figures[key] = {
            "tasks": len(ts),
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in ts),
            "shuffle_read_bytes": sum(t["shuffle_read"] for t in ts),
            "peak_exec_mem_bytes": max((t["peak_mem"] for t in ts), default=0),
            "task_skew": max(walls) / med if med else 1.0,
        }
    scans: dict[str, int] = defaultdict(int)
    for eid, group in exec_group.items():
        scans[group] += _count_scans(exec_plan[eid], is_corpus)
    return figures, dict(scans)
