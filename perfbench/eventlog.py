"""Spark event-log reader: jobs, tasks, shuffle, spill, skew and
``Scan text`` nodes, grouped by the span tag each job carried.

The traced run turns the event log on (uncompressed) and tags every
job with ``SparkContext.setJobDescription(<span tag>)``; this module
folds the log back onto those tags. It reads the JSON-lines log only —
no Spark import — so it is testable on a small recorded log.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

from spans import parse_tag


@dataclass
class Totals:
    """Event-log counters for one span (or any group of jobs)."""

    jobs: int = 0
    sql_executions: int = 0
    tasks: int = 0
    bytes_read: int = 0
    bytes_written: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    text_scans: int = 0
    # stage id -> task durations (ms), for skew
    stage_tasks: dict[int, list[int]] = field(default_factory=lambda: defaultdict(list))

    def add(self, other: "Totals") -> None:
        for k in ("jobs", "sql_executions", "tasks", "bytes_read", "bytes_written",
                  "shuffle_write_bytes", "spill_bytes", "text_scans"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        for sid, d in other.stage_tasks.items():
            self.stage_tasks[sid].extend(d)

    @property
    def task_skew_max(self) -> float:
        """Worst stage's max ÷ median task time (1.0 when no stage has
        two tasks); a 0 ms median counts as 1 ms."""
        worst = 1.0
        for d in self.stage_tasks.values():
            if len(d) < 2:
                continue
            worst = max(worst, max(d) / max(statistics.median(d), 1.0))
        return worst


def _count_text_scans(plan: dict | None) -> int:
    if not plan:
        return 0
    n = 1 if str(plan.get("nodeName", "")).startswith("Scan text") else 0
    return n + sum(_count_text_scans(c) for c in plan.get("children", ()))


def read_events(path: str):
    """Events from a log file, or from a rolling log's directory
    (``eventlog_v2_<app>/events_<n>_<app>``) in file order."""
    if os.path.isdir(path):
        files = sorted(
            (f for f in os.listdir(path) if f.startswith("events_")),
            key=lambda f: int(f.split("_")[1]),
        )
        paths = [os.path.join(path, f) for f in files]
    else:
        paths = [path]
    for p in paths:
        with open(p) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    try:
                        yield json.loads(line)
                    except json.JSONDecodeError:  # a partly flushed last line
                        continue


def by_span(events, windows: list[tuple[int, int, int]] = ()) -> dict[int | None, Totals]:
    """Fold an event stream onto span ids (None: untagged work).

    A job without a span tag — Spark's own file-listing jobs, which set
    their own description — goes to the innermost of ``windows``
    ``(sid, start_ms, end_ms)`` open at its submission time."""

    def placed(sid: int | None, at_ms: int | None) -> int | None:
        if sid is not None or at_ms is None:
            return sid
        best = None
        for w_sid, w0, w1 in windows:
            if w0 <= at_ms <= w1 and (best is None or w0 >= best[1]):
                best = (w_sid, w0)
        return best[0] if best else None

    stage_span: dict[int, int | None] = {}
    exec_span: dict[int, int | None] = {}
    exec_plan: dict[int, dict] = {}
    out: dict[int | None, Totals] = defaultdict(Totals)

    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            sid = placed(parse_tag(props.get("spark.job.description")),
                         ev.get("Submission Time"))
            for st in ev.get("Stage IDs", ()):
                stage_span[st] = sid
            out[sid].jobs += 1
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev.get("Stage ID"))
            t = out[sid]
            t.tasks += 1
            info = ev.get("Task Info") or {}
            if info.get("Finish Time") and info.get("Launch Time"):
                t.stage_tasks[ev["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
            m = ev.get("Task Metrics") or {}
            t.bytes_read += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            t.bytes_written += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            t.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            t.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            eid = ev["executionId"]
            exec_span[eid] = placed(parse_tag(ev.get("description")), ev.get("time"))
            exec_plan[eid] = ev.get("sparkPlanInfo")
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            # AQE re-plans replace the plan; the last one is what ran
            exec_plan[ev["executionId"]] = ev.get("sparkPlanInfo")

    for eid, sid in exec_span.items():
        out[sid].sql_executions += 1
        out[sid].text_scans += _count_text_scans(exec_plan.get(eid))
    return dict(out)
