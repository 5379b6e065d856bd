"""Spans and Spark event-log accounting for the traced benchmark run.

A :class:`Tracer` records one span per call into an engine layer and
labels every Spark job started inside it with
``setJobDescription("kgbench:<label>")``.  After the session stops,
:func:`parse_event_log` reads Spark's own uncompressed JSON event log and
sums, per label, what the tasks of that label's jobs did: task time,
Python-worker run time, Arrow bytes to and from Python, rows into and
out of each Python crossing, shuffle bytes written, disk spill and failed
tasks.  Jobs run by a streaming query's own thread carry the query's
description instead of a span label and are grouped under ``stream``.

Standard library only (the event log is plain JSON lines).
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

PREFIX = "kgbench:"

# SQL metric names as pyspark 4.1 writes them into task accumulables
_SQL_SUMS = {
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "bytes_to_py",
    "data returned from Python workers": "bytes_from_py",
}


class Tracer:
    """In-memory span list; spans with the same label add up."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []

    @contextmanager
    def span(self, label: str):
        self.sc.setJobDescription(PREFIX + label)
        start = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(
                {"label": label, "start": start, "end": time.perf_counter()}
            )
            self.sc.setJobDescription(None)

    def wall_s(self, label: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["label"] == label)


def _label(props: dict) -> str:
    desc = props.get("spark.job.description") or ""
    if desc.startswith(PREFIX):
        return desc[len(PREFIX):]
    if "spark.sql.streaming.queryId" in props or "batch =" in desc:
        return "stream"
    return "untracked"


def _python_nodes(plan: dict, out: dict) -> None:
    """Map the row-count accumulators around every MapInPandas node:
    its own output rows (rows out of Python) and the nearest descendant's
    output rows (rows into Python)."""
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", ())}
    if plan.get("nodeName") == "MapInPandas" and "number of output rows" in metrics:
        out[metrics["number of output rows"]] = "py_rows_out"
        todo = list(plan.get("children", ()))
        while todo:
            child = todo.pop(0)
            child_metrics = {m["name"]: m["accumulatorId"] for m in child.get("metrics", ())}
            if "number of output rows" in child_metrics:
                out[child_metrics["number of output rows"]] = "py_rows_in"
                break
            todo.extend(child.get("children", ()))
    for child in plan.get("children", ()):
        _python_nodes(child, out)


def _union_ms(spans: list) -> float:
    """Length of the union of [start, end] intervals (jobs of one label
    can overlap: adaptive query stages run as concurrent jobs)."""
    total, reach = 0.0, None
    for start, end in sorted(spans):
        if reach is None or start > reach:
            total += end - start
            reach = end
        elif end > reach:
            total += end - reach
            reach = end
    return total


def event_log_file(event_dir: Path) -> Path:
    files = sorted(event_dir.rglob("events_*")) or sorted(
        p for p in event_dir.rglob("*") if p.is_file() and not p.name.startswith("appstatus")
    )
    if not files:
        raise FileNotFoundError(f"no Spark event log under {event_dir}")
    return files[0]


def parse_event_log(path: Path) -> dict[str, dict[str, float]]:
    """Per-label rows: jobs, job_s (wall covered by the label's jobs), task_s, python_s,
    bytes_to_py, bytes_from_py, py_rows_in, py_rows_out, shuffle_bytes,
    spill_bytes, tasks, tasks_failed."""
    stage_label: dict[int, str] = {}
    job_label: dict[int, str] = {}
    job_start: dict[int, int] = {}
    py_accums: dict[int, str] = {}
    row_counts: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))
    intervals: dict[str, list] = defaultdict(list)
    rows: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            event = json.loads(line)
            kind = event["Event"]
            if kind == "SparkListenerJobStart":
                label = _label(event.get("Properties") or {})
                job_label[event["Job ID"]] = label
                job_start[event["Job ID"]] = event["Submission Time"]
                rows[label]["jobs"] += 1
                for stage_id in event.get("Stage IDs", ()):
                    stage_label.setdefault(stage_id, label)
            elif kind == "SparkListenerJobEnd":
                label = job_label.get(event["Job ID"], "untracked")
                started = job_start.get(event["Job ID"], event["Completion Time"])
                intervals[label].append((started, event["Completion Time"]))
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                _python_nodes(event.get("sparkPlanInfo") or {}, py_accums)
            elif kind == "SparkListenerTaskEnd":
                row = rows[stage_label.get(event["Stage ID"], "untracked")]
                row["tasks"] += 1
                if (event.get("Task End Reason") or {}).get("Reason") != "Success":
                    row["tasks_failed"] += 1
                metrics = event.get("Task Metrics") or {}
                row["task_s"] += metrics.get("Executor Run Time", 0) / 1000
                row["shuffle_bytes"] += (metrics.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                row["spill_bytes"] += metrics.get("Disk Bytes Spilled", 0)
                label = stage_label.get(event["Stage ID"], "untracked")
                for acc in (event.get("Task Info") or {}).get("Accumulables", ()):
                    update = acc.get("Update")
                    if update is None:
                        continue
                    if acc.get("Name") in _SQL_SUMS:
                        row[_SQL_SUMS[acc["Name"]]] += float(update)
                    elif acc.get("Name") == "number of output rows":
                        row_counts[label][acc["ID"]] += float(update)
    # an adaptive re-plan can name an accumulator after its tasks reported
    for label, counts in row_counts.items():
        for acc_id, value in counts.items():
            if acc_id in py_accums:
                rows[label][py_accums[acc_id]] += value
    for label, spans in intervals.items():
        rows[label]["job_s"] = _union_ms(spans) / 1000
    for row in rows.values():
        row["python_s"] = row.pop("python_ms", 0.0) / 1000
    return {label: dict(row) for label, row in rows.items()}
