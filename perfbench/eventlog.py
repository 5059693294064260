"""Spark event-log reader: per-stage task metrics, attributed to spans.

The log must be uncompressed and not rolled (``EVENT_LOG_CONF``). Each
stage is attributed to the ``perfbench.span`` local property it was
submitted under; stages without one (set-up, warm-up, untraced passes)
are left out. Any malformed line or missing field raises: a traced run
whose log cannot be read fails instead of reporting partial numbers.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from typing import Dict, List, Tuple

from perfbench.trace import SPAN_PROPERTY

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

# Spark 4.1's PythonSQLMetrics, recorded per task as SQL accumulables
_PY_RUN = "time to run Python workers"        # ms
_PY_SENT = "data sent to Python workers"      # bytes
_PY_BACK = "data returned from Python workers"  # bytes

TASK_FIELDS = ("executor_run_s", "executor_cpu_s", "jvm_gc_s",
               "python_run_s", "python_in_bytes", "python_out_bytes",
               "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
               "output_bytes")


class EventLogError(RuntimeError):
    pass


def log_path(log_dir: str, app_id: str) -> str:
    path = os.path.join(log_dir, app_id)
    if not os.path.isfile(path):
        raise EventLogError(f"no finished event log at {path} (is the "
                            "SparkContext stopped?)")
    return path


def _task_values(event: dict) -> Dict[str, float]:
    m = event["Task Metrics"]
    acc = {a.get("Name"): a.get("Update")
           for a in event["Task Info"]["Accumulables"]}
    sr = m["Shuffle Read Metrics"]
    return {
        "executor_run_s": m["Executor Run Time"] / 1e3,
        "executor_cpu_s": m["Executor CPU Time"] / 1e9,
        "jvm_gc_s": m["JVM GC Time"] / 1e3,
        "python_run_s": float(acc.get(_PY_RUN) or 0) / 1e3,
        "python_in_bytes": float(acc.get(_PY_SENT) or 0),
        "python_out_bytes": float(acc.get(_PY_BACK) or 0),
        "shuffle_write_bytes": float(
            m["Shuffle Write Metrics"]["Shuffle Bytes Written"]),
        "shuffle_read_bytes": float(sr["Local Bytes Read"] +
                                    sr["Remote Bytes Read"]),
        "spill_bytes": float(m["Disk Bytes Spilled"]),
        "output_bytes": float(m["Output Metrics"]["Bytes Written"]),
    }


def parse(path: str) -> Tuple[Dict[str, dict], List[dict]]:
    """Per-span totals and the attributed stages.

    A span's totals are the task metrics above summed over its stages,
    plus job/stage/task counts, failed tasks, and ``task_skew``: max ÷
    median task run time in the span's heaviest stage (the one with the
    largest summed task run time). Each stage entry carries its span,
    task count, summed run time and skew."""
    stage_span: Dict[int, str] = {}
    job_span: Dict[int, str] = {}
    stage_tasks = defaultdict(list)
    with open(path) as f:
        for lineno, line in enumerate(f, 1):
            try:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    span = ev.get("Properties", {}).get(SPAN_PROPERTY)
                    if span:
                        job_span[ev["Job ID"]] = span
                        for sid in ev["Stage IDs"]:
                            stage_span.setdefault(sid, span)
                elif kind == "SparkListenerStageSubmitted":
                    span = ev.get("Properties", {}).get(SPAN_PROPERTY)
                    if span:
                        stage_span[ev["Stage Info"]["Stage ID"]] = span
                elif kind == "SparkListenerTaskEnd":
                    vals = _task_values(ev)
                    vals["failed"] = ev["Task End Reason"]["Reason"] != \
                        "Success"
                    stage_tasks[(ev["Stage ID"], ev["Stage Attempt ID"])] \
                        .append(vals)
            except (KeyError, TypeError, ValueError) as e:
                raise EventLogError(f"{path}:{lineno}: cannot read event "
                                    f"({type(e).__name__}: {e})") from e

    spans: Dict[str, dict] = {}
    stages = []
    for (sid, _attempt), tasks in sorted(stage_tasks.items()):
        span = stage_span.get(sid)
        if span is None:
            continue
        s = spans.setdefault(span, dict.fromkeys(TASK_FIELDS, 0.0) | {
            "stages": 0, "tasks": 0, "failed_tasks": 0})
        s["stages"] += 1
        s["tasks"] += len(tasks)
        for t in tasks:
            s["failed_tasks"] += int(t["failed"])
            for k in TASK_FIELDS:
                s[k] += t[k]
        runs = [t["executor_run_s"] for t in tasks]
        med = statistics.median(runs)
        stages.append({"span": span, "stage": sid, "tasks": len(tasks),
                       "run_s": sum(runs),
                       "skew": max(runs) / med if med > 0 else 1.0})
    for span, s in spans.items():
        s["jobs"] = sum(1 for j in job_span.values() if j == span)
        mine = [st for st in stages if st["span"] == span]
        s["task_skew"] = max(mine, key=lambda st: st["run_s"])["skew"]
    return spans, stages
