"""Stdlib parser for an uncompressed Spark event log.

Every job the traced benchmark starts carries a job description of the form
``perfbench:<span id>`` (set by ``spans.Tracer`` in the thread that starts the
job). Spark copies the submitting job's local properties onto each
``SparkListenerStageSubmitted`` event, so a stage, and every task of it, can be
charged to the span that was innermost when the job started. Counters are
therefore already *self* counters: a job belongs to exactly one span.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

LABEL_PREFIX = "perfbench:"
UNLABELLED = "unlabelled"

MIB = 1024 * 1024

# counter name -> unit, in the order the ledger prints them
COUNTERS = {
    "run_s": "s",  # executor run time, summed over tasks
    "cpu_s": "s",  # JVM CPU time of the task threads
    "python_s": "s",  # time to run Python workers (pandas/Arrow UDFs)
    "shuffle_read_mb": "MiB",
    "shuffle_write_mb": "MiB",
    "spill_mb": "MiB",  # memory + disk bytes spilled
    "tasks": "count",
    "task_max_s": "s",
    "task_median_s": "s",
}


def event_files(log_dir: str) -> list[str]:
    """The event files under ``log_dir``, oldest first. Spark 4 writes one
    ``eventlog_v2_<app>/events_<n>_<app>`` directory per application when
    rolling is on, and a single ``<app>`` file when it is off."""
    out = []
    for root, _dirs, names in os.walk(log_dir):
        for n in names:
            if n.startswith(".") or n.startswith("appstatus") or n.endswith(".crc"):
                continue
            out.append(os.path.join(root, n))

    def order(path: str) -> tuple:
        base = os.path.basename(path)
        parts = base.split("_")
        seq = int(parts[1]) if base.startswith("events_") and parts[1].isdigit() else 0
        return (os.path.dirname(path), seq, base)

    return sorted(out, key=order)


def read_events(paths: list[str]):
    """Yield each JSON event; a torn last line (log still open) is skipped."""
    for p in paths:
        with open(p, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def _label(props: dict | None) -> str:
    desc = (props or {}).get("spark.job.description") or ""
    return desc[len(LABEL_PREFIX):] if desc.startswith(LABEL_PREFIX) else UNLABELLED


def _python_ms(task_info: dict) -> float:
    for acc in task_info.get("Accumulables", ()):
        if acc.get("Name") == "time to run Python workers":
            try:
                return float(acc.get("Update") or 0)
            except (TypeError, ValueError):
                return 0.0
    return 0.0


def _task_row(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return {
        "run_ms": float(m.get("Executor Run Time", 0)),
        "cpu_ns": float(m.get("Executor CPU Time", 0)),
        "python_ms": _python_ms(info),
        "shuffle_read": float(sr.get("Remote Bytes Read", 0)) + float(sr.get("Local Bytes Read", 0)),
        "shuffle_write": float(sw.get("Shuffle Bytes Written", 0)),
        "spill": float(m.get("Memory Bytes Spilled", 0)) + float(m.get("Disk Bytes Spilled", 0)),
    }


def task_metrics_by_label(events) -> dict[str, list[dict]]:
    """label -> per-task metric rows, from StageSubmitted properties and
    TaskEnd metrics. Stage attempts are keyed separately, so a retried stage
    is charged to whichever job resubmitted it."""
    stage_label: dict[tuple[int, int], str] = {}
    tasks: dict[str, list[dict]] = defaultdict(list)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            si = ev.get("Stage Info") or {}
            key = (si.get("Stage ID"), si.get("Stage Attempt ID", 0))
            stage_label[key] = _label(ev.get("Properties"))
        elif kind == "SparkListenerTaskEnd":
            key = (ev.get("Stage ID"), ev.get("Stage Attempt ID", 0))
            tasks[stage_label.get(key, UNLABELLED)].append(_task_row(ev))
    return dict(tasks)


def summarize(rows: list[dict]) -> dict[str, float]:
    """The COUNTERS for one label's task rows."""
    if not rows:
        return {k: 0.0 for k in COUNTERS}
    run = [r["run_ms"] / 1000.0 for r in rows]
    return {
        "run_s": sum(run),
        "cpu_s": sum(r["cpu_ns"] for r in rows) / 1e9,
        "python_s": sum(r["python_ms"] for r in rows) / 1000.0,
        "shuffle_read_mb": sum(r["shuffle_read"] for r in rows) / MIB,
        "shuffle_write_mb": sum(r["shuffle_write"] for r in rows) / MIB,
        "spill_mb": sum(r["spill"] for r in rows) / MIB,
        "tasks": float(len(rows)),
        "task_max_s": max(run),
        "task_median_s": statistics.median(run),
    }
