"""Per-job-group Spark numbers from an uncompressed Spark event log.

A traced run gives every engine call or operator its own job group
(``SparkContext.setJobGroup``) and writes the event log with
``spark.eventLog.compress=false`` (the default zstd codec needs the
``zstandard`` module to read back). This module folds the log into
per-group totals: jobs, stages, tasks, executor run/CPU/GC time,
scheduler delay, shuffle bytes, the Python-worker SQL metrics, and the
rows and files the parquet scans produced.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_TIME = "time to run Python workers"
ROWS_OUT = "number of output rows"
FILES_READ = "number of files read"


def _zero() -> dict:
    return defaultdict(float)


def _scan_metric_ids(plan: dict, out: dict) -> None:
    """accumulator id -> (metric name, metric type) for parquet scan nodes,
    plus every node's metric types (to scale ns timings)."""
    is_scan = plan.get("nodeName", "").startswith("Scan ")
    for m in plan.get("metrics", ()):
        out["type"][m["accumulatorId"]] = m.get("metricType", "sum")
        if is_scan and m["name"] in (ROWS_OUT, FILES_READ):
            out["scan"][m["accumulatorId"]] = m["name"]
    for c in plan.get("children", ()):
        _scan_metric_ids(c, out)


def _log_files(log_dir: str) -> list[str]:
    """Event log files in write order: plain logs, or the numbered
    ``events_<n>_...`` parts of Spark's rolling ``eventlog_v2_*`` dirs."""

    def order(path: str):
        base = os.path.basename(path)
        parts = base.split("_")
        n = int(parts[1]) if base.startswith("events_") and parts[1].isdigit() else 0
        return os.path.dirname(path), n, base

    files = [
        p
        for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith(("appstatus", "."))
    ]
    return sorted(files, key=order)


def parse(log_dir: str) -> dict[str, dict]:
    """Fold every event log under ``log_dir`` into {job group: totals}."""
    groups: dict[str, dict] = defaultdict(_zero)
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    ids = {"type": {}, "scan": {}}
    driver_updates: list[tuple[int, list]] = []
    for path in _log_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a line cut by a killed writer
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    if g is None:
                        continue
                    groups[g]["jobs"] += 1
                    for st in ev.get("Stage Infos", ()):
                        stage_group[st["Stage ID"]] = g
                    ex = props.get("spark.sql.execution.id")
                    if ex is not None:
                        exec_group[int(ex)] = g
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    g = stage_group.get(info["Stage ID"])
                    if g is not None and "Completion Time" in info:
                        groups[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is not None:
                        _task(groups[g], ev, ids)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _scan_metric_ids(ev.get("sparkPlanInfo") or {}, ids)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    driver_updates.append((ev["executionId"], ev["accumUpdates"]))
    for ex, updates in driver_updates:
        g = exec_group.get(ex)
        if g is None:
            continue
        for acc_id, value in updates:
            if ids["scan"].get(acc_id) == FILES_READ:
                groups[g]["files_read"] += value
    return groups


def _task(t: dict, ev: dict, ids: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    t["tasks"] += 1
    run = m.get("Executor Run Time", 0)
    t["executor_run_ms"] += run
    t["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
    t["gc_ms"] += m.get("JVM GC Time", 0)
    dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    t["sched_delay_ms"] += max(
        0,
        dur
        - run
        - m.get("Executor Deserialize Time", 0)
        - m.get("Result Serialization Time", 0)
        - info.get("Getting Result Time", 0),
    )
    sr = m.get("Shuffle Read Metrics") or {}
    t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    for acc in info.get("Accumulables", ()):
        name, upd = acc.get("Name"), acc.get("Update")
        try:
            v = float(upd)
        except (TypeError, ValueError):
            continue
        if name == PY_SENT:
            t["python_bytes_sent"] += v
        elif name == PY_RETURNED:
            t["python_bytes_returned"] += v
        elif name == PY_TIME:
            scale = 1e-6 if ids["type"].get(acc.get("ID")) == "nsTiming" else 1.0
            t["python_worker_ms"] += v * scale
        elif ids["scan"].get(acc.get("ID")) == ROWS_OUT:
            t["scan_rows"] += v
