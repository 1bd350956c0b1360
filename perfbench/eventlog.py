"""Read a Spark event log and attribute its work to job groups.

The benchmark tags every operation phase with
``sparkContext.setJobGroup``; this module folds the log's jobs, stages,
tasks and SQL metrics into one :class:`GroupStats` per group id.

Spark 4.1 writes the log zstd-compressed (``<app-id>.zstd``);
``pyarrow.input_stream(path, compression="zstd")`` decodes it without
any extra package. Plain (uncompressed) logs are read as-is.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

import pyarrow as pa

# SQL metric names as Spark 4.1 labels them (PythonSQLMetrics, the file
# scan and the write commands)
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_TOTAL = "time to run Python workers"
FILES_READ = "number of files read"
BYTES_READ = "size of files read"
BYTES_WRITTEN = "written output"

_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    sql: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    exchanges: int = 0
    smj: int = 0
    bhj: int = 0
    shj: int = 0
    skew_splits: int = 0
    call_sites: list[str] = field(default_factory=list)


def read_events(paths: list[str]) -> list[dict]:
    """Parse event-log files (zstd or plain) into event dicts."""
    events = []
    for path in paths:
        if path.endswith(".zstd"):
            with pa.input_stream(path, compression="zstd") as s:
                raw = s.read()
        else:
            with open(path, "rb") as fh:
                raw = fh.read()
        events += [json.loads(line) for line in raw.decode("utf-8").splitlines() if line]
    return events


def find_log(log_dir: str) -> list[str]:
    """The event-log files of the single finished application in
    ``log_dir``, in write order. Spark 4 rolls logs by default into an
    ``eventlog_v2_<app>`` directory of ``events_<n>_<app>`` files."""
    logs = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    path = os.path.join(log_dir, logs[0])
    if not os.path.isdir(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", []):
        yield from _walk(child)


def aggregate(events: list[dict]) -> dict[str, GroupStats]:
    """Fold ``events`` into per-job-group stats. Jobs without a group
    are filed under ``""``."""
    stage_group: dict[int, str] = {}
    exec_groups: dict[int, set[str]] = defaultdict(set)
    final_plan: dict[int, dict] = {}
    metric_defs: dict[int, tuple[str, str]] = {}
    acc_value: dict[int, float] = defaultdict(float)
    acc_exec: dict[int, int] = {}
    stats: dict[str, GroupStats] = defaultdict(GroupStats)

    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            g = stats[group]
            g.jobs += 1
            for sid in ev["Stage IDs"]:
                stage_group[sid] = group
            exec_id = props.get("spark.sql.execution.id")
            if exec_id is not None:
                exec_groups[int(exec_id)].add(group)
            # PySpark sets the Python call site for some actions only;
            # otherwise the last stage's name carries the JVM call site
            infos = ev.get("Stage Infos") or [{}]
            site = props.get("callSite.short") or infos[-1].get("Stage Name")
            if site:
                g.call_sites.append(site)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            stats[stage_group.get(sid, "")].stages += 1
        elif kind == "SparkListenerTaskEnd":
            g = stats[stage_group.get(ev["Stage ID"], "")]
            g.tasks += 1
            tm = ev.get("Task Metrics") or {}
            g.task_run_s += tm.get("Executor Run Time", 0) / 1e3
            g.task_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            g.gc_s += tm.get("JVM GC Time", 0) / 1e3
            sr = tm.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                # SQL metric updates arrive as decimal strings
                try:
                    acc_value[acc["ID"]] += float(acc["Update"])
                except (KeyError, TypeError, ValueError):
                    pass
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            # the last plan seen for an execution is its final adaptive plan
            final_plan[ev["executionId"]] = ev["sparkPlanInfo"]
            for node in _walk(ev["sparkPlanInfo"]):
                for m in node.get("metrics", []):
                    metric_defs[m["accumulatorId"]] = (m["name"], m["metricType"])
                    acc_exec[m["accumulatorId"]] = ev["executionId"]
        elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
            for m in ev.get("sqlPlanMetrics", []):
                metric_defs[m["accumulatorId"]] = (m["name"], m["metricType"])
                acc_exec[m["accumulatorId"]] = ev["executionId"]
        elif kind.endswith("DriverAccumUpdates"):
            for acc_id, value in ev.get("accumUpdates", []):
                acc_value[acc_id] += value

    for exec_id, plan in final_plan.items():
        groups = exec_groups.get(exec_id)
        if not groups:
            continue
        g = stats[sorted(groups)[0]]
        for node in _walk(plan):
            name = node.get("nodeName", "")
            g.exchanges += name == "Exchange"
            g.smj += name.startswith("SortMergeJoin")
            g.bhj += name.startswith("BroadcastHashJoin")
            g.shj += name.startswith("ShuffledHashJoin")
            g.skew_splits += "skew=true" in name
    for acc_id, value in acc_value.items():
        if acc_id not in metric_defs or acc_id not in acc_exec:
            continue
        groups = exec_groups.get(acc_exec[acc_id])
        if not groups:
            continue
        name, mtype = metric_defs[acc_id]
        stats[sorted(groups)[0]].sql[name] += value * _TIME_SCALE.get(mtype, 1)
    return dict(stats)
