"""Reduce a Spark application's plain-JSON event log to layer counters.

Switch the log on from outside with ``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false`` and ``spark.eventLog.rolling.enabled=
false``.  Jobs are grouped by their ``spark.jobGroup.id`` (jobs without
one fall in group ``""``), and each group reduces to the counters
below.  Times summed over tasks are core-seconds.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

GROUP_KEY = "spark.jobGroup.id"
COUNTERS = (
    "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
    "scan_rows", "scan_bytes", "scan_task_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s",
    "spill_bytes", "output_rows", "output_bytes",
    "py_run_s", "py_start_s", "bytes_to_py", "bytes_from_py",
    "ring_rows", "agg_rows", "agg_task_s", "task_skew",
)


def _walk(node, parent, out):
    name = node.get("nodeName", "")
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (name, m["name"], m["metricType"],
                                   parent.get("nodeName", "") if parent else "")
    for child in node.get("children", []):
        # the ring prune is a Filter directly over explode_ring's Generate
        if name == "Filter" and child.get("nodeName") == "Generate":
            for m in node.get("metrics", []):
                if m["name"] == "number of output rows":
                    out[m["accumulatorId"]] = ("Filter", m["name"], "sum",
                                               "ring_prune")
        _walk(child, node, out)


def _stage_sql(accs, accinfo, c):
    """Fold one completed stage's SQL-metric accumulables into c;
    -> output rows of its HashAggregates."""
    ring_kept = ring_exploded = agg = 0
    scan = 0.0
    for a in accs:
        info = accinfo.get(a.get("ID"))
        if info is None:
            continue
        node, metric, mtype, ctx = info
        try:
            v = float(a.get("Value", 0))
        except (TypeError, ValueError):
            continue
        scale = 1e-9 if mtype == "nsTiming" else 1e-3 if mtype == "timing" else 1
        if metric == "time to run Python workers":
            c["py_run_s"] += v * scale
        elif metric in ("time to start Python workers",
                        "time to initialize Python workers"):
            c["py_start_s"] += v * scale
        elif metric == "data sent to Python workers":
            c["bytes_to_py"] += v
        elif metric == "data returned from Python workers":
            c["bytes_from_py"] += v
        elif metric == "number of output rows":
            if ctx == "ring_prune":
                ring_kept += v
            elif node == "Generate":
                ring_exploded += v
            elif node == "HashAggregate":
                agg += v
            elif node == "InMemoryTableScan" or node.startswith(
                    ("Scan ", "BatchScan")):
                scan += v
    c["ring_rows"] += ring_kept or ring_exploded
    c["scan_rows"] += scan
    return agg


def reduce_log(path: str) -> dict:
    """-> {group: {counter: value}} for one event-log file."""
    accinfo: dict = {}
    stage_group: dict = {}
    tasks = defaultdict(list)   # stage -> [run_s]
    tmet = defaultdict(lambda: defaultdict(float))  # stage -> sums
    groups = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    stage_info: dict = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event", "")
            if ev.endswith("SQLExecutionStart") or ev.endswith(
                    "SQLAdaptiveExecutionUpdate"):
                _walk(e["sparkPlanInfo"], None, accinfo)
            elif ev == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get(GROUP_KEY) or ""
                groups[g]["jobs"] += 1
                for s in e.get("Stage IDs", []):
                    stage_group.setdefault(s, g)
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics")
                if not m:
                    continue
                s = e["Stage ID"]
                t = tmet[s]
                run = m.get("Executor Run Time", 0) / 1e3
                tasks[s].append(run)
                t["run_s"] += run
                t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                im = m.get("Input Metrics", {})
                t["input_records"] += im.get("Records Read", 0)
                t["scan_bytes"] += im.get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics", {})
                t["shuffle_read_records"] += sr.get("Total Records Read", 0)
                t["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                t["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                t["shuffle_write_bytes"] += m.get(
                    "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                om = m.get("Output Metrics", {})
                t["output_rows"] += om.get("Records Written", 0)
                t["output_bytes"] += om.get("Bytes Written", 0)
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                stage_info[si["Stage ID"]] = si
    for s, si in stage_info.items():
        c = groups[stage_group.get(s, "")]
        t = tmet.get(s, {})
        c["stages"] += 1
        c["tasks"] += len(tasks.get(s, []))
        for k in ("run_s", "cpu_s", "gc_s", "scan_bytes",
                  "shuffle_write_bytes", "shuffle_read_bytes",
                  "fetch_wait_s", "spill_bytes", "output_rows",
                  "output_bytes"):
            c[k] += t.get(k, 0.0)
        if t.get("input_records", 0) > 0:
            c["scan_task_s"] += t.get("run_s", 0.0)
        agg = _stage_sql(si.get("Accumulables", []), accinfo, c)
        if agg and t.get("shuffle_read_records", 0) > 0:
            # a HashAggregate fed by an exchange: the final aggregation
            c["agg_rows"] += agg
            c["agg_task_s"] += t.get("run_s", 0.0)
    for g, c in groups.items():
        # task-time imbalance of the group's longest stage
        mine = [s for s in stage_info if stage_group.get(s, "") == g
                and tasks.get(s)]
        if mine:
            def dur(s):
                si = stage_info[s]
                return (si.get("Completion Time") or 0) - (
                    si.get("Submission Time") or 0)
            runs = tasks[max(mine, key=dur)]
            med = statistics.median(runs)
            c["task_skew"] = max(runs) / med if med > 0 else 1.0
    return {g: dict(c) for g, c in groups.items()}


def reduce_dir(path: str) -> dict:
    """Reduce every application log in ``path``; groups of the same
    name are summed (task_skew: the largest)."""
    out: dict = {}
    for name in sorted(os.listdir(path)):
        if name.startswith(".") or name.endswith(".inprogress"):
            continue
        for g, c in reduce_log(os.path.join(path, name)).items():
            acc = out.setdefault(g, dict.fromkeys(COUNTERS, 0.0))
            for k, v in c.items():
                acc[k] = max(acc[k], v) if k == "task_skew" else acc[k] + v
    return out


def total(groups: dict, names=None) -> dict:
    """Sum of groups (all, or those in ``names``)."""
    acc = dict.fromkeys(COUNTERS, 0.0)
    for g, c in groups.items():
        if names is None or g in names:
            for k, v in c.items():
                acc[k] = max(acc[k], v) if k == "task_skew" else acc[k] + v
    return acc
