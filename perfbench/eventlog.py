"""Offline parser for Spark's JSON event log: per-job-description metrics.

The benchmark tags every rep with ``setJobDescription``; this module groups
jobs, stages, tasks and SQL executions by that description and sums the
task metrics Spark records, including the Python-worker metrics of the
``mapInArrow`` nodes ("data sent to Python workers", "time to run Python
workers", ...).  Sizes are reported in MiB, times in seconds.

    python3 perfbench/eventlog.py <event log file or eventlog_v2_* directory>
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import defaultdict

MIB = float(1 << 20)

# SQL metric name -> (field, scale to MiB or seconds); the times are in ms
_PYTHON_METRICS = {
    "data sent to Python workers": ("py_sent_mib", 1 / MIB),
    "data returned from Python workers": ("py_returned_mib", 1 / MIB),
    "time to start Python workers": ("py_boot_s", 1e-3),
    "time to initialize Python workers": ("py_init_s", 1e-3),
    "time to run Python workers": ("py_run_s", 1e-3),
}

FIELDS = [
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "jvm_gc_s",
    "task_overhead_s",
    "shuffle_write_mib",
    "shuffle_read_mib",
    "spill_mib",
    "peak_exec_mem_mib",
    "output_mib",
    "exchanges",
    *(f for f, _ in _PYTHON_METRICS.values()),
]


def event_files(path: str) -> list[str]:
    """The event files of one application log, in write order.  ``path`` is a
    plain log file, a rolling ``eventlog_v2_*`` directory, or a directory
    holding exactly one of either."""
    if os.path.isfile(path):
        return [path]
    names = os.listdir(path)
    rolled = [n for n in names if n.startswith("events_")]
    if rolled:
        return [
            os.path.join(path, n)
            for n in sorted(rolled, key=lambda n: int(re.match(r"events_(\d+)_", n).group(1)))
        ]
    apps = [n for n in names if not n.startswith(".")]
    if len(apps) != 1:
        raise ValueError(f"{path}: expected one application log, found {sorted(apps)}")
    return event_files(os.path.join(path, apps[0]))


def read_events(path: str):
    for fname in event_files(path):
        with open(fname) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _count_exchanges(plan: dict) -> int:
    own = 1 if plan.get("nodeName") == "Exchange" else 0
    return own + sum(_count_exchanges(c) for c in plan.get("children", []))


def summarize(events) -> dict[str, dict]:
    """{job description: {field: value, ..., "intervals": [(start_s, end_s)]}}.

    ``intervals`` holds the wall-clock spans of the description's jobs and
    SQL executions (epoch seconds), for attributing a rep's wall time."""
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0) | {"intervals": []})
    stage_desc: dict[int, str] = {}
    job_desc: dict[int, str] = {}
    job_start: dict[int, float] = {}
    sql_desc: dict[int, str] = {}
    sql_start: dict[int, float] = {}
    sql_plan: dict[int, dict] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description") or ""
            job_desc[e["Job ID"]] = desc
            job_start[e["Job ID"]] = e["Submission Time"] / 1e3
            for sid in e["Stage IDs"]:
                stage_desc[sid] = desc
            out[desc]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_start:
                out[job_desc[jid]]["intervals"].append((job_start[jid], e["Completion Time"] / 1e3))
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            if sid in stage_desc:
                out[stage_desc[sid]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            desc = stage_desc.get(e["Stage ID"])
            if desc is None:
                continue
            g, info, m = out[desc], e["Task Info"], e.get("Task Metrics") or {}
            g["tasks"] += 1
            run_ms = m.get("Executor Run Time", 0)
            g["executor_run_s"] += run_ms / 1e3
            g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
            g["task_overhead_s"] += max(info["Finish Time"] - info["Launch Time"] - run_ms, 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_write_mib"] += sw.get("Shuffle Bytes Written", 0) / MIB
            g["shuffle_read_mib"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / MIB
            g["spill_mib"] += m.get("Disk Bytes Spilled", 0) / MIB
            g["peak_exec_mem_mib"] = max(
                g["peak_exec_mem_mib"], m.get("Peak Execution Memory", 0) / MIB
            )
            g["output_mib"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MIB
            for acc in info.get("Accumulables", []):
                spec = _PYTHON_METRICS.get(acc.get("Name"))
                if spec is not None and acc.get("Update") is not None:
                    g[spec[0]] += float(acc["Update"]) * spec[1]
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            xid = e["executionId"]
            sql_desc[xid] = e.get("description") or ""
            sql_start[xid] = e["time"] / 1e3
            sql_plan[xid] = e.get("sparkPlanInfo") or {}
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            if e["executionId"] in sql_plan:
                sql_plan[e["executionId"]] = e.get("sparkPlanInfo") or {}
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            xid = e["executionId"]
            if xid in sql_start:
                g = out[sql_desc[xid]]
                g["intervals"].append((sql_start[xid], e["time"] / 1e3))
                g["exchanges"] += _count_exchanges(sql_plan.get(xid, {}))
    return dict(out)


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    groups = summarize(read_events(argv[0]))
    for g in groups.values():
        g.pop("intervals")
    print(json.dumps(groups, indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
