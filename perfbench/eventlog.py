"""Spark event-log reader: per-job-group engine and Python-boundary totals.

Reads the uncompressed, non-rolling JSON-lines log that a session writes
with ``spark.eventLog.enabled=true``, ``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false``. Each stage belongs to the job
group of the first job that lists it; each task-end event adds its task
metrics, and the per-task updates of the ArrowEvalPython accumulables, to
that group.

    python3 perfbench/eventlog.py <event-log-file>

prints one JSON object per job group.
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict

# ArrowEvalPython node metrics, by the names they carry in the log
PY_ACCUMULABLES = {
    "data sent to Python workers": "py_sent_b",
    "data returned from Python workers": "py_returned_b",
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
}


def _new_group() -> dict:
    return {
        "jobs": set(), "stages": set(), "tasks": 0, "run_ms": 0, "cpu_ns": 0,
        "shuffle_write_b": 0, "spill_b": 0, "py_tasks": 0,
        "records_read": defaultdict(list),
        **{v: 0.0 for v in PY_ACCUMULABLES.values()},
    }


def read(path: str) -> dict[str, dict]:
    """Job group id → totals (jobs and stages as sets; see ``_new_group``)."""
    groups: dict[str, dict] = defaultdict(_new_group)
    stage_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                groups[g]["jobs"].add(e["Job ID"])
                for s in e.get("Stage IDs", []):
                    stage_group.setdefault(s, g)
            elif ev == "SparkListenerTaskEnd":
                g = groups[stage_group.get(e["Stage ID"], "")]
                g["stages"].add(e["Stage ID"])
                g["tasks"] += 1
                m = e.get("Task Metrics") or {}
                g["run_ms"] += m.get("Executor Run Time", 0)
                g["cpu_ns"] += m.get("Executor CPU Time", 0)
                g["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                g["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                read_recs = (m.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0)
                if read_recs:
                    g["records_read"][e["Stage ID"]].append(read_recs)
                ran_python = False
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    key = PY_ACCUMULABLES.get(acc.get("Name"))
                    if key is not None and acc.get("Update") is not None:
                        g[key] += float(acc["Update"])
                        ran_python = True
                g["py_tasks"] += ran_python
    return dict(groups)


def summarize(groups: list[dict]) -> dict:
    """Sum ``groups`` into ``spark.*`` and ``py.*`` metrics.
    ``max_task_skew`` is the largest ratio of a task's shuffle records read
    to its stage's mean, over stages with 2+ tasks."""
    tot = _new_group()
    for g in groups:
        for k, v in g.items():
            if isinstance(v, set):
                tot[k] |= v
            elif isinstance(v, dict):
                tot[k].update(v)
            else:
                tot[k] += v
    skew = [max(r) * len(r) / sum(r) for r in tot["records_read"].values() if len(r) > 1]
    mb = 1024 * 1024
    return {
        "spark.jobs": len(tot["jobs"]),
        "spark.stages": len(tot["stages"]),
        "spark.tasks": tot["tasks"],
        "spark.run_s": tot["run_ms"] / 1e3,
        "spark.cpu_s": tot["cpu_ns"] / 1e9,
        "spark.shuffle_write_mb": tot["shuffle_write_b"] / mb,
        "spark.spill_mb": tot["spill_b"] / mb,
        "py.to_workers_mb": tot["py_sent_b"] / mb,
        "py.from_workers_mb": tot["py_returned_b"] / mb,
        "py.run_s": tot["py_run_ms"] / 1e3,
        "py.start_init_s": (tot["py_start_ms"] + tot["py_init_ms"]) / 1e3,
        "py.run_ms_per_task": tot["py_run_ms"] / max(1, tot["py_tasks"]),
        "max_task_skew": max(skew, default=1.0),
    }


if __name__ == "__main__":
    for name, g in sorted(read(sys.argv[1]).items()):
        print(json.dumps({"group": name, **summarize([g])}))
