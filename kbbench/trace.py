"""Spans around calls into kbspark's modules, and per-span Spark metrics
summed from the run's event log.

A span sets the Spark job group to its name, so every job the span
starts is labelled; after the run, ``span_metrics`` reads the
uncompressed event log and sums task metrics per group. Spans live in
memory until ``Tracer.records`` is written out at the end of the run.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

#: wall time of a Python-evaluated plan node in one task (it includes
#: worker start and initialization); the nodes of one task run as
#: nested iterators, so their times overlap and only the longest counts
_PY_TIME = "time to run Python workers"
_PY_BYTES = ("data sent to Python workers",
             "data returned from Python workers")


class Tracer:
    """Records spans (name, start, end, parent, run id) for one run. The
    spans are flat: each one's parent is the run itself."""

    def __init__(self, spark, run_id: str):
        self._sc = spark.sparkContext
        self.run_id = run_id
        self.records: list[dict] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": None, "run_id": self.run_id,
               "start": time.time(), "end": None}
        self._sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["busy_s"] = rec["end"] - rec["start"]
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
            self.records.append(rec)


def _update(acc: dict) -> float:
    try:
        return float(acc.get("Update", 0) or 0)
    except (TypeError, ValueError):
        return 0.0


def span_metrics(event_log_dir: str) -> dict[str, dict]:
    """{job group: summed task metrics} from the one event log in the dir.

    Per group: tasks, executor run/CPU time, Python-worker time (per task,
    the longest Python node) and bytes sent to and returned from Python
    workers (the SQL accumulators of Arrow-evaluated stages), shuffle bytes
    written, disk spill, the largest task's share of the group's executor
    run time, and a per-stage task count/run time list."""
    (path,) = glob.glob(os.path.join(event_log_dir, "*"))
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                m = out.setdefault(group, {
                    "tasks": 0, "run_ms": 0.0, "cpu_ns": 0.0, "python_ms": 0.0,
                    "arrow_bytes": 0.0, "shuffle_bytes": 0.0,
                    "spill_bytes": 0.0, "max_task_ms": 0.0, "stages": {},
                })
                tm = ev.get("Task Metrics") or {}
                run_ms = float(tm.get("Executor Run Time", 0))
                m["tasks"] += 1
                m["run_ms"] += run_ms
                m["cpu_ns"] += float(tm.get("Executor CPU Time", 0))
                m["shuffle_bytes"] += float(
                    (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                )
                m["spill_bytes"] += float(tm.get("Disk Bytes Spilled", 0))
                m["max_task_ms"] = max(m["max_task_ms"], run_ms)
                st = m["stages"].setdefault(str(ev["Stage ID"]),
                                            {"tasks": 0, "run_ms": 0.0})
                st["tasks"] += 1
                st["run_ms"] += run_ms
                py_ms = 0.0
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name = acc.get("Name")
                    if name == _PY_TIME:
                        py_ms = max(py_ms, _update(acc))
                    elif name in _PY_BYTES:
                        m["arrow_bytes"] += _update(acc)
                m["python_ms"] += py_ms
    return out
