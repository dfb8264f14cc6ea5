"""Roll up a Spark event log per layer label (stdlib only).

The benchmark's own session writes the log uncompressed and unrolled
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=
false``): one JSON object per line. Each task is charged to the label
its stage was submitted under (the ``perfbench.layer`` local property
of the submitting thread, see tracing.py); a task with no label is
unattributed.
"""

from __future__ import annotations

import json

from tracing import LABEL_KEY

_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"


def _accum(task_info: dict, name: str) -> float:
    return sum(float(a.get("Update", 0) or 0)
               for a in task_info.get("Accumulables", ())
               if a.get("Name") == name)


def read(path: str) -> dict:
    """Jobs and tasks of the application, with times in epoch seconds."""
    stage_label: dict = {}
    jobs: dict = {}
    tasks: list = []
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {"submit": e["Submission Time"] / 1e3,
                                     "end": None}
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                stage_label[e["Stage Info"]["Stage ID"]] = (
                    e.get("Properties") or {}).get(LABEL_KEY)
            elif kind == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                shuffle = (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                tasks.append({
                    "stage": e["Stage ID"],
                    "launch": info["Launch Time"] / 1e3,
                    "run_s": m.get("Executor Run Time", 0) / 1e3,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "shuffle_b": shuffle,
                    "py_s": _accum(info, _PY_RUN) / 1e3,
                    "py_sent_b": _accum(info, _PY_SENT)})
    for t in tasks:
        t["label"] = stage_label.get(t["stage"])
    return {"jobs": list(jobs.values()), "tasks": tasks}


def rollup(log: dict, t0: float, t1: float) -> dict:
    """Per-label totals of the jobs submitted and tasks launched in
    [t0, t1], plus the wall time in that window with no job running."""
    jobs = [j for j in log["jobs"] if t0 <= j["submit"] <= t1]
    tasks = [t for t in log["tasks"] if t0 <= t["launch"] <= t1]
    by_label: dict = {}
    for t in tasks:
        agg = by_label.setdefault(t["label"], {
            "tasks": 0, "task_s": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0,
            "python_s": 0.0, "arrow_mb_to_python": 0.0,
            "udf_task_s": 0.0})
        agg["tasks"] += 1
        agg["task_s"] += t["run_s"]
        agg["gc_s"] += t["gc_s"]
        agg["shuffle_mb"] += t["shuffle_b"] / 1e6
        agg["python_s"] += t["py_s"]
        agg["arrow_mb_to_python"] += t["py_sent_b"] / 1e6
        if t["py_sent_b"] > 0:
            agg["udf_task_s"] += t["run_s"]
    busy, cursor = 0.0, t0
    for s, e in sorted((j["submit"], min(j["end"] or t1, t1))
                       for j in jobs):
        if e > cursor:
            busy += e - max(s, cursor)
            cursor = e
    return {"jobs": len(jobs), "labels": by_label,
            "idle_s": (t1 - t0) - busy}
