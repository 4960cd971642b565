"""Roll up Spark's own event log (uncompressed JSON lines) per run window.

Jobs are kept when their submission time falls in ``[t_from_ms, t_to_ms]``
and are grouped by ``phase(job group id)``; every finished task of a kept
job's stages is summed into its job's group. The Arrow/Python
boundary is read from the SQL plans: the accumulator ids of the
``data sent to / returned from Python workers`` metrics on Python-eval
nodes (``ArrowEvalPython``, ``MapInPandas``, ``FlatMapGroupsInPandas`` and
the rest) are collected from every plan and adaptive re-plan, then their
task updates are summed.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics

#: stages with fewer tasks than this say nothing about skew
SKEW_MIN_TASKS = 4

_PY_SENT = "data sent to python workers"
_PY_RETURNED = "data returned from python workers"


def _walk(plan: dict):
    yield plan
    for child in plan.get("children") or []:
        yield from _walk(child)


def _python_accumulators(plan: dict, sent: set[int], returned: set[int]) -> None:
    for node in _walk(plan):
        name = node.get("nodeName", "")
        if "Python" not in name and "Pandas" not in name and "Arrow" not in name:
            continue
        for m in node.get("metrics") or []:
            label = m.get("name", "").lower()
            if label == _PY_SENT:
                sent.add(int(m["accumulatorId"]))
            elif label == _PY_RETURNED:
                returned.add(int(m["accumulatorId"]))


def log_files(log_dir: str, app_id: str) -> list[str]:
    """The event log files of ``app_id``: one plain file, or the numbered
    parts of a rolling (``eventlog_v2_*``) log in order."""
    single = os.path.join(log_dir, app_id)
    if os.path.exists(single):
        return [single]
    parts = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    return sorted(parts, key=lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p))[1]))


def read_events(paths: list[str]) -> list[dict]:
    out = []
    for path in paths:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    out.append(json.loads(line))
    return out


def _zero() -> dict[str, float]:
    return {
        "spark.jobs": 0.0, "spark.tasks": 0.0, "spark.executor_run_s": 0.0,
        "spark.executor_cpu_s": 0.0, "spark.gc_s": 0.0, "spark.shuffle_write_bytes": 0.0,
        "spark.shuffle_read_bytes": 0.0, "spark.spill_bytes": 0.0, "spark.input_bytes": 0.0,
        "spark.output_bytes": 0.0, "spark.task_skew": 0.0,
        "python.bytes_to_workers": 0.0, "python.bytes_from_workers": 0.0,
    }


def rollup(events: list[dict], t_from_ms: float | None = None, t_to_ms: float | None = None,
           phase=lambda group: "all") -> dict[str, dict[str, float]]:
    """Per phase: job and task counts, summed task metrics, the worst
    stage's task-time skew (max / median, stages of at least
    ``SKEW_MIN_TASKS`` tasks) and the bytes crossing the Python boundary.
    ``phase`` maps a job group id (or ``None``) to a phase name, or to
    ``None`` to leave the job out."""
    out: dict[str, dict[str, float]] = {}
    stage_phase: dict[int, str] = {}
    sent: set[int] = set()
    returned: set[int] = set()
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            t = ev.get("Submission Time", 0)
            if (t_from_ms is not None and t < t_from_ms) or (t_to_ms is not None and t > t_to_ms):
                continue
            p = phase((ev.get("Properties") or {}).get("spark.jobGroup.id"))
            if p is None:
                continue
            out.setdefault(p, _zero())["spark.jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_phase.setdefault(int(sid), p)
        elif kind.endswith(("SparkListenerSQLExecutionStart",
                            "SparkListenerSQLAdaptiveExecutionUpdate")):
            _python_accumulators(ev.get("sparkPlanInfo") or {}, sent, returned)

    stage_times: dict[int, list[float]] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        sid = int(ev.get("Stage ID", -1))
        if sid not in stage_phase:
            continue
        o = out[stage_phase[sid]]
        tm = ev.get("Task Metrics") or {}
        info = ev.get("Task Info") or {}
        o["spark.tasks"] += 1
        o["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
        o["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        o["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        sw = tm.get("Shuffle Write Metrics") or {}
        o["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        sr = tm.get("Shuffle Read Metrics") or {}
        o["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        o["spark.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
        o["spark.input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
        o["spark.output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
        launch, finish = info.get("Launch Time"), info.get("Finish Time")
        if launch is not None and finish:
            stage_times.setdefault(sid, []).append(finish - launch)
        for acc in info.get("Accumulables") or []:
            aid = int(acc.get("ID", -1))
            if aid in sent:
                o["python.bytes_to_workers"] += float(acc.get("Update") or 0)
            elif aid in returned:
                o["python.bytes_from_workers"] += float(acc.get("Update") or 0)
    for sid, times in stage_times.items():
        if len(times) >= SKEW_MIN_TASKS:
            med = statistics.median(times)
            if med > 0:
                o = out[stage_phase[sid]]
                o["spark.task_skew"] = max(o["spark.task_skew"], max(times) / med)
    return out
