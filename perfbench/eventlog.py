"""Spark event-log parser: per-stage executor time, GC, shuffle and spill.

Spark writes one JSON object per line when ``spark.eventLog.enabled`` is
set. Task metrics arrive on ``SparkListenerTaskEnd`` and stage timing on
``SparkListenerStageCompleted``; this module folds the first into the
second, one record per stage attempt.
"""

from __future__ import annotations

import json
import os

TOTAL_KEYS = ("executor_run_ms", "gc_ms", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "tasks")


def _blank(stage_id: int, attempt: int) -> dict:
    return {"stage": stage_id, "attempt": attempt, "name": "",
            "submitted_ms": None, "completed_ms": None,
            **{k: 0 for k in TOTAL_KEYS}}


def stages(path: str) -> list[dict]:
    """Per-stage-attempt totals from one event-log file, in completion
    order; stages that never completed are left out."""
    acc: dict[tuple[int, int], dict] = {}
    done: list[tuple[int, int]] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                st = acc.setdefault(key, _blank(*key))
                m = ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                st["tasks"] += 1
                st["executor_run_ms"] += m.get("Executor Run Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                st["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                             + rd.get("Local Bytes Read", 0))
                st["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                st["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                st = acc.setdefault(key, _blank(*key))
                st["name"] = info.get("Stage Name", "")
                st["submitted_ms"] = info.get("Submission Time")
                st["completed_ms"] = info.get("Completion Time")
                done.append(key)
    return [acc[k] for k in done]


def totals(stage_list: list[dict], since_ms: float | None = None,
           until_ms: float | None = None) -> dict:
    """Sum of every stage that completed inside ``[since_ms, until_ms]``
    (epoch milliseconds; ``None`` leaves that side open)."""
    out = {k: 0 for k in TOTAL_KEYS}
    out["stages"] = 0
    for st in stage_list:
        t = st["completed_ms"]
        if t is None or (since_ms is not None and t < since_ms) or (
                until_ms is not None and t > until_ms):
            continue
        out["stages"] += 1
        for k in TOTAL_KEYS:
            out[k] += st[k]
    return out


def logs_in(log_dir: str) -> list[str]:
    """Finished event-log files in ``log_dir``, oldest first."""
    if not os.path.isdir(log_dir):
        return []
    paths = [os.path.join(log_dir, n) for n in os.listdir(log_dir)
             if not n.endswith(".inprogress") and not n.startswith(".")]
    return sorted(paths, key=os.path.getmtime)
