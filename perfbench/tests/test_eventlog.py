"""The event-log parser folds task metrics into their stage attempts."""

from __future__ import annotations

import json
import os
import shutil

from perfbench import eventlog

TINY = os.path.join(os.path.dirname(__file__), "eventlog_tiny.json")


def test_stages_of_tiny_log():
    first, second = eventlog.stages(TINY)
    assert (first["stage"], first["attempt"], first["tasks"]) == (0, 0, 2)
    assert first["executor_run_ms"] == 208 + 210
    assert first["gc_ms"] == 13 + 13
    assert first["shuffle_write_bytes"] == 133 + 136
    assert first["shuffle_read_bytes"] == 0
    assert first["completed_ms"] == 1792176459119
    assert (second["stage"], second["tasks"]) == (1, 2)
    assert second["executor_run_ms"] == 61 + 61
    assert second["shuffle_read_bytes"] == 126 + 143  # local blocks
    assert second["shuffle_write_bytes"] == 0
    assert first["spill_bytes"] == second["spill_bytes"] == 0


def test_spill_and_stage_attempts(tmp_path):
    path = tmp_path / "log.json"
    shutil.copy(TINY, path)
    events = [
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Stage Attempt ID": 1,
         "Task Metrics": {"Executor Run Time": 40, "JVM GC Time": 5,
                          "Memory Bytes Spilled": 1000, "Disk Bytes Spilled": 300,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 7,
                                                   "Local Bytes Read": 3}}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 1,
                        "Stage Name": "retry", "Submission Time": 1792176459300,
                        "Completion Time": 1792176459400}},
        # a stage that never completed is left out
        {"Event": "SparkListenerTaskEnd", "Stage ID": 9, "Stage Attempt ID": 0,
         "Task Metrics": {"Executor Run Time": 99}},
    ]
    with open(path, "a") as f:
        f.writelines(json.dumps(e) + "\n" for e in events)
    got = eventlog.stages(str(path))
    assert [(s["stage"], s["attempt"]) for s in got] == [(0, 0), (1, 0), (1, 1)]
    retry = got[-1]
    assert retry["spill_bytes"] == 1300
    assert retry["shuffle_read_bytes"] == 10
    assert (retry["executor_run_ms"], retry["gc_ms"], retry["tasks"]) == (40, 5, 1)


def test_totals_in_a_time_window():
    st = eventlog.stages(TINY)
    everything = eventlog.totals(st)
    assert everything["stages"] == 2 and everything["tasks"] == 4
    assert everything["executor_run_ms"] == 540
    assert everything["gc_ms"] == 26
    assert everything["shuffle_read_bytes"] == everything["shuffle_write_bytes"] == 269
    # only the second stage completes after the first one's completion
    late = eventlog.totals(st, since_ms=1792176459120)
    assert late["stages"] == 1 and late["executor_run_ms"] == 122
    early = eventlog.totals(st, until_ms=1792176459119)
    assert early["stages"] == 1 and early["executor_run_ms"] == 418
    assert eventlog.totals(st, since_ms=1792176459236)["stages"] == 0


def test_logs_in_skips_unfinished(tmp_path):
    (tmp_path / "app-1").write_text("")
    (tmp_path / "app-2.inprogress").write_text("")
    assert eventlog.logs_in(str(tmp_path)) == [str(tmp_path / "app-1")]
    assert eventlog.logs_in(str(tmp_path / "missing")) == []
