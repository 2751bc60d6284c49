"""tools/profile_query.py's event-log parser: per-stage sums over the
task-end records Spark writes."""

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from profile_query import _parse_event_log  # noqa: E402


def _task_end(stage, run_ms, py_ms):
    accs = [{"ID": 7, "Name": "data sent to Python workers",
             "Update": "4208", "Value": "4208"}]
    if py_ms is not None:
        accs.append({"ID": 9, "Name": "time to run Python workers",
                     "Update": str(py_ms), "Value": "99999"})
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": accs},
        "Task Metrics": {"Executor Run Time": run_ms,
                         "Executor CPU Time": run_ms * 1_000_000},
    }


def test_python_time_is_summed_per_task(tmp_path):
    """py_ms sums each task's update of the "time to run Python
    workers" SQL metric (not its running total); a stage with no
    Python runner reads 0."""
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage Infos": [{"Stage ID": 0},
                                                  {"Stage ID": 1}]},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Stage Name": "mapInPandas",
                        "Number of Tasks": 2, "Submission Time": 1000,
                        "Completion Time": 1500}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Stage Name": "scan",
                        "Number of Tasks": 1, "Submission Time": 1500,
                        "Completion Time": 1600}},
        _task_end(0, 2129, 1845),
        _task_end(0, 2268, 2008),
        _task_end(1, 50, None),
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 1600},
    ]
    with open(tmp_path / "events_1_local-1", "w") as fh:
        fh.write("\n".join(json.dumps(e) for e in events) + "\n")
    (job,) = _parse_event_log(str(tmp_path))
    stages = {s["stage"]: s for s in job["stage_recs"]}
    assert stages[0]["py_ms"] == 1845 + 2008
    assert stages[0]["run_ms"] == 2129 + 2268
    assert stages[1]["py_ms"] == 0
