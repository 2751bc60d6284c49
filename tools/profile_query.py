"""Per-job/stage profile of ONE registry query (guide §1 tooling).

Runs the query exactly like tools/isolated_query.py (same session
factory, warmup, reset, best-of-2) but with the Spark event log on,
then parses the event log into per-job wall times and per-stage
executor/shuffle metrics so optimization targets the measured stage,
not a guess. The UI is disabled in this sandbox; the event log is the
equivalent ground truth.

Usage: python tools/profile_query.py <query_name> [sf_dir]
Output: human-readable table on stdout (one JSON line at the end).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


# the SQL metric Spark's Python runners (pandas/Arrow UDFs, mapInPandas)
# update per task with the time spent running Python workers, in ms
_PY_RUN_METRIC = "time to run Python workers"


def _parse_event_log(log_dir: str) -> list[dict]:
    """Job records (id, submit/complete ms, stage metrics) from every
    event-log file under ``log_dir``."""
    events = []
    paths = []
    for root, _dirs, files in os.walk(log_dir):
        paths.extend(
            os.path.join(root, f) for f in files
            if not f.startswith("appstatus_")
        )
    for path in sorted(paths):
        with open(path, errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                if isinstance(ev, dict):
                    events.append(ev)
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {
                "job": jid,
                "t0": ev.get("Submission Time", 0),
                "desc": (ev.get("Properties") or {}).get(
                    "spark.job.description", ""
                ),
                "stages": [
                    s["Stage ID"] for s in ev.get("Stage Infos", [])
                ],
            }
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in jobs:
                jobs[jid]["t1"] = ev.get("Completion Time", 0)
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sid = si["Stage ID"]
            stages.setdefault(sid, {"stage": sid}).update({
                "name": si.get("Stage Name", ""),
                "tasks": si.get("Number of Tasks", 0),
                "t0": si.get("Submission Time", 0),
                "t1": si.get("Completion Time", 0),
            })
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            st = stages.setdefault(sid, {"stage": sid})
            tm = ev.get("Task Metrics") or {}
            st["run_ms"] = st.get("run_ms", 0) + tm.get(
                "Executor Run Time", 0
            )
            st["cpu_ms"] = st.get("cpu_ms", 0) + (
                tm.get("Executor CPU Time", 0) // 1_000_000
            )
            srm = tm.get("Shuffle Read Metrics") or {}
            st["sh_read"] = (
                st.get("sh_read", 0)
                + srm.get("Local Bytes Read", 0)
                + srm.get("Remote Bytes Read", 0)
            )
            swm = tm.get("Shuffle Write Metrics") or {}
            st["sh_write"] = st.get("sh_write", 0) + swm.get(
                "Shuffle Bytes Written", 0
            )
            # Python UDF time is no task metric: it is the per-task
            # update of the "time to run Python workers" SQL metric (ms)
            st["py_ms"] = st.get("py_ms", 0) + sum(
                int(a.get("Update", 0))
                for a in (ev.get("Task Info") or {}).get("Accumulables", [])
                if a.get("Name") == _PY_RUN_METRIC
            )
    out = []
    for jid, j in sorted(jobs.items()):
        dur = (j.get("t1", j["t0"]) - j["t0"]) / 1000.0
        jst = []
        for sid in j.get("stages", []):
            s = stages.get(sid)
            if s and s.get("t0"):
                jst.append(s)
        out.append({**j, "dur_s": round(dur, 2), "stage_recs": jst})
    return out


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    log_dir = tempfile.mkdtemp(prefix="quebic_profile_events_")
    from quebic_spark.operators import QUERIES
    from quebic_spark.session import get_spark

    from bench import reset_session, session_warmup

    spark = get_spark(
        app_name=f"profile_{name}",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        },
    )
    try:
        session_warmup(spark, sf_dir)
        fn = QUERIES[name]
        # sample 1 (cold) primes; sample 2 is the bench-comparable one
        runs = []
        marks = []
        for i in range(2):
            spark.sparkContext.setJobDescription(f"{name} sample{i}")
            t0 = time.time()
            fn(spark, sf_dir).collect()
            runs.append(round(time.time() - t0, 2))
            marks.append(time.time() * 1000)
            reset_session(spark)
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.stop()
    jobs = _parse_event_log(log_dir)
    if os.environ.get("QUEBIC_PROFILE_KEEP"):
        print(f"event log kept at {log_dir}", file=sys.stderr)
    else:
        shutil.rmtree(log_dir, ignore_errors=True)
    print(f"parsed {len(jobs)} jobs total", file=sys.stderr)
    # attribute jobs to samples by wall-clock mark
    for j in jobs:
        j["sample"] = next(
            (i for i, m in enumerate(marks) if j["t0"] <= m), len(marks)
        )
    print(f"query={name} samples={runs}")
    for j in jobs:
        if j.get("sample") != 1 or not j.get("desc", "").startswith(name):
            continue
        print(f"  job {j['job']:>3}  {j['dur_s']:6.2f}s  {j['desc'][:60]}")
        for s in sorted(
            j["stage_recs"], key=lambda s: s.get("run_ms", 0),
            reverse=True,
        )[:6]:
            wall = (s.get("t1", 0) - s.get("t0", 0)) / 1000.0
            print(
                f"      stage {s['stage']:>4} wall={wall:5.2f}s "
                f"tasks={s.get('tasks', 0):>3} "
                f"run={s.get('run_ms', 0) / 1000:6.2f}s "
                f"cpu={s.get('cpu_ms', 0) / 1000:6.2f}s "
                f"shR={s.get('sh_read', 0) >> 10}K "
                f"shW={s.get('sh_write', 0) >> 10}K "
                f"py={s.get('py_ms', 0) / 1000:6.2f}s  "
                f"{s.get('name', '')[:90]}"
            )
    sample1 = [j for j in jobs if j.get("sample") == 1]
    print(json.dumps({
        "query": name,
        "samples": runs,
        "n_jobs_sample1": len(sample1),
        "job_wall_sum_s": round(sum(j["dur_s"] for j in sample1), 2),
    }))


if __name__ == "__main__":
    main()
