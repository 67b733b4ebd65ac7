"""Summarize an uncompressed Spark event log: jobs, tasks, wall and task CPU
per SQL execution, then every stage with its operator scopes.

    python3 tools/eventlog_jobs.py EVENT_LOG [--last N] [--no-stages]

To capture a log from any JVM that starts Spark (e.g. a perfbench run)
without editing it:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=DIR \
      -Dspark.eventLog.compress=false -Dspark.eventLog.rolling.enabled=false" ...

--last N keeps the last N SQL executions (e.g. the timed commands after the
warm-up ones) and the stages of their jobs. Times are in seconds; "wall" is
end minus start of the execution or stage, "task cpu" the sum of the tasks'
executor CPU time. A stage's scopes are the operator names of its RDDs
(e.g. "Exchange", "Window", "Project"), in RDD order.
"""

import argparse
import json
from collections import OrderedDict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
NO_SQL = -1


def load(path):
    executions = OrderedDict()  # id -> dict
    jobs = {}  # job id -> dict
    stages = OrderedDict()  # stage id -> dict
    stage_job = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == SQL_START:
                executions[e["executionId"]] = {
                    "description": e.get("description", ""), "start": e["time"], "end": None,
                    "jobs": []}
            elif kind == SQL_END:
                if e["executionId"] in executions:
                    executions[e["executionId"]]["end"] = e["time"]
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                sql = int(props.get("spark.sql.execution.id", NO_SQL))
                jobs[e["Job ID"]] = {"sql": sql, "start": e.get("Submission Time"), "end": None}
                if sql in executions:
                    executions[sql]["jobs"].append(e["Job ID"])
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = e["Job ID"]
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e.get("Completion Time")
            elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
                info = e["Stage Info"]
                s = stages.setdefault(info["Stage ID"], {
                    "tasks": 0, "cpu_ns": 0, "start": None, "end": None, "scopes": []})
                s["start"] = info.get("Submission Time") or s["start"]
                s["end"] = info.get("Completion Time") or s["end"]
                if not s["scopes"]:
                    for rdd in sorted(info.get("RDD Info", []), key=lambda r: r["RDD ID"]):
                        scope = rdd.get("Scope")
                        name = json.loads(scope)["name"] if scope else rdd.get("Name", "?")
                        if not s["scopes"] or s["scopes"][-1] != name:
                            s["scopes"].append(name)
            elif kind == "SparkListenerTaskEnd":
                s = stages.setdefault(e["Stage ID"], {
                    "tasks": 0, "cpu_ns": 0, "start": None, "end": None, "scopes": []})
                s["tasks"] += 1
                s["cpu_ns"] += (e.get("Task Metrics") or {}).get("Executor CPU Time", 0)
    for sid, s in stages.items():
        job = jobs.get(stage_job.get(sid), {})
        s["job"] = stage_job.get(sid)
        s["sql"] = job.get("sql", NO_SQL)
    return executions, jobs, stages


def secs(start, end):
    return (end - start) / 1000.0 if start is not None and end is not None else float("nan")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log")
    ap.add_argument("--last", type=int, default=0, help="keep the last N SQL executions")
    ap.add_argument("--no-stages", action="store_true", help="omit the stage list")
    a = ap.parse_args()

    executions, jobs, stages = load(a.log)
    keep = list(executions)[-a.last:] if a.last else list(executions)
    by_sql = {}
    for s in stages.values():
        by_sql.setdefault(s["sql"], []).append(s)

    print(f"{'sql':>5} {'jobs':>5} {'tasks':>6} {'wall_s':>8} {'task_cpu_s':>10}  description")
    tot = [0, 0, 0.0, 0.0]
    for x in keep:
        ex = executions[x]
        st = by_sql.get(x, [])
        row = [len(ex["jobs"]), sum(s["tasks"] for s in st), secs(ex["start"], ex["end"]),
               sum(s["cpu_ns"] for s in st) / 1e9]
        tot = [t + v for t, v in zip(tot, row)]
        desc = " ".join(ex["description"].split())[:70]
        print(f"{x:>5} {row[0]:>5} {row[1]:>6} {row[2]:>8.3f} {row[3]:>10.3f}  {desc}")
    print(f"{'all':>5} {tot[0]:>5} {tot[1]:>6} {tot[2]:>8.3f} {tot[3]:>10.3f}  "
          f"({len(keep)} SQL executions)")
    outside = [j for j in jobs.values() if j["sql"] not in executions]
    if outside and not a.last:
        print(f"jobs outside SQL executions: {len(outside)}")

    if a.no_stages:
        return
    print()
    print(f"{'stage':>5} {'sql':>5} {'job':>5} {'tasks':>6} {'wall_s':>8} {'task_cpu_s':>10}  scopes")
    kept = set(keep)
    for sid, s in stages.items():
        if a.last and s["sql"] not in kept:
            continue
        print(f"{sid:>5} {s['sql']:>5} {s['job'] if s['job'] is not None else '-':>5} "
              f"{s['tasks']:>6} {secs(s['start'], s['end']):>8.3f} {s['cpu_ns'] / 1e9:>10.3f}  "
              f"{' > '.join(s['scopes'])}")


if __name__ == "__main__":
    main()
