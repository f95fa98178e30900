#!/usr/bin/env python3
"""Jobs, stages and tasks per SQL execution of one Spark job group, read
from an uncompressed Spark event log.

Usage: jobs_by_step.py <eventlog> [--group pipeline-b2]

<eventlog> is an event log file or a directory that holds one (Spark 4
writes `eventlog_v2_<app>/events_<n>_<app>`; the `events_*` files of the
newest application under the directory are read, in order). The default group is perfbench's second
timed curation batch. For each SQL execution whose jobs run in the group
it prints the jobs, stages and tasks it ran, the first `graft.` frame of
its call site, and how many `BroadcastExchange` and
`RoundRobinPartitioning` nodes its final physical plan holds. Jobs of the
group outside any SQL execution (schema inference, RDD actions) are
listed under their own call site. The last lines split the batch's wall
time, from its first job or execution start to its last end, into time
with a job running, time inside a SQL execution with no job running, and
driver-only time outside both.

Getting the log from perfbench without changing it (JVM properties reach
the SparkConf through JAVA_TOOL_OPTIONS):

  mkdir -p /tmp/ev && JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \
    -Dspark.eventLog.compress=false -Dspark.eventLog.dir=file:/tmp/ev" \
    python3 perfbench/run.py --workload curation --seed 1 --seconds 12 --trace 0
  python3 tools/jobs_by_step.py /tmp/ev
"""
import argparse
import glob
import json
import os
import re
import sys

SQL = "org.apache.spark.sql.execution.ui."


def log_files(path):
    if os.path.isfile(path):
        return [path]
    files = glob.glob(os.path.join(path, "**", "events_*"), recursive=True)
    if not files:
        sys.exit(f"no events_* file under {path}")
    app = max({os.path.dirname(f) for f in files}, key=os.path.getmtime)
    return sorted((f for f in files if os.path.dirname(f) == app),
                  key=lambda f: int(os.path.basename(f).split("_")[1]))


def first_graft_frame(details):
    for line in (details or "").splitlines():
        if line.startswith("graft."):
            return line.strip()
    return "(no graft. frame)"


def node_count(plan, name, argument=None):
    """Nodes called `name` (whose arguments hold `argument`, if given) in
    the details section of a formatted plan, where each node, including
    those of cached plans it reads, is described once as "(<id>) <name>"."""
    n = 0
    for block in (plan or "").split("\n\n"):
        head = re.match(r"\((\d+)\) (\S+)", block)
        if head and head.group(2) == name and (argument is None or argument in block):
            n += 1
    return n


def union_ms(spans):
    total, end = 0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("eventlog")
    ap.add_argument("--group", default="pipeline-b2")
    args = ap.parse_args()

    jobs = {}        # job id -> dict(start, end, stages, exec, site)
    stage_tasks = {}  # stage id -> tasks of its completed attempt
    execs = {}       # execution id -> dict(start, end, group, site, plan)
    for fn in log_files(args.eventlog):
        with open(fn) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    infos = e["Stage Infos"]
                    jobs[e["Job ID"]] = {
                        "start": e["Submission Time"], "end": None,
                        "group": props.get("spark.jobGroup.id"),
                        "exec": props.get("spark.sql.execution.id"),
                        "stages": [s["Stage ID"] for s in infos],
                        "site": infos[0]["Stage Name"] if infos else "?"}
                elif ev == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"]
                elif ev == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    stage_tasks[info["Stage ID"]] = info["Number of Tasks"]
                elif ev == SQL + "SparkListenerSQLExecutionStart":
                    execs[e["executionId"]] = {
                        "start": e["time"], "end": None, "group": e.get("jobGroupId"),
                        "site": first_graft_frame(e.get("details")),
                        "plan": e.get("physicalPlanDescription")}
                elif ev == SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                    if e["executionId"] in execs:
                        execs[e["executionId"]]["plan"] = e["physicalPlanDescription"]
                elif ev == SQL + "SparkListenerSQLExecutionEnd":
                    if e["executionId"] in execs:
                        execs[e["executionId"]]["end"] = e["time"]

    gjobs = {j: v for j, v in jobs.items() if v["group"] == args.group}
    if not gjobs:
        sys.exit(f"no job in group {args.group}")
    gexecs = {x: v for x, v in execs.items() if v["group"] == args.group}

    def ran(stage_ids):
        done = [s for s in stage_ids if s in stage_tasks]
        return len(done), sum(stage_tasks[s] for s in done)

    rows = []  # (start, label, jobs, stages, tasks, broadcasts, round-robins)
    for x, v in gexecs.items():
        mine = [j for j in gjobs.values() if j["exec"] is not None and int(j["exec"]) == x]
        stages, tasks = ran([s for j in mine for s in j["stages"]])
        rows.append((v["start"], f"sql {x:>4}  {v['site']}", len(mine), stages, tasks,
                     node_count(v["plan"], "BroadcastExchange"),
                     node_count(v["plan"], "Exchange", "RoundRobinPartitioning")))
    for j, v in gjobs.items():
        if v["exec"] is None or int(v["exec"]) not in gexecs:
            stages, tasks = ran(v["stages"])
            rows.append((v["start"], f"job {j:>4}  {v['site']} (no SQL execution)",
                         1, stages, tasks, 0, 0))
    rows.sort()

    print(f"{'jobs':>4} {'stages':>6} {'tasks':>5} {'bcast':>5} {'rrobin':>6}  step")
    for _, label, nj, ns, nt, nb, nr in rows:
        print(f"{nj:>4} {ns:>6} {nt:>5} {nb:>5} {nr:>6}  {label}")
    tot = [sum(r[i] for r in rows) for i in range(2, 7)]
    print(f"{tot[0]:>4} {tot[1]:>6} {tot[2]:>5} {tot[3]:>5} {tot[4]:>6}  total "
          f"({len(gexecs)} SQL executions, group {args.group})")

    job_spans = [(v["start"], v["end"]) for v in gjobs.values() if v["end"] is not None]
    exec_spans = [(v["start"], v["end"]) for v in gexecs.values() if v["end"] is not None]
    t0 = min(a for a, _ in job_spans + exec_spans)
    t1 = max(b for _, b in job_spans + exec_spans)
    wall = t1 - t0
    in_jobs = union_ms(job_spans)
    in_either = union_ms(job_spans + exec_spans)
    print(f"wall {wall / 1e3:.2f} s = jobs {in_jobs / 1e3:.2f} s + "
          f"SQL execution outside jobs {(in_either - in_jobs) / 1e3:.2f} s + "
          f"driver only {(wall - in_either) / 1e3:.2f} s")


if __name__ == "__main__":
    main()
