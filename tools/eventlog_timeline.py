#!/usr/bin/env python3
"""Print the jobs, stages and tasks of each SQL execution in a Spark event log.

Usage:
    python3 tools/eventlog_timeline.py <event log file or directory>

A directory is searched for the newest `events_*` / `eventlog*` file, which
is what `spark.eventLog.dir` holds after a run with
`spark.eventLog.enabled=true` and `spark.eventLog.compress=false`.

One block per SQL execution, in start order, with the jobs it ran; jobs
that ran outside any SQL execution (RDD actions, file listing) get their
own line at their place in time. A write execution also shows the
number of files it wrote. Times are seconds since the first job or
execution; `gap` is the time between the end of the previous job
and the submission of this one; `task_max` is the longest task of a
stage. The last line totals jobs, stages, tasks, time inside jobs and
time between jobs.
"""
import json
import os
import sys

SQL = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecution"
ADAPTIVE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


def newest_log(path):
    if os.path.isfile(path):
        return path
    found = []
    for root, _, files in os.walk(path):
        found += [os.path.join(root, f) for f in files
                  if f.startswith(("events_", "eventlog", "app-", "local-"))
                  and not f.endswith(".crc")]
    if not found:
        sys.exit(f"no event log under {path}")
    return max(found, key=os.path.getmtime)


def written_files_ids(plan, found):
    """Accumulator ids of the plan's `number of written files` metrics."""
    for m in plan.get("metrics", []):
        if m["name"] == "number of written files":
            found.add(m["accumulatorId"])
    for c in plan.get("children", []):
        written_files_ids(c, found)
    return found


def load(path):
    execs, jobs, stages = {}, {}, {}
    files_acc = {}  # accumulator id -> execution id
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == SQL + "Start":  # also registers its metrics below
                desc = (e.get("description") or "").splitlines()
                execs[e["executionId"]] = {"start": e["time"], "end": None,
                                           "desc": desc[0] if desc else "",
                                           "files": 0}
            if kind in (SQL + "Start", ADAPTIVE_UPDATE):
                # AQE re-plans carry new accumulators for the same execution
                for a in written_files_ids(e["sparkPlanInfo"], set()):
                    files_acc[a] = e["executionId"]
            elif kind == DRIVER_ACCUMS:
                for a, v in e["accumUpdates"]:
                    if a in files_acc and files_acc[a] in execs:
                        execs[files_acc[a]]["files"] += v
            elif kind == SQL + "End" and e["executionId"] in execs:
                execs[e["executionId"]]["end"] = e["time"]
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                ex = props.get("spark.sql.execution.id")
                jobs[e["Job ID"]] = {
                    "submit": e["Submission Time"], "end": None, "result": "",
                    "exec": int(ex) if ex is not None else None,
                    "desc": props.get("spark.job.description", ""),
                    "stages": e.get("Stage IDs", [])}
            elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
                jobs[e["Job ID"]]["result"] = e["Job Result"]["Result"]
            elif kind == "SparkListenerStageCompleted":
                s = e["Stage Info"]
                st = stages.setdefault(s["Stage ID"], {"tasks": 0, "task_max": 0})
                st.update(name=s["Stage Name"], n=s["Number of Tasks"],
                          submit=s.get("Submission Time"),
                          end=s.get("Completion Time"),
                          skipped=s.get("Submission Time") is None)
            elif kind == "SparkListenerTaskEnd":
                t = e["Task Info"]
                st = stages.setdefault(e["Stage ID"], {"tasks": 0, "task_max": 0})
                st["tasks"] += 1
                st["task_max"] = max(st["task_max"],
                                     t["Finish Time"] - t["Launch Time"])
    return execs, jobs, stages


def ms(a, b):
    return f"{b - a:6d} ms" if a is not None and b is not None else "     ? ms"


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    execs, jobs, stages = load(newest_log(sys.argv[1]))
    starts = [x["start"] for x in execs.values()] + [j["submit"] for j in jobs.values()]
    if not starts:
        sys.exit("no jobs or SQL executions in the event log")
    t0 = min(starts)

    def at(t):
        return f"+{(t - t0) / 1000:8.3f}s"

    # executions and job-less entries in time order
    items = [(x["start"], "exec", i) for i, x in execs.items()]
    items += [(j["submit"], "job", i) for i, j in jobs.items()
              if j["exec"] not in execs]
    last_end = None
    totals = {"jobs": 0, "stages": 0, "tasks": 0, "in_jobs": 0, "gap": 0}

    def job_lines(jid, indent):
        nonlocal last_end
        j = jobs[jid]
        gap = j["submit"] - last_end if last_end is not None else 0
        run = [stages[s] for s in j["stages"]
               if s in stages and not stages[s].get("skipped")]
        ntasks = sum(s["tasks"] for s in run)
        desc = f"  {j['desc'][:60]}" if j["desc"] else ""
        print(f"{indent}job {jid:<4} {at(j['submit'])} {ms(j['submit'], j['end'])}"
              f"  gap {max(gap, 0):5d} ms  stages {len(run)}  tasks {ntasks}"
              f"  {j['result']}{desc}")
        for sid in j["stages"]:
            s = stages.get(sid)
            if s is None or s.get("skipped"):
                continue
            print(f"{indent}  stage {sid:<4} {ms(s['submit'], s['end'])}"
                  f"  tasks {s['tasks']}/{s['n']}  task_max {s['task_max']} ms"
                  f"  {s['name'][:70]}")
        totals["jobs"] += 1
        totals["stages"] += len(run)
        totals["tasks"] += ntasks
        totals["gap"] += max(gap, 0)
        if j["end"] is not None:
            totals["in_jobs"] += j["end"] - j["submit"]
            last_end = j["end"] if last_end is None else max(last_end, j["end"])

    for _, kind, i in sorted(items):
        if kind == "job":
            job_lines(i, "")
            continue
        x = execs[i]
        ids = sorted(j for j, v in jobs.items() if v["exec"] == i)
        files = f"  written files {x['files']}" if x["files"] else ""
        print(f"sql {i:<4} {at(x['start'])} {ms(x['start'], x['end'])}"
              f"  jobs {len(ids)}{files}  {x['desc'][:80]}")
        for jid in ids:
            job_lines(jid, "  ")
    print(f"total: {len(execs)} executions, {totals['jobs']} jobs, "
          f"{totals['stages']} stages, {totals['tasks']} tasks, "
          f"{totals['in_jobs'] / 1000:.3f} s inside jobs, "
          f"{totals['gap'] / 1000:.3f} s between jobs")


if __name__ == "__main__":
    main()
