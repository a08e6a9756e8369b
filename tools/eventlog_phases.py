#!/usr/bin/env python3
"""Split a Spark event log into per-SQL-execution phases.

Usage:
    python3 tools/eventlog_phases.py <event-log-file> [--property KEY]

The input is one uncompressed Spark event log, written with
`spark.eventLog.enabled=true` and `spark.eventLog.compress=false`
(one JSON event per line). Standard library only.

For each SQL execution, in start order, it prints:
  - the execution id, its plan root (and the root's first child) and
    the start time relative to the first event of the log;
  - `plan`: from the execution's start to its first job's submission
    (analysis, optimization, physical planning);
  - each job: submission-to-completion wall, its stages and tasks,
    and the gap since the previous job ended;
  - `tail`: from the last job's completion to the execution's end
    (for a write, the commit).
Jobs that belong to no SQL execution (RDD actions such as
`queryExecution.toRdd.aggregate` outside any query) are listed after
the executions. Inside a streaming `foreachBatch` sink, such a job
carries the micro-batch's execution id and is listed under it.
Then, per completed stage: its tasks, the summed task wall time
(launch to finish), executor run time and executor CPU time.

With `--property KEY`, each job line carries its value of the job
local property KEY (e.g. a tracing span id), and the jobs are also
grouped by that value, one line per value:
jobs, stages run, tasks, summed job wall and the first-submit to
last-complete wall.
"""
import argparse
import json
import sys
from collections import defaultdict

SQL_START = "SparkListenerSQLExecutionStart"
SQL_END = "SparkListenerSQLExecutionEnd"


def event_name(ev):
    """The event's class name without its package."""
    return ev.get("Event", "").rsplit(".", 1)[-1]


def plan_root(info):
    """`Root > FirstChild` of a sparkPlanInfo tree."""
    if not info:
        return "?"
    root = info.get("nodeName", "?")
    kids = info.get("children") or []
    return f"{root} > {kids[0].get('nodeName', '?')}" if kids else root


def read(path):
    execs, jobs, tasks, stages = {}, {}, defaultdict(list), {}
    first = None
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            ev = json.loads(line)
            name = event_name(ev)
            t = ev.get("time") or ev.get("Submission Time") or ev.get(
                "Completion Time") or ev.get("Timestamp")
            if first is None and isinstance(t, int):
                first = t
            if name == SQL_START:
                execs[ev["executionId"]] = {
                    "start": ev["time"], "end": None,
                    "root": plan_root(ev.get("sparkPlanInfo")),
                    "desc": (ev.get("description") or "").splitlines()[0:1]}
            elif name == SQL_END:
                if ev["executionId"] in execs:
                    execs[ev["executionId"]]["end"] = ev["time"]
            elif name == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                eid = props.get("spark.sql.execution.id")
                jobs[ev["Job ID"]] = {
                    "submit": ev["Submission Time"], "end": None,
                    "exec": int(eid) if eid is not None else None,
                    "stages": ev.get("Stage IDs", []), "props": props}
            elif name == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif name == "SparkListenerTaskEnd":
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                tasks[ev["Stage ID"]].append((
                    info.get("Finish Time", 0) - info.get("Launch Time", 0),
                    m.get("Executor Run Time", 0),
                    m.get("Executor CPU Time", 0) / 1e6))
            elif name == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = si.get("Stage Name", "")
    return first or 0, execs, jobs, tasks, stages


def job_line(jid, job, tasks, prev_end, prop):
    ran = [s for s in job["stages"] if s in tasks]
    n_tasks = sum(len(tasks[s]) for s in ran)
    wall = (job["end"] or job["submit"]) - job["submit"]
    gap = "" if prev_end is None else f" gap {job['submit'] - prev_end} ms"
    tag = f" [{prop}={job['props'][prop]}]" if prop in job["props"] else ""
    return (f"    job {jid}: {wall} ms, {len(ran)} stage(s), "
            f"{n_tasks} task(s){gap}{tag}")


def report(path, prop):
    t0, execs, jobs, tasks, stages = read(path)
    by_exec = defaultdict(list)
    loose = []
    for jid in sorted(jobs):
        eid = jobs[jid]["exec"]
        (by_exec[eid] if eid in execs else loose).append(jid)
    out = []
    for eid in sorted(execs, key=lambda e: execs[e]["start"]):
        ex = execs[eid]
        ids = by_exec.get(eid, [])
        desc = ex["desc"][0][:60] if ex["desc"] else ""
        out.append(f"exec {eid} +{ex['start'] - t0} ms  {ex['root']}"
                   + (f"  [{desc}]" if desc else ""))
        if ids:
            out.append(f"  plan {jobs[ids[0]]['submit'] - ex['start']} ms")
        prev = None
        for jid in ids:
            out.append(job_line(jid, jobs[jid], tasks, prev, prop))
            prev = jobs[jid]["end"]
        if ex["end"] is not None:
            last = prev if prev is not None else ex["start"]
            label = "tail" if ids else "no job, total"
            out.append(f"  {label} {ex['end'] - last} ms")
    if loose:
        out.append("jobs outside SQL executions:")
        prev = None
        for jid in loose:
            out.append(job_line(jid, jobs[jid], tasks, prev, prop)
                       + f"  (+{jobs[jid]['submit'] - t0} ms)")
            prev = jobs[jid]["end"]
    out.append("stages: id tasks task_wall_ms run_ms cpu_ms name")
    for sid in sorted(tasks):
        ts = tasks[sid]
        out.append(f"  {sid} {len(ts)} {sum(t[0] for t in ts)} "
                   f"{sum(t[1] for t in ts)} {sum(t[2] for t in ts):.0f} "
                   f"{stages.get(sid, '')[:50]}")
    if prop:
        groups = defaultdict(list)
        for jid, job in jobs.items():
            if prop in job["props"]:
                groups[job["props"][prop]].append(job)
        out.append(f"by {prop}: value jobs stages tasks job_wall_ms span_ms")
        for val in sorted(groups, key=lambda v: min(
                j["submit"] for j in groups[v])):
            js = groups[val]
            ran = [s for j in js for s in j["stages"] if s in tasks]
            ends = [j["end"] or j["submit"] for j in js]
            out.append(
                f"  {val} {len(js)} {len(ran)} "
                f"{sum(len(tasks[s]) for s in ran)} "
                f"{sum(e - j['submit'] for e, j in zip(ends, js))} "
                f"{max(ends) - min(j['submit'] for j in js)}")
    return "\n".join(out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log")
    ap.add_argument("--property", help="group jobs by this job property")
    args = ap.parse_args()
    try:
        print(report(args.log, args.property))
    except (OSError, ValueError) as e:
        print(f"eventlog_phases: {e}", file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
