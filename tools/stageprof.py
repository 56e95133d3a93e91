#!/usr/bin/env python3
"""Per-stage profile of each SQL execution in a Spark event log.

    python3 tools/stageprof.py <event log file | event log dir> [--min-ms N]
                               [--timeline | --summary]

The log must be uncompressed JSON lines (spark.eventLog.compress=false);
a rolling log (an `eventlog_v2_<app>` dir) is read part by part, and given
a directory of logs, the newest one is read. For every SQL execution
(in start order) it prints the execution's wall time and description, then
one line per stage that ran for it (skipped stages are not listed):

    stage  tasks  wall_ms  task_ms_sum  task_ms_max  shuf_w_mb  shuf_r_mb  ops

wall_ms is stage submission to completion; task_ms is each task's launch to
finish; shuf_w_mb / shuf_r_mb are the bytes its tasks wrote to / read from
the shuffle; ops are the stage's plan operators (from its RDD scopes).
Stages map to executions through their jobs' `spark.sql.execution.id`
property. Executions whose wall time is below --min-ms are left out.

With --timeline it prints, per execution, one line per job instead:

    job  start_ms  end_ms  wall_ms  stages  tasks  shuf_w_mb

start_ms / end_ms are offsets from the execution's start; stages and tasks
count what ran (skipped stages are left out). A last line splits the
driver's time outside jobs: before the first job (analysis, planning,
codegen), between jobs (time no job ran, such as AQE re-planning after a
query stage) and after the last one (result handling).

With --summary it groups the executions by call site (their description)
and prints, per site, its first execution as `cold` and the medians of the
others as `warm`:

    run  n  wall_ms  jobs  stages  tasks  shuf_w_mb  driver_ms

n counts the executions; driver_ms is the driver's time outside jobs
(before, between and after them, as in --timeline). --min-ms does not
apply: every execution counts.
"""
import argparse
import json
import os
import statistics
import sys
from collections import defaultdict

MB = 1024.0 * 1024.0


def log_files(path):
    """The files of one application's log, in order: `path` itself, the
    `events_<n>_*` parts of a rolling log dir (`eventlog_v2_<app>`), or,
    for a dir of logs, those of the newest one."""
    if not os.path.isdir(path):
        return [path]
    name = os.path.basename(os.path.normpath(path))
    if name.startswith("eventlog_v2_"):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        return [os.path.join(path, f) for f in
                sorted(parts, key=lambda f: int(f.split("_")[1]))]
    logs = [os.path.join(path, f) for f in os.listdir(path)
            if not f.startswith(".")]
    if not logs:
        sys.exit(f"stageprof: no event log in {path}")
    return log_files(max(logs, key=os.path.getmtime))


def events(files):
    for path in files:
        with open(path, encoding="utf-8") as f:
            yield from f


def read(files):
    execs = {}                      # execution id -> {start, end, desc}
    stage_exec = {}                 # stage id -> execution id
    stages = {}                     # stage id -> completed stage info
    tasks = defaultdict(lambda: {"n": 0, "sum": 0, "max": 0, "w": 0, "r": 0})
    jobs = {}                       # job id -> {exec, start, end, stages}
    for line in events(files):
        try:
            e = json.loads(line)
        except ValueError:
            sys.exit("stageprof: not an uncompressed JSON event log "
                     "(set spark.eventLog.compress=false)")
        kind = e.get("Event", "")
        if kind.endswith("SQLExecutionStart"):
            execs[e["executionId"]] = {
                "start": e["time"], "end": None,
                "desc": e.get("description", "")}
        elif kind.endswith("SQLExecutionEnd"):
            if e["executionId"] in execs:
                execs[e["executionId"]]["end"] = e["time"]
        elif kind == "SparkListenerJobStart":
            eid = (e.get("Properties") or {}).get("spark.sql.execution.id")
            if eid is not None:
                for sid in e.get("Stage IDs", []):
                    stage_exec[sid] = int(eid)
                jobs[e["Job ID"]] = {
                    "exec": int(eid), "start": e.get("Submission Time"),
                    "end": None, "stages": e.get("Stage IDs", [])}
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e.get("Completion Time")
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stages[info["Stage ID"]] = info
        elif kind == "SparkListenerTaskEnd":
            ti = e.get("Task Info", {})
            tm = e.get("Task Metrics") or {}
            t = tasks[e["Stage ID"]]
            ms = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
            t["n"] += 1
            t["sum"] += ms
            t["max"] = max(t["max"], ms)
            t["w"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            t["r"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0)
    return execs, stage_exec, stages, tasks, jobs


def operators(info):
    """The stage's plan operators, scan first, from its RDDs' scopes (AQE
    stage names are all the same call site)."""
    names = []
    for r in sorted(info.get("RDD Info", []), key=lambda r: r["RDD ID"]):
        try:
            n = json.loads(r.get("Scope") or "{}").get("name", "").strip()
        except ValueError:
            n = ""
        if n and n not in names:
            names.append(n)
    return " > ".join(names)


def print_stages(rows, tasks):
    print(f"  {'stage':>5} {'tasks':>6} {'wall_ms':>8} {'task_ms_sum':>11} "
          f"{'task_ms_max':>11} {'shuf_w_mb':>9} {'shuf_r_mb':>9}  ops")
    for s in rows:
        t = tasks[s["Stage ID"]]
        sw = (s.get("Completion Time") or 0) - (s.get("Submission Time") or 0)
        name = operators(s) or s.get("Stage Name", "")
        print(f"  {s['Stage ID']:>5} {t['n']:>6} {sw:>8} {t['sum']:>11} "
              f"{t['max']:>11} {t['w'] / MB:>9.2f} {t['r'] / MB:>9.2f}  "
              f"{name}")


def job_rows(x, jobs, ran, tasks):
    """Execution `x`'s jobs in start order, as (job id, start, end, stages,
    tasks, shuffle-write bytes), and the driver's ms before, between and
    after them. `ran` maps a job to the stages that ran for it."""
    rows = []
    before = between = 0
    reached = None                  # latest end of the jobs so far
    for jid, j in sorted(jobs, key=lambda kv: (kv[1]["start"], kv[0])):
        end = j["end"] if j["end"] is not None else j["start"]
        if reached is None:
            before = j["start"] - x["start"]
        else:
            between += max(0, j["start"] - reached)
        reached = end if reached is None else max(reached, end)
        mine = ran.get(jid, [])
        rows.append((jid, j["start"], end, len(mine),
                     sum(tasks[sid]["n"] for sid in mine),
                     sum(tasks[sid]["w"] for sid in mine)))
    end = x["end"] if x["end"] is not None else float("nan")
    after = end - (x["start"] if reached is None else reached)
    return rows, (before, between, after)


def print_timeline(x, jobs, ran, tasks):
    """One line per job of execution `x`, offsets from its start, then the
    driver's time before, between and after its jobs."""
    t0 = x["start"]
    print(f"  {'job':>5} {'start_ms':>8} {'end_ms':>8} {'wall_ms':>8} "
          f"{'stages':>6} {'tasks':>6} {'shuf_w_mb':>9}")
    rows, (before, between, after) = job_rows(x, jobs, ran, tasks)
    for jid, start, end, nstages, ntasks, w in rows:
        print(f"  {jid:>5} {start - t0:>8} {end - t0:>8} {end - start:>8} "
              f"{nstages:>6} {ntasks:>6} {w / MB:>9.2f}")
    print(f"  driver_ms  before_first_job {before}  between_jobs {between}  "
          f"after_last_job {after:.0f}")


SUMMARY = ("wall_ms", "jobs", "stages", "tasks", "shuf_w_mb", "driver_ms")


def print_summary(execs, jobs_by_exec, ran, tasks):
    """Per call site (execution description), in order of first start: the
    first execution as cold, the medians of the rest as warm."""
    sites = defaultdict(list)
    for eid in sorted(execs, key=lambda k: execs[k]["start"]):
        x = execs[eid]
        if x["end"] is None:
            continue
        rows, split = job_rows(x, jobs_by_exec.get(eid, []), ran, tasks)
        sites[" ".join(x["desc"].split())[:100]].append((
            x["end"] - x["start"], len(rows), sum(r[3] for r in rows),
            sum(r[4] for r in rows), sum(r[5] for r in rows) / MB,
            sum(split)))
    for desc, runs in sites.items():
        print(f"\nsite  {desc}")
        print(f"  {'run':<5} {'n':>4} " +
              " ".join(f"{c:>9}" for c in SUMMARY))
        cold, warm = runs[0], runs[1:]
        print(f"  {'cold':<5} {1:>4} " + " ".join(
            f"{v:>9.2f}" if c == "shuf_w_mb" else f"{v:>9.0f}"
            for c, v in zip(SUMMARY, cold)))
        if warm:
            meds = [statistics.median(col) for col in zip(*warm)]
            print(f"  {'warm':<5} {len(warm):>4} " + " ".join(
                f"{v:>9.2f}" if c == "shuf_w_mb" else f"{v:>9.1f}"
                for c, v in zip(SUMMARY, meds)))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("log")
    ap.add_argument("--min-ms", type=float, default=0.0)
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--timeline", action="store_true",
                      help="per execution, its jobs over time instead of "
                           "its stages")
    mode.add_argument("--summary", action="store_true",
                      help="per call site, the cold execution and the "
                           "warm medians")
    a = ap.parse_args()
    files = log_files(a.log)
    execs, stage_exec, stages, tasks, jobs = read(files)
    by_exec = defaultdict(list)
    for sid, info in stages.items():
        if sid in stage_exec:
            by_exec[stage_exec[sid]].append(info)
    # a stage runs for the first job that lists it; later jobs skip it
    jobs_by_exec, ran, owned = defaultdict(list), defaultdict(list), set()
    for jid, j in sorted(jobs.items()):
        if j["start"] is not None:
            jobs_by_exec[j["exec"]].append((jid, j))
        for sid in j["stages"]:
            if sid in stages and sid not in owned:
                owned.add(sid)
                ran[jid].append(sid)
    print(f"# {', '.join(files)}")
    if a.summary:
        print_summary(execs, jobs_by_exec, ran, tasks)
        return
    for eid in sorted(execs, key=lambda k: execs[k]["start"]):
        x = execs[eid]
        wall = (x["end"] - x["start"]) if x["end"] is not None else float("nan")
        if wall < a.min_ms:
            continue
        desc = " ".join(x["desc"].split())[:100]
        print(f"\nexecution {eid}  wall_ms {wall:.0f}  {desc}")
        if a.timeline:
            if not jobs_by_exec.get(eid):
                print("  (no jobs ran)")
                continue
            print_timeline(x, jobs_by_exec[eid], ran, tasks)
            continue
        rows = sorted(by_exec.get(eid, []), key=lambda s: s["Stage ID"])
        if not rows:
            print("  (no stages ran)")
            continue
        print_stages(rows, tasks)


if __name__ == "__main__":
    main()
