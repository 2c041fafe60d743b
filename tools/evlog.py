#!/usr/bin/env python3
"""Summarize a Spark event log: one line per SQL execution, one per run.

Usage: python3 tools/evlog.py <eventlog dir>

<eventlog dir> is what `spark.eventLog.dir` pointed at (one or more
applications), one application's `eventlog_v2_*` directory, or one
events file. Files may be plain JSON lines or zstd-compressed (Spark's
default codec; read through the `zstd` command).

Per SQL execution: id, wall time (execution start to end), Spark jobs,
serial job waves (groups of jobs whose [submit, complete] intervals
overlap: each wave waits for the one before it), tasks, summed task run
time, task CPU time and task deserialize time (ms), and the description
Spark gave it (the action and its call site). Jobs that ran outside any
SQL execution are listed as one `-` row. Per run: the jobs and waves of
all executions, the summed task run time, the time at least one task was
running, and the run's wall time (application start to end), so the
share of the run in which the cores had work is visible.
"""
import collections, json, pathlib, subprocess, sys

SQL = "org.apache.spark.sql.execution.ui."


def event_files(path):
    p = pathlib.Path(path)
    if p.is_file():
        return [[p]]
    apps = [d for d in sorted(p.iterdir()) if d.is_dir() and d.name.startswith("eventlog_v2_")]
    if apps:
        return [sorted(d.glob("events_*")) for d in apps]
    files = sorted(p.glob("events_*"))
    if files:
        return [files]
    # v1 layout: one file per application
    return [[f] for f in sorted(p.iterdir()) if f.is_file() and not f.name.startswith(".")]


def lines(f):
    if f.suffix == ".zstd" or f.suffix == ".zst":
        out = subprocess.run(["zstd", "-dc", str(f)], check=True, capture_output=True).stdout
        return out.decode("utf-8").splitlines()
    return f.read_text().splitlines()


def metric(task_end, name):
    for a in task_end.get("Task Info", {}).get("Accumulables", []):
        if a.get("Name") == name:
            return a.get("Update") or 0
    return 0


def merged(intervals):
    """the union of [start, end] intervals, as disjoint (start, end) pairs"""
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def busy_ms(intervals):
    """length of the union of [start, end) intervals"""
    return sum(e - s for s, e in merged(intervals))


def summarize(files):
    execs = collections.OrderedDict()  # id -> dict
    job_exec, stage_job = {}, {}
    job_span = {}  # job id -> [submission, completion] ms
    app = {"name": "?", "start": None, "end": None}
    tasks = []  # (execution id or None, run ms, cpu ms, deser ms, launch, finish)
    for f in files:
        for line in lines(f):
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerApplicationStart":
                app["name"], app["start"] = e.get("App Name", "?"), e["Timestamp"]
            elif kind == "SparkListenerApplicationEnd":
                app["end"] = e["Timestamp"]
            elif kind == SQL + "SparkListenerSQLExecutionStart":
                execs[e["executionId"]] = {
                    "desc": e.get("description", ""), "start": e["time"], "end": None,
                    "jobs": 0, "tasks": 0, "run": 0, "cpu": 0.0, "deser": 0}
            elif kind == SQL + "SparkListenerSQLExecutionEnd":
                if e["executionId"] in execs:
                    execs[e["executionId"]]["end"] = e["time"]
            elif kind == "SparkListenerJobStart":
                xid = e.get("Properties", {}).get("spark.sql.execution.id")
                xid = int(xid) if xid is not None else None
                job_exec[e["Job ID"]] = xid
                job_span[e["Job ID"]] = [e.get("Submission Time"), None]
                for s in e.get("Stage IDs", []):
                    stage_job[s] = e["Job ID"]
                if xid in execs:
                    execs[xid]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in job_span:
                    job_span[e["Job ID"]][1] = e.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                info = e.get("Task Info", {})
                xid = job_exec.get(stage_job.get(e["Stage ID"]))
                tasks.append((xid, metric(e, "internal.metrics.executorRunTime"),
                              metric(e, "internal.metrics.executorCpuTime") / 1e6,
                              metric(e, "internal.metrics.executorDeserializeTime"),
                              info.get("Launch Time", 0), info.get("Finish Time", 0)))
    other = {"desc": "(jobs outside SQL executions)", "start": None, "end": None,
             "jobs": sum(1 for x in job_exec.values() if x not in execs),
             "tasks": 0, "run": 0, "cpu": 0.0, "deser": 0}
    spans = collections.defaultdict(list)
    for job, xid in job_exec.items():
        s, e = job_span[job]
        if s is not None:
            spans[xid if xid in execs else "-"].append((s, e if e is not None else s))
    for xid, x in list(execs.items()) + [("-", other)]:
        x["waves"] = len(merged(spans[xid]))
    for xid, run, cpu, deser, _, _ in tasks:
        x = execs.get(xid, other)
        x["tasks"] += 1
        x["run"] += run
        x["cpu"] += cpu
        x["deser"] += deser

    print(f"== {app['name']}")
    print(f"{'exec':>5} {'wall_ms':>8} {'jobs':>4} {'waves':>5} {'tasks':>5} {'run_ms':>7} "
          f"{'cpu_ms':>7} {'deser_ms':>8}  description")
    rows = list(execs.items()) + ([("-", other)] if other["jobs"] or other["tasks"] else [])
    for xid, x in rows:
        wall = x["end"] - x["start"] if x["start"] is not None and x["end"] is not None else None
        wall_s = f"{wall:>8}" if wall is not None else f"{'-':>8}"
        desc = x["desc"].replace("\n", " ")
        print(f"{xid:>5} {wall_s} {x['jobs']:>4} {x['waves']:>5} {x['tasks']:>5} {x['run']:>7} "
              f"{x['cpu']:>7.0f} {x['deser']:>8}  {desc}")
    run_ms = sum(t[1] for t in tasks)
    busy = busy_ms([(t[4], t[5]) for t in tasks if t[5] >= t[4] > 0])
    wall = (app["end"] - app["start"]) if app["start"] and app["end"] else None
    wall_txt = f"{wall / 1e3:.2f} s" if wall else "unknown (no application end)"
    share = f" ({busy / wall:.0%} of wall)" if wall else ""
    waves = sum(x["waves"] for _, x in rows)
    print(f"run: {len(execs)} SQL executions, {len(job_exec)} jobs in {waves} waves, "
          f"{len(tasks)} tasks; "
          f"task run time {run_ms / 1e3:.2f} s, tasks running {busy / 1e3:.2f} s{share}, "
          f"wall {wall_txt}")


def main(argv):
    if len(argv) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    apps = [fs for fs in event_files(argv[1]) if fs]
    if not apps:
        print(f"no event log files under {argv[1]}", file=sys.stderr)
        return 2
    for files in apps:
        summarize(files)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
