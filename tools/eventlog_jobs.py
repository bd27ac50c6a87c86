#!/usr/bin/env python3
"""Print every job of a Spark event log, one line each.

    python3 tools/eventlog_jobs.py EVENTLOG [--grep REGEX]

EVENTLOG is one application's log: a file, or a rolling log's
`eventlog_v2_<app>` directory (Spark 4's default), plain or
zstd-compressed (a name containing `.zstd` is read through the `zstd`
command). Given the event log directory itself, the most recently
modified application's log is read. Per job the line gives:

- `start`: seconds from the application start to the job's submission;
- `dur`: the job's wall time in seconds;
- `gap`: seconds from the previous job's end to this job's start
  (negative when they overlap);
- `tasks`: tasks per stage in stage-id order, `-` for a skipped stage;
- the SQL execution's description (`sql N: ...`) or, outside SQL, the
  job's call site, then the first `graft.` frame of the call stack
  (the SQL execution's for SQL jobs: AQE submits their stages from a
  pool thread whose stack holds no program frame).

`--grep REGEX` keeps the jobs whose line matches. The footer counts
the jobs shown and sums their durations.

Write a log with, for example:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
        -Dspark.eventLog.dir=file:///tmp/evlog" \\
        python3 perfbench/run.py --workload board --seed 1 --seconds 10 --trace 0
"""
import argparse
import glob
import json
import os
import re
import subprocess
import sys


def log_files(path):
    """The files of one application's log, in write order."""
    if os.path.isdir(path):
        apps = glob.glob(os.path.join(path, "*"))
        if not apps:
            sys.exit(f"eventlog_jobs: no event log in {path}")
        if not os.path.basename(path).startswith("eventlog_v2_"):
            path = max(apps, key=os.path.getmtime)
    if not os.path.isdir(path):
        return [path]
    # a rolling log (eventlog_v2_<app>/events_<n>_<app>[.codec])
    def part(p):
        return int(os.path.basename(p).split("_")[1])
    return sorted(glob.glob(os.path.join(path, "events_*")), key=part)


def read_events(path):
    for name in log_files(path):
        if ".zstd" in os.path.basename(name):
            text = subprocess.run(["zstd", "-dcq", name], check=True,
                                  stdout=subprocess.PIPE).stdout.decode("utf-8")
        else:
            with open(name, encoding="utf-8") as f:
                text = f.read()
        for line in text.splitlines():
            if line.strip():
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    pass  # the torn last line of a log still being written


def graft_frame(details):
    for frame in (details or "").splitlines():
        if frame.strip().startswith("graft."):
            return frame.strip()
    return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("eventlog")
    ap.add_argument("--grep", help="keep jobs whose printed line matches this regex")
    args = ap.parse_args()
    pattern = re.compile(args.grep) if args.grep else None

    app_start = None
    jobs = {}        # job id -> fields
    stage_tasks = {}  # stage id -> tasks run
    sql = {}         # execution id -> (description, first graft. frame)
    for e in read_events(args.eventlog):
        ev = e.get("Event", "")
        if ev == "SparkListenerApplicationStart":
            app_start = e.get("Timestamp")
        elif ev == "SparkListenerJobStart":
            infos = e.get("Stage Infos", [])
            result = max(infos, key=lambda s: s["Stage ID"]) if infos else {}
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "start": e["Submission Time"],
                "stages": sorted(s["Stage ID"] for s in infos),
                "exec": props.get("spark.sql.execution.id"),
                "callsite": props.get("callSite.short") or result.get("Stage Name", ""),
                "frame": graft_frame(result.get("Details")),
            }
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stage_tasks[info["Stage ID"]] = info["Number of Tasks"]
        elif ev.endswith("SparkListenerSQLExecutionStart"):
            sql[str(e["executionId"])] = (e.get("description", ""),
                                          graft_frame(e.get("details")))

    if not jobs:
        sys.exit("eventlog_jobs: no jobs in the log")
    origin = app_start or min(j["start"] for j in jobs.values())
    print(f"{'job':>5} {'start':>9} {'dur':>7} {'gap':>7}  {'tasks':<12} what")
    shown, busy, prev_end = 0, 0.0, None
    for jid in sorted(jobs):
        j = jobs[jid]
        end = j.get("end", j["start"])
        gap = "" if prev_end is None else f"{(j['start'] - prev_end) / 1000:.3f}"
        prev_end = end
        tasks = "/".join(str(stage_tasks.get(s, "-")) for s in j["stages"])
        frame = j["frame"]
        if j["exec"] is not None:
            desc, frame = sql.get(j["exec"], ("", frame))
            what = f"sql {j['exec']}: {desc}"
        else:
            what = j["callsite"]
        if frame:
            what += f"  @ {frame}"
        line = (f"{jid:>5} {(j['start'] - origin) / 1000:>9.3f} "
                f"{(end - j['start']) / 1000:>7.3f} {gap:>7}  {tasks:<12} {what}")
        if pattern and not pattern.search(line):
            continue
        print(line)
        shown += 1
        busy += (end - j["start"]) / 1000
    print(f"# {shown} of {len(jobs)} jobs, {busy:.3f} s summed job wall time")


if __name__ == "__main__":
    main()
