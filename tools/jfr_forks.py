#!/usr/bin/env python3
"""Count the processes a JVM forked, from a JFR recording.

    python3 tools/jfr_forks.py REC.jfr [--root DIR] [--depth N]

Reads `jfr print --json --events jdk.ProcessStart REC.jfr` and prints
the total, the count per program (first word of the command, e.g.
`chmod`), and, with --root, the count per first N path components under
DIR of the paths named in each command (e.g. `state-uplift__batch_tmp`,
`probe`, or with --depth 2 `work-0/landing`). DIR may hold `*` for one
path component, e.g. `.bench_build/work/*` for perfbench's per-run
directory. Partition dirs (`bkt=7`) count as `bkt=*`, and names carrying
a task attempt or part-file id as `<file>`. A command naming no path
under DIR counts as `(outside DIR)`.
"""
import argparse
import collections
import json
import os
import re
import shlex
import subprocess
import sys

ID = re.compile(r"^(\.?part-|attempt_|task_)|[0-9a-f]{8}-[0-9a-f]{4}-")


def events(rec):
    out = subprocess.run(["jfr", "print", "--json", "--events", "jdk.ProcessStart", rec],
                         check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def component(name):
    if "=" in name:
        return name.split("=", 1)[0] + "=*"
    return "<file>" if ID.search(name) else name


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("rec")
    p.add_argument("--root")
    p.add_argument("--depth", type=int, default=1)
    a = p.parse_args()
    root = None
    if a.root:
        parts = os.path.abspath(a.root).rstrip("/").split("*")
        root = re.compile("[^/]*".join(map(re.escape, parts)) + "/(.+)")

    by_program, by_dir = collections.Counter(), collections.Counter()
    evs = events(a.rec)
    for e in evs:
        cmd = e["values"].get("command") or ""
        words = shlex.split(cmd) if cmd else [""]
        by_program[os.path.basename(words[0]) or "?"] += 1
        if root:
            hits = {m.group(1) for m in map(root.match, words[1:]) if m}
            keys = {"/".join(component(c) for c in h.split("/")[:a.depth]) for h in hits}
            for k in keys or {"(outside DIR)"}:
                by_dir[k] += 1

    print(f"total {len(evs)}")
    print("by program:")
    for k, n in by_program.most_common():
        print(f"  {n:6d}  {k}")
    if root:
        print(f"by path under {a.root} (depth {a.depth}):")
        for k, n in sorted(by_dir.items(), key=lambda kv: (-kv[1], kv[0])):
            print(f"  {n:6d}  {k}")


if __name__ == "__main__":
    sys.exit(main())
