#!/usr/bin/env python3
"""Run alternating parent/change pairs of one perfbench workload.

    python3 tools/bench_pairs.py --parent REF --change REF|. \
        --workload medallion|board --seeds A-B

Each side is built into its own temporary checkout: a git ref with
`git archive`, or `.` as a copy of the working tree without
`.bench_build`, `target` and `.git`. Each seed in A..B is one pair;
both sides run `python3 perfbench/run.py --workload W --seed N
--seconds 10 --trace 0` from their own checkout, the parent first in
odd pairs and the change first in even ones.

Prints every pair's gated metrics with `correct`/`failed`/`attempted`,
then per metric each side's median and quartiles, the change's win
count, and whether the claim rule holds: at least 10 pairs, the change
wins at least 9 in 10 of them, and its median beats the parent's by
more than the parent's quartile spread. Run it from the repo root.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

RUN = ["perfbench/run.py", "--seconds", "10", "--trace", "0"]


def checkout(ref, into):
    """Materialize `ref` (a git ref, or `.` for the working tree) at `into`."""
    if ref == ".":
        shutil.copytree(".", into, ignore=shutil.ignore_patterns(".bench_build", "target", ".git"))
        return
    os.makedirs(into)
    archive = subprocess.run(["git", "archive", ref], stdout=subprocess.PIPE, check=True)
    subprocess.run(["tar", "-x", "-C", into], input=archive.stdout, check=True)


def run(side, workload, seed):
    """One perfbench run from checkout `side`; returns its result JSON."""
    cmd = [sys.executable] + RUN + ["--workload", workload, "--seed", str(seed)]
    r = subprocess.run(cmd, cwd=side, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-4000:])
        sys.exit(f"bench_pairs: run failed in {side} (seed {seed}, exit {r.returncode})")
    return json.loads(r.stdout.rstrip("\n").split("\n")[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def seeds(spec):
    a, _, b = spec.partition("-")
    lo, hi = int(a), int(b or a)
    if hi < lo:
        raise argparse.ArgumentTypeError(f"empty seed range {spec}")
    return list(range(lo, hi + 1))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--workload", required=True, choices=["medallion", "board"])
    p.add_argument("--seeds", required=True, type=seeds)
    a = p.parse_args()
    with open("BENCHMARK.json") as f:
        gated = [m["name"] for m in json.load(f)["end_to_end"]]

    root = tempfile.mkdtemp(prefix="bench-pairs-")
    try:
        sides = {"parent": os.path.join(root, "parent"), "change": os.path.join(root, "change")}
        checkout(a.parent, sides["parent"])
        checkout(a.change, sides["change"])
        values = {"parent": {m: [] for m in gated}, "change": {m: [] for m in gated}}
        wins = {m: 0 for m in gated}
        for i, seed in enumerate(a.seeds, 1):
            order = ["parent", "change"] if i % 2 == 1 else ["change", "parent"]
            res = {name: run(sides[name], a.workload, seed) for name in order}
            for name in order:
                r = res[name]
                shown = " ".join(f"{m}={r['metrics'][m]['value']:.3f}" for m in gated)
                print(f"pair {i:2d} seed {seed} {name:6s} {shown} correct={r['correct']} "
                      f"failed={r['failed']} attempted={r['attempted']}", flush=True)
            for m in gated:
                for name in order:
                    values[name][m].append(res[name]["metrics"][m]["value"])
                wins[m] += res["change"]["metrics"][m]["value"] < res["parent"]["metrics"][m]["value"]

        n = len(a.seeds)
        print(f"\n{a.workload}: {n} pairs, parent {a.parent}, change {a.change}")
        for m in gated:
            pm, cm = statistics.median(values["parent"][m]), statistics.median(values["change"][m])
            (p1, p3), (c1, c3) = quartiles(values["parent"][m]), quartiles(values["change"][m])
            holds = n >= 10 and wins[m] >= 0.9 * n and pm - cm > p3 - p1
            print(f"{m:10s} parent {pm:.3f} [{p1:.3f}, {p3:.3f}]  change {cm:.3f} [{c1:.3f}, {c3:.3f}]  "
                  f"{(cm - pm) / pm:+.1%}  wins {wins[m]}/{n}  rule {'holds' if holds else 'does not hold'}")
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
