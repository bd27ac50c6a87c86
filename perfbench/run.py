#!/usr/bin/env python3
"""Build and run one perfbench run from the root of a checkout.

    python3 perfbench/run.py --workload medallion|board --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selfcheck --seed N

The second form checks that the benchmark's inputs and outputs are
deterministic in the seed (perfbench.SelfCheck).

The first run in a checkout compiles the program (src/main/scala) and
the benchmark (perfbench/src) with the Scala compiler that ships in the
Spark distribution's jars; later runs reuse the classes while the
sources are unchanged. Build output, scratch data and logs live under
.bench_build/ in the checkout. The JVM's metric lines are passed
through; the last stdout line is the result JSON. Any failure exits
non-zero without printing a result.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
def spark_home():
    """$SPARK_HOME, else the distribution whose spark-submit is on PATH."""
    submits = [shutil.which("spark-submit", path=d) for d in os.environ.get("PATH", "").split(os.pathsep)]
    candidates = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(x))) for x in submits if x]
    for home in candidates:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    return ""


SPARK_JARS = os.path.join(spark_home(), "jars")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
DATA = os.path.join(HERE, "data", "sf0.01")
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    out = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile program and benchmark into one classes directory keyed by
    a hash of every source file; reuse it when present."""
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"no program sources at {os.path.relpath(PROGRAM_SRC, ROOT)}: run from the repo root")
    if not os.path.isdir(SPARK_JARS):
        fail(f"no Spark jars at {SPARK_JARS!r}: set SPARK_HOME")
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes
    tmp = f"{classes}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(SPARK_JARS, "*")
    args_file = tmp + ".args"
    with open(args_file, "w") as f:
        f.write("\n".join(["-nowarn", "-classpath", cp, "-d", tmp] + srcs) + "\n")
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "@" + args_file])
    if r.returncode != 0:
        fail("compilation failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    os.remove(args_file)
    try:
        os.rename(tmp, classes)
    except OSError:  # a concurrent build finished first; its classes are the same
        shutil.rmtree(tmp, ignore_errors=True)
    return classes


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--selfcheck", action="store_true")
    p.add_argument("--workload", choices=["medallion", "board"])
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", choices=["0", "1"])
    a = p.parse_args()
    if not a.selfcheck and (a.workload is None or a.seconds is None or a.trace is None):
        p.error("--workload, --seconds and --trace are required")
    if not os.path.isdir(DATA):
        fail(f"no benchmark data at {os.path.relpath(DATA, ROOT)}")
    classes = build()

    name = "selfcheck" if a.selfcheck else a.workload
    work = os.path.join(BUILD, "work", f"{name}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    log_path = os.path.join(BUILD, f"last-{name}.log")
    jvm = (["java"] + [x for o in JVM_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")] +
           ["-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-cp", classes + os.pathsep + os.path.join(SPARK_JARS, "*")])
    if a.selfcheck:
        with open(log_path, "w") as log:
            r = subprocess.run(jvm + ["perfbench.SelfCheck", "--seed", str(a.seed), "--dir",
                                      os.path.join(work, "selfcheck"), "--data", DATA],
                               stderr=log, timeout=600)
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(r.returncode)
    cmd = jvm + ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", a.trace, "--dir", work, "--data", DATA]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; log in {log_path}")
    if a.trace == "1" and os.path.isfile(os.path.join(work, "trace.jsonl")):
        shutil.copy(os.path.join(work, "trace.jsonl"), os.path.join(BUILD, f"trace-{a.workload}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
    except (ValueError, IndexError):
        result = None
    if proc.returncode != 0 or not isinstance(result, dict):
        sys.stderr.write(out)
        fail(f"run failed (exit {proc.returncode}); log in {log_path}")
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    main()
