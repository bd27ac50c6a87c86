#!/usr/bin/env python3
"""Diff two PlanAudit outputs query by query and print the queries whose
physical plans moved.

    PLAN_SIMPLE=1 sbt 'runMain graft.PlanAudit SF_DIR' > a.txt 2>&1
    # ... the same in the other checkout into b.txt, then:
    python3 tools/plan_diff.py a.txt b.txt          # names of moved queries
    python3 tools/plan_diff.py a.txt b.txt --show   # plus a unified diff of each

Each query's plan is the text between its `========== name ==========`
header and the next one. Lines that are not plan text are dropped: Spark
log lines (`yy/MM/dd HH:mm:ss LEVEL ...`), sbt's own `[info]`/`[warn]`/
`[success]`/`[error]` lines and blank lines, and the Java exception
text that stderr interleaves with the plans (an `...Exception: ...` or
`...Error: ...` header, `\tat ...` frames, `Caused by: ...`,
`Suppressed: ...` and `... N more`); a log record that stderr wrote
into the middle of a plan line is cut out and the line rejoined.
What differs between two runs of the same code is masked before
comparing: expression ids (`#123`), object hashes (`@1a2b3c`), lambda
class names (`$Lambda$5486/0x00007f...`), the JVM-wide counter suffix
of a higher-order function's variable (`lambda x_385`, numbered by how
many such variables the JVM created before), exchange plan ids
(`plan_id=12`) and the directory of a `Checkpoints.cut` scan
(`graft-ckpt-<n>/<uuid>`, which Spark may cut short with `...`). The
`Expand` of a query with several count-distinct groups is put in one
order: Spark orders its columns and projections, and numbers its group
ids, by expression-id hashes, so the same query can print either order
depending on what ran before it in the JVM. In a plan with one `Expand`
(masked, not truncated; an adaptive plan may print it twice), its
columns before the group id are
sorted by name and its projections by text, the group ids renumbered in
that order, and the `gid = k` tests and column runs elsewhere in the
plan rewritten to match. A query present on one side only is reported
as added or removed. The exit code is 1 when any plan moved,
0 otherwise. Both sides must come from the same PlanAudit session shape
and the same sf dir.
"""
import argparse
import difflib
import re
import sys

HEADER = re.compile(r"^=+ (\S+) =+$")
LOG = re.compile(r"\d\d/\d\d/\d\d \d\d:\d\d:\d\d [A-Z]+ ")
NOISE = re.compile(r"^(\[(info|warn|success|error)\] |WARNING: |SLF4J)")
TRACE = re.compile(
    r"^(\s+at [\w$./<>-]+\(.*\)$"               # a stack frame
    r"|\s*(Caused by|Suppressed): "
    r"|\s*\.\.\. \d+ more$"
    r"|Exception in thread "
    r"|[\w$]+(\.[\w$]+)+(Exception|Error)(: |$))")  # an exception header
MASKS = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@H"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1_N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"graft-ckpt-[0-9a-f/-]*(\.\.\.)?"), "graft-ckpt-N"),
]


def mask(line):
    for pat, rep in MASKS:
        line = pat.sub(rep, line)
    return line.rstrip()


def split_top(s):
    """Split `s` at the commas outside any brackets."""
    out, depth, cur = [], 0, ""
    for ch in s:
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        if ch == "," and depth == 0:
            out.append(cur.strip())
            cur = ""
        else:
            cur += ch
    out.append(cur.strip())
    return out


EXPAND = re.compile(r"^(.*Expand )\[(\[.*\])\], \[(.*)\]$")


def canonical_expand(lines):
    """Put the one `Expand` of a masked plan (printed once, or the same
    in an adaptive plan's final and initial parts), and what refers to
    its column and group-id order, in a hash-independent order."""
    hits = [i for i, l in enumerate(lines) if EXPAND.match(l)]
    bodies = {EXPAND.match(lines[i]).groups()[1:] for i in hits}
    if len(bodies) != 1 or "more fields" in lines[hits[0]]:
        return lines
    projs, outs = bodies.pop()
    projs = [split_top(p.strip()[1:-1]) for p in split_top(projs)]
    outs = split_top(outs)
    n = len(outs)
    if any(len(p) != n or not re.fullmatch(r"\d+", p[-1]) for p in projs):
        return lines
    order = sorted(range(n - 1), key=lambda k: outs[k]) + [n - 1]
    projs = sorted(([p[k] for k in order] for p in projs), key=lambda p: p[:-1])
    gids = {p[-1]: str(i) for i, p in enumerate(projs)}
    projs = [p[:-1] + [gids[p[-1]]] for p in projs]
    run, canon = ", ".join(outs), ", ".join(outs[k] for k in order)
    gid = re.escape(outs[-1])
    lines = list(lines)
    for i, l in enumerate(lines):
        l = re.sub(r"\(" + gid + r" = (\d+)\)",
                   lambda m: f"({outs[-1]} = {gids.get(m.group(1), m.group(1))})", l)
        lines[i] = l.replace(run, canon)
    expand = "[" + ", ".join("[" + ", ".join(p) + "]" for p in projs) + "], [" + canon + "]"
    for i in hits:
        lines[i] = EXPAND.match(lines[i]).group(1) + expand
    return lines


def plans(path):
    """Map query name -> list of masked plan lines, in file order."""
    out = {}
    cur = None
    pending = ""  # plan text cut off by a log record written mid-line
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = pending + raw.rstrip("\n")
            pending = ""
            log = LOG.search(line)
            if log:
                pending = line[:log.start()]
                continue
            m = HEADER.match(line.strip())
            if m:
                cur = m.group(1)
                out[cur] = []
            elif cur is not None and line.strip() and not NOISE.match(line) \
                    and not TRACE.match(line):
                out[cur].append(mask(line))
    return {name: canonical_expand(lines) for name, lines in out.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a", help="PlanAudit output of the first checkout")
    ap.add_argument("b", help="PlanAudit output of the second checkout")
    ap.add_argument("--show", action="store_true",
                    help="print a unified diff of every moved plan")
    args = ap.parse_args()
    a, b = plans(args.a), plans(args.b)
    if not a or not b:
        sys.exit(f"no `========== name ==========` sections in "
                 f"{args.a if not a else args.b}")
    moved = 0
    for name in sorted(set(a) | set(b)):
        if name not in b:
            print(f"removed {name}")
        elif name not in a:
            print(f"added   {name}")
        elif a[name] != b[name]:
            print(f"moved   {name}")
            if args.show:
                sys.stdout.writelines(
                    l + "\n" for l in difflib.unified_diff(
                        a[name], b[name], args.a, args.b, lineterm="", n=2))
        else:
            continue
        moved += 1
    print(f"{moved} of {len(set(a) | set(b))} plans moved")
    sys.exit(1 if moved else 0)


if __name__ == "__main__":
    main()
