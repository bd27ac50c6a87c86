#!/usr/bin/env python3
"""Report blocks of Scala code that are written more than once.

    python3 tools/dup_blocks.py                  # src/main/scala
    python3 tools/dup_blocks.py DIR ... [--window N]

Each `.scala` file under the given directories (default
`src/main/scala`) is reduced to its normalized code lines: comments,
`import` lines and every line that opens, holds or closes a
triple-quoted literal (the SQL of the oracles) are dropped, lines that
hold only closing brackets or commas are skipped, and runs of
whitespace collapse to one space. A window
is `--window` (default 4) consecutive normalized lines. Every window
whose text occurs earlier in the scan (files in path order) is a copy
of its first occurrence; consecutive copy windows whose first
occurrences are consecutive too form one reported block:

    <copy file>:<first>-<last> (<n> lines) = <source file>:<first>-<last>

Line numbers are the files' own. The summary counts, per file, the
lines that lie in a copy block (the second and later copies only), and
their total. The exit code is 0 either way. Run it from the repo root.
"""
import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from loc import split_lines  # noqa: E402

CLOSERS = re.compile(r"^[\s)}\],;]*$")


def normalized(path):
    """[(source line number, normalized code)] of one file."""
    with open(path, encoding="utf-8") as fh:
        lines = split_lines(fh.read())
    out = []
    for n, (code, lit) in enumerate(lines, 1):
        text = " ".join(code.split())
        sql = lit.strip() or '"""' in code
        if text and not sql and not text.startswith("import ") and not CLOSERS.match(text):
            out.append((n, text))
    return out


def scala_files(roots):
    for root in roots:
        for d, _, files in sorted(os.walk(root)):
            for f in sorted(files):
                if f.endswith(".scala"):
                    yield os.path.join(d, f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("roots", nargs="*", default=["src/main/scala"])
    ap.add_argument("--window", type=int, default=4, help="lines per window (default 4)")
    args = ap.parse_args()
    w = args.window
    files = [(p, normalized(p)) for p in scala_files(args.roots)]
    first = {}     # window text -> (file index, window index)
    source = {}    # (file index, window index) -> first occurrence, for copies
    for fi, (_, lines) in enumerate(files):
        for i in range(len(lines) - w + 1):
            key = "\n".join(t for _, t in lines[i:i + w])
            if key in first:
                source[(fi, i)] = first[key]
            else:
                first[key] = (fi, i)
    blocks = []
    for fi, (_, lines) in enumerate(files):
        i = 0
        while i < len(lines) - w + 1:
            if (fi, i) not in source:
                i += 1
                continue
            sf, si = source[(fi, i)]
            j = i
            while (fi, j + 1) in source and source[(fi, j + 1)] == (sf, si + (j + 1 - i)):
                j += 1
            blocks.append((fi, i, j + w - 1, sf, si, si + (j - i) + w - 1))
            i = j + 1
    per_file = {}
    for fi, a, b, sf, sa, sb in blocks:
        path, lines = files[fi]
        src_path, src_lines = files[sf]
        per_file.setdefault(path, set()).update(range(a, b + 1))
        print(f"{path}:{lines[a][0]}-{lines[b][0]} ({b - a + 1} lines) = "
              f"{src_path}:{src_lines[sa][0]}-{src_lines[sb][0]}")
    print()
    for path in sorted(per_file, key=lambda p: -len(per_file[p])):
        print(f"{len(per_file[path]):>6}  {path}")
    print(f"{sum(len(s) for s in per_file.values()):>6}  lines in copies, "
          f"{len(blocks)} blocks")
    return 0


if __name__ == "__main__":
    sys.exit(main())
