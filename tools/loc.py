#!/usr/bin/env python3
"""Count code lines of the Scala sources, per directory.

    python3 tools/loc.py                 # the working tree
    python3 tools/loc.py --against REF   # plus the delta from git ref REF

A code line is a line with at least one character outside comments
(`//` to end of line, `/* ... */` including scaladoc, nested as Scala
nests them) and outside whitespace. Blank lines and comment-only lines
do not count; a line with code and a trailing comment counts once.
String and character literals are skipped while scanning, so `//` or
`/*` inside a literal does not open a comment.

Every `.scala` file under `src/main/scala` and `src/test/scala` counts
toward its own directory (not its parents). With `--against REF` the
files of REF are read with `git show REF:path`, so nothing is checked
out; the table then shows REF's count, the working tree's count and
the delta per directory. Run it from the repo root.
"""
import argparse
import os
import subprocess
import sys
from collections import Counter

ROOTS = ("src/main/scala", "src/test/scala")


def split_lines(text):
    """Per line of `text`, the pair (code, literal).

    `code` is the line's text outside comments and outside the body of
    triple-quoted literals (the quotes themselves and single-line string
    and character literals stay in it); `literal` is the text inside
    triple-quoted literals.
    """
    out = []
    depth = 0          # block-comment nesting
    in_str = None      # None, '"' or '"""'
    for line in text.split("\n"):
        code, lit = [], []
        i = 0
        while i < len(line):
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
            elif in_str == '"""':
                if line.startswith('"""', i):
                    in_str = None
                    j = i + 3
                    while j < len(line) and line[j] == '"':
                        j += 1
                    code.append(line[i:j])
                    i = j
                else:
                    lit.append(line[i])
                    i += 1
            elif in_str == '"':
                step = 2 if line[i] == "\\" else 1
                if line[i] == '"':
                    in_str = None
                code.append(line[i:i + step])
                i += step
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                in_str = '"""'
                code.append('"""')
                i += 3
            elif line[i] == '"':
                in_str = '"'
                code.append('"')
                i += 1
            elif line[i] == "'" and i + 2 < len(line) and (
                    line[i + 2] == "'" or (line[i + 1] == "\\" and "'" in line[i + 3:i + 8])):
                j = line.index("'", i + 2 if line[i + 1] != "\\" else i + 3) + 1
                code.append(line[i:j])
                i = j
            else:
                code.append(line[i])
                i += 1
        if in_str == '"':  # single-line literals cannot span lines
            in_str = None
        out.append(("".join(code), "".join(lit)))
    return out


def code_lines(text):
    """Number of lines of `text` that carry code outside comments."""
    return sum(1 for code, lit in split_lines(text) if (code + lit).strip())


def tree_counts():
    counts = Counter()
    for root in ROOTS:
        for d, _, files in os.walk(root):
            for f in files:
                if f.endswith(".scala"):
                    with open(os.path.join(d, f), encoding="utf-8") as fh:
                        counts[d] += code_lines(fh.read())
    return counts


def ref_counts(ref):
    out = subprocess.run(["git", "ls-tree", "-r", "--name-only", ref, "--"] + list(ROOTS),
                         stdout=subprocess.PIPE, text=True, check=True).stdout
    counts = Counter()
    for path in out.split():
        if path.endswith(".scala"):
            text = subprocess.run(["git", "show", f"{ref}:{path}"], stdout=subprocess.PIPE,
                                  check=True).stdout.decode("utf-8")
            counts[os.path.dirname(path)] += code_lines(text)
    return counts


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--against", metavar="REF", help="git ref to diff the working tree against")
    args = ap.parse_args()
    now = tree_counts()
    if args.against is None:
        for d in sorted(now):
            print(f"{now[d]:>7}  {d}/")
        print(f"{sum(now.values()):>7}  total")
        return
    old = ref_counts(args.against)
    print(f"{args.against[:12]:>12} {'tree':>7} {'delta':>7}  directory")
    for d in sorted(set(now) | set(old)):
        print(f"{old[d]:>12} {now[d]:>7} {now[d] - old[d]:>+7}  {d}/")
    a, b = sum(old.values()), sum(now.values())
    print(f"{a:>12} {b:>7} {b - a:>+7}  total")


if __name__ == "__main__":
    sys.exit(main())
