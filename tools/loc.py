#!/usr/bin/env python3
"""Line counts of the Scala sources, at a git revision and in the working tree.

Usage:
  python3 tools/loc.py [<rev>]

For `src/main` and `src/test` (every `*.scala` below each) prints the
non-blank lines and the code lines, first at `<rev>` (default `HEAD`),
read with `git cat-file` so nothing is checked out, then in the working
tree, then the difference. A code line is a non-blank line whose trimmed
text does not start with `//`, `/*` or `*` (so scaladoc and comment
lines are not code). Run from anywhere inside the repository.
"""
import os
import subprocess
import sys

ROOTS = ("src/main", "src/test")


def count(text):
    nonblank = code = 0
    for line in text.splitlines():
        t = line.strip()
        if not t:
            continue
        nonblank += 1
        if not t.startswith(("//", "/*", "*")):
            code += 1
    return nonblank, code


def git(top, *args, data=None):
    return subprocess.run(("git", "-C", top) + args, input=data,
                          capture_output=True, check=True).stdout


def at_rev(top, rev):
    names = git(top, "ls-tree", "-r", "--name-only", rev, "--", *ROOTS)
    paths = [p for p in names.decode().splitlines() if p.endswith(".scala")]
    out = git(top, "cat-file", "--batch",
              data="".join(f"{rev}:{p}\n" for p in paths).encode())
    totals = {r: [0, 0] for r in ROOTS}
    pos = 0
    for p in paths:
        header_end = out.index(b"\n", pos)
        size = int(out[pos:header_end].split()[2])
        body = out[header_end + 1:header_end + 1 + size]
        pos = header_end + 1 + size + 1  # the blob and its trailing newline
        nb, code = count(body.decode("utf-8", "replace"))
        t = totals[root_of(p)]
        t[0] += nb
        t[1] += code
    return totals


def in_tree(top):
    totals = {r: [0, 0] for r in ROOTS}
    for r in ROOTS:
        for d, _, files in os.walk(os.path.join(top, r)):
            for f in files:
                if f.endswith(".scala"):
                    with open(os.path.join(d, f), encoding="utf-8", errors="replace") as fh:
                        nb, code = count(fh.read())
                    totals[r][0] += nb
                    totals[r][1] += code
    return totals


def root_of(path):
    return next(r for r in ROOTS if path.startswith(r + "/"))


def main(argv):
    if len(argv) > 2 or (len(argv) == 2 and argv[1].startswith("-")):
        sys.exit(__doc__)
    rev = argv[1] if len(argv) == 2 else "HEAD"
    top = git(os.getcwd(), "rev-parse", "--show-toplevel").decode().strip()
    short = git(top, "rev-parse", "--short", rev).decode().strip()
    before, after = at_rev(top, rev), in_tree(top)
    print(f"{'':10} {'':9} {short:>9} {'tree':>9} {'delta':>7}")
    for r in ROOTS:
        for i, kind in enumerate(("non-blank", "code")):
            a, b = before[r][i], after[r][i]
            print(f"{r:10} {kind:9} {a:9,} {b:9,} {b - a:+7,}")


if __name__ == "__main__":
    main(sys.argv)
