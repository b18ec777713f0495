#!/usr/bin/env python3
"""Normalize `graft.tools.Dev plan` output so two runs can be diffed.

Usage: python3 tools/plan_norm.py <plan.log> > plan.norm

Reads the plan dump (as printed by `sbt "runMain graft.tools.Dev plan
q1,q2,... <sfDir>"`, with or without sbt's `[info] ` prefix) and prints
it with every per-run token replaced by a fixed placeholder:

  - expression ids            `doc_id#123L`           -> `doc_id#N`
  - plan ids                  `plan_id=42`            -> `plan_id=N`
  - RDD ids                   `MapPartitionsRDD[17]`  -> `MapPartitionsRDD[N]`
  - call sites                ` at LlmOps.scala:277`  -> ` at <site>`
  - identity hashes           `@1a2b3c4d`             -> `@<hash>`
  - lambda classes            `$Lambda$1234/0x0000..` -> `$Lambda$N/0xN`
  - fresh lambda names        `x_12#`, `y_13#`        -> `x_N#`, `y_N#`
    (the functions API numbers them from one JVM-wide counter, so an
    earlier query that builds one lambda more renumbers every later one)
  - warehouse locations       `file:/a/b/spark-warehouse/` -> `file:<warehouse>/`
    (so checkouts in different directories compare equal)
  - round-trip dirs           `graft_roundtrip8013..` -> `graft_roundtrip<N>`
    (one temp dir per JVM, see `Extras.roundTripDir`)

Everything before the first `===== <query>` header and sbt's own status
lines (`[success]`, `[warn]`, `[error]`, ...) are dropped. Two dumps of
the same tree normalize to identical text, so a refactor that leaves
every plan unchanged shows an empty `diff`.
"""
import re
import sys

RULES = [
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$N/0xN"),
    (re.compile(r"\b(x|y|z|acc|k|v)_\d+#"), r"\1_N#"),
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r" at [\w$.]+\.scala:\d+"), " at <site>"),
    (re.compile(r"@[0-9a-f]{5,}"), "@<hash>"),
    (re.compile(r"file:\S*/spark-warehouse/"), "file:<warehouse>/"),
    (re.compile(r"graft_roundtrip\d+"), "graft_roundtrip<N>"),
]

SBT_STATUS = re.compile(r"^\[(success|warn|error|debug)\]")


def normalize(lines):
    started = False
    for raw in lines:
        line = raw.rstrip("\n")
        if SBT_STATUS.match(line):
            continue
        if line.startswith("[info] "):
            line = line[len("[info] "):]
        elif line == "[info]":
            line = ""
        if not started:
            if not line.startswith("===== "):
                continue
            started = True
        for pat, rep in RULES:
            line = pat.sub(rep, line)
        yield line


def main(path):
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in normalize(f):
            print(line)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
