#!/usr/bin/env python3
"""Per-spec and per-test wall time from sbt's JUnit XML test reports.

Usage:
  python3 tools/spec_times.py [reports_dir] [--tests] [--spec NAME ...]

Reads every `TEST-*.xml` in `reports_dir` (default `target/test-reports`)
and prints one line per spec, slowest first: wall seconds, test count,
failures + errors, and the spec name. The spec name comes from the file
name (`TEST-graft.StreamingSpec.xml` -> `graft.StreamingSpec`), because
the `<testsuite name>` attribute is not reliable (some runners write the
host name there). A last line sums the listed specs.

  --tests        also print each test's time under its spec, slowest first
  --spec NAME    only these specs (repeatable; a bare `StreamingSpec`
                 matches `graft.StreamingSpec`)
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def load(reports_dir):
    specs = []
    for path in sorted(glob.glob(os.path.join(reports_dir, "TEST-*.xml"))):
        name = os.path.basename(path)[len("TEST-"):-len(".xml")]
        root = ET.parse(path).getroot()
        suites = [root] if root.tag == "testsuite" else root.findall("testsuite")
        tests, bad = [], 0
        for s in suites:
            for tc in s.findall("testcase"):
                failed = tc.find("failure") is not None or tc.find("error") is not None
                bad += failed
                tests.append((float(tc.get("time", "0")), tc.get("name", ""), failed))
        wall = sum(float(s.get("time", "0")) for s in suites)
        specs.append((wall, name, tests, bad))
    return specs


def main(argv):
    args, show_tests, only = [], False, []
    it = iter(argv)
    for a in it:
        if a == "--tests":
            show_tests = True
        elif a == "--spec":
            only.append(next(it))
        elif a in ("-h", "--help"):
            print(__doc__)
            return 0
        else:
            args.append(a)
    reports_dir = args[0] if args else "target/test-reports"
    specs = load(reports_dir)
    if only:
        specs = [s for s in specs
                 if any(s[1] == o or s[1].endswith("." + o) for o in only)]
    if not specs:
        print(f"no TEST-*.xml reports in {reports_dir}", file=sys.stderr)
        return 1
    total_s = total_n = total_bad = 0
    for wall, name, tests, bad in sorted(specs, reverse=True):
        print(f"{wall:9.1f} s {len(tests):4d} tests {bad:3d} failed  {name}")
        total_s += wall
        total_n += len(tests)
        total_bad += bad
        if show_tests:
            for t, tname, failed in sorted(tests, reverse=True):
                print(f"    {t:8.2f} s  {'FAIL ' if failed else ''}{tname}")
    print(f"{total_s:9.1f} s {total_n:4d} tests {total_bad:3d} failed  "
          f"total of {len(specs)} specs")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
