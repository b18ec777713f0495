#!/usr/bin/env python3
"""Compare two sets of benchmark result records.

    python3 perfbench/compare.py <parent-results-dir> <change-results-dir>

Each directory holds the records perfbench/run.py leaves in
.bench_build/results (one JSON file per run). For every workload and
end-to-end metric it prints each side's median and quartiles and a
verdict under the bounds in BENCHMARK.json:

  worse       the change's median is worse than the parent's by more
              than the metric's bound;
  unresolved  the parent's own quartile spread is wider than the bound,
              and not every change run beats every parent run;
  improved    the change wins at least 9 in 10 runs paired in time order,
              and the medians differ by more than the parent's quartile
              spread;
  no worse    otherwise.

Per-layer metrics from traced runs, and the raw (unscaled) wall-time
figures of untraced runs, are listed with their quartiles only; they
carry no bound. The last rows give one line per workload.
"""
import glob
import json
import os
import statistics
import sys


def load(d):
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        if f.endswith("-spans.json"):
            continue
        with open(f) as fh:
            r = json.load(fh)
        r["_order"] = os.path.basename(f).rsplit("-", 1)[-1]
        runs.setdefault((r["workload"], r["trace"]), []).append(r)
    for rs in runs.values():
        rs.sort(key=lambda r: r["_order"])
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    # statistics' default (exclusive) method; under 4 runs it would extrapolate
    q = statistics.quantiles(xs, n=4, method="exclusive" if len(xs) >= 4 else "inclusive")
    return q[0], statistics.median(xs), q[2]


def verdict(a, b, better, bound):
    a_q1, a_med, a_q3 = quartiles(a)
    b_med = statistics.median(b)
    sign = 1 if better == "higher" else -1
    gain = sign * (b_med - a_med) / a_med   # > 0: the change is better
    all_better = all(sign * (y - x) > 0 for x in a for y in b)
    if (a_q3 - a_q1) / a_med > bound and not all_better:
        return "unresolved"
    if gain < -bound:
        return "worse"
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    if pairs and wins >= 0.9 * len(pairs) and abs(b_med - a_med) > a_q3 - a_q1:
        return "improved"
    return "no worse"


def fmt(v):
    return f"{v:.4g}"


def row(w, name, qa, qb, v):
    print(f"{w:12} {name:32} {fmt(qa[1]):>10} [{fmt(qa[0])}, {fmt(qa[2])}]".ljust(80)
          + f"{fmt(qb[1]):>10} [{fmt(qb[0])}, {fmt(qb[2])}]".ljust(35) + v)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    summary = {}
    print(f"{'workload':12} {'metric':32} {'parent median [q1, q3]':34} "
          f"{'change median [q1, q3]':34} verdict")
    for w in [x["name"] for x in bench["workloads"]]:
        for trace in (False, True):
            a_runs, b_runs = parent.get((w, trace), []), change.get((w, trace), [])
            if not a_runs or not b_runs:
                continue
            for name in a_runs[0]["metrics"]:
                a = [r["metrics"][name]["value"] for r in a_runs if name in r["metrics"]]
                b = [r["metrics"][name]["value"] for r in b_runs if name in r["metrics"]]
                if not a or not b:
                    continue
                qa, qb = quartiles(a), quartiles(b)
                if name in e2e and not trace:
                    v = verdict(a, b, e2e[name]["better"], e2e[name]["bound"]) \
                        if qa[1] != 0 else "unresolved"
                    summary.setdefault(w, []).append(f"{name}={v}")
                else:
                    v = "-"
                row(w, name, qa, qb, v)
            for name in a_runs[0].get("raw", {}):
                a = [r["raw"][name] for r in a_runs if r.get("raw", {}).get(name)]
                b = [r["raw"][name] for r in b_runs if r.get("raw", {}).get(name)]
                if a and b:
                    row(w, "raw." + name, quartiles(a), quartiles(b), "-")
    print()
    for w, vs in summary.items():
        print(f"{w:12} " + "  ".join(vs))


if __name__ == "__main__":
    main()
