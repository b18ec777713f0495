#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --pin     # recompute perfbench/queries.json

Builds the engine and the benchmark with perfbench/build.sbt into
.bench_build/ when their sources changed, then runs perfbench.Main in one
JVM on local[SPARK_GRAFT_CPUS] (default: the CPUs this process may use).
The workloads are the ones BENCHMARK.json names.
Everything the run writes stays under .bench_build/. The last line of
standard output is the result JSON; the lines before it name every metric
with its unit and sample count. Exits non-zero, without a result line,
when the engine's sources are missing, the build fails, the run fails or
it overruns its time limit.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

WORK = ".bench_build"
RUN_LIMIT_S = 170      # one run, build excluded
BUILD_LIMIT_S = 700    # the first run in a checkout builds


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_sha():
    """Hash of every input of the build, so a stale build is never run."""
    h = hashlib.sha256()
    files = []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    files += ["perfbench/build.sbt", "perfbench/project/build.properties"]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(sha):
    """Compile with sbt (offline) and return the launch class path and JVM options."""
    launch = os.path.join(WORK, "launch.json")
    if os.path.exists(launch):
        with open(launch) as fh:
            got = json.load(fh)
        if got.get("source_sha") == sha:
            return got
    work = os.path.abspath(WORK)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={work}/sbt-global", f"-Dsbt.ivy.home={work}/ivy2",
           "-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd.append("benchLaunch")
    env = dict(os.environ, COURSIER_MODE="offline")
    t0 = time.time()
    proc = subprocess.run(cmd, cwd="perfbench", env=env, stdout=sys.stderr,
                          stderr=sys.stderr, timeout=BUILD_LIMIT_S)
    if proc.returncode != 0:
        die(f"build failed (sbt exit {proc.returncode})")
    with open(os.path.join(WORK, "target", "launch.json")) as fh:
        got = json.load(fh)
    got["source_sha"] = sha
    with open(launch, "w") as fh:
        json.dump(got, fh)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return got


def commit():
    if not os.path.isdir(".git"):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    if not os.path.isfile("BENCHMARK.json"):
        die("run from the root of a checkout holding BENCHMARK.json")
    with open("BENCHMARK.json") as fh:
        workloads = [w["name"] for w in json.load(fh)["workloads"]]
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=workloads)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()
    if not a.pin and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    if not os.path.isdir("src/main/scala/graft") or not os.path.isfile("perfbench/build.sbt"):
        die("run from the root of a checkout holding src/main/scala/graft and perfbench/")

    sha = source_sha()
    launch = build(sha)
    work = os.path.abspath(WORK)
    for d in ("tmp", "spark-local", "warehouse", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    args = (["--pin"] if a.pin else
            ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace)])
    cmd = (["java"] + launch["java_options"] +
           [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}/derby",
            "-cp", os.pathsep.join(launch["classpath"]), "perfbench.Main"] + args +
           ["--work", work, "--source-sha", sha, "--commit", commit()])
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)
    deadline = time.time() + RUN_LIMIT_S * (4 if a.pin else 1)

    def on_alarm(*_):
        os.killpg(proc.pid, signal.SIGKILL)
    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(int(deadline - time.time()))
    result = None
    for line in proc.stdout:
        line = line.rstrip("\n")
        if line.startswith("{") and '"correct"' in line:
            result = line
        else:
            print(line, flush=True)
    code = proc.wait()
    signal.alarm(0)
    if code != 0 or (result is None and not a.pin):
        print(f"perfbench: run failed (exit {code})", file=sys.stderr)
        sys.exit(1)
    if result is not None:
        print(result, flush=True)


if __name__ == "__main__":
    main()
