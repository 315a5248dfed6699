#!/usr/bin/env python3
"""Product-path benchmark driver: Firehose -> Serve -> _bulk.

Builds the repository and the harness (perfbench/harness, an sbt build
that depends on the repository's main project) when the sources are newer
than the last build, then runs one workload in the harness JVM and
forwards its output. The last stdout line is the result object.

    python3 perfbench/run.py --workload steady_small --seed 1 --seconds 20 --trace 0

See perfbench/README.md for the workloads, the metrics and the traced run.
"""
import argparse
import json
import os
import selectors
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(ROOT, ".bench_build")
# scratch space of every JVM the benchmark starts (Spark block managers,
# java.io.tmpdir), so nothing is written outside the checkout
TMP = os.path.join(BUILD, "tmp")
LAUNCH = os.path.join(HARNESS, "target", "launch.txt")
# a run (build excluded) must end well inside 180 s
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HARNESS_HEAP = "2g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_inputs():
    """Every file whose change must trigger a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames[:] = [d for d in dirnames if d != "target"]
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={TMP}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    inputs = build_inputs()
    if os.path.isfile(LAUNCH) and max(os.path.getmtime(f) for f in inputs) < os.path.getmtime(LAUNCH):
        return
    log("building the repository and the harness (sbt launchSpec)")
    t = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                            cwd=HARNESS, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                            timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0 or not os.path.isfile(LAUNCH):
        log(f"build failed (exit {rc}); see {os.path.join(BUILD, 'build.log')}")
        sys.exit(2)
    log(f"built in {time.time() - t:.0f} s")


def commit_id():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, check=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def kill_group(proc):
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            pass
    proc.wait()


def overhead_lines(workload, traced_rec):
    """Traced minus untraced end-to-end numbers, against the last untraced
    run of the workload in this checkout."""
    path = os.path.join(BUILD, "results", f"last_{workload}_trace0.json")
    if not os.path.isfile(path):
        return ["#   tracing overhead: no untraced run of this workload to compare with"]
    with open(path) as fh:
        untraced = json.load(fh)
    base = untraced["end_to_end"]
    lines = [f"#   tracing overhead vs the untraced run of seed {untraced['seed']} (traced - untraced):"]
    for k, v in traced_rec["end_to_end"].items():
        if k in base and base[k]["value"]:
            d = v["value"] - base[k]["value"]
            lines.append(f"#     overhead.{k:<20} {d:+.4f} {v['unit']} ({d / base[k]['value']:+.1%})")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        log(f"no repository to benchmark at {ROOT} (build.sbt and src/main are missing)")
        sys.exit(2)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    os.makedirs(TMP, exist_ok=True)
    build()

    with open(LAUNCH) as fh:
        lines = fh.read().splitlines()
    classpath, jvm_opts = lines[0], [l for l in lines[1:] if l]
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(TMP, ignore_errors=True)
    os.makedirs(TMP)
    env = dict(os.environ, SPARK_LOCAL_DIRS=TMP)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    cmd = (["java", f"-Xmx{HARNESS_HEAP}", f"-Djava.io.tmpdir={TMP}", "-XX:-UsePerfData"] + jvm_opts +
           ["-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work, "--geo", os.path.join(HERE, "data"),
           "--launch", LAUNCH, "--commit", commit_id()])
    os.makedirs(BUILD, exist_ok=True)
    harness_log = os.path.join(BUILD, f"harness-{a.workload}.log")
    errlog = open(harness_log, "w")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=errlog,
                            text=True, start_new_session=True)
    deadline = time.time() + RUN_TIMEOUT_S
    held = None
    timed_out = False
    try:
        sel = selectors.DefaultSelector()
        sel.register(proc.stdout, selectors.EVENT_READ)
        while True:
            left = deadline - time.time()
            if left <= 0:
                timed_out = True
                break
            if not sel.select(timeout=min(left, 1.0)):
                continue
            line = proc.stdout.readline()
            if not line:
                break
            if held is not None:
                print(held, flush=True)
            held = line.rstrip("\n")
    finally:
        kill_group(proc)
        errlog.close()
    if timed_out:
        log(f"run exceeded {RUN_TIMEOUT_S} s; stopped")
        sys.exit(3)
    rc = proc.returncode
    result = os.path.join(work, "result.json")
    if held is None or not held.startswith("{") or not os.path.isfile(result):
        if held is not None:
            print(held)
        with open(harness_log) as fh:
            sys.stderr.writelines(fh.readlines()[-30:])
        log(f"harness failed (exit {rc}); see {harness_log} and the logs under {work}")
        sys.exit(rc or 4)
    with open(result) as fh:
        rec = json.load(fh)
    if a.trace:
        for l in overhead_lines(a.workload, rec):
            print(l)
    else:
        shutil.copy(result, os.path.join(BUILD, "results", f"last_{a.workload}_trace0.json"))
    shutil.copy(result, os.path.join(BUILD, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"))
    print(held, flush=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
