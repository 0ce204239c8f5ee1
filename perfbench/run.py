#!/usr/bin/env python3
"""graft benchmark: builds graft and the harness from source, runs one
workload in one JVM at Spark local[nproc] with one closed-loop client, checks
every output, and prints one JSON result as its last line.

    python3 perfbench/run.py --workload build|operators \\
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest      # generator property checks

--trace 0 reports BENCHMARK.json's end-to-end metrics, --trace 1 its
per-layer metrics (and writes spans to .bench_build/traces/). See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("build", "operators")
# operator-workload sf directory (documents, orders); see sfgen.py
SF_DOCS, SF_ORDERS, SF_CUSTOMERS = 200, 10000, 1000
JVM_HEAP = "3g"
RUN_LIMIT_S = 175


def jvm_cmd(classes, main, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = [build.java(), "-Xmx" + JVM_HEAP, "-Xss8m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    return cmd + ["-cp", build.classpath(classes), main] + args


def run_jvm(cmd, log_path, deadline):
    """Run the JVM with stdout passed through; returns its exit code. The JVM
    is killed and reaped if it overruns or this process is interrupted."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=None, stderr=log, cwd=ROOT)
        try:
            return proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            print("benchmark JVM exceeded its time limit", file=sys.stderr)
            return -9
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def tail(path, n=40):
    try:
        with open(path) as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    # SIGTERM unwinds like Ctrl-C, so the JVM is stopped and the run dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", help="Spark master, default local[nproc]; more threads than nproc is refused")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    try:
        classes = build.ensure_built()
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (build.BuildError, OSError, ValueError) as e:
        print("benchmark cannot run: %s" % e, file=sys.stderr)
        return 2
    deadline = max(deadline, time.time() + RUN_LIMIT_S)  # the build does not eat the run's time

    work = os.path.join(build.BUILD, "run-%d" % os.getpid())
    os.makedirs(work)
    try:
        if a.selftest:
            rc = run_jvm(jvm_cmd(classes, "graftbench.SkewGenCheck", [], work),
                         os.path.join(work, "jvm.log"), deadline)
            if rc != 0:
                sys.stderr.write(tail(os.path.join(work, "jvm.log")))
            return rc
        return bench(a, spec, classes, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench(a, spec, classes, work, deadline):
    sf = None
    if a.workload == "operators" or a.trace:
        import sfgen
        sf = os.path.join(work, "sf")
        sfgen.write(sf, a.seed, SF_DOCS, SF_ORDERS, SF_CUSTOMERS)
    out = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out]
    if sf:
        args += ["--sf", sf]
    if a.master:
        args += ["--master", a.master]
    log = os.path.join(work, "jvm.log")
    sys.stdout.flush()
    rc = run_jvm(jvm_cmd(classes, "graftbench.Main", args, work), log, deadline)
    if rc != 0 or not os.path.exists(out):
        print("benchmark JVM failed (exit %s):\n%s" % (rc, tail(log)), file=sys.stderr)
        return 1
    with open(out) as f:
        res = json.load(f)

    attempted, failed = int(res["attempted"]), int(res["failed"])
    problems = [] if res["check_ok"] else ["layer sweep cross-check failed"]
    if a.workload == "operators":
        import oracle
        problems += oracle.check(os.path.join(work, "oracle"), sf, ["documents", "orders"])
        if problems:
            failed = attempted  # every pass reproduced a wrong set-up result
    for p in problems:
        print("check failed: " + p)
    correct = failed == 0 and not problems

    record = dict(res["record"], git_commit=git_commit(), workload=a.workload,
                  seconds=a.seconds, trace=a.trace)
    print("record " + json.dumps(record, sort_keys=True))
    got = dict(res["metrics"], error_rate=failed / attempted)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        print("metrics not measured: %s" % missing, file=sys.stderr)
        return 1
    metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted}
    for name, m in metrics.items():
        print("%-40s %14.6g %s" % (name, m["value"], m["unit"]))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
