#!/usr/bin/env python3
"""Run one benchmark workload against the library built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of the repository. The first run builds the library and
the benchmark with sbt (offline) into `.bench_build/` and the sbt `target/`
directories; later runs reuse that build while the sources are unchanged.
The JVM's standard output (notes and, with `--trace 1`, the per-layer
table) is copied through; the last line printed is the result JSON. The
exit code is 0 only when every output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CORPUS = os.path.join(HERE, "corpus", "sf0.01")
WORKLOADS = ("siri_backlog", "siri_live")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
MARK = "PERFBENCH_RESULT "

JVM_OPTS = [
    "--add-opens=java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
] + ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=warning:stderr",
       "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, and this script, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.abspath(__file__)]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build (or reuse) the library and the benchmark; return the classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    fp = fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got = json.load(fh)
        if got.get("fingerprint") == fp:
            return got["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspathAsJars"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                           stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in p.stdout:
        die("build failed; see .bench_build/build.log")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cp}, fh)
    print("perfbench: built in %.1f s" % (time.time() - t0), file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("no library sources next to the benchmark (expected build.sbt and "
            "src/main/scala/graft at the repository root)")
    if not os.path.isdir(CORPUS):
        die("corpus tables missing: " + CORPUS)
    cp = classpath()

    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(BUILD, "work", "%s-%d" % (tag, os.getpid()))
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    trace_out = os.path.join(BUILD, "trace", tag + ".json")
    cmd = ["java"] + JVM_OPTS + [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-Dderby.system.home=" + work,
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--corpus", CORPUS, "--trace-out", trace_out]
    out = ""
    try:
        with open(os.path.join(BUILD, "logs", tag + ".log"), "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                    stdin=subprocess.DEVNULL, text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                die("workload exceeded %d s; see .bench_build/logs/%s.log" % (RUN_TIMEOUT_S, tag))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    notes = [l for l in out.splitlines() if not l.startswith(MARK)]
    results = [l[len(MARK):] for l in out.splitlines() if l.startswith(MARK)]
    if len(results) != 1 or proc.returncode != 0:
        die("JVM exited %d with %d results; see .bench_build/logs/%s.log"
            % (proc.returncode, len(results), tag))
    result = json.loads(results[0])
    for l in notes:
        print(l)

    # tracing overhead: this traced run against the untraced run of the
    # same workload and seed, when one has been made in this checkout
    saved = os.path.join(BUILD, "results", "%s-seed%d-trace0.json" % (a.workload, a.seed))
    if a.trace == 0:
        os.makedirs(os.path.dirname(saved), exist_ok=True)
        with open(saved, "w") as fh:
            json.dump(result, fh)
    elif os.path.exists(saved):
        with open(saved) as fh:
            base = json.load(fh)["metrics"]["op_s_p50"]["value"]
        traced = result["metrics"]["traced.op_s_p50"]["value"]
        print("tracing overhead: op_s_p50 traced %.4f s vs untraced %.4f s (%+.1f%%)"
              % (traced, base, 100.0 * (traced / base - 1.0)))

    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
