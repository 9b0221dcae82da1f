#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine in this checkout.

    python3 perfbench/run.py --workload vis_session --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark driver with sbt (perfbench/build.sbt) into the checkout and
caches the classpath under .bench_build/; later runs start the JVM
directly. The last line of standard output is one JSON object with
`correct`, `attempted`, `failed` and `metrics`; the exit code is 0 only
when every operation and output check passed.

Once per build, before the first workload run, the golden search check
(Engine.search on the bundled customer table against RecommendGolden)
runs in a JVM of its own; its verdict is kept with the build and every
run of that build counts it as one output check.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("vis_session", "batch")
RUN_TIMEOUT_S = 170
GOLDEN_TIMEOUT_S = 200
BUILD_TIMEOUT_S = 480
DRIVER_HEAP = "3g"

# Spark 4 on JDK 17 needs these when a session starts outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def build_key():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_bounded(cmd, cwd, timeout, log, env=None):
    """Runs cmd in its own process group, output to `log`; kills the whole
    group on timeout and waits for it. Returns (exit code, stdout)."""
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=err,
                             env=env, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            return None, ""
    return p.returncode, out


def build(key):
    """Compiles the engine and the driver once per source state and
    returns the runtime classpath."""
    cp_file = os.path.join(BUILD, f"classpath-{key}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # resolve from the local caches only, as the engine's own build does
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true")
    log = os.path.join(BUILD, "build.log")
    code, out = run_bounded(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BENCH, BUILD_TIMEOUT_S, log, env)
    lines = [l for l in out.splitlines() if l and not l.startswith("[")]
    if code != 0 or not lines:
        die(f"build failed (exit {code}); see {log}", 1)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("perfbench", "build.sbt")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"run from the repository root: {need} is missing")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)

    key = build_key()
    cp = build(key)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    work = os.path.join(BUILD, f"work-{key}")
    jvm = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{DRIVER_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
        "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main",
        "--data", os.path.join(BENCH, "data", "sf0.01"), "--work", work]
    if not os.path.exists(os.path.join(work, "golden.verdict")):
        log = os.path.join(BUILD, "logs", "golden.log")
        code, _ = run_bounded(jvm + ["--golden", "1"], ROOT, GOLDEN_TIMEOUT_S, log)
        if code != 0:
            die(f"golden search check did not finish (exit {code}); see {log}", 1)
    cmd = jvm + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--pins", os.path.join(BENCH, "data", "batch.pins"),
    ]
    log = os.path.join(BUILD, "logs", f"{a.workload}-{a.seed}-{a.trace}.log")
    t0 = time.time()
    code, out = run_bounded(cmd, ROOT, RUN_TIMEOUT_S, log)
    lines = out.rstrip("\n").splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if code is None:
        die(f"{a.workload} exceeded {RUN_TIMEOUT_S} s; see {log}", 1)
    if result is None or not {"correct", "attempted", "failed", "metrics"} <= set(result):
        sys.stdout.write(out)
        die(f"{a.workload} printed no result (exit {code}, {time.time() - t0:.0f} s); see {log}", 1)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(0 if code == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
