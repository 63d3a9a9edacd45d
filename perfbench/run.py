#!/usr/bin/env python3
"""Request-level benchmark of the search engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine and the benchmark driver from source with
sbt (into target/ and .bench_build/); later runs reuse that build while the
sources are unchanged. Each run starts one JVM with a local Spark session on
every core of the machine, builds the workload's inputs from the seed,
measures for the given seconds, checks every output, and prints one JSON
line as the last line of standard output. It exits non-zero when a check
fails or the run cannot be made.
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 needs these outside spark-submit (the engine's build
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("error: " + msg)
    sys.exit(code)


def source_files():
    """Every file the build reads, engine and benchmark."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, dirnames, filenames in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, f) for f in sorted(filenames)]
    return files


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build():
    """Compiles engine and driver; returns the driver's classpath."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and driver with sbt")
    t0 = time.time()
    try:
        code, out = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("built in %.0f s" % (time.time() - t0))
    return lines[-1]


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"], [w["name"] for w in spec["workloads"]]


def main():
    # a terminated run stops its JVM too (run_bounded kills the group)
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda signum, frame: sys.exit(128 + signum))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--heap", default="3g", help="driver JVM heap (-Xmx)")
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("%s is missing: run from the root of a full checkout" % need)
    metrics, workloads = expected_metrics(args.trace)
    if args.workload not in workloads:
        fail("unknown workload %r; known: %s" % (args.workload, ", ".join(workloads)))

    classpath = build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_build", "work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-Xms" + args.heap, "-Xmx" + args.heap, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.callstack.depth=64"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--cores", str(cores)]
    log("workload %s, seed %d, %g s, trace %d, local[%d], heap %s"
        % (args.workload, args.seed, args.seconds, args.trace, cores, args.heap))
    try:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=work, stdout=subprocess.PIPE,
                                stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        fail("run timed out after %d s" % RUN_TIMEOUT_S, 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        fail("the driver printed no result (exit code %d)" % code, 3)
    result = json.loads(lines[-1])
    want = [m["name"] for m in metrics]
    if sorted(result["metrics"]) != sorted(want):
        fail("metrics differ from BENCHMARK.json: missing %s, extra %s" % (
            sorted(set(want) - set(result["metrics"])), sorted(set(result["metrics"]) - set(want))), 3)
    for m in metrics:
        if result["metrics"][m["name"]]["unit"] != m["unit"]:
            fail("metric %s has unit %s, BENCHMARK.json says %s"
                 % (m["name"], result["metrics"][m["name"]]["unit"], m["unit"]), 3)
    print(json.dumps(result), flush=True)
    sys.exit(code if code != 0 or result["correct"] else 1)


if __name__ == "__main__":
    main()
