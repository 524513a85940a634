#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The first run in a checkout builds the program and the benchmark with sbt
(offline) and caches the classpath under perfbench/.out/; later runs start
the JVM directly. Everything the benchmark writes stays under perfbench/.out/.
Exits non-zero without a result when the program sources are missing, the
build fails, or the run fails or overruns.
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
OUT = os.path.join(HERE, ".out")
WORKLOADS = ("batch_planted", "batch_skewed")
DEADLINE_S = 175  # the whole run, build excluded
BUILD_TIMEOUT_S = 800


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_hash():
    """Content hash of every file the build reads, so any edit rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
    files = []
    for r in roots:
        if os.path.isfile(r):
            files.append(r)
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return (classpath, JVM options)."""
    cp_file, stamp_file = os.path.join(OUT, "classpath.txt"), os.path.join(OUT, "build.stamp")
    opts_file = os.path.join(HERE, "target", "jvm-options.txt")
    stamp = source_hash()
    cached = all(os.path.exists(f) for f in (cp_file, stamp_file, opts_file))
    if cached and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), open(opts_file).read().split()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile)")
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "jvmOptionsFile", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    sys.stderr.write("\n".join(lines[:-1]) + "\n")
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed (sbt exit {p.returncode})")
    os.makedirs(OUT, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1], open(opts_file).read().split()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"program sources not found under {ROOT}; run from a full checkout")
    cp, jvm_opts = build()

    t0 = time.monotonic()
    for d in ("tmp", "spark-local", "work"):
        shutil.rmtree(os.path.join(OUT, d), ignore_errors=True)
        os.makedirs(os.path.join(OUT, d))
    with open(os.path.join(HERE, "expected_hashes.json")) as f:
        expected = json.load(f).get(a.workload, {}).get(str(a.seed))

    cmd = ["java", *jvm_opts, f"-Djava.io.tmpdir={OUT}/tmp",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
           "-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace, "--root", OUT]
    if expected:
        cmd += ["--expect-hash", expected]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(OUT, "spark-local"))
    p = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    # a stopped benchmark stops its JVM too
    signal.signal(signal.SIGTERM, lambda *_: (p.kill(), p.wait(), sys.exit(143)))
    try:
        out, _ = p.communicate(timeout=max(10.0, DEADLINE_S - (time.monotonic() - t0)))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail("benchmark run overran its deadline", 3)
    lines = out.splitlines()
    if lines[:-1]:
        sys.stderr.write("\n".join(lines[:-1]) + "\n")
    if p.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {p.returncode}", 3)
    result = json.loads(lines[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
