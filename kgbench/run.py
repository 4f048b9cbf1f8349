#!/usr/bin/env python3
"""Paper-path benchmark for graft: seeded page tables through
KgPipeline.run and writeRdfXml.

    python3 kgbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Run from the root of a source checkout. The first run builds the
benchmark (its own sbt build in kgbench/, which compiles the graft
sources one directory up) and caches the classpath under .bench_build/,
keyed by a hash of every source and build file; later runs start the
JVM directly. The last line of standard output is the JSON result.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("crawl_sparse", "rdf_dense")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"


def add_opens():
    """JVM module opens Spark needs outside spark-submit, shared with build.sbt."""
    with open(os.path.join(HERE, "add-opens.txt")) as fh:
        return [x for l in fh if l.strip() for x in ("--add-opens", f"{l.strip()}=ALL-UNNAMED")]


def fail(msg):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: both build definitions and all sources."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group; on timeout kill the group."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out


def classpath():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("not a graft source checkout: build.sbt or src/main is missing at the root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    os.makedirs(CACHE, exist_ok=True)
    fp = fingerprint()
    stamp = os.path.join(CACHE, "classpath.txt")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            old_fp, cp = fh.read().split("\n", 1)
        if old_fp == fp:
            return cp.strip()
    print("kgbench: building", file=sys.stderr)
    tmp = os.path.join(CACHE, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SBT_OPTS=os.environ.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp}")
    try:
        code, out = run_child(
            ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
             "export kgbench/Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.decode().splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out.decode())
        fail(f"build failed (exit {code})")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        fh.write(fp + "\n" + cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    cp = classpath()
    work = os.path.join(CACHE, "work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # fixed generation sizes (no adaptive resizing between collections)
    # keep what is promoted, and so peak_heap_mb, alike from run to run;
    # JIT thresholds at a quarter let one warm-up run bring the JVM close
    # to its steady state, which the timed runs' spread needs
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
            "-XX:CompileThresholdScaling=0.25", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + add_opens()
           + ["-cp", cp, "kgbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", work])
    try:
        code, _ = run_child(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
