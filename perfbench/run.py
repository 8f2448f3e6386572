#!/usr/bin/env python3
"""Benchmark runner: builds the library and the benchmark program from source
(once per source state), then runs one workload in a fresh JVM.

Usage, from the repository root:

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 5 --trace 0

The last line of standard output is the result JSON. Everything the run
writes stays inside the checkout: build outputs under the sbt `target`
directories, scratch data under `.bench_work/` (deleted when the run ends).
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ("kg_build", "dedup_batch")
BENCH_DIR = "perfbench"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 175
JVM_HEAP = "3g"

# The module opens Spark needs on JDK 17 when started outside spark-submit
# (the same list as the root build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Digest of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256(os.path.abspath(root).encode())
    inputs = [os.path.join(root, "build.sbt"),
              os.path.join(root, "project", "build.properties"),
              os.path.join(root, BENCH_DIR, "build.sbt"),
              os.path.join(root, BENCH_DIR, "project", "build.properties")]
    for tree in (os.path.join(root, "src", "main"), os.path.join(root, BENCH_DIR, "src")):
        for d, dirs, files in os.walk(tree):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root):
    """Compiles library + benchmark with sbt; returns the runtime classpath."""
    meta_dir = os.path.join(root, BENCH_DIR, "target")
    meta = os.path.join(meta_dir, "perfbench-classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(meta):
        with open(meta) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=os.path.join(root, BENCH_DIR), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        print("\n".join(lines[-40:]), file=sys.stderr)
        fail(f"build failed (sbt exit {proc.returncode})")
    cp = lines[-1].strip()
    os.makedirs(meta_dir, exist_ok=True)
    with open(meta, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    # the benchmark measures the library in this checkout; without its
    # sources there is nothing to measure
    data = os.path.join(root, BENCH_DIR, "data", "sf0.1")
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join(data, "documents.parquet")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"library source '{need}' not found under {root}; "
                 "run from the root of a full checkout")

    cp = build(root)
    work = os.path.join(root, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--data", data])
    log_path = os.path.join(root, ".bench_work", f"run-{os.getpid()}.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=root, stdin=subprocess.DEVNULL,
                                    stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        lines = [l for l in out.splitlines() if l.strip()]
        if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
            with open(log_path) as log:
                tail = log.read().splitlines()[-40:]
            print("\n".join(lines + tail), file=sys.stderr)
            fail(f"benchmark JVM exited with {proc.returncode}", 1)
        for l in lines:
            print(l)
        sys.stdout.flush()
        if '"correct": true' not in lines[-1]:
            sys.exit(1)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(log_path):
            os.remove(log_path)
        try:
            os.rmdir(os.path.join(root, ".bench_work"))
        except OSError:
            pass


if __name__ == "__main__":
    main()
