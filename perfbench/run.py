#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <knn|ingest_curate> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
benchmark from source with sbt (offline) and keeps a private copy of their
classes with the launch classpath under perfbench/target/launch/; later
runs start the benchmark JVM directly from that copy. The build is redone
whenever a source or build file, or SPARK_DRIVER_MEM (the heap size the
library's build passes to the JVM), changes. With --trace 1
the per-layer file is written to .bench_build/traces/.
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
LAUNCH = os.path.join(HERE, "target", "launch", "launch.txt")
STAMP = os.path.join(HERE, "target", "launch", "stamp")
WORKLOADS = ("knn", "ingest_curate")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_hash():
    """Hash of every input of the build: both builds' files and sources,
    and the environment the root build reads its JVM options from."""
    h = hashlib.sha256()
    h.update(f"SPARK_DRIVER_MEM={os.environ.get('SPARK_DRIVER_MEM', '')}\n".encode())
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt and write the launch file, unless it is current."""
    want = source_hash()
    if os.path.isfile(LAUNCH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("no library build at the repository root; nothing to benchmark")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    if os.path.isfile(STAMP):
        os.remove(STAMP)
    print("# building library and benchmark with sbt", file=sys.stderr)
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"],
                   HERE, env, BUILD_TIMEOUT_S, sys.stderr)
    if rc != 0 or not os.path.isfile(LAUNCH):
        fail(f"build failed (exit {rc})")
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")


def run_child(cmd, cwd, env, timeout, out):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    # a terminated runner takes its child down with it (run_child's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    build()
    with open(LAUNCH) as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    classpath, jvm_opts = lines[0], lines[1:]

    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    env.pop("SPARK_GRAFT_CPUS", None)
    cmd = ["java", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", *jvm_opts,
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--work", os.path.join(work, "state")]
    if a.trace == "1":
        cmd += ["--trace-out", os.path.join(BUILD, "traces", f"{a.workload}_seed{a.seed}.json")]
    out_path = os.path.join(work, "stdout.txt")
    t0 = time.time()
    try:
        with open(out_path, "w") as out:
            rc = run_child(cmd, work, env, RUN_TIMEOUT_S, out)
        with open(out_path) as fh:
            out_lines = fh.read().splitlines()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for ln in out_lines[:-1]:
        print(ln)
    if rc != 0:
        fail(f"benchmark exited {rc} after {time.time() - t0:.0f} s")
    try:
        result = json.loads(out_lines[-1])
    except (IndexError, ValueError):
        fail("benchmark printed no result line")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
