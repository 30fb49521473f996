#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source, runs one workload.

    python3 perfbench/run.py --workload handler|analytics --seed N \
        --seconds S --trace 0|1

Run it from the repository root. The first run in a checkout builds the
program and the benchmark with sbt (offline) and records the runtime
classpath; later runs reuse that build until a source file changes. Each
run then starts one JVM on local[nproc] that generates the workload's
inputs from the seed, warms up, runs ops back to back for the given
seconds, checks every op's outputs and prints one JSON result line last on
stdout (see perfbench/src/main/scala/perfbench/Main.scala).

Environment:
  CARGO_TARGET_DIR       build and scratch directory (default .bench_build)
  SPARK_GRAFT_TESTDATA   directory holding sf0.1/ and sf0.01/
                         (default: testdata/ under the home directory,
                         the layout TESTDATA.md describes)

`--pin FILE` runs the warm-up op only and appends its outputs to FILE in
the format of perfbench/src/main/resources/perfbench/pins.tsv.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(build_dir):
    """Compiles program + benchmark unless the recorded build is current;
    returns the runtime classpath."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["PERFBENCH_CLASSPATH_FILE"] = cp_file
    opts = ["-Dsbt.offline=true", "-Xmx3g",
            "-Dsbt.global.base=" + os.path.join(build_dir, "sbt-global"),
            "-Dsbt.ivy.home=" + os.path.join(build_dir, "ivy2"),
            "-Djava.io.tmpdir=" + os.path.join(build_dir, "tmp"),
            "-Dsbt.server.forcestart=false", "-XX:-UsePerfData"]
    os.makedirs(os.path.join(build_dir, "tmp"), exist_ok=True)
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    print("[perfbench] building program and benchmark with sbt", file=sys.stderr)
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    if proc.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed (sbt exit {proc.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read().strip()


def run_jvm(classpath, build_dir, work, data, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += [
        # a fixed, pre-touched heap: page faults on fresh heap pages land
        # in set-up, not in the timed ops
        "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        "-Djava.io.tmpdir=" + tmp,
        "-Dderby.system.home=" + os.path.join(work, "derby"),
        "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--data", data,
    ]
    if args.pin:
        cmd += ["--pin", os.path.abspath(args.pin)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["handler", "analytics"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", default=None)
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"program source {need} not found next to the benchmark")
    data = os.environ.get("SPARK_GRAFT_TESTDATA",
                          os.path.join(os.path.expanduser("~"), "testdata"))
    for sf in ("sf0.1", "sf0.01"):
        if not os.path.isdir(os.path.join(data, sf)):
            fail(f"test data {os.path.join(data, sf)} not found")
    build_dir = os.path.abspath(os.path.join(
        ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(build_dir)

    work = os.path.join(build_dir, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code, out = run_jvm(classpath, build_dir, work, data, args)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if args.pin:
        sys.exit(code)
    if code != 0 or not lines:
        fail(f"benchmark JVM exited {code} without a result")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
