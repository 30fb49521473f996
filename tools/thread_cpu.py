#!/usr/bin/env python3
"""CPU seconds per JVM thread class over one benchmark run.

    python3 tools/thread_cpu.py [--interval 0.2] -- \
        python3 perfbench/run.py --workload handler --seed 2 --seconds 5 --trace 0

Starts the command as a child, finds the benchmark JVM among the child's
descendants (the process whose command line names `perfbench.Main`) and
reads `/proc/<jvm>/task/*/stat` every `--interval` seconds until it exits.
Each thread's user+system CPU goes to one class by its name:

    C2        "C2 CompilerThread*"  (the optimizing JIT)
    C1        "C1 CompilerThread*"
    GC        "GC Thread*", "G1 *"
    executor  "Executor task launch worker*" (Spark task threads)
    main      the driver's main thread (the launcher starts it under the
              process name, "java")
    other     everything else

It reads only the /proc entries of its own child's process tree. The
child's stdout passes through; its stderr passes through as well, and the
tool notes when the benchmark's report lines arrive, to cut the run into
windows:

    run      the JVM's whole life;
    ops      the warm-up op and the timed ops: the `warm-up op` seconds
             plus the `untraced op_s` seconds, ending when the report
             arrives;
    timed    the timed ops alone: the `untraced op_s` seconds ending when
             the report arrives.

The report is printed after the last op's output check, so both windows
end up to one check late (well under a second for either workload) and
start that much late too. A thread that ends between two samples loses at
most one interval of CPU. Prints one line per window: its wall seconds,
each class's CPU seconds, the total, and the busy cores (total / wall).
"""
import argparse
import os
import re
import subprocess
import sys
import threading
import time

CLASSES = ("C2", "C1", "GC", "executor", "main", "other")
TICK = os.sysconf("SC_CLK_TCK")


def classify(name):
    if name.startswith("C2 Compiler"):
        return "C2"
    if name.startswith("C1 Compiler"):
        return "C1"
    if name.startswith("GC Thread") or name.startswith("G1 "):
        return "GC"
    if name.startswith("Executor task"):
        return "executor"
    if name in ("main", "java"):
        return "main"
    return "other"


def read(path):
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return ""


def descendants(pid):
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for t in os.listdir(f"/proc/{p}/task") if os.path.isdir(f"/proc/{p}/task") else []:
            kids = [int(k) for k in read(f"/proc/{p}/task/{t}/children").split()]
            out += kids
            todo += kids
    return out


def find_jvm(pid):
    for d in descendants(pid):
        if "perfbench.Main" in read(f"/proc/{d}/cmdline").replace("\0", " "):
            return d
    return None


def thread_cpu(jvm):
    """{tid: (name, cpu seconds)} of the JVM's live threads."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{jvm}/task")
    except OSError:
        return out
    for tid in tids:
        stat = read(f"/proc/{jvm}/task/{tid}/stat")
        if not stat:
            continue
        lp, rp = stat.index("("), stat.rindex(")")
        name = stat[lp + 1:rp]
        fields = stat[rp + 2:].split()
        # fields[0] is the state (stat field 3): utime and stime are
        # stat fields 14 and 15
        out[tid] = (name, (int(fields[11]) + int(fields[12])) / TICK)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--interval", type=float, default=0.2)
    ap.add_argument("command", nargs=argparse.REMAINDER)
    args = ap.parse_args()
    cmd = args.command[1:] if args.command[:1] == ["--"] else args.command
    if not cmd:
        ap.error("no command given")

    child = subprocess.Popen(cmd, stderr=subprocess.PIPE, text=True)
    marks = {}

    def pump():
        for line in child.stderr:
            sys.stderr.write(line)
            now = time.monotonic()
            m = re.search(r"warm-up op ([0-9.]+) s", line)
            if m:
                marks["warm"] = float(m.group(1))
            m = re.search(r"untraced op_s: .* all=([0-9.,]*)", line)
            if m:
                marks["ops"] = sum(float(x) for x in m.group(1).split(",") if x)
                marks["report"] = now
    reader = threading.Thread(target=pump, daemon=True)
    reader.start()

    jvm, seen, samples = None, {}, []
    while child.poll() is None:
        if jvm is None:
            jvm = find_jvm(child.pid)
            if jvm is not None:
                samples.append((time.monotonic(), dict.fromkeys(CLASSES, 0.0)))
        if jvm is not None:
            for tid, (name, cpu) in thread_cpu(jvm).items():
                seen[tid] = (classify(name), cpu)
            sums = dict.fromkeys(CLASSES, 0.0)
            for cls, cpu in seen.values():
                sums[cls] += cpu
            samples.append((time.monotonic(), sums))
        time.sleep(args.interval)
    reader.join()
    if not samples:
        sys.exit(f"[thread_cpu] no perfbench.Main JVM seen; command exited {child.returncode}")

    def at(t):
        """The last sample at or before `t` (the first, all zero, if none)."""
        best = samples[0]
        for s in samples:
            if s[0] <= t:
                best = s
        return best

    def line(label, t0, t1):
        (a, s0), (b, s1) = at(t0), at(t1)
        cpu = {c: s1[c] - s0[c] for c in CLASSES}
        total = sum(cpu.values())
        wall = b - a
        cols = " ".join(f"{c}={cpu[c]:.2f}" for c in CLASSES)
        busy = total / wall if wall > 0 else float("nan")
        print(f"[thread_cpu] {label:<5} wall_s={wall:.2f} {cols} "
              f"total={total:.2f} busy_cores={busy:.2f}")

    print(f"[thread_cpu] {' '.join(cmd)}")
    line("run", samples[0][0], samples[-1][0])
    if "report" in marks:
        end = marks["report"]
        line("ops", end - marks["ops"] - marks.get("warm", 0.0), end)
        line("timed", end - marks["ops"], end)
    sys.exit(child.returncode)


if __name__ == "__main__":
    main()
