#!/usr/bin/env bash
# Paired A/B run of the repository benchmark: a parent revision against
# the working tree.
#
#   tools/ab_bench.sh <parent-rev> <workload> <pairs> <seed>
#
# Exports <parent-rev> (git archive) and the working tree (tracked and
# untracked files, ignored ones left out) into two fresh directories under
# ${TMPDIR:-/tmp}; the repository's own git metadata is not touched. Then
# runs <pairs> pairs of
#
#   python3 perfbench/run.py --workload <workload> --seed <seed> --seconds 5 --trace 0
#
# one in each copy, switching which side goes first every pair. Each copy
# builds its own program on its first run (into its own .bench_build), so
# the first pair also pays two builds; the timed metrics are measured
# inside the benchmark JVM and do not include them.
#
# Prints every raw result line as it arrives, then for op_cpu_s, setup_s
# and op_s each side's median and quartiles and the number of pairs the
# change won (lower wins; a tie counts for neither side), and the number
# of runs that were not correct or had failed ops. op_s is the median wall
# time of a run's untraced ops, read from the `untraced op_s` line of
# the run's stderr (kept next to the results as <side>.pair<n>.err).
# perfbench/ and BENCHMARK.json are only read.
set -euo pipefail

if [ $# -ne 4 ]; then
  echo "usage: $0 <parent-rev> <workload> <pairs> <seed>" >&2
  exit 2
fi
rev=$1 workload=$2 pairs=$3 seed=$4
repo=$(git rev-parse --show-toplevel)
base=$(mktemp -d "${TMPDIR:-/tmp}/ab.XXXXXX")
mkdir "$base/parent" "$base/change"
git -C "$repo" archive "$rev" | tar -x -C "$base/parent"
(cd "$repo" && git ls-files -z --cached --others --exclude-standard \
  | tar -cf - --ignore-failed-read --no-recursion --null -T -) \
  | tar -x -C "$base/change"
echo "[ab] parent $(git -C "$repo" rev-parse --short "$rev") and working tree in $base" >&2

results="$base/results.tsv"
: > "$results"
run() { # side pair
  local out
  out=$(cd "$base/$1" && python3 perfbench/run.py --workload "$workload" \
    --seed "$seed" --seconds 5 --trace 0 2>"$base/$1.pair$2.err" | tail -n 1) \
    || out='{"correct": false, "attempted": 0, "failed": 0, "metrics": {}}'
  printf '%s\t%s\t%s\n' "$2" "$1" "$out" | tee -a "$results"
}
for ((i = 1; i <= pairs; i++)); do
  if ((i % 2)); then run parent "$i"; run change "$i"
  else run change "$i"; run parent "$i"; fi
done

python3 - "$results" "$base" <<'EOF'
import json, os, re, statistics, sys

runs = {}
for line in open(sys.argv[1]):
    pair, side, raw = line.rstrip("\n").split("\t", 2)
    runs[(int(pair), side)] = json.loads(raw)
    # the untraced ops' median wall time, from the run's own report
    err = os.path.join(sys.argv[2], f"{side}.pair{pair}.err")
    m = re.search(r"untraced op_s: .*median=([0-9.]+)",
                  open(err).read() if os.path.exists(err) else "")
    if m:
        runs[(int(pair), side)].setdefault("metrics", {})["op_s"] = {
            "value": float(m.group(1)), "unit": "s"}
pairs = sorted({p for p, _ in runs})
bad = [f"pair {p} {s}" for (p, s), r in sorted(runs.items())
       if not r.get("correct") or r.get("failed", 0)]
print(f"[ab] {len(pairs)} pairs; runs not correct or with failed ops: "
      f"{', '.join(bad) or 'none'}")

def metric(r, name):
    return r.get("metrics", {}).get(name, {}).get("value")

for name in ("op_cpu_s", "setup_s", "op_s"):
    line = [name]
    for side in ("parent", "change"):
        xs = sorted(v for p in pairs
                    if (v := metric(runs.get((p, side), {}), name)) is not None)
        if len(xs) >= 2:
            q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
            line.append(f"{side} median {med:.3f} q1 {q1:.3f} q3 {q3:.3f} (n={len(xs)})")
        else:
            line.append(f"{side} n={len(xs)}")
    won = lost = 0
    for p in pairs:
        a = metric(runs.get((p, "parent"), {}), name)
        b = metric(runs.get((p, "change"), {}), name)
        if a is None or b is None:
            continue
        won += b < a
        lost += b > a
    line.append(f"change won {won} of {len(pairs)} pairs (lost {lost})")
    print("[ab] " + "; ".join(line))
EOF
