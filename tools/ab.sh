#!/usr/bin/env bash
# Interleaved A/B of one perfbench workload: a base revision against the
# working tree.
#
#   tools/ab.sh <workload> [pairs=10] [base-rev=HEAD] [first-seed=1]
#
# Run from the repository root. The base revision is exported with
# `git archive` into a scratch directory (AB_DIR, default a fresh
# mktemp -d; nothing is written to .git). Pair i runs
# `perfbench/run.py --workload <w> --seed <first-seed + i> --seconds <s>`
# once in each tree, <s> being BENCHMARK.json's run_seconds; base
# first on even pairs and the working tree first on odd ones, so drift
# on the host hits both sides alike. Each side builds from its own
# sources on its first run.
#
# Prints, per end-to-end metric of BENCHMARK.json: each side's median
# and quartiles, the median of the per-pair differences (change - base)
# and on how many pairs the change was better. A run that fails or
# fails its output check is reported and left out of the statistics.
# The raw per-run JSON lines go to <AB_DIR>/runs.jsonl. perfbench/ is
# only called, never edited.
set -euo pipefail

workload=${1:?usage: tools/ab.sh <workload> [pairs] [base-rev] [first-seed]}
pairs=${2:-10}
base_rev=${3:-HEAD}
first_seed=${4:-1}

root=$(pwd)
[ -f "$root/perfbench/run.py" ] || { echo "run from the repository root" >&2; exit 2; }
seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$root/BENCHMARK.json")
ab_dir=${AB_DIR:-$(mktemp -d)}
base="$ab_dir/base"
rm -rf "$base"
mkdir -p "$base"
git -C "$root" archive "$base_rev" | tar -x -C "$base"
runs="$ab_dir/runs.jsonl"
: > "$runs"
echo "base $(git -C "$root" rev-parse --short "$base_rev") in $base; change: working tree" >&2

run_side() { # side dir seed
  local side=$1 dir=$2 seed=$3 line
  line=$(cd "$dir" && python3 perfbench/run.py --workload "$workload" \
    --seed "$seed" --seconds "$seconds" --trace 0 2>/dev/null | tail -n 1) || true
  python3 - "$side" "$seed" "$line" >> "$runs" <<'EOF'
import json, sys
side, seed, line = sys.argv[1], int(sys.argv[2]), sys.argv[3]
try:
    r = json.loads(line)
except ValueError:
    r = {"correct": False, "metrics": {}}
print(json.dumps({"side": side, "seed": seed, "correct": bool(r.get("correct")),
                  "metrics": {k: v["value"] for k, v in r.get("metrics", {}).items()}}))
EOF
  echo "pair seed $seed: $side done" >&2
}

for ((i = 0; i < pairs; i++)); do
  seed=$((first_seed + i))
  if ((i % 2 == 0)); then
    run_side base "$base" "$seed"; run_side change "$root" "$seed"
  else
    run_side change "$root" "$seed"; run_side base "$base" "$seed"
  fi
done

python3 - "$runs" "$root/BENCHMARK.json" <<'EOF'
import json, statistics, sys
runs = [json.loads(l) for l in open(sys.argv[1])]
declared = json.load(open(sys.argv[2]))["end_to_end"]
bad = [r for r in runs if not r["correct"]]
for r in bad:
    print("FAILED: %s seed %d" % (r["side"], r["seed"]))
ok = {(r["side"], r["seed"]): r["metrics"] for r in runs if r["correct"]}
seeds = sorted({s for _, s in ok if ("base", s) in ok and ("change", s) in ok})

def quart(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return q[0], statistics.median(xs), q[2]

print("%d complete pairs (seeds %s)" % (len(seeds), ",".join(map(str, seeds))))
print("%-20s %-30s %-30s %-12s %s" % ("metric", "base median [q1, q3]",
                                      "change median [q1, q3]", "median diff", "change better"))
for m in declared:
    name, lower = m["name"], m["better"] == "lower"
    b = [ok[("base", s)][name] for s in seeds]
    c = [ok[("change", s)][name] for s in seeds]
    if not seeds:
        continue
    diffs = [y - x for x, y in zip(b, c)]
    wins = sum((y < x) if lower else (y > x) for x, y in zip(b, c))
    bq, cq = quart(b), quart(c)
    print("%-20s %9.4g [%9.4g, %9.4g] %9.4g [%9.4g, %9.4g] %+12.4g %d/%d" % (
        name, bq[1], bq[0], bq[2], cq[1], cq[0], cq[2],
        statistics.median(diffs), wins, len(seeds)))
EOF
