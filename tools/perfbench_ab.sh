#!/bin/bash
# A/B protocol for a performance change: interleaved, untraced perfbench
# runs of a base commit and of the working tree, the same seed per pair.
#
# Usage:
#   tools/perfbench_ab.sh <base_ref> <workload> <pairs> [first_seed]
#   e.g. tools/perfbench_ab.sh HEAD~1 stmt_mix 10 1
#
# Both sides are exported with `git archive` into fresh temp directories:
# the base from <base_ref>, the change from the working tree as it is now
# (tracked edits and new files not ignored by .gitignore), so editing the
# checkout while the runs go on does not move either side. Each side is
# built once before the first pair. Pair i runs seed first_seed + i on
# both sides, the base first on even i and the change first on odd i,
# each with `perfbench/run.py --trace 0 --seconds 25`. Every run's result
# line is printed with its host lines (CPU canary, steal share: a run
# that other guests slowed shows there), then, per end-to-end metric of
# BENCHMARK.json, each side's median and quartiles and the number of
# pairs the change won (ties count for neither side). The temp
# directories are deleted at exit.
set -euo pipefail
BASE_REF="${1:?usage: perfbench_ab.sh <base_ref> <workload> <pairs> [first_seed]}"
WORKLOAD="${2:?need a workload: stmt_mix or batch_board}"
PAIRS="${3:?need the number of pairs}"
FIRST_SEED="${4:-1}"
SECONDS_PER_RUN=25
REPO="$(git rev-parse --show-toplevel)"

WORK="$(mktemp -d -t perfbench-ab-XXXXXX)"
trap 'rm -rf "$WORK"' EXIT
mkdir -p "$WORK/base" "$WORK/change"

git -C "$REPO" archive "$(git -C "$REPO" rev-parse "$BASE_REF^{commit}")" | tar -x -C "$WORK/base"
# the working tree as a tree object, through a throwaway index: the
# checkout's own index is left as it is
GIT_INDEX_FILE="$WORK/index" git -C "$REPO" read-tree HEAD
GIT_INDEX_FILE="$WORK/index" git -C "$REPO" add -A
git -C "$REPO" archive "$(GIT_INDEX_FILE="$WORK/index" git -C "$REPO" write-tree)" | tar -x -C "$WORK/change"

for side in base change; do
  echo "[ab] building $side" >&2
  (cd "$WORK/$side" && python3 -c 'import sys; sys.path.insert(0, "perfbench"); import run; run.build()')
done

run_one() {  # $1=side $2=seed
  local out="$WORK/$1-$2.txt"
  (cd "$WORK/$1" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$2" \
      --seconds "$SECONDS_PER_RUN" --trace 0 > "$out" 2>&1) || true
  local line
  line="$(tail -n 1 "$out")"
  case "$line" in
    "{"*) echo "$1 seed=$2 $line" | tee -a "$WORK/results.txt"
          grep -h '^host ' "$out" | sed "s/^/  $1 seed=$2 /" || true ;;
    *) echo "[ab] $1 seed $2 failed:" >&2; tail -n 20 "$out" >&2; exit 1 ;;
  esac
}

for i in $(seq 0 $((PAIRS - 1))); do
  seed=$((FIRST_SEED + i))
  if [ $((i % 2)) -eq 0 ]; then run_one base "$seed"; run_one change "$seed"
  else run_one change "$seed"; run_one base "$seed"; fi
done

python3 - "$WORK/results.txt" "$REPO/BENCHMARK.json" <<'EOF'
import json, statistics, sys

runs = {"base": {}, "change": {}}
for line in open(sys.argv[1]):
    side, seed, js = line.split(" ", 2)
    runs[side][int(seed.split("=")[1])] = json.loads(js)
spec = json.load(open(sys.argv[2]))["end_to_end"]

def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3
    return q[0], q[1], q[2]

seeds = sorted(set(runs["base"]) & set(runs["change"]))
print(f"\n{len(seeds)} pairs, seeds {seeds[0]}-{seeds[-1]}")
for side in ("base", "change"):
    att = sum(runs[side][s]["attempted"] for s in seeds)
    bad = sum(runs[side][s]["failed"] for s in seeds)
    wrong = sum(not runs[side][s]["correct"] for s in seeds)
    print(f"{side:6s} failed {bad}/{att}, runs with a failed check: {wrong}")
print(f"{'metric':12s} {'base q1/med/q3':>26s} {'change q1/med/q3':>26s} {'med change':>11s} {'IQR base':>9s} wins")
for m in spec:
    name, lower = m["name"], m["better"] == "lower"
    b = [runs["base"][s]["metrics"][name]["value"] for s in seeds]
    c = [runs["change"][s]["metrics"][name]["value"] for s in seeds]
    wins = sum((y < x) if lower else (y > x) for x, y in zip(b, c))
    bq, cq = quartiles(b), quartiles(c)
    rel = (cq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
    fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
    print(f"{name:12s} {fmt(bq):>26s} {fmt(cq):>26s} {rel:+10.1%} {bq[2] - bq[0]:9.4g} {wins}/{len(seeds)}"
          f" ({'lower' if lower else 'higher'} is better)")
    print(f"  base   {' '.join(f'{v:.4g}' for v in b)}")
    print(f"  change {' '.join(f'{v:.4g}' for v in c)}")
EOF
