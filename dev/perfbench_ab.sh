#!/usr/bin/env bash
# Interleaved A/B of the benchmark between a parent commit and a change.
#
#   dev/perfbench_ab.sh <workload> [pairs=10] [first_seed=11]
#
# Exports BASE (default HEAD~1) and HEAD (default HEAD) with `git archive`
# into two scratch trees outside the repository, under AB_ROOT (default
# ${TMPDIR:-/tmp}/graft_perfbench_ab). A tree is reused while it holds
# the same commit, so its build, generated data and oracle cache carry
# over to the next workload. Each tree first gets one untimed run, which
# builds it and generates its inputs. Then the script runs `pairs` pairs
# of
#
#   python3 perfbench/run.py --workload W --seed S --seconds R --trace 0
#
# with R from BENCHMARK.json's run_seconds. Both sides of a pair use the
# same seed, and the side that runs first alternates from pair to pair.
# For every end-to-end metric BENCHMARK.json gates, it prints each side's
# median and quartiles, the ratio of the medians, the change's win count
# (ties count for neither side), and whether the gain rule holds: at
# least nine tenths of the pairs won and the medians further apart than
# the parent's interquartile range. Each run's last stdout line is kept
# in AB_ROOT/results/<workload>/.
set -euo pipefail

workload=${1:?usage: dev/perfbench_ab.sh <workload> [pairs] [first_seed]}
pairs=${2:-10}
seed0=${3:-11}
repo=$(git -C "$(dirname "$0")" rev-parse --show-toplevel)
root=${AB_ROOT:-${TMPDIR:-/tmp}/graft_perfbench_ab}
case "$root/" in
  "$repo"/*) echo "AB_ROOT must be outside the repository" >&2; exit 2 ;;
esac
seconds=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$repo/BENCHMARK.json")

# tree <side> <ref>: export <ref> to $root/<side> unless already there
tree() {
  local dir="$root/$1" sha
  sha=$(git -C "$repo" rev-parse "$2^{commit}")
  if [[ ! -f "$dir/.ab_commit" || $(cat "$dir/.ab_commit") != "$sha" ]]; then
    rm -rf "$dir"
    mkdir -p "$dir"
    git -C "$repo" archive "$sha" | tar -x -C "$dir"
    echo "$sha" > "$dir/.ab_commit"
  fi
  echo "[ab] $1 = ${sha:0:10} ($2)" >&2
}

out="$root/results/$workload"
# run <side> <seed>: one benchmark run, last stdout line to $out/<side>_<seed>.json
run() {
  local dir="$root/$1" line
  line=$(cd "$dir" && python3 perfbench/run.py --workload "$workload" --seed "$2" \
    --seconds "$seconds" --trace 0 2>"$out/$1_$2.log" | tail -n 1) || true
  echo "$line" > "$out/$1_$2.json"
  echo "[ab] $1 seed=$2 ${line:0:160}" >&2
}

mkdir -p "$root"
tree base "${BASE:-HEAD~1}"
tree head "${HEAD:-HEAD}"
rm -rf "$out"
mkdir -p "$out"
run base 0
run head 0
for ((i = 0; i < pairs; i++)); do
  seed=$((seed0 + i))
  if ((i % 2 == 0)); then run base "$seed"; run head "$seed"
  else run head "$seed"; run base "$seed"; fi
done

python3 - "$repo/BENCHMARK.json" "$out" "$seed0" "$pairs" <<'EOF'
import json, statistics, sys

bench, out, seed0, pairs = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
metrics = json.load(open(bench))["end_to_end"]

def load(side, seed):
    try:
        return json.load(open(f"{out}/{side}_{seed}.json"))
    except (OSError, ValueError):
        return None

runs = {s: [load(s, seed0 + i) for i in range(pairs)] for s in ("base", "head")}
for side, recs in runs.items():
    bad = [seed0 + i for i, r in enumerate(recs) if r is None or not r.get("correct")]
    failed = sum(r["failed"] for r in recs if r)
    attempted = sum(r["attempted"] for r in recs if r)
    print(f"{side}: {pairs - len(bad)}/{pairs} runs correct, "
          f"{failed} of {attempted} executions failed"
          + (f"; failed or missing runs at seeds {bad}" if bad else ""))

print(f"{'metric':18s} {'base q1/med/q3':>26s} {'head q1/med/q3':>26s} "
      f"{'head/base':>9s} {'wins':>6s}  gain rule  bound")
for m in metrics:
    name, lower = m["name"], m["better"] == "lower"
    pairs_ok = [(b["metrics"][name]["value"], h["metrics"][name]["value"])
                for b, h in zip(runs["base"], runs["head"])
                if b and h and name in b["metrics"] and name in h["metrics"]]
    if len(pairs_ok) < 2:
        print(f"{name:18s} too few complete pairs ({len(pairs_ok)})")
        continue
    base = [b for b, _ in pairs_ok]
    head = [h for _, h in pairs_ok]
    bq, hq = (statistics.quantiles(xs, n=4, method="inclusive") for xs in (base, head))
    wins = sum((h < b) if lower else (h > b) for b, h in pairs_ok)
    iqr = bq[2] - bq[0]
    gain = wins >= 0.9 * len(pairs_ok) and abs(hq[1] - bq[1]) > iqr
    worse = (hq[1] - bq[1]) / bq[1] if lower else (bq[1] - hq[1]) / bq[1]
    within = "ok" if worse <= m["bound"] else "EXCEEDED"
    print(f"{name:18s} {bq[0]:8.3f}/{bq[1]:8.3f}/{bq[2]:8.3f} "
          f"{hq[0]:8.3f}/{hq[1]:8.3f}/{hq[2]:8.3f} {hq[1] / bq[1]:9.3f} "
          f"{wins:3d}/{len(pairs_ok):<2d}  {'holds' if gain else 'no':9s}  "
          f"{worse:+.3f} vs {m['bound']} {within}")
print("head/base = ratio of the medians; gain rule = wins >= 0.9 x pairs and the "
      "medians further apart than base q3 - q1; bound = the median's relative "
      "worsening against BENCHMARK.json's bound")
EOF
