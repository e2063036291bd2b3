#!/bin/bash
# Alternating parent/change benchmark pairs for one workload, and the
# claim rule over them.
#
# Usage: tools/bench_pairs.sh <rev> <workload> <n> <seed0>
#
# <rev> (the parent) is extracted with `git archive` into a fresh
# directory under ${TMPDIR:-/tmp} (an archive rather than a worktree, so
# the repository's .git gains no entry that a killed run would leave
# behind); the change is this checkout's working tree. Pair i runs
#   python3 perfbench/run.py --workload <workload> --seed <seed0+i> --seconds 10 --trace 0
# once in each tree, the parent first on even i and the change first on
# odd i. Afterwards, for every end-to-end metric in BENCHMARK.json, it
# prints both sides' medians, quartiles and the change's wins, and whether
# the claim rule holds: the change better in at least 9 of 10 pairs, and
# the median gap larger than the parent's interquartile range.
# Each run's last stdout line is kept in <log dir>/{parent,change}.jsonl.
set -euo pipefail
if [ $# -ne 4 ]; then
  echo "usage: $0 <rev> <workload> <n> <seed0>" >&2
  exit 2
fi
REV="$1" WORKLOAD="$2" N="$3" SEED0="$4"
CHANGE="$(cd "$(dirname "$0")/.." && pwd)"
PARENT="$(mktemp -d "${TMPDIR:-/tmp}/bench-pairs-parent.XXXXXX")"
LOGS="$(mktemp -d "${TMPDIR:-/tmp}/bench-pairs-logs.XXXXXX")"
trap 'rm -rf "$PARENT"' EXIT
git -C "$CHANGE" archive "$REV" | tar -x -C "$PARENT"
echo "parent $REV in $PARENT, change $CHANGE, logs $LOGS" >&2

run() {  # <side> <tree> <seed>
  local out
  out="$(cd "$2" && python3 perfbench/run.py --workload "$WORKLOAD" \
    --seed "$3" --seconds 10 --trace 0 2>>"$LOGS/$1.log" | tail -n 1)"
  echo "$out" >> "$LOGS/$1.jsonl"
  echo "  $1 seed $3: $out" >&2
}

for ((i = 0; i < N; i++)); do
  seed=$((SEED0 + i))
  echo "pair $((i + 1))/$N (seed $seed)" >&2
  if ((i % 2 == 0)); then
    run parent "$PARENT" "$seed"; run change "$CHANGE" "$seed"
  else
    run change "$CHANGE" "$seed"; run parent "$PARENT" "$seed"
  fi
done

python3 - "$CHANGE/BENCHMARK.json" "$LOGS" "$WORKLOAD" <<'EOF'
import json, statistics, sys
bench, logs, workload = sys.argv[1:]
def load(side):
    with open(f"{logs}/{side}.jsonl") as f:
        return [json.loads(l) if l.strip().startswith("{") else None for l in f]
parent, change = load("parent"), load("change")
def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3
bad = sum(r is None or not r["correct"] or r["failed"] for r in parent + change)
print(f"{workload}: {len(parent)} pairs; runs without a correct, failure-free "
      f"result: {bad}")
for m in json.load(open(bench))["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    pairs = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
             for p, c in zip(parent, change) if p and c]
    if not pairs:
        print(f"{name}: no complete pairs")
        continue
    ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
    wins = sum((c < p) if lower else (c > p) for p, c in pairs)
    (p1, pm, p3), (c1, cm, c3) = quartiles(ps), quartiles(cs)
    gap = (pm - cm) if lower else (cm - pm)
    holds = wins * 10 >= 9 * len(pairs) and gap > (p3 - p1)
    print(f"{name} ({m['unit']}, {m['better']} is better): "
          f"parent median {pm:.3f} (quartiles {p1:.3f}-{p3:.3f}), "
          f"change median {cm:.3f} (quartiles {c1:.3f}-{c3:.3f}), "
          f"change {(cm - pm) / pm * 100:+.1f}%, change better in "
          f"{wins}/{len(pairs)}; rule (>= 9/10 wins and gap > parent IQR "
          f"{p3 - p1:.3f}): {'holds' if holds else 'does not hold'}")
EOF
