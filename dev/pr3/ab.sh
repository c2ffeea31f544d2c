#!/usr/bin/env bash
# Interleaved A/B of one benchmark workload's slice: A = a checkout of the
# parent commit (e.g. `git archive <parent> | tar -x -C DIR`), B = this
# tree. Every run is a fresh JVM with the benchmark's own settings
# (perfbench/run.py --seconds 16); pair i runs seed SEED0+i on both sides,
# and the side that runs first alternates from pair to pair.
#   usage: dev/pr3/ab.sh WORKLOAD PARENT_DIR OUT_DIR [PAIRS] [SEED0] [TRACE]
set -euo pipefail
workload=$1
parent=$(cd "$2" && pwd); out=$(mkdir -p "$3" && cd "$3" && pwd)
tree=$(cd "$(dirname "$0")/../.." && pwd)
pairs=${4:-10}; seed0=${5:-100}; trace=${6:-0}
run() {  # run DIR LABEL SEED
  (cd "$1" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
    --seconds 16 --trace "$trace" --keep "$out/$2_$3.json" >/dev/null)
}
for i in $(seq 1 "$pairs"); do
  seed=$((seed0 + i))
  if (( i % 2 )); then
    run "$parent" parent "$seed"; run "$tree" pr "$seed"
  else
    run "$tree" pr "$seed"; run "$parent" parent "$seed"
  fi
done
python3 "$tree/dev/pr3/summarize.py" "$out"
