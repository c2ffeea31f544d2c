#!/usr/bin/env bash
# Interleaved A/B of every lake_write query: A = a checkout of the parent
# commit (e.g. `git archive <parent> | tar -x -C DIR`), B = this tree.
# Each run is a fresh JVM (perfbench/run.py --full), runs alternate A, B.
#   usage: dev/pr2/ab_lake_write.sh PARENT_DIR OUT_DIR [PAIRS] [TRACE]
set -euo pipefail
parent=$(cd "$1" && pwd); out=$(mkdir -p "$2" && cd "$2" && pwd)
pairs=${3:-3}; trace=${4:-0}
run() {  # run DIR LABEL SEED
  (cd "$1" && python3 perfbench/run.py --workload lake_write --seed "$3" \
    --seconds 16 --trace "$trace" --full --keep "$out/$2_$3.json" >/dev/null)
}
for i in $(seq 1 "$pairs"); do
  run "$parent" parent "$i"
  run "$(dirname "$0")/../.." pr "$i"
done
python3 "$(dirname "$0")/summarize.py" "$out"
