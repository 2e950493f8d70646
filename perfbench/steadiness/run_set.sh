#!/bin/bash
# Run one steadiness set from the root of a checkout, appending one JSON
# line per run to <out> (the format summarize.py reads):
#
#   bash perfbench/steadiness/run_set.sh <out.jsonl> <trace> <workload>... -- <seed>...
#
# Seeds are the outer loop, so the workloads interleave. Each run's stderr
# goes to .bench_build/steadiness/<workload>-<seed>.err. The steal share
# is read from /proc/stat (Linux) around each run.
set -u
out=$1; shift; trace=$1; shift
wls=(); while [ "$1" != "--" ]; do wls+=("$1"); shift; done; shift
seconds=$(python3 -c 'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')
mkdir -p .bench_build/steadiness
cpu() { awk '/^cpu /{print $2+$3+$4+$5+$6+$7+$8+$9, $9}' /proc/stat; }
for seed in "$@"; do for w in "${wls[@]}"; do
  read -r t0 st0 < <(cpu)
  s=$(date +%s%N)
  line=$(python3 perfbench/run.py --workload "$w" --seed "$seed" --seconds "$seconds" \
    --trace "$trace" 2>".bench_build/steadiness/$w-$seed.err" | tail -1)
  e=$(date +%s%N)
  read -r t1 st1 < <(cpu)
  steal=$(python3 -c "print(round(($st1 - $st0) / max(1, $t1 - $t0), 4))")
  echo "{\"w\":\"$w\",\"seed\":$seed,\"wall\":$(( (e - s) / 1000000 )),\"steal\":$steal,\"res\":${line:-null}}" >> "$out"
done; done
