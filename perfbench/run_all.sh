#!/usr/bin/env bash
# Run every workload once, untraced then traced, from any directory:
#   bash perfbench/run_all.sh [seed] [seconds]
set -euo pipefail
seed=${1:-1}
secs=${2:-15}
cd "$(dirname "$0")/.."
for w in etl_nightly dashboard_mix; do
  for t in 0 1; do
    echo "### $w --trace $t"
    python3 perfbench/run.py --workload "$w" --seed "$seed" --seconds "$secs" --trace "$t"
  done
done
