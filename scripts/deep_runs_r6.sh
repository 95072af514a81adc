#!/bin/bash
# Round-6 deep scaling runs on the final optimization-round code:
# re-measure merge @64M (VERDICT r5 task #1: 5 interleaved warm reps to
# settle the median question) and cluster @64M (task #3) with the same
# methodology as r5b: N=1 vs 4N=4 cores, 48g heap (8g OOM'd 64M merge
# legs in r4), warm regime (no inter-leg cache equalization — see the
# r5c/r5d negative results in BASELINE.md).
set -x
cd /root/repo
export SPARK_GRAFT_SCALING_N=1
export SPARK_DRIVER_MEMORY=48g
echo "=== MERGE DEEP 64M START $(date)"
SPARK_GRAFT_DEEP_ROWS=64000000 SPARK_GRAFT_DEEP_REPS=5 timeout 20000 \
  python bench.py --scaling-merge
echo "=== MERGE DEEP DONE rc=$? $(date)"
echo "=== CLUSTER DEEP 64M START $(date)"
SPARK_GRAFT_DEEP_ROWS=64000000 SPARK_GRAFT_DEEP_REPS=3 timeout 12000 \
  python bench.py --scaling-cluster
echo "=== CLUSTER DEEP DONE rc=$? $(date)"
