#!/bin/bash
# Round-5c deep re-runs with inter-leg IO-state equalization
# (sync + drop_caches before every timed leg): the r5b medians were
# depressed by monotonic cross-leg drift (merge 4-core legs
# 312/440/581 s) — each leg inherited the previous leg's write-back
# debt and page-cache state. Re-measure merge and cluster @64M under
# equalized legs; the best-of-k numbers should hold and the medians
# should tighten toward them.
set -x
cd /root/repo
export SPARK_GRAFT_SCALING_N=1
export SPARK_GRAFT_DEEP_REPS=3
export SPARK_DRIVER_MEMORY=48g
echo "=== MERGE DEEP 64M (equalized) START $(date)"
SPARK_GRAFT_DEEP_ROWS=64000000 timeout 13000 python bench.py --scaling-merge
echo "=== MERGE DEEP DONE rc=$? $(date)"
echo "=== CLUSTER DEEP 64M (equalized) START $(date)"
SPARK_GRAFT_DEEP_ROWS=64000000 timeout 10000 python bench.py --scaling-cluster
echo "=== CLUSTER DEEP DONE rc=$? $(date)"
