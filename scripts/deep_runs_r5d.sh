#!/bin/bash
# Round-5d: merge @64M deep re-run with SYNC-ONLY inter-leg
# equalization (pay write-back debt outside the timed window, keep
# the input table RAM-cached — the warm, memory-bound regime that
# mirrors per-executor locality on a real cluster). The r5c
# sync+drop_caches experiment proved the cold regime measures the
# sandbox's single shared disk (1-core leg 2497s vs 1064s warm) and
# was abandoned.
set -x
cd /root/repo
export SPARK_GRAFT_SCALING_N=1
export SPARK_GRAFT_DEEP_REPS=3
export SPARK_DRIVER_MEMORY=48g
export SPARK_GRAFT_DEEP_DROPCACHE=1  # sync-only (default, explicit)
echo "=== MERGE DEEP 64M (sync-equalized) START $(date)"
SPARK_GRAFT_DEEP_ROWS=64000000 timeout 13000 python bench.py --scaling-merge
echo "=== MERGE DEEP DONE rc=$? $(date)"
