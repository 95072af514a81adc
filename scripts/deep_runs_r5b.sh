#!/bin/bash
# Round-5b deep scaling runs, after the zero-shuffle rewrite write
# (merge.py: broadcast join -> coalesce -> in-task sort -> parquet; no
# persist, no range-sampling job, no exchange) and the sampling-free
# hash-repartition insert write. Re-measure merge @64M against the
# r5a 0.725/0.765, then the first merge_skewed @64M (amortizes the
# per-job constant that dominated the 16M run), then the first
# cluster @64M. 48g heap (8g OOM'd 64M merge legs in r4).
set -x
cd /root/repo
export SPARK_GRAFT_SCALING_N=1
export SPARK_GRAFT_DEEP_REPS=3
export SPARK_DRIVER_MEMORY=48g
echo "=== MERGE DEEP 64M START $(date)"
SPARK_GRAFT_DEEP_ROWS=64000000 timeout 13000 python bench.py --scaling-merge
echo "=== MERGE DEEP DONE rc=$? $(date)"
echo "=== MERGE_SKEWED DEEP 64M START $(date)"
SPARK_GRAFT_DEEP_ROWS=64000000 timeout 8000 python bench.py --scaling-merge-skewed
echo "=== MERGE_SKEWED DEEP DONE rc=$? $(date)"
echo "=== CLUSTER DEEP 64M START $(date)"
SPARK_GRAFT_DEEP_ROWS=64000000 timeout 10000 python bench.py --scaling-cluster
echo "=== CLUSTER DEEP DONE rc=$? $(date)"
