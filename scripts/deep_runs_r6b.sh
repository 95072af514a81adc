#!/bin/bash
# Round-6 follow-up deep runs (after deep_runs_r6.sh: merge@64M 5 reps,
# cluster@64M 3 reps). These produced the remaining r6 rows in
# BENCH/scaling.json / BASELINE.md:
#   - cluster@64M with 5 reps (settled its median: 0.827/0.803)
#   - merge_skewed and compact re-measured on the final r6 code at 64M
#     and 128M (the r5b rows predated the r6 code changes; the 128M
#     depth probes whether the ratio dip at 64M is fixed-cost — it is
#     for merge_skewed, and pure bus-share for compact; see BASELINE.md)
# Methodology identical throughout: warm regime, interleaved legs,
# fresh local[c] 48g JVM per leg.
set -x
cd /root/repo
export SPARK_GRAFT_SCALING_N=1
export SPARK_DRIVER_MEMORY=48g

SPARK_GRAFT_DEEP_ROWS=64000000 SPARK_GRAFT_DEEP_REPS=5 timeout 20000 \
  python bench.py --scaling-cluster

SPARK_GRAFT_DEEP_ROWS=64000000 SPARK_GRAFT_DEEP_REPS=3 timeout 10000 \
  python bench.py --scaling-merge-skewed
SPARK_GRAFT_DEEP_ROWS=64000000 SPARK_GRAFT_DEEP_REPS=3 timeout 8000 \
  python bench.py --scaling-compact

SPARK_GRAFT_DEEP_ROWS=128000000 SPARK_GRAFT_DEEP_REPS=3 timeout 12000 \
  python bench.py --scaling-merge-skewed
SPARK_GRAFT_DEEP_ROWS=128000000 SPARK_GRAFT_DEEP_REPS=3 timeout 12000 \
  python bench.py --scaling-compact
