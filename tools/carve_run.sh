#!/bin/bash
# Dev-only carve-suite runner: one small-group JVM per substrate-heavy
# family slice, so the 3.2M-doc substrates' spill never co-resides
# across groups (the local disk budget is ~80 GB; one combined JVM
# provably exceeds it — round 17 measured 76 GB of blockmgr before
# ENOSPC). Usage: carve_run.sh <sfdir> <outprefix> <group:keys> ...
#
# PREREQUISITE: run `python3 tools/flatten.py <sfdir>` on every
# ScaleGen-derived dir FIRST. ScaleGen's directory output inherits the
# source scan's width — at the 64x carve that is ONE part file with TWO
# row groups, which pins every scan of the table to <=2 tasks no matter
# the split config (round 17 measured the d3 substrate build wedged on
# exactly this). flatten.py re-chunks to bounded 64k-row groups.
#
# Threads and heap default to this host, sized as ROADMAP.md's test
# command sizes them (all CPUs; half of MemTotal, 2g..8g); a value
# already set in the environment wins.
set -u
SFDIR=$1; PREFIX=$2; shift 2
: "${SPARK_GRAFT_CPUS:=$(env -u OMP_NUM_THREADS nproc)}"
: "${SPARK_DRIVER_MEM:=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"
export SPARK_GRAFT_CPUS SPARK_DRIVER_MEM
for spec in "$@"; do
  group=${spec%%:*}; keys=${spec#*:}
  rm -rf /tmp/blockmgr-* /tmp/spark-[0-9a-f]*-* 2>/dev/null
  echo "[carve_run] $group -> $keys"
  SPARK_GRAFT_REPS=1 SPARK_GRAFT_FAMILY_MAJOR=1 SPARK_GRAFT_MEMO_LEVEL=MEMORY_AND_DISK_SER \
  SPARK_GRAFT_GC_EACH=1 \
  SPARK_GRAFT_JAVA_OPTS="-Dspark.cleaner.periodicGC.interval=60s" \
  SPARK_GRAFT_SF_DIR="$SFDIR" SPARK_GRAFT_ONLY="$keys" \
    sbt -batch "runMain graft.Bench" > "/tmp/${PREFIX}_${group}.log" 2>&1
  echo "[carve_run] $group exit=$? json:"
  grep '"metric"' "/tmp/${PREFIX}_${group}.log" | tail -1
done
rm -rf /tmp/blockmgr-* 2>/dev/null
echo "[carve_run] done"
