#!/bin/bash
# q116 third-decade campaign, round-11 protocol (BASELINE.md "Refined-shape
# anchor"): re-anchor 100x and run the 1000x leg back-to-back in ONE window
# at the scale-adaptive per-stage shape — spark.sql.shuffle.partitions=32
# (the session default) + AQE coalescePartitions.initialPartitionNum=512,
# 16 GiB heap, local[32]. Runs from a pre-staged jar via plain `java` so
# sbt stays free for concurrent compile/test work (the round-10 note: only
# light local[4] overlap is acceptable; avoid running the full suite while
# a leg is in flight).
#
# Usage: scripts/q116_third_decade.sh [jar]   (default /dev/shm/graft-campaign.jar)
set -u
JAR="${1:-/dev/shm/graft-campaign.jar}"
CP="$JAR:/opt/spark/jars/*"
AO="--add-opens java.base/java.lang=ALL-UNNAMED \
 --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
 --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
 --add-opens java.base/java.io=ALL-UNNAMED \
 --add-opens java.base/java.net=ALL-UNNAMED \
 --add-opens java.base/java.nio=ALL-UNNAMED \
 --add-opens java.base/java.util=ALL-UNNAMED \
 --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
 --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
 --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
 --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
 --add-opens java.base/sun.security.action=ALL-UNNAMED \
 --add-opens java.base/sun.util.calendar=ALL-UNNAMED"

stamp() { echo "== $(date -u +%FT%TZ) $*"; }
# host-volume buffered-write+fsync probe (the axis that throttles): the
# bracketing record that lets a reader discount a window that opens mid-leg
probe() {
  stamp "io probe (/tmp fsync write):"
  dd if=/dev/zero of=/tmp/graft-probe.bin bs=1M count=200 conv=fsync 2>&1 | tail -1
  rm -f /tmp/graft-probe.bin
}

stamp "campaign start; jar=$JAR"
probe

# completion markers, not bare directory checks: ScaleUp writes tables
# one at a time, so a crashed/interrupted build (the documented 1000x
# OOM failure mode) leaves a PARTIAL dir behind — a bare [ -d ] guard
# would then skip the rebuild forever and kill the leg mid-window on a
# missing table
if [ ! -f /dev/shm/graft-sf-x100/_COMPLETE ]; then
  stamp "build x100 fixture"
  rm -rf /dev/shm/graft-sf-x100
  GRAFT_SCALE_FACTOR=100 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
    SPARK_GRAFT_CPUS=16 java $AO -Xmx8g -cp "$CP" graft.tools.ScaleUp || exit 1
  touch /dev/shm/graft-sf-x100/_COMPLETE
fi
if [ ! -f /dev/shm/graft-sf-x1000/_COMPLETE ]; then
  stamp "build x1000 fixture"
  rm -rf /dev/shm/graft-sf-x1000
  GRAFT_SCALE_FACTOR=1000 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
    SPARK_GRAFT_CPUS=16 java $AO -Xmx16g -cp "$CP" graft.tools.ScaleUp || exit 1
  touch /dev/shm/graft-sf-x1000/_COMPLETE
fi
df -h /dev/shm | tail -1

probe
stamp "anchor: q116 at 100x, refined shape (32p + initialPartitionNum=512, 16g)"
SPARK_GRAFT_CPUS=32 java $AO -Xmx16g -Dspark.sql.shuffle.partitions=32 \
  -Dspark.sql.adaptive.coalescePartitions.initialPartitionNum=512 \
  -cp "$CP" graft.Profile /dev/shm/graft-sf-x100 \
  queries q116_corpus_build || exit 1

probe
stamp "leg: q116 at 1000x, same shape, same window"
SPARK_GRAFT_CPUS=32 java $AO -Xmx16g -Dspark.sql.shuffle.partitions=32 \
  -Dspark.sql.adaptive.coalescePartitions.initialPartitionNum=512 \
  -cp "$CP" graft.Profile /dev/shm/graft-sf-x1000 \
  queries q116_corpus_build || exit 1

probe
stamp "campaign done"
