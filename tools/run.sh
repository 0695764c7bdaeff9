#!/bin/bash
# Run a graft main class against the compiled classes + Spark jars,
# without sbt's JVM startup overhead. Usage:
#   tools/run.sh graft.Verify /root/testdata/sf0.01 target/verify
#
# All invocations serialize on target/.graft.lock (shared with
# tools/sbt_test.sh): the r11 round lost 10 phantom MlSpec failures and
# ~6 sf100 oracle runs to co-tenant disk/CPU contention between a 90 GB
# verify and the test suite. GRAFT_NO_LOCK=1 opts out (e.g. for
# deliberately-concurrent light runs).
set -e
cd "$(dirname "$0")/.."
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
mkdir -p target
# heap: SPARK_DRIVER_MEM, else half of MemTotal clamped to 2-8 GiB (the
# rule perfbench and the test suite use)
MEM=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}
LOCKARGS=()
if [ "${GRAFT_NO_LOCK:-0}" != 1 ]; then
  LOCKARGS=(flock -w 86400 target/.graft.lock)
fi
# the UI and the session time zone are set by graft.Session.local
exec "${LOCKARGS[@]}" java $OPENS -Xmx$MEM \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
