#!/bin/bash
# Run a graft main with the Spark-on-JDK17 module opens, bypassing sbt.
# Usage: MEM=48g tools/run_graft.sh graft.Bench [args...]
#        tools/run_graft.sh graft.Profile <sfDir> <outDir> [gates,csv]
#          (per-gate warm-run job count, AQE plan and non-adaptive plan)
MEM="${MEM:-8g}"
CP="${GRAFT_CP:-/root/repo/target/scala-2.13/classes}:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java -Xmx$MEM $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -cp "$CP" "$@"
