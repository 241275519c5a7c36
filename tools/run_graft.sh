#!/bin/bash
# Run a graft main without sbt (same JVM flags as build.sbt run/fork).
# Usage: tools/run_graft.sh graft.PlanDump <sf-dir> q_foo q_bar
OPENS="java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect java.base/java.io java.base/java.net java.base/java.nio java.base/java.util java.base/java.util.concurrent java.base/java.util.concurrent.atomic java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action java.base/sun.util.calendar"
FLAGS=""
for p in $OPENS; do FLAGS="$FLAGS --add-opens $p=ALL-UNNAMED"; done
exec java $FLAGS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
