#!/bin/bash
# Standalone JVM launcher for the graft mains (no sbt): tools/jrun.sh <MainClass> [args...]
# Mains: graft.Verify, graft.Bench, graft.Trace, graft.Explain, graft.PlanLint, graft.GenScale.
# Env passthrough: SPARK_GRAFT_* vars as usual. Mirrors the driver's invocation.
cd "$(dirname "$0")/.." || exit 1
exec java \
  $(for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
    java.nio java.util java.util.concurrent java.util.concurrent.atomic \
    sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do \
    echo "--add-opens=java.base/$p=ALL-UNNAMED"; done) \
  -Xmx${JRUN_XMX:-8g} -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
