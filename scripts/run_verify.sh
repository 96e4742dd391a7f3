#!/bin/bash
# Run graft.Verify without sbt startup overhead.
# usage: scripts/run_verify.sh [sfDir] [outDir]
set -e
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/graft_verify}
# the classes of the checkout this script lives in, not of some other copy
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
if [ -z "$SPARK_HOME" ]; then
  SUBMIT="$(command -v spark-submit)" ||
    { echo "set SPARK_HOME or put Spark's bin directory on PATH" >&2; exit 1; }
  SPARK_HOME="$(dirname "$(dirname "$(readlink -f "$SUBMIT")")")"
fi
CP="$ROOT/target/scala-2.13/classes:$SPARK_HOME/jars/*"
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
shift 2 2>/dev/null || shift $# 2>/dev/null
exec java $ADD_OPENS -Xmx8g -XX:ReservedCodeCacheSize=1g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Verify "$SF" "$OUT" "$@"
