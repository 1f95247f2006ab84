#!/bin/bash
# Local mirror of the driver's correctness pass: run graft.Verify on a
# scale-factor dir, then tools/verify_local.py compares against DuckDB.
# Usage: tools/run_verify.sh [sfdir] [outdir]
set -e
HERE="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
REPO="$(dirname "$HERE")"
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/graft_verify}
# Spark's jars: $SPARK_HOME/jars, else the build's unmanagedBase
JARS="${SPARK_HOME:+$SPARK_HOME/jars}"
JARS="${JARS:-$(sed -n 's/^unmanagedBase := file("\(.*\)")/\1/p' "$REPO/build.sbt")}"
CP="$REPO/target/scala-2.13/classes:$JARS/*"
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
# Verify's stderr goes next to the output dir, one log per run, so runs
# side by side (an A/B of two commits) keep their own failure logs
ERR="${OUT%/}.stderr.log"
rm -rf "$OUT"
java $ADD_OPENS -Xmx8g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Verify "$SF" "$OUT" 2>"$ERR" \
  || { tail -30 "$ERR"; exit 1; }
python3 "$HERE/verify_local.py" "$SF" "$OUT"
# Second gate: the pandas-coercing comparator the driver actually uses.
# verify_local.py compares via arrow (decimal-preserving) and passed j5
# for three rounds while the driver failed it; the mimic reproduces the
# driver's decimal->float64 stringification and exits 1 on any diff.
python3 "$HERE/verify_driver_mimic.py" "$SF" "$OUT"
