#!/bin/bash
# Scale matrix: one JVM per cell. A cell is one registry query at one SF
# directory, timed by graft.Bench as the median of 5 repeats
# (SPARK_GRAFT_ONLY=<query> SPARK_GRAFT_REPEAT=5) and added to the bench
# band memory (SPARK_GRAFT_BAND=1; bench_history.jsonl, or
# $SPARK_GRAFT_BENCH_HISTORY).
#
#   sbt compile
#   tools/scale_bench.sh CELLS [OUT]        # OUT defaults to scale_matrix.jsonl
#
# CELLS holds one "<sfDir> <query>" per line; blank lines and lines
# starting with # are skipped. Relative sfDirs are taken from the
# repository root:
#
#   scaledata/sf1p grouping_by_session
#   scaledata/sf10p dedup_minhash_lsh
#
# Each cell appends one JSON row to OUT:
#   {"sf":…,"q":…,"status":"ok","r":<graft.Bench's JSON line>}
#     r.queries.<q> is the median in seconds, r.out_rows.<q> the
#     query's output row count;
#   {"sf":…,"q":…,"status":"failed","rc":N}   no JSON line; rc 124 means
#     the cell ran past CELL_TIMEOUT seconds (default 1800);
#   {"sf":…,"q":…,"status":"skipped"}         sfDir does not exist.
#
# SPARK_GRAFT_CPUS (default 32) sets local[N], HEAP (default 24g) the
# JVM heap. Scale data: tools/regen_scaledata.sh. Where a cell spends
# its time: sbt 'runMain graft.Explain <sfDir> <query> exec'.
set -u
cd "$(dirname "$0")/.."
CELLS=${1:?usage: tools/scale_bench.sh CELLS [OUT]}
OUT=${2:-scale_matrix.jsonl}
CP="target/scala-2.13/classes:$(ls "$SPARK_HOME"/jars/*.jar | tr '\n' ':')"
OPENS=""
for m in java.lang java.lang.invoke java.lang.reflect java.io java.net \
    java.nio java.util java.util.concurrent java.util.concurrent.atomic \
    sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$m=ALL-UNNAMED"
done
TMP=$(mktemp)
trap 'rm -f "$TMP"' EXIT
while read -r SF Q _; do
  case "$SF" in ''|'#'*) continue ;; esac
  if [ ! -d "$SF" ]; then
    echo "{\"sf\":\"$SF\",\"q\":\"$Q\",\"status\":\"skipped\"}" >> "$OUT"
    echo "skip $SF $Q (missing)" >&2
    continue
  fi
  SF=$(cd "$SF" && pwd)
  SPARK_GRAFT_SF_DIR=$SF SPARK_GRAFT_ONLY=$Q SPARK_GRAFT_REPEAT=5 \
    SPARK_GRAFT_BAND=1 SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} \
    timeout "${CELL_TIMEOUT:-1800}" java -cp "$CP" $OPENS \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -Xmx"${HEAP:-24g}" graft.Bench < /dev/null > "$TMP" 2> /dev/null
  RC=$?
  LINE=$(grep -m1 '^{' "$TMP")
  if [ -n "$LINE" ]; then
    echo "{\"sf\":\"$SF\",\"q\":\"$Q\",\"status\":\"ok\",\"r\":$LINE}" >> "$OUT"
    echo "done $SF $Q" >&2
  else
    echo "{\"sf\":\"$SF\",\"q\":\"$Q\",\"status\":\"failed\",\"rc\":$RC}" >> "$OUT"
    echo "FAILED $SF $Q (rc=$RC)" >&2
  fi
done < "$CELLS"
