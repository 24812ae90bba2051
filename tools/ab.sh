#!/bin/sh
# Alternate a solo-query bench between two class trees N rounds and
# print per-run (seconds, calib floor) pairs. Each round runs both
# sides; odd rounds run A then B, even rounds B then A, so drift within
# a round does not always land on the same side. Usage:
#   tools/ab.sh <query[,query...]> <rounds> [baseline_classes]
# A = baseline classes (default /tmp/classes_base), B = current target.
Q="$1"; N="${2:-3}"; BASE="${3:-/tmp/classes_base}"
for i in $(seq 1 "$N"); do
  if [ $((i % 2)) -eq 1 ]; then ORDER="A B"; else ORDER="B A"; fi
  for side in $ORDER; do
    if [ "$side" = A ]; then CP="$BASE"; else CP=/root/repo/target/scala-2.13/classes; fi
    SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
    SPARK_GRAFT_BENCH_ONLY="$Q" \
    GRAFT_BENCH_BOARD=/tmp/ab_board.json \
    java \
      --add-opens java.base/java.lang=ALL-UNNAMED \
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
      --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
      -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
      -Xmx"${SPARK_DRIVER_MEM:-24g}" \
      -cp "$CP:/opt/spark/jars/*" graft.Bench 2>/dev/null |
    python3 -c "
import json,sys
d=json.loads(sys.stdin.read())
qs=d['queries']
tot=sum(v for v in qs.values() if isinstance(v,(int,float)))
print('$side run$i total=%.2f floor=%.2f  %s'%(tot,d['calib_floor_sec'],
  {k:round(v,2) for k,v in qs.items() if isinstance(v,(int,float))}))
"
  done
done
