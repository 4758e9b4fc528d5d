#!/bin/bash
# gated mini-window: wait sustained quiet, then bench the named queries
set -u
QUERIES=$1; OUT=$2
. "$(dirname "$0")/steal_sample.sh"
cd /root/repo
ADDOPENS=$(for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do printf -- "--add-opens java.base/%s=ALL-UNNAMED " "$p"; done)
for try in 1 2 3 4 5 6 7 8 9 10 11 12; do
  quiet=0
  while [ $quiet -lt 8 ]; do
    read -r sc l1 < <(steal_sample)
    ok=$(awk -v s="$sc" -v l="$l1" 'BEGIN{print (s<0.4 && l<2.0)?1:0}')
    if [ "$ok" = 1 ]; then quiet=$((quiet+1)); else quiet=0; fi
  done
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_BENCH_ONLY="$QUERIES" SPARK_GRAFT_BENCH_OUT="$OUT" \
    java -Xmx8g $ADDOPENS -cp target/scala-2.13/classes:/opt/spark/jars/* graft.Bench > /dev/null 2> "$OUT.err"
  v=$(python3 - "$OUT" <<'EOF'
import json,sys
d=json.loads(open(sys.argv[1]).readline())
hot=[k for k,v in d.get("steal_cores",{}).items() if v>0.75]
dnf=[k for k,v in d.get("queries",{}).items() if v<0]
print("clean" if (d.get("status")=="complete" and not hot and not dnf and d.get("suite_steal_cores",99)<0.8) else f"dirty {hot} {dnf}")
EOF
)
  echo "try $try: $v"
  case "$v" in clean*) exit 0;; esac
  sleep 30
done
exit 1
