#!/bin/bash
# isolated_bench.sh PREFIX QUERIES [TRIES] — one steal-gated isolated
# measurement of a comma-separated query list (3-iter medians via
# graft.Bench BENCH_ONLY), retried until its own record is steal-clean.
# The chunk_bench.sh machinery for a single ad-hoc chunk: used for the
# per-query triage medians the full chunked record is too coarse for.
# SF_DIR / STEAL_Q / STEAL_SUITE env as in chunk_bench.sh.
set -u
PREFIX=${1:?usage: isolated_bench.sh PREFIX q1,q2,... [TRIES]}
QUERIES=${2:?usage: isolated_bench.sh PREFIX q1,q2,... [TRIES]}
TRIES=${3:-12}
SF_DIR=${SF_DIR:-/tmp/sf1}
STEAL_Q=${STEAL_Q:-0.75}
STEAL_SUITE=${STEAL_SUITE:-0.8}
export SF_DIR STEAL_Q STEAL_SUITE
. "$(dirname "$0")/steal_sample.sh"
cd /root/repo
ADDOPENS=$(for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do printf -- "--add-opens java.base/%s=ALL-UNNAMED " "$p"; done)

rm -rf "$PREFIX.classes"; cp -r target/scala-2.13/classes "$PREFIX.classes"
for try in $(seq 1 "$TRIES"); do
  quiet=0
  while [ $quiet -lt 8 ]; do
    read -r sc l1 < <(steal_sample)
    ok=$(awk -v s="$sc" -v l="$l1" 'BEGIN{print (s<0.4 && l<2.0)?1:0}')
    if [ "$ok" = 1 ]; then quiet=$((quiet+1)); else quiet=0; sleep 10; fi
  done
  echo "$(date -u +%F_%T) try $try: quiet, launching" >> "$PREFIX.log"
  SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_BENCH_ONLY="$QUERIES" \
    java -Xmx8g $ADDOPENS -cp "$PREFIX.classes:/opt/spark/jars/*" graft.Bench \
    > "$PREFIX.$try.json" 2> "$PREFIX.$try.err"
  rc=$?
  verdict=$(python3 - "$PREFIX.$try.json" <<'EOF'
import json, os, sys
try: d = json.loads(open(sys.argv[1]).readline())
except Exception: print("badjson"); raise SystemExit
qs = d.get("queries", {}); st = d.get("steal_cores", {})
dnf = [k for k, v in qs.items() if v < 0]
qthr = float(os.environ.get("STEAL_Q", "0.75"))
sthr = float(os.environ.get("STEAL_SUITE", "0.8"))
hot = [k for k, v in st.items() if v > qthr]
ok = (d.get("status") == "complete" and qs and not dnf
      and float(d.get("suite_steal_cores", 99)) <= sthr and not hot)
print("clean" if ok else f"dirty dnf={dnf} hot={hot} suite={d.get('suite_steal_cores')}")
EOF
)
  echo "$(date -u +%F_%T) try $try rc=$rc $verdict" >> "$PREFIX.log"
  case "$verdict" in clean*)
    cp "$PREFIX.$try.json" "$PREFIX.clean.json"
    echo "clean: $PREFIX.clean.json"; exit 0;;
  esac
  sleep 20
done
echo "EXHAUSTED after $TRIES tries" >&2; exit 1
