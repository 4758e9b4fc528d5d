#!/bin/bash
# chunk_bench.sh [PREFIX] [TRIES_PER_CHUNK] — steal-evading bench: the
# full-suite hunter (quiet_bench.sh) needs one ~20-minute quiet window,
# which this host's co-tenant never grants; this variant needs only ~2
# quiet MINUTES at a time. SF_DIR (env, default /root/testdata/sf0.1)
# selects the data scale — the sf1 record rides the same machinery.
# Before launching, the chunk partition is AUDITED against the live
# suite (Bench list mode): a declared query missing from every chunk,
# or a chunk entry that no longer exists, aborts the run loudly. The
# suite is partitioned into family-aligned chunks (cache-sharing
# families — the md5-minhash frame consumers, the shingle families —
# stay together so the session-cache reuse the full suite legitimately
# gets is preserved within each chunk; the old 60-query dedup chunk is
# split at the shingle/classifier family boundary since r12 — a ~4.5 min
# exposure window never landed burst-free on a busy co-tenant day, a
# ~2 min one does), each chunk is launched behind a 40 s sustained-quiet gate and
# retried until ITS OWN record is steal-clean (every per-query steal
# <= 0.75 cores, chunk-wide <= 0.8, no DNF), and the clean chunk records
# merge into one BENCH-shaped JSON with per-query steal evidence.
set -u
PREFIX=${1:-/tmp/cbench}
TRIES=${2:-20}
SF_DIR=${SF_DIR:-/root/testdata/sf0.1}
export SF_DIR
# steal acceptance gates (cores). Defaults are the r10 sf0.1 record
# discipline; on a day the co-tenant never grants a clean 3-minute
# window they can be relaxed EXPLICITLY (the record keeps per-query
# steal evidence either way, and 3-iter medians bound the residual
# inflation) — the failure mode being excluded is the 10-70x
# position-noise tail, which needs sustained saturation, not a
# fractional-core burst.
STEAL_Q=${STEAL_Q:-0.75}
STEAL_SUITE=${STEAL_SUITE:-0.8}
export STEAL_Q STEAL_SUITE
. "$(dirname "$0")/steal_sample.sh"
cd /root/repo
ADDOPENS=$(for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do printf -- "--add-opens java.base/%s=ALL-UNNAMED " "$p"; done)

# Build stamp: resumed clean records are only valid against the SAME
# binary. Hash the current build once; if clean records exist under
# this prefix from a DIFFERENT build, abort loudly instead of silently
# merging measurements from two binaries (and only refresh the classes
# snapshot when we are NOT resuming, so the snapshot always matches
# the stamp the existing clean records were taken under).
CUR_SHA=$(find target/scala-2.13/classes -type f -name '*.class' -printf '%P %s %T@\n' | sort | sha256sum | cut -c1-16)
if ls "$PREFIX".c*.clean.json >/dev/null 2>&1; then
  if [ ! -s "$PREFIX.buildsha" ] || [ "$(cat "$PREFIX.buildsha")" != "$CUR_SHA" ]; then
    echo "clean records exist under $PREFIX but the build changed (stamp $(cat "$PREFIX.buildsha" 2>/dev/null || echo none) vs $CUR_SHA)." >&2
    echo "Use a fresh PREFIX, or delete $PREFIX.c*.clean.json to re-measure on the new binary." >&2
    exit 1
  fi
  echo "$(date -u +%F_%T) resuming prefix $PREFIX on build $CUR_SHA (snapshot kept)" >> "$PREFIX.log"
else
  rm -rf "$PREFIX.classes"; cp -r target/scala-2.13/classes "$PREFIX.classes"
  echo "$CUR_SHA" > "$PREFIX.buildsha"
fi

# The canonical family partition lives in graft.Bench (FAMILIES list
# mode) — build CHUNKS from the snapshot binary so the shell partition
# can never drift from the suite.
mapfile -t CHUNKS < <(SPARK_GRAFT_BENCH_FAMILIES=1 java $ADDOPENS -cp "$PREFIX.classes:/opt/spark/jars/*" graft.Bench 2>/dev/null)
if [ ${#CHUNKS[@]} -lt 2 ]; then
  echo "FAMILIES list mode returned ${#CHUNKS[@]} lines — binary too old or broken" >&2
  exit 1
fi

# coverage audit: chunks must partition the live suite exactly
SPARK_GRAFT_BENCH_LIST=1 java $ADDOPENS -cp "$PREFIX.classes:/opt/spark/jars/*" graft.Bench 2>/dev/null | sort > "$PREFIX.declared"
printf '%s\n' "${CHUNKS[@]}" | tr ',' '\n' | sort > "$PREFIX.chunked"
if ! diff -q "$PREFIX.declared" "$PREFIX.chunked" >/dev/null; then
  echo "chunk partition out of sync with the suite:" >&2
  diff "$PREFIX.declared" "$PREFIX.chunked" >&2
  exit 1
fi

ci=0
for chunk in "${CHUNKS[@]}"; do
  ci=$((ci+1))
  # resume: a clean record from an interrupted run of the SAME prefix
  # still counts — the build stamp was checked above, and here the
  # record's query set must equal the CURRENT chunk's (a chunk
  # re-partition between runs otherwise merges a stale query set)
  if [ -s "$PREFIX.c$ci.clean.json" ]; then
    same=$(python3 - "$PREFIX.c$ci.clean.json" "$chunk" <<'EOF'
import json, sys
try: d = json.loads(open(sys.argv[1]).readline())
except Exception: print(0); raise SystemExit
print(1 if set(d.get("queries", {})) == set(sys.argv[2].split(",")) else 0)
EOF
)
    if [ "$same" = 1 ]; then
      echo "$(date -u +%F_%T) chunk $ci: clean record exists (same query set), skipping" >> "$PREFIX.log"
      continue
    fi
    echo "$(date -u +%F_%T) chunk $ci: clean record is for a DIFFERENT query set, re-measuring" >> "$PREFIX.log"
    rm -f "$PREFIX.c$ci.clean.json"
  fi
  done_chunk=0
  for try in $(seq 1 "$TRIES"); do
    quiet=0
    while [ $quiet -lt 8 ]; do
      read -r sc l1 < <(steal_sample)
      ok=$(awk -v s="$sc" -v l="$l1" 'BEGIN{print (s<0.4 && l<2.0)?1:0}')
      if [ "$ok" = 1 ]; then quiet=$((quiet+1)); else quiet=0; sleep 10; fi
    done
    echo "$(date -u +%F_%T) chunk $ci try $try: quiet, launching" >> "$PREFIX.log"
    SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_BENCH_ONLY="$chunk" \
      java -Xmx8g $ADDOPENS -cp "$PREFIX.classes:/opt/spark/jars/*" graft.Bench \
      > "$PREFIX.c$ci.$try.json" 2> "$PREFIX.c$ci.$try.err"
    rc=$?
    verdict=$(python3 - "$PREFIX.c$ci.$try.json" <<'EOF'
import json,sys
try: d=json.loads(open(sys.argv[1]).readline())
except Exception: print("badjson"); raise SystemExit
qs=d.get("queries",{}); st=d.get("steal_cores",{})
dnf=[k for k,v in qs.items() if v<0]
import os
qthr=float(os.environ.get("STEAL_Q","0.75")); sthr=float(os.environ.get("STEAL_SUITE","0.8"))
hot=[k for k,v in st.items() if v>qthr]
ok=d.get("status")=="complete" and qs and not dnf and float(d.get("suite_steal_cores",99))<=sthr and not hot
print("clean" if ok else f"dirty dnf={dnf} hot={hot} suite={d.get('suite_steal_cores')}")
EOF
)
    echo "$(date -u +%F_%T) chunk $ci try $try rc=$rc $verdict" >> "$PREFIX.log"
    case "$verdict" in clean*)
      cp "$PREFIX.c$ci.$try.json" "$PREFIX.c$ci.clean.json"; done_chunk=1; break;;
    esac
    sleep 30
  done
  [ $done_chunk = 1 ] || echo "$(date -u +%F_%T) chunk $ci EXHAUSTED" >> "$PREFIX.log"
done

export CUR_SHA
python3 - "$PREFIX" <<'EOF'
import glob, json, sys
prefix = sys.argv[1]
qs, st = {}, {}
chunks = sorted(glob.glob(prefix + ".c*.clean.json"))
for p in chunks:
    d = json.loads(open(p).readline())
    qs.update(d.get("queries", {}))
    st.update(d.get("steal_cores", {}))
import os
steal_q = os.environ.get("STEAL_Q", "0.75")
steal_suite = os.environ.get("STEAL_SUITE", "0.8")
rec = {"metric": "total", "value": sum(v for v in qs.values() if v >= 0),
       "unit": "sec", "queries": dict(sorted(qs.items())),
       "steal_cores": dict(sorted(st.items())),
       "iters": 3,
       "status": f"complete_chunked({len(chunks)} chunks)",
       "sf": os.environ.get("SF_DIR", "/root/testdata/sf0.1"),
       "build_sha": os.environ.get("CUR_SHA", ""),
       "steal_gate_query_cores": float(steal_q),
       "steal_gate_suite_cores": float(steal_suite),
       "note": "family-aligned chunks, each measured in its own "
               f"sustained-quiet window (per-query steal <= {steal_q} "
               f"cores, chunk-wide <= {steal_suite})"}
json.dump(rec, open(prefix + ".merged.json", "w"))
print(f"{len(qs)} queries from {len(chunks)} clean chunks, total {rec['value']:.1f}s")
EOF
