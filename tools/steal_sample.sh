#!/bin/bash
# CPU steal from /proc/stat, in cores of this host: the steal share of all
# CPU ticks times `nproc` (the scaling graft.Bench's stealCores uses).
#
# Sourced (`. tools/steal_sample.sh`): defines steal_sample, which prints
# "<steal_cores> <load1>" for one 5-second window — the quiet gate of the
# gated bench runners.
#
# Run: tools/steal_sample.sh <outfile> [interval_sec] appends one CSV row
# per interval. Columns: epoch_sec, steal_ticks_delta, idle_ticks_delta,
# total_ticks_delta, steal_cores, load1.
STEAL_NCPU=$(nproc)

steal_sample() {
  local s1 t1 s2 t2
  read -r s1 t1 < <(awk '/^cpu /{print $9, $2+$3+$4+$5+$6+$7+$8+$9}' /proc/stat)
  sleep 5
  read -r s2 t2 < <(awk '/^cpu /{print $9, $2+$3+$4+$5+$6+$7+$8+$9}' /proc/stat)
  awk -v a=$((s2-s1)) -v b=$((t2-t1)) -v n="$STEAL_NCPU" \
    -v l="$(cut -d' ' -f1 /proc/loadavg)" \
    'BEGIN{printf "%.2f %s\n", (b>0)? a/b*n : 99, l}'
}

[ "${BASH_SOURCE[0]}" = "$0" ] || return 0

out="${1:?usage: steal_sample.sh <outfile> [interval]}"
int="${2:-5}"
echo "epoch,steal_d,idle_d,total_d,steal_cores,load1" > "$out"
prev=($(awk '/^cpu /{print $2+$3+$4+$5+$6+$7+$8+$9, $9, $5}' /proc/stat))
while true; do
  sleep "$int"
  cur=($(awk '/^cpu /{print $2+$3+$4+$5+$6+$7+$8+$9, $9, $5}' /proc/stat))
  td=$((cur[0]-prev[0])); sd=$((cur[1]-prev[1])); id=$((cur[2]-prev[2]))
  load=$(cut -d' ' -f1 /proc/loadavg)
  cores=$(awk -v s="$sd" -v t="$td" -v n="$STEAL_NCPU" 'BEGIN{printf "%.2f", (t>0)? s/t*n : 0}')
  echo "$(date +%s),$sd,$id,$td,$cores,$load" >> "$out"
  prev=("${cur[@]}")
done
