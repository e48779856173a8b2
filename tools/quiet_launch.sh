#!/bin/bash
# Launch a command only inside a measured-quiet window.
#
# Hypervisor CPU steal is invisible to loadavg and — on an idle guest —
# to /proc/stat too (steal accrues only while our vCPUs contend), so a
# passive watcher cannot see a busy co-tenant. This wrapper actively
# probes: burn every core for PROBE_SEC, read the steal delta across
# the burst, and require QUIET_NEED consecutive quiet probes (steal <
# QUIET_PCT) before exec'ing the wrapped command. graft.Bench itself
# waits for nothing: it records each query's executor CPU beside its
# wall time, so a contended run shows itself in the artifact.
#
# usage: tools/quiet_launch.sh <cmd...>
#   env: QUIET_PCT (default 2), QUIET_NEED (default 2 consecutive),
#        PROBE_SEC (default 8), RETRY_SEC (default 120),
#        MAX_WAIT_SEC (default 7200 — then launch anyway, stamped)
set -u
QUIET_PCT=${QUIET_PCT:-2}
QUIET_NEED=${QUIET_NEED:-2}
PROBE_SEC=${PROBE_SEC:-8}
RETRY_SEC=${RETRY_SEC:-120}
MAX_WAIT_SEC=${MAX_WAIT_SEC:-7200}

jiffies() { awk '/^cpu /{s=0;for(i=2;i<=NF;i++)s+=$i;print $9, s}' /proc/stat; }

probe_steal() {
  read -r s0 t0 <<<"$(jiffies)"
  local n
  n=$(nproc)
  for _ in $(seq "$n"); do
    timeout "$PROBE_SEC" sh -c 'while :; do :; done' &
  done
  wait
  read -r s1 t1 <<<"$(jiffies)"
  local dt=$((t1 - t0))
  [ "$dt" -le 0 ] && { echo 0; return; }
  echo $(( (s1 - s0) * 100 / dt ))
}

t_start=$(date +%s)
streak=0
while :; do
  st=$(probe_steal)
  now=$(date +%s)
  if [ "$st" -lt "$QUIET_PCT" ]; then
    streak=$((streak + 1))
    echo "quiet_launch: probe steal ${st}% (<${QUIET_PCT}%), streak $streak/$QUIET_NEED" >&2
    [ "$streak" -ge "$QUIET_NEED" ] && break
    sleep 15
  else
    streak=0
    echo "quiet_launch: probe steal ${st}% >= ${QUIET_PCT}%, retry in ${RETRY_SEC}s" >&2
    sleep "$RETRY_SEC"
  fi
  if [ $((now - t_start)) -ge "$MAX_WAIT_SEC" ]; then
    echo "quiet_launch: MAX_WAIT_SEC ${MAX_WAIT_SEC}s exceeded, launching anyway (window NOT quiet)" >&2
    break
  fi
done
echo "quiet_launch: launching at $(date -u +%H:%M:%S) after $(( $(date +%s) - t_start ))s wait" >&2
exec "$@"
