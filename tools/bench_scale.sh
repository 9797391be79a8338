#!/usr/bin/env bash
# Scale-up harness (round 13): runs graft.Bench's scale protocol
# (SPARK_GRAFT_SCALE_REP set) at rep=1 and rep=R, INTERLEAVED (1,R,1,R,…)
# so host drift hits both arms, N rounds each. Fixtures are materialized
# once per rep under SPARK_GRAFT_SCALE_FIX and reused. Exponents are
# computed from per-entry medians across runs:
#   exponent = ln(t_R / t_1) / ln(R)
# The entries run in registry order (b1 b2 b8 b7 e7 e17 b12 b13 b15; before
# the bench registry was merged, e7 and e17 ran last), the same order in
# both arms. SPARK_GRAFT_BENCH_ONLY=<entry names> picks another subset.
# Per-stage times and call sites: Spark's event log (the dir must exist), e.g.
#   GRAFT_EXTRA_JVM='-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///tmp/ev'
#
# Usage: tools/bench_scale.sh [sf_dir] [R] [N] [out_dir]
set -euo pipefail
SF_DIR="${1:-/root/testdata/sf0.1}"
R="${2:-10}"
N="${3:-3}"
OUT="${4:-bench_runs/scale}"
cd "$(dirname "$0")/.."
mkdir -p "$OUT"
for i in $(seq 1 "$N"); do
  for rep in 1 "$R"; do
    LOG="$OUT/rep${rep}_run${i}.log"
    SPARK_GRAFT_SF_DIR="$SF_DIR" \
    SPARK_GRAFT_SCALE_REP="$rep" \
    SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
      sbt -batch "runMain graft.Bench" >"$LOG" 2>&1 || {
        tail -20 "$LOG"; exit 1; }
    grep -o '{"metric".*}' "$LOG" | tail -1 >"$OUT/rep${rep}_run${i}.json" || {
      echo "bench_scale: no JSON line in $LOG" >&2; tail -20 "$LOG"; exit 1; }
    echo "== rep=$rep run=$i: $(cat "$OUT/rep${rep}_run${i}.json" | head -c 200)"
  done
done
python3 tools/scale_report.py "$OUT" "$R"
