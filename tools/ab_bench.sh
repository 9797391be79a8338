#!/usr/bin/env bash
# Interleaved A/B bench for optimization work: alternate HEAD (current
# repo classes) and CONTROL (.opt-ctrl worktree classes) runs of a bench
# entry subset in the same window, so host drift hits both arms equally;
# which arm runs first alternates from pair to pair.
# Usage: tools/ab_bench.sh <entries-csv> <n_pairs> <out_dir> [mainClass]
#        tools/ab_bench.sh perfbench <parent_dir> <change_dir> <workload> \
#          <seed_lo> <seed_hi> [out_dir]
# The perfbench mode runs perfbench/run.py --trace 0 pairs of two
# checkouts, one per seed (tools/ab_perfbench.py).
set -uo pipefail
if [ "${1:-}" = perfbench ]; then
  shift
  exec python3 "$(dirname "$0")/ab_perfbench.py" "$@"
fi
ENTRIES="$1"; N="${2:-3}"; OUT="${3:-/tmp/ab_bench}"; MAIN="${4:-graft.Bench}"
# fail fast on a missing classpath file — otherwise a bench arm silently
# writes empty JSON and the python summary dies with an unrelated traceback
for f in /tmp/graft_cp.txt /tmp/graft_cp_ctrl.txt; do
  [ -s "$f" ] || { echo "ab_bench: missing classpath file $f" >&2; exit 1; }
done
mkdir -p "$OUT"
run() { # arm cpfile idx
  local arm="$1" cpf="$2" i="$3"
  SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  SPARK_GRAFT_BENCH_ONLY="$ENTRIES" \
  java $(for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
           java.nio java.util java.util.concurrent java.util.concurrent.atomic \
           sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
           printf -- "--add-opens java.base/%s=ALL-UNNAMED " "$p"; done) \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -Xmx"${SPARK_DRIVER_MEM:-8g}" -XX:ReservedCodeCacheSize=1g -XX:MaxNewSize=2g \
    -cp "$(cat "$cpf")" "$MAIN" 2>/dev/null | grep -o '{"metric".*}' | tail -1 \
    > "$OUT/${arm}_${i}.json"
  # a crashed arm leaves an empty JSON — abort before the summary step
  # computes medians over whatever runs happened to succeed
  [ -s "$OUT/${arm}_${i}.json" ] || {
    echo "ab_bench: arm $arm run $i produced no bench JSON" >&2; exit 1; }
  echo "== $arm $i: $(head -c 200 "$OUT/${arm}_${i}.json")"
}
for i in $(seq 1 "$N"); do
  if [ $((i % 2)) -eq 1 ]; then
    run head /tmp/graft_cp.txt "$i"
    run ctrl /tmp/graft_cp_ctrl.txt "$i"
  else
    run ctrl /tmp/graft_cp_ctrl.txt "$i"
    run head /tmp/graft_cp.txt "$i"
  fi
done
python3 - "$OUT" "$N" <<'PY'
import json, statistics, sys
out, n = sys.argv[1], int(sys.argv[2])
arms = {}
for arm in ("head", "ctrl"):
    runs = [json.load(open(f"{out}/{arm}_{i}.json")) for i in range(1, n + 1)]
    arms[arm] = {q: statistics.median([r["queries"][q] for r in runs])
                 for q in runs[0]["queries"]}
print(f"{'entry':28s} {'head':>7s} {'ctrl':>7s} ratio")
for q in arms["head"]:
    h, c = arms["head"][q], arms["ctrl"].get(q, float('nan'))
    print(f"{q:28s} {h:7.3f} {c:7.3f} {h/c:5.2f}x")
PY
