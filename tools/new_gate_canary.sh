#!/usr/bin/env bash
# Standing reduced-factor canary for NEWLY ADDED gates (builder tooling;
# VERDICT r5 item 5): catches a fixed-nlist-style quadratic the round it
# lands instead of a round later, without paying the full 10x canary.
#
# Usage: tools/new_gate_canary.sh <gate1,gate2,...> [factor]
#   1. derives a factor-F copy of the read-only sf0.1 fixture under
#      target/canary/sf0.3 (scale-honest replication: CanaryGen salts
#      doc words / rotates embeddings / offsets keys per replica);
#   2. benches ONLY the named gates at sf0.1 and at the scaled copy
#      (min-of-4 protocol, same as the round bench);
#   3. prints per-gate times and the growth ratio per factor.
#
# Reading: a gate whose work is input-linear shows ratio <= ~F; a
# bounded composition (capped graphs, frozen-index ingest) shows ~1.
# Anything >> F on a factor-3 run is the early quadratic signal -- the
# full 10x canary (CanaryGen default) is the follow-up, not the entry
# point. Record new-gate runs in BASELINE.md next to the gate's band.
set -euo pipefail
cd "$(dirname "$0")/.."

GATES="${1:?usage: new_gate_canary.sh <gate1,gate2,...> [factor]}"
FACTOR="${2:-3}"
SRC=/root/testdata/sf0.1
OUT="target/canary/sf0.$FACTOR"

# completion marker: a partially-written fixture (CanaryGen interrupted
# mid-table) must trigger regeneration, not a bench against undersized
# data — a flat ratio over a partial fixture is the canary lying
if [ ! -f "$OUT/.complete" ]; then
  echo "[canary] deriving factor-$FACTOR fixture under $OUT"
  GEN_LOG="$(mktemp)"
  if ! sbt -batch "runMain graft.CanaryGen $SRC $OUT $FACTOR" >"$GEN_LOG" 2>&1; then
    grep '\[canary\]' "$GEN_LOG" || tail -20 "$GEN_LOG"
    echo "[canary] CanaryGen FAILED - not benching a partial fixture" >&2
    exit 1
  fi
  grep '\[canary\]' "$GEN_LOG" || true
  touch "$OUT/.complete"
fi

bench() {
  SPARK_GRAFT_ONLY="$GATES" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" \
    SPARK_GRAFT_SF_DIR="$1" \
    sbt -batch "runMain graft.Bench" 2>/dev/null | grep '"queries"'
}

echo "[canary] base ($SRC):"
BASE_JSON="$(bench "$SRC")"
echo "$BASE_JSON"
echo "[canary] scaled ($OUT):"
SCALED_JSON="$(bench "$OUT")"
echo "$SCALED_JSON"

python3 - "$BASE_JSON" "$SCALED_JSON" "$FACTOR" <<'EOF'
import json, sys
base = json.loads(sys.argv[1])["queries"]
scaled = json.loads(sys.argv[2])["queries"]
factor = float(sys.argv[3])
bad = 0
for q in sorted(base):
    b, s = base[q], scaled.get(q, -1.0)
    ratio = s / b if b > 0 and s >= 0 else float("nan")
    flag = ""
    if ratio > 2 * factor:
        flag = "  <-- SUPERLINEAR: run the full 10x canary"
        bad += 1
    print(f"[canary] {q}: {b:.2f}s -> {s:.2f}s  ratio {ratio:.2f} (factor {factor:g}){flag}")
sys.exit(1 if bad else 0)
EOF
