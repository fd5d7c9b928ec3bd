#!/bin/bash
# Segmented gate for the query surface — the one multi-JVM timing
# protocol: one fresh 16g JVM per query family (prefix) and pass, so
# one family's allocation failure cannot discard the rest
# (VARIANCE_r12 §4).
#
#   tools/seg_gate.sh <sfDir> <outPrefix e.g. bench/BENCH_r15_sf10_seg>
#
# Reads: SEG_PASSES (fresh-JVM passes per family, default 2) and
# SEG_ONLY=fam1,fam2 (run only these families). Each pass runs
# `graft.Bench` with:
#   SPARK_GRAFT_SF_DIR=<sfDir>
#   SPARK_GRAFT_BENCH_ONLY=<the family's keys>
#   SPARK_GRAFT_BENCH_PASSES=1  (one timed pass; the fresh JVM is the
#                                defense against a one-off spike)
#   SPARK_GRAFT_BENCH_CHILD=1   (no bench/ files; this script merges)
#   SPARK_GRAFT_BENCH_OUT=<outPrefix>_<fam>_p<pass>.json
# and merges a family's passes into <outPrefix>_<fam>.json.
#
# Families are DERIVED from the code's query registry (`graft.Bench
# --list`), not from a bench artifact (ADVICE r14 item 3: the r14
# version derived from bench/latest_sf0.1.json, so a query registered
# in SparkEntry but absent from the baseline json was silently never
# gated — the same silent-exclusion class the rewrite set out to fix).
# The baseline artifact is still CROSS-CHECKED: if its key set differs
# from the registry the gate fails loudly (the fix is to re-run the
# full sf0.1 bench, not to gate against a stale partition).
#
# Epoch self-adjudication (VERDICT r14 item 3): each family segment
# runs SEG_PASSES fresh-JVM passes (default 2) and the merged artifact
# carries per-query min as the gating number plus every raw pass under
# "passes_jvm" — the box's documented ±80% same-code epochs then
# adjudicate themselves instead of needing a hand-run VARIANCE rerun
# section. SEG_PASSES=1 restores the r14 single-pass behavior.
#
# Invariants enforced here: the family partition covers every registry
# key exactly once, no family is empty, and each pass's log is scanned
# for silent interpreted-eval fallbacks (the r13 CodeRoute failure
# mode: janino rejects a generated fragment, Spark logs a warning and
# quietly runs ~10× slower — a perf gate must treat that as red).
set -u
cd "$(dirname "$0")/.."
SFDIR=${1:?sfDir}; OUTP=${2:?outPrefix}
PASSES=${SEG_PASSES:-2}
CP="/opt/spark/jars/*:target/scala-2.13/classes:src/main/resources"
OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"

# the authoritative key set, straight from the code
java -cp "$CP" graft.Bench --list > /tmp/seg_gate_registry.txt \
  || { echo "[seg_gate] Bench --list failed"; exit 1; }
NREG=$(wc -l < /tmp/seg_gate_registry.txt)
if [ "$NREG" -lt 1 ]; then echo "[seg_gate] empty registry"; exit 1; fi
echo "[seg_gate] registry: $NREG queries, $PASSES fresh-JVM pass(es)/family"

# family = text up to the first '_' , except the relational q* block
# (q1_pricing_summary, q_abc_class, ...) which is one family "q".
# Cross-check the registry against the sf0.1 baseline artifact.
FAMS=$(python3 - <<'PY'
import json, sys
reg = sorted(l.strip() for l in open('/tmp/seg_gate_registry.txt') if l.strip())
try:
    base = set(json.load(open('bench/latest_sf0.1.json'))['queries'])
except Exception as e:
    print(f"[seg_gate] cannot read bench/latest_sf0.1.json: {e}", file=sys.stderr)
    sys.exit(1)
if base != set(reg):
    print(f"[seg_gate] REGISTRY/BASELINE MISMATCH: "
          f"registry-only={sorted(set(reg)-base)} "
          f"baseline-only={sorted(base-set(reg))} "
          f"-- re-run the full sf0.1 bench before gating", file=sys.stderr)
    sys.exit(1)
fams = {}
for k in reg:
    fam = 'q' if k.startswith('q') else k.split('_', 1)[0]
    fams.setdefault(fam, []).append(k)
covered = sum(len(v) for v in fams.values())
assert covered == len(reg), f"partition lost keys: {covered} != {len(reg)}"
assert all(fams.values()), "empty family"
for fam in sorted(fams):
    print(fam + ' ' + ','.join(fams[fam]))
PY
) || { echo "[seg_gate] family derivation failed"; exit 1; }
if [ -z "$FAMS" ]; then echo "[seg_gate] derived zero families"; exit 1; fi

RCALL=0
# SEG_ONLY=fam1,fam2 restricts WHICH families run (for targeted reruns
# of the families a change touched); the registry/baseline cross-check
# and the family partition above still run over the FULL registry, so
# a filtered run can never hide a key — it just runs fewer segments.
SEG_ONLY=${SEG_ONLY:-}
while read -r FAM KEYS; do
  if [ -z "$FAM" ] || [ -z "$KEYS" ]; then
    echo "[seg_gate] empty family/key list — refusing a zero-query segment"
    exit 1
  fi
  if [ -n "$SEG_ONLY" ] && ! echo ",$SEG_ONLY," | grep -q ",$FAM,"; then
    continue
  fi
  NQ=$(echo "$KEYS" | tr ',' '\n' | wc -l)
  for P in $(seq 1 "$PASSES"); do
    echo "[seg_gate] $FAM ($NQ queries) pass $P/$PASSES"
    SPARK_GRAFT_SF_DIR=$SFDIR SPARK_GRAFT_BENCH_CHILD=1 SPARK_GRAFT_BENCH_PASSES=1 \
    SPARK_GRAFT_BENCH_ONLY="$KEYS" SPARK_GRAFT_BENCH_OUT=${OUTP}_${FAM}_p${P}.json \
    java -Xmx16g $OPENS -cp "$CP" \
      graft.Bench > /tmp/seg_gate_${FAM}_p${P}.stdout 2>/tmp/seg_gate_${FAM}_p${P}.log
    RC=$?
    echo "[seg_gate] $FAM pass $P rc=$RC"
    [ $RC -ne 0 ] && RCALL=$RC
    # a timed run that fell back to interpreted eval is not a valid
    # measurement of the codegen'd engine — fail the gate loudly
    if grep -qE "Expr codegen error|falling back to interpreter" /tmp/seg_gate_${FAM}_p${P}.log; then
      echo "[seg_gate] $FAM pass $P: SILENT CODEGEN FALLBACK in log — segment invalid"
      grep -m 3 -E "Expr codegen error|falling back to interpreter" /tmp/seg_gate_${FAM}_p${P}.log
      RCALL=1
    fi
  done
  # merge passes: per-query min gates, every raw reading is kept
  python3 - "$OUTP" "$FAM" "$PASSES" "$SFDIR" <<'PY' || RCALL=1
import json, sys
outp, fam, passes, sfdir = sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4]
runs = []
for p in range(1, passes + 1):
    try:
        runs.append(json.load(open(f"{outp}_{fam}_p{p}.json")))
    except Exception as e:
        print(f"[seg_gate] {fam} pass {p}: unreadable artifact: {e}", file=sys.stderr)
        sys.exit(1)
keys = set(runs[0]['queries'])
for r in runs[1:]:
    if set(r['queries']) != keys:
        print(f"[seg_gate] {fam}: pass key sets differ", file=sys.stderr)
        sys.exit(1)
qmin = {k: min(r['queries'][k] for r in runs) for k in sorted(keys)}
merged = {
    "metric": "total", "value": round(sum(qmin.values()), 3), "unit": "sec",
    "queries": qmin,
    "passes_jvm": {k: [r['queries'][k] for r in runs] for k in sorted(keys)},
    "sf": sfdir,
}
with open(f"{outp}_{fam}.json", "w") as f:
    json.dump(merged, f)
    f.write("\n")
spread = [(max(v) / max(min(v), 1e-9), k) for k, v in merged['passes_jvm'].items()]
worst = sorted(spread, reverse=True)[:3]
print(f"[seg_gate] {fam} merged: total={merged['value']}s; "
      "worst pass spreads: " + ", ".join(f"{k} x{r:.2f}" for r, k in worst))
PY
done <<< "$FAMS"
exit $RCALL
