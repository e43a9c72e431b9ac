#!/bin/bash
# One-command release gate (r13 verdict task 6): every proof the round
# rests on, one summary line per gate, artifact path on each line.
# Gates:
#   1. sbt test            — the spec suites (plan pins, bit-identity pins)
#   2. Verify @ sf0.01     — the driver-contract correctness dump
#   3. DuckDB oracle       — per-query compare over the dump (the gate)
#   4. Bench @ sf0.1       — the driver-contract timing JSON
#   5. (GRAFT_GATE_STAR=1) — third-decade star leg: verify-dump the five
#      sf100star headliners and oracle-compare them, so the scale
#      evidence regenerates instead of aging (r14 verdict task 7).
#      Needs target/testdata-local/sf100star (tools/gen_star_big.py).
#   6. served ≡ recompute @ sf0.1 — ServedRecomputeSpec on the larger
#      corpus (the suite in gate 1 runs it at sf0.01)
# Scale legs (sf1/sf10full sweeps, per-query oracle at scale, probes) are
# separate scripts by design — they take hours and have their own logs;
# this gate is the "is HEAD shippable" answer in one invocation.
#
# STANDING ROUND-CLOSE RULE (r15 verdict task 2): this gate is the LAST
# thing a round runs, AFTER the round's final code commit — a gate run
# that predates any code change proves nothing (r15 shipped a red suite
# exactly this way). The gate-artifact commit itself must contain only
# the gate outputs (bench/release_rN/), so the gated code IS HEAD's code.
#
# CANONICAL BENCH LEG (r14 verdict task 5): gate 4's bench_sf0.1.json is
# THE one wall-clock number a round quotes — three same-HEAD sf0.1 totals
# coexisted in r14 (sweep/gate/driver) and round-over-round comparisons
# drowned in leg-picking. Cross-round comparisons use its cpu_value /
# cpu_s fields (executor CPU, host-stall-immune); wall stays what a user
# experiences on this host.
#
# Usage: tools/run_release_check.sh [outdir]   (default target/release_check)
set -u
cd /root/repo
OUT=${1:-target/release_check}
mkdir -p "$OUT"
SUMMARY="$OUT/summary.txt"
: > "$SUMMARY"
fail=0

note() { echo "$1" | tee -a "$SUMMARY"; }

# ---- gate 1: sbt test -------------------------------------------------
sbt -batch test > "$OUT/sbt_test.log" 2>&1
rc=$?
# quote the AGGREGATE count ('Passed: Total N' — sums every suite), not
# the last per-module 'Tests: succeeded' line: the two differed in r17
# (313 vs 323) and the gate summary disagreed with the round report
line=$(grep -E "Passed: Total" "$OUT/sbt_test.log" | tail -1)
[ -n "$line" ] || line=$(grep -E "Tests: succeeded" "$OUT/sbt_test.log" | tail -1)
if [ $rc -eq 0 ] && grep -q "All tests passed" "$OUT/sbt_test.log"; then
  note "GATE sbt-test: PASS ($line) [$OUT/sbt_test.log]"
else
  note "GATE sbt-test: FAIL rc=$rc ($line) [$OUT/sbt_test.log]"; fail=1
fi

# ---- gate 2: Verify dump at sf0.01 ------------------------------------
VOUT="$OUT/vout"
rm -rf "$VOUT"
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $VOUT" \
  > "$OUT/verify.log" 2>&1
rc=$?
n=$(ls -d "$VOUT"/*/ 2>/dev/null | wc -l)
if [ $rc -eq 0 ] && [ "$n" -gt 0 ]; then
  note "GATE verify-dump: PASS ($n query dirs) [$OUT/verify.log]"
else
  note "GATE verify-dump: FAIL rc=$rc ($n query dirs) [$OUT/verify.log]"; fail=1
fi

# ---- gate 3: DuckDB oracle over the dump ------------------------------
python3 tools/check_oracle.py --pyuf /root/testdata/sf0.01 "$VOUT" \
  > "$OUT/oracle.log" 2>&1
rc=$?
tallies=$(tail -2 "$OUT/oracle.log" | grep -E "pass|fail" | tail -1)
if [ $rc -eq 0 ] && echo "$tallies" | grep -qE " 0 fail"; then
  note "GATE oracle: PASS ($tallies) [$OUT/oracle.log]"
else
  note "GATE oracle: FAIL rc=$rc ($tallies) [$OUT/oracle.log]"; fail=1
fi

# ---- gate 4: Bench at sf0.1 (driver contract line) --------------------
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" \
  > "$OUT/bench.log" 2>&1
rc=$?
json=$(grep -E '^\{"metric"' "$OUT/bench.log" | tail -1)
total=$(echo "$json" | python3 -c "import sys,json;print(json.load(sys.stdin)['value'])" 2>/dev/null)
if [ $rc -eq 0 ] && [ -n "$total" ]; then
  cp -f target/bench_last.json "$OUT/bench_sf0.1.json" 2>/dev/null
  note "GATE bench: PASS (${total}s sf0.1 suite) [$OUT/bench_sf0.1.json]"
  gc=$(grep -oE "artifact GC: swept [0-9]+ superseded generations" "$OUT/bench.log" | tail -1)
  [ -n "$gc" ] && note "  bench $gc"
else
  note "GATE bench: FAIL rc=$rc [$OUT/bench.log]"; fail=1
fi

# ---- gate 4b: Bench at sf0.1 on the SWEEP-recipe corpus ----------------
# r16 method note: the canonical leg's d-family rows are generated by the
# DRIVER's corpus tool and are not comparable to sweep legs built by
# tools/gen_sf_local.py (different text mix). This leg runs the identical
# bench on the sweep recipe in the SAME window, so the repo carries ONE
# sf0.1 family comparable to every scaling sweep. Canonical contract
# number stays gate 4 (driver corpus, gate-vs-gate); cross-family
# per-query comparisons use THIS leg.
SWEEPDIR=target/testdata-local/sf0.1
if [ ! -f "$SWEEPDIR/documents.parquet" ]; then
  python3 tools/gen_sf_local.py 5000 2000 "$SWEEPDIR" 1 \
    > "$OUT/gen_sweep_sf0.1.log" 2>&1
fi
SPARK_GRAFT_SF_DIR="$SWEEPDIR" sbt -batch "runMain graft.Bench" \
  > "$OUT/bench_sweep.log" 2>&1
rc=$?
json=$(grep -E '^\{"metric"' "$OUT/bench_sweep.log" | tail -1)
total=$(echo "$json" | python3 -c "import sys,json;print(json.load(sys.stdin)['value'])" 2>/dev/null)
if [ $rc -eq 0 ] && [ -n "$total" ]; then
  cp -f target/bench_last.json "$OUT/bench_sf0.1_sweep.json" 2>/dev/null
  note "GATE bench-sweep: PASS (${total}s sf0.1 sweep-recipe) [$OUT/bench_sf0.1_sweep.json]"
else
  note "GATE bench-sweep: FAIL rc=$rc [$OUT/bench_sweep.log]"; fail=1
fi

# ---- gate 6: served ≡ recompute at sf0.1 --------------------------------
# every query serving an artifact family against its frame-level
# recompute, on a fresh warehouse and after a refreshed append; the spec
# reads its corpus from the graft.served.dir system property (relative
# to the test corpora's directory)
sbt -batch 'set Test / javaOptions += "-Dgraft.served.dir=sf0.1"' \
  "testOnly graft.ServedRecomputeSpec" > "$OUT/served_recompute.log" 2>&1
rc=$?
line=$(grep -E "Tests: succeeded" "$OUT/served_recompute.log" | tail -1)
if [ $rc -eq 0 ] && grep -q "All tests passed" "$OUT/served_recompute.log"; then
  note "GATE served-recompute-sf0.1: PASS ($line) [$OUT/served_recompute.log]"
else
  note "GATE served-recompute-sf0.1: FAIL rc=$rc ($line) [$OUT/served_recompute.log]"; fail=1
fi

# ---- gate 5 (optional): third-decade star oracle leg --------------------
if [ "${GRAFT_GATE_STAR:-0}" = "1" ]; then
  STARDIR=target/testdata-local/sf100star
  if [ ! -f "$STARDIR/lineitem.parquet" ]; then
    note "GATE star: FAIL (no $STARDIR corpus — run tools/gen_star_big.py)"; fail=1
  else
    QS="q01_top_abandoned_parts,q02_co_abandoned_pairs,q12_export_join,q25_rolling_window,e01_sessionize"
    VSTAR="$OUT/vout_star"
    rm -rf "$VSTAR"
    JOPTS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx48g"
    # big-corpus knobs for the shuffle/bench path; result VALUES are
    # knob-independent — which is exactly what the oracle proves
    SPARK_GRAFT_SHUFFLE_PARTITIONS=256 \
      java $JOPTS -cp "/opt/spark/jars/*:target/scala-2.13/classes" \
      graft.Verify "$STARDIR" "$VSTAR" "$QS" > "$OUT/verify_star.log" 2>&1
    rc=$?
    if [ $rc -ne 0 ]; then
      note "GATE star: FAIL verify rc=$rc [$OUT/verify_star.log]"; fail=1
    else
      tools/run_oracle_sfN.sh "$STARDIR" "$VSTAR" "$OUT/oracle_star.txt" \
        > "$OUT/oracle_star_run.log" 2>&1
      # grep -c prints 0 itself on no-match (exit 1) — no || echo fallback,
      # which would append a second line to the substitution
      passes=$(grep -c "^PASS" "$OUT/oracle_star.txt" 2>/dev/null)
      fails=$(grep -c "^FAIL" "$OUT/oracle_star.txt" 2>/dev/null)
      if [ "$fails" = "0" ] && [ "$passes" -ge 5 ]; then
        note "GATE star: PASS ($passes/5 sf100star headliners) [$OUT/oracle_star.txt]"
      else
        note "GATE star: FAIL ($passes pass / $fails fail) [$OUT/oracle_star.txt]"; fail=1
      fi
    fi
  fi
fi

if [ $fail -eq 0 ]; then note "RELEASE CHECK: ALL GATES GREEN"; else note "RELEASE CHECK: FAILED"; fi
exit $fail
