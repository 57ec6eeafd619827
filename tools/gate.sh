#!/usr/bin/env bash
# Commit gate (VERDICT r10 item 2): the round-10 snapshot was committed
# without a compile check and HEAD broke, voiding the driver's round
# artifacts. Run this before ANY commit touching src/; run with `smoke`
# before the end-of-round snapshot.
#
#   tools/gate.sh          # sbt -batch compile (fast, ~10 s incremental), then
#                          # print the Scala line count under src/main and
#                          # the number of graft confs it reads
#   tools/gate.sh smoke    # compile + Verify on sf0.001 + oracle compare, then
#                          # one Bench rep and one Profile run on sf0.001 (~5 min)
#
# Exit nonzero on any failure.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "[gate] sbt -batch compile"
sbt -batch compile >/tmp/gate_compile.log 2>&1 || {
  echo "[gate] COMPILE FAILED"; tail -30 /tmp/gate_compile.log; exit 1; }
echo "[gate] compile OK"
# ROADMAP aim 2 tracks main-source size next to the bench total
echo "[gate] main-source LOC: $(find src/main -name '*.scala' -exec cat {} + | wc -l)"
# ...and the graft confs main source reads: distinct "spark.graft.* literals
echo "[gate] graft confs read by main source: $(grep -rhoE '"spark\.graft\.[A-Za-z0-9_.]+' src/main | sort -u | wc -l)"

if [[ "${1:-}" == "smoke" ]]; then
  rm -rf /tmp/gate_vout
  echo "[gate] Verify sf0.001"
  SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify /root/testdata/sf0.001 /tmp/gate_vout" \
    >/tmp/gate_verify.log 2>&1 || {
    echo "[gate] VERIFY FAILED"; grep -a '\[verify\]' /tmp/gate_verify.log | tail -20; exit 1; }
  echo "[gate] oracle compare sf0.001"
  python3 tools/compare_oracle.py /root/testdata/sf0.001 /tmp/gate_vout \
    >/tmp/gate_oracle.log 2>&1 || {
    echo "[gate] ORACLE COMPARE FAILED"; grep -a FAIL /tmp/gate_oracle.log | tail -20; exit 1; }
  tail -1 /tmp/gate_oracle.log
  python3 tools/survey_check.py /tmp/gate_vout
  # no spec runs the mains: this is the check that Bench and Profile work
  lake=/root/testdata/sf0.001
  echo "[gate] Bench sf0.001 (1 rep)"
  SPARK_GRAFT_SF_DIR=$lake SPARK_GRAFT_BENCH_REPS=1 SPARK_GRAFT_BENCH_OUT=/tmp/gate_bench.json \
    sbt -batch "runMain graft.Bench" >/tmp/gate_bench.log 2>&1 || {
    echo "[gate] BENCH FAILED"; tail -20 /tmp/gate_bench.log; exit 1; }
  grep -q '"failed":0,' /tmp/gate_bench.json || {
    echo "[gate] BENCH QUERIES FAILED"; grep -a '\[bench\]' /tmp/gate_bench.log | tail -20; exit 1; }
  # compile work of the timed rep: a warm codegen cache reads 0 classes
  echo "[gate] Bench timed rep: $(grep -oE '"codegen_(classes|compile_ms)":[0-9.]+' /tmp/gate_bench.json | tr '\n' ' ')"
  echo "[gate] Profile sf0.001 l_paragraph_scrub"
  rm -rf /tmp/gate_profile
  sbt -batch "runMain graft.Profile $lake /tmp/gate_profile smoke l_paragraph_scrub" \
    >/tmp/gate_profile.log 2>&1 || {
    echo "[gate] PROFILE FAILED"; grep -a '\[profile\]' /tmp/gate_profile.log | tail -20; exit 1; }
  [[ -s /tmp/gate_profile/l_paragraph_scrub_smoke.txt ]] || {
    echo "[gate] PROFILE WROTE NO MAIN PLAN"; exit 1; }
  grep -a '^\[profile\] l_paragraph_scrub: build ' /tmp/gate_profile.log || {
    echo "[gate] PROFILE PRINTED NO BUILD LINE"; exit 1; }
  echo "[gate] smoke OK"
fi
