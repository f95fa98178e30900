#!/bin/bash
# End-of-round gate (VERDICT r9 item 5): one command that proves the
# snapshot is shippable. Run before the round closes; if any stage is
# red, fix or revert to last green BEFORE the snapshot.
#   tools/round_gate.sh            # compile + test + verify(sf0.01) + leakcheck
#   tools/round_gate.sh --bench    # ... + the perfbench workloads
# Gating relies on each command's EXIT CODE only (ADVICE r10: summary
# greps are informational and must not red the gate if sbt reformats).
set -eo pipefail
cd "$(dirname "$0")/.."

echo "== [1/5] sbt compile =="
sbt -batch compile > /tmp/gate_compile.log 2>&1 \
  || { tail -20 /tmp/gate_compile.log; echo "GATE: COMPILE RED"; exit 1; }

echo "== [2/5] sbt test =="
sbt -batch test > /tmp/gate_test.log 2>&1 \
  || { grep -E "FAILED|\*\*\*" /tmp/gate_test.log | tail -20 || true
       echo "GATE: TESTS RED"; exit 1; }
grep -E "Tests: succeeded" /tmp/gate_test.log | tail -1 || true

echo "== [3/5] differential verify (sf0.01) =="
bash tools/verify.sh /root/testdata/sf0.01 > /tmp/gate_verify.log 2>&1 \
  || { tail -10 /tmp/gate_verify.log; echo "GATE: VERIFY RED"; exit 1; }
tail -2 /tmp/gate_verify.log || true

echo "== [4/5] leakcheck =="
python3 tools/leakcheck.py || { echo "GATE: LEAKCHECK RED"; exit 1; }

echo "== [4.5/5] differential SQL fuzz (sf0.001, 3 seeds x 70) =="
sbt -batch package > /tmp/gate_pkg_fuzz.log 2>&1 \
  || { tail -20 /tmp/gate_pkg_fuzz.log; echo "GATE: PACKAGE RED"; exit 1; }
# >=200 queries across >=3 seeds (VERDICT r12 #1); distinct out dirs so a
# red run leaves every seed's repro .sql on disk
for SEED in 42 7 13; do
  python3 tools/difffuzz.py /root/testdata/sf0.001 /tmp/gate_fuzz_s$SEED \
    --n 70 --seed $SEED > /tmp/gate_fuzz_s$SEED.log 2>&1 \
    || { tail -10 /tmp/gate_fuzz_s$SEED.log
         echo "GATE: FUZZ RED (seed $SEED)"; exit 1; }
  tail -2 /tmp/gate_fuzz_s$SEED.log | tr '\n' ' '; echo
done

echo "== [4.6/5] differential PIPELINE fuzz (planted corpora, 3 seeds) =="
python3 tools/pipefuzz.py /tmp/gate_pipefuzz --seeds 3,5,8 \
  > /tmp/gate_pipefuzz.log 2>&1 \
  || { tail -12 /tmp/gate_pipefuzz.log; echo "GATE: PIPEFUZZ RED"; exit 1; }
grep -E "^pipefuzz|== " /tmp/gate_pipefuzz.log | tail -6

if [ "${1:-}" = "--bench" ]; then
  echo "== [5/5] perfbench (ingest_live + curation, seed 1) =="
  # the repo benchmark (BENCHMARK.json): builds the engine from source,
  # runs both workloads and prints one table; any failed operation reds
  # the gate, like a non-zero exit does
  python3 perfbench/run.py --all --seed 1 --seconds 12 \
    > /tmp/gate_perfbench.log 2>/tmp/gate_perfbench.err \
    || { tail -20 /tmp/gate_perfbench.err; echo "GATE: PERFBENCH RED"; exit 1; }
  cat /tmp/gate_perfbench.log
  awk '$2 == "fail_frac" && $3 + 0 > 0 { bad = 1 } END { exit bad }' \
    /tmp/gate_perfbench.log || { echo "GATE: PERFBENCH FAILED OPERATIONS"; exit 1; }
else
  echo "== [5/5] bench skipped (pass --bench to run) =="
fi
echo "GATE: GREEN"
