#!/usr/bin/env bash
# Pre-snapshot guard (round-7 post-mortem): NEVER commit a snapshot that
# does not compile. Run this before any end-of-round / milestone commit:
#
#   tools/pre_snapshot_check.sh          # compile only (fast, the r7 gap)
#   tools/pre_snapshot_check.sh --test   # compile + full ScalaTest suite
#
# Either way it also builds the benchmark harness (perfbench/build.py), so
# a change to a signature the harness calls (Chunker, DirHash,
# LocalSession) fails here rather than as a failed benchmark run.
#
# Exit 0 = safe to commit. Nonzero = DO NOT COMMIT; the failing sbt
# output is on stdout/stderr. Round 7 shipped a snapshot whose HEAD
# failed `sbt compile`, which voided the whole round's driver
# verification (CORRECTNESS empty, BENCH rc=1) — this check makes that
# failure mode structural instead of disciplinary.
set -euo pipefail
cd "$(dirname "$0")/.."

if [[ "${1:-}" == "--test" ]]; then
  sbt -batch test
else
  sbt -batch compile Test/compile
fi
python3 perfbench/build.py
echo "pre_snapshot_check: OK"
