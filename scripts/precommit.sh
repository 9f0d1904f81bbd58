#!/usr/bin/env bash
# Pre-snapshot compile gate (round-13 verdict directive 2): round 12 was
# lost to an end-of-round snapshot commit that did not compile
# (Dedup.scala `shiftleft` type mismatch — BENCH_r12.json rc=1,
# CORRECTNESS_r12.json empty, a full round of gate signal gone). ADVICE
# promised "snapshot commits now get a compile check"; this script IS the
# mechanism, committed so the promise is enforceable, not prose.
#
# Run before EVERY commit that could be the round's gated snapshot
# (i.e. before any end-of-round commit, and ideally before every commit):
#
#   scripts/precommit.sh && git commit ...
#
# `sbt Test/compile` covers main AND test sources — the r12 failure was in
# main, but a test-source breakage equally voids the round (the driver
# runs `sbt test`). Exits non-zero on any compile error; nothing is
# committed past a red gate.
#
# Optionally install as an actual git hook (idempotent):
#   ln -sf ../../scripts/precommit.sh .git/hooks/pre-commit
set -euo pipefail
cd "$(dirname "$0")/.."
# Self-containment gate: the tests and registered queries read only files
# in the repository (the ETL example fixture lives in fixtures/example), so
# no source may name the external reference checkout.
if grep -rnF "/root/reference" src/; then
  echo "[precommit] FAIL - the files above name /root/reference; use Purchases.ExampleDir or another in-repo path" >&2
  exit 1
fi
echo "[precommit] sbt Test/compile (compile gate for snapshot commits)..."
sbt -batch Test/compile
echo "[precommit] OK - main + test sources compile"
