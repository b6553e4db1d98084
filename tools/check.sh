#!/bin/bash
# Local t2 mirror: run Verify at a scale factor, then DuckDB parity.
# Usage: tools/check.sh [sf0.001|sf0.01] [keyFilter...]
set -eo pipefail
cd "$(dirname "$0")/.."
SF="${1:-sf0.001}"; shift 2>/dev/null || true
OUT="/tmp/graft_verify_$SF"
rm -rf "$OUT"
sbt -batch "runMain graft.Verify /root/testdata/$SF $OUT" 2>&1 | grep -Ev '^\[info\] (welcome|loading|set|running|compiling)' | tail -20
python3 tools/parity.py "/root/testdata/$SF" "$OUT" "$@"
