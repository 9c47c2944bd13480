#!/usr/bin/env bash
# Run the full robustness-sweep battery against HEAD: eight single-axis
# fixture sweeps plus the composed (seven injection axes chained onto
# the null fixture) sweep — nine gate runs, each a full-gate Verify +
# DuckDB oracle compare. At sf0.01 on a 4-core VM the battery took
# 1 h 44 min: about 20 min each for the long-document and composed
# sweeps (their fixtures carry the 10 MB documents) and 3.5-10 min for
# each of the other seven.
#
#   tools/run_sweeps.sh [sfdir]     # default /root/testdata/sf0.01
#
# Exits non-zero on the first failing sweep. Append the one-line result
# to COVERAGE.md each round (the round checklist's sweep note).
set -euo pipefail
SF="${1:-/root/testdata/sf0.01}"
cd "$(dirname "$0")/.."
WORK="$(mktemp -d /tmp/graft-sweeps.XXXXXX)"
trap 'rm -rf "$WORK"' EXIT

run_gate() { # name fixture-dir
  local name="$1" fix="$2" out="$WORK/v_$1"
  sbt -batch "runMain graft.Verify $fix $out" >"$WORK/$name.verify.log" 2>&1
  if python3 tools/oracle_check.py "$fix" "$out" >"$WORK/$name.check.log" 2>&1
  then
    echo "sweep $name: $(tail -1 "$WORK/$name.check.log")"
  else
    echo "sweep $name FAILED:"; grep "^FAIL" "$WORK/$name.check.log"
    exit 1
  fi
}

python3 tools/null_sweep.py       "$SF" "$WORK/null"
python3 tools/unicode_sweep.py    "$SF" "$WORK/uni"
python3 tools/whitespace_sweep.py "$SF" "$WORK/ws"
python3 tools/embedding_sweep.py  "$SF" "$WORK/emb"
python3 tools/events_sweep.py     "$SF" "$WORK/ev"
python3 tools/longdoc_sweep.py    "$SF" "$WORK/long"
python3 tools/dup_sweep.py        "$SF" "$WORK/dup"
python3 tools/skew_sweep.py       "$SF" "$WORK/skew"
# composed: chain every injection into one fixture (order matters only
# in that unicode/whitespace/longdoc skip null text, so null goes first;
# longdoc precedes unicode/ws so their injections land ON the long docs;
# dup goes late so its exact copies duplicate fully-injected documents;
# skew goes LAST so the whale key owns already-duplicated, already-
# injected rows — hot key x value collision is the composed case)
python3 tools/longdoc_sweep.py    "$WORK/null" "$WORK/m0"
python3 tools/unicode_sweep.py    "$WORK/m0"   "$WORK/m1"
python3 tools/whitespace_sweep.py "$WORK/m1"   "$WORK/m2"
python3 tools/embedding_sweep.py  "$WORK/m2"   "$WORK/m3"
python3 tools/events_sweep.py     "$WORK/m3"   "$WORK/m4"
python3 tools/dup_sweep.py        "$WORK/m4"   "$WORK/m5"
python3 tools/skew_sweep.py       "$WORK/m5"   "$WORK/mega"

run_gate null     "$WORK/null"
run_gate unicode  "$WORK/uni"
run_gate ws       "$WORK/ws"
run_gate emb      "$WORK/emb"
run_gate events   "$WORK/ev"
run_gate longdoc  "$WORK/long"
run_gate dup      "$WORK/dup"
run_gate skew     "$WORK/skew"
run_gate composed "$WORK/mega"
echo "all sweeps green"
