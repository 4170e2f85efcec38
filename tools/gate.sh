#!/usr/bin/env bash
# Full local correctness gate at any scale factor — the same two steps the
# round driver runs (Verify dump, then DuckDB oracle compare):
#
#   tools/gate.sh [sf_dir] [out_dir] [rows]
#
# `rows` (optional) is a comma-separated list of registered query names;
# only those are dumped and oracle-compared (e.g. stream_near_dup_ingest),
# for a fast gate of one operator. Without it every row runs.
#
# Defaults to the fast sf0.01 gate; pass /root/testdata/sf0.1 for the
# scale-divergence sweep (hot-bucket caps, LSH fan-out, prefix-expansion
# fallbacks only bite as data grows — run it before shipping operators
# whose oracles carry caps).
set -euo pipefail
SF="${1:-/root/testdata/sf0.01}"
OUT="${2:-/tmp/verify_out}"
cd "$(dirname "$0")/.."
ROWS="${3:-}"
sbt -batch "runMain graft.Verify $SF $OUT${ROWS:+ $ROWS}"
python3 tools/compare.py "$SF" "$OUT"
