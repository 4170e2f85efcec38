#!/usr/bin/env bash
# Fingerprint of the DuckDB oracle SQL: one `sha256  key` line per
# SparkEntry.oracleSql entry, sorted by key, with no Spark session.
#
#   tools/oracle_digest.sh > digests.txt
#
# Run it on two checkouts and diff the outputs: an empty diff means the
# oracle SQL is byte-identical, so no oracle gate result can move.
set -euo pipefail
cd "$(dirname "$0")/.."
sbt -batch "Test/runMain graft.OracleDigest" | grep -E '^[0-9a-f]{64}  '
