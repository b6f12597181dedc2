#!/usr/bin/env bash
# Close-out correctness gate — the FULL-SWEEP form the driver runs.
#
# Runs every SparkEntry query in ONE JVM (exactly like the driver's
# full sweep — per-batch SPARK_GRAFT_ONLY runs cannot see sweep-only
# environment sensitivities: the r10 sql_txn_ryow flake passed three
# isolated gates while the driver's 241-query sweep saw red), then the
# DuckDB compare. Usage:
#
#   tools/full_gate.sh [sf_dir]        # default /root/testdata/sf0.01
#
# Exit 0 = every query hash-matches. Protocol: run this before every
# round close-out and cite the run in the SURVEY round notes.
set -euo pipefail
SF_DIR="${1:-/root/testdata/sf0.01}"
OUT="${TMPDIR:-/tmp}/graft_full_gate_$(date +%s)"
# one parquet dir per query: never leave a whole sweep behind
trap 'rm -rf "$OUT"' EXIT
cd "$(dirname "$0")/.."
sbt -batch compile >/dev/null
rm -rf "$OUT"
# Heap: min(16g, MemTotal - 6 GB). Large hosts keep 16g; a smaller one
# leaves room for the OS and for the DuckDB compare that follows.
HEAP_MB="$(awk '/^MemTotal:/ {m = int($2 / 1024) - 6144
  print (m > 16384 ? 16384 : m)}' /proc/meminfo 2>/dev/null || echo 16384)"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" \
  java -cp "target/scala-2.13/classes:/opt/spark/jars/*" "-Xmx${HEAP_MB}m" \
  graft.Verify "$SF_DIR" "$OUT"
python3 tools/check.py "$SF_DIR" "$OUT"
