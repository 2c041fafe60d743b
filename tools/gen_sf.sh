#!/usr/bin/env bash
# Generate synthetic scale-rehearsal fixtures beyond the driver's sf0.1:
# same ten tables/schemas/value ranges as /root/testdata (TESTDATA.md),
# deterministic, fully distributed (see graft.GenData). events.ts is
# written as timestamp_ntz micros — the driver's current physical layout.
#
# Usage: tools/gen_sf.sh <outDir> <sf>     e.g. tools/gen_sf.sh /tmp/testdata/sf1 1.0
set -euo pipefail
cd "$(dirname "$0")/.."
OUT="$1"; SF="$2"

sbt -batch "runMain graft.Tool gen $OUT $SF"

ls -la "$OUT"
