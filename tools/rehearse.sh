#!/usr/bin/env bash
# Scale rehearsal: everything round 6 ran by hand, as one command.
# Generates fixtures at the given sf, dumps bench-set physical plans at
# sf0.1 and at the rehearsal sf and diffs their shapes (broadcast->SMJ
# flips, exchange-count changes, lost pushdown), runs the bench, then the
# strict DuckDB-oracle sweep — excluding only the oracles that are
# all-pairs in corpus size by design (their scale paths, the LSH/banding
# operators themselves, DO run and ARE checked).
#
# Usage: tools/rehearse.sh <sf> [workDir]     e.g. tools/rehearse.sh 1.0
set -euo pipefail
cd "$(dirname "$0")/.."
SF="$1"; WORK="${2:-/tmp/rehearse_sf$SF}"
DATA="$WORK/data"

# q140: the fixture block vocabulary is 8 last-name tokens, so BOTH sides
# (Spark verify and the DuckDB full-levenshtein oracle) are Σ|block|² ≈
# (n/8)·n pairs — 5e9 at sf1, infeasible for the oracle (the Spark side
# runs in ~4 min via the broadcast-probe verify; sf0.1 keeps oracling it).
# q168: its oracle materializes the transitive closure of the near-dup
# graph as a recursive CTE — Σ|component|² rows; the rehearsal fixtures'
# label-clustered embeddings connect EVERY within-label pair at τ=0.4
# (10 components of 2k/20k at sf1), so the closure is the corpus squared.
# The Spark side (min-label propagation, linear per iteration) runs fine.
# q40: the rehearsal fixtures cluster embeddings so tightly by label that
# EVERY within-label pair passes tau=0.4 (measured 4510/4510 on a 300-row
# sample at sf10) — the pair LIST is corpus-squared BY FIXTURE SHAPE
# (2e9 rows at sf10), infeasible to dump or compare on either engine. The
# operator's scale path (bucketed block grid, pairParallelism) is pinned
# in SimilaritySpec and oracled at driver scale, where thresholds bind.
# q175: its oracle is the all-pairs batch×corpus + batch² exact Jaccard
# ground truth (the q36 class); the Spark side (banded LSH probe) runs.
# q176: the oracle UNROLLS 3 label-propagation rounds as one SQL query —
# three chained (180M-edge ⋈ labels) joins that DuckDB must materialize
# together. Measured infeasible at sf10: 48 GiB then 84 GiB memory limits
# both exhausted, the retry spilling >150 GiB of temp before filling the
# disk. The Spark side runs green at sf10 (MEMORY_AND_DISK_SER edges);
# sf0.01 pins the schedule bit-for-bit and GraphSpec fuzzes the operator
# against an independent reference — oracle infeasibility, not a defect.
# q187: the oracle scores every (query, corpus) pair — sampleMod=10 makes
# that 0.1·n² cosines (4e9 at sf10), the q36 all-pairs class. The Spark
# side (bounded-TopK brute scorer) still runs and is row-checked.
# q193: every vector is a query (n² cosines in both engines by design —
# the composite's scale path swaps the brute scorer for cellTopK with
# mutual+labelprop unchanged). Spark side runs and is row-checked.
# q196: its oracle is the all-pairs Hamming ground truth over image
# hashes (the q37 contract on images); the banded Spark side is linear.
# q200: the oracle is LINEAR but its constant is 16 md5 draws per sym
# edge — 2.9e9 md5 strings over the 180M-row sf10 sym table plus two
# list-sorts per (v, slot) group; measured 651 s for the draws stage
# ALONE at sf10 (> the 900 s cap before the closure join even starts).
# The q176 class: oracle infeasibility, not a defect — the Spark side
# runs sf10 in 54.5 s (SCALE.md round-9) and sf0.01 pins the identical
# md5 draw arithmetic bit-for-bit.
# q209: its oracle re-derives the margin from the ALL-PAIRS even×odd
# cosine ground truth (the q38/q187 class — 1e10 cosines at sf10 in
# DuckDB). The Spark side (two broadcast-probe top-k passes, bounded
# TopK argmax, scanParallelism-guarded) runs and is row-checked.
QUADRATIC_ORACLES="q35_jaccard_blocked,q36_minhash_lsh,q37_simhash,q92_containment_pairs,q140_fuzzy_join,q145_prefix_join,q155_sparse_cosine,q168_semantic_dedup,q40_embedding_dedup,q175_incremental_near_dup,q176_label_propagation,q187_knn_accuracy,q193_semantic_communities,q196_image_near_dup,q200_clustering_sampled,q209_margin_mining"

mkdir -p "$WORK"

echo "== generate fixtures @ sf$SF =="
# GRAFT_REHEARSE_SKIP_GEN=1 reuses an existing fixture dir (generation is
# deterministic, so a re-launch after a downstream stage failure need not
# pay the gen pass again); all ten tables must be present.
if [ "${GRAFT_REHEARSE_SKIP_GEN:-0}" = "1" ] \
   && [ "$(ls "$DATA"/*.parquet 2>/dev/null | wc -l)" -ge 10 ]; then
  echo "(skipping gen: $DATA already holds $(ls "$DATA"/*.parquet | wc -l) tables)"
else
  tools/gen_sf.sh "$DATA" "$SF"
fi

echo "== plan dumps (sf0.1 baseline vs sf$SF) =="
sbt -batch "runMain graft.Tool plans /root/testdata/sf0.1 $WORK/plans_sf01" \
           "runMain graft.Tool plans $DATA $WORK/plans_sf$SF"
python3 tools/plandiff.py "$WORK/plans_sf01" "$WORK/plans_sf$SF" \
  | tee "$WORK/plandiff.txt"

echo "== bench @ sf$SF =="
# Refuse to RECORD a bench from a busy machine: the r7 driver artifact
# (22.26 s) was sampled while the sf1 DuckDB oracle sweep saturated the
# other cores, and the clean number (21.27 s) lived only in prose. A
# bench sample is only meaningful idle — gate on 1-min load average.
MAXLOAD="${GRAFT_BENCH_MAX_LOAD:-4.0}"
# WAIT for the load to settle instead of dying: the plan-dump stage just
# ahead of this gate leaves its own load behind, and an unattended
# rehearsal that kills itself at its own wake (r9, first launch) records
# nothing. Cap the wait; refuse only if the box never goes idle.
WAITED=0
while :; do
  LOAD=$(cut -d' ' -f1 /proc/loadavg)
  awk -v l="$LOAD" -v m="$MAXLOAD" 'BEGIN{exit !(l <= m)}' && break
  if [ "$WAITED" -ge "${GRAFT_BENCH_SETTLE_MAX:-900}" ]; then
    echo "REFUSING to record bench: load $LOAD > $MAXLOAD after ${WAITED}s settle wait" >&2
    exit 1
  fi
  echo "(bench gate: load $LOAD > $MAXLOAD — settling, ${WAITED}s)"
  sleep 30; WAITED=$((WAITED + 30))
done
SPARK_GRAFT_SF_DIR="$DATA" sbt -batch "runMain graft.Bench" \
  | grep '{"metric"' | tee "$WORK/bench.json"

echo "== strict oracle sweep @ sf$SF (excluding all-pairs ground truths) =="
SPARK_GRAFT_CPUS=32 sbt -batch \
  "runMain graft.Verify $DATA $WORK/verify !$QUADRATIC_ORACLES"
# 15-min cap per oracle: a super-linear oracle that slipped the exclusion
# list logs a timeout and the sweep continues (see check.py)
GRAFT_ORACLE_TIMEOUT="${GRAFT_ORACLE_TIMEOUT:-900}" python3 tools/check.py "$DATA" "$WORK/verify"

echo "REHEARSAL OK — artifacts in $WORK"
