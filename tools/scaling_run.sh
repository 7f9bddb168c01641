#!/bin/bash
# North-rule scaling evidence: the SAME indexing job (identical input
# parquet, identical partition count = 384) at two parallelism levels.
# The sandbox host has noisy-neighbor interference (2-3x swings between
# identical runs), so each level runs twice in ALTERNATING order and the
# best-of-two per level is kept — both levels get equal treatment.
#
# usage: tools/scaling_run.sh [PAGES] [CPUS_LO] [CPUS_HI] [TAG]
#   defaults 1000000 8 32 and no tag; raw runs land in
#   BENCH/scaling_[TAG_]c{CPUS}_r{1,2}.json, the best of two per level in
#   BENCH/scaling_[TAG_]c{CPUS}.json. Example (the round-5 pair):
#   tools/scaling_run.sh 2000000 2 8 r5
set -e
PAGES=${1:-1000000}
LO=${2:-8}
HI=${3:-32}
TAG=${4:-}
cd "$(dirname "$0")/.."
OUT="BENCH/scaling_${TAG:+${TAG}_}"
export SPARK_GRAFT_BENCH_PAGES=$PAGES
export SPARK_GRAFT_INDEX_PARTS=384
export SPARK_GRAFT_BENCH_SCALING=1
export SPARK_GRAFT_SHUFFLE_PARTITIONS=384
for round in 1 2; do
  for cpus in $LO $HI; do
    rm -rf /tmp/es_bench_index_c${cpus}_n${PAGES}
    SPARK_GRAFT_CPUS=$cpus python bench.py 2>/dev/null | tail -1 \
      > ${OUT}c${cpus}_r${round}.json
  done
done
python - "$OUT" "$LO" "$HI" <<'PY'
import json, sys
out, lo, hi = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
best = {}
for cpus in (lo, hi):
    runs = [json.load(open(f"{out}c{cpus}_r{rnd}.json")) for rnd in (1, 2)]
    top = max(runs, key=lambda d: d["index_docs_per_sec"])
    top["runs_docs_per_sec"] = [r["index_docs_per_sec"] for r in runs]
    with open(f"{out}c{cpus}.json", "w") as f:
        json.dump(top, f)
    best[cpus] = top["index_docs_per_sec"]
    print(f"c{cpus} runs:", top["runs_docs_per_sec"])
print(f"best c{lo}:", best[lo], f"best c{hi}:", best[hi],
      "efficiency:", round(best[hi] / best[lo] / (hi / lo), 3))
PY
echo DONE
