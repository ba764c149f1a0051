#!/bin/bash
# Same-session A/B bench replay — the only trustworthy way to compare
# per-query timings across revisions on this box. Cross-round absolute
# numbers drift ±30% with machine load (BENCH_r05 vs r04 moved 1.30x on a
# 63-query common set with ZERO plan changes), so any old-vs-new claim must
# come from running both trees back-to-back in one session on one machine
# state. This script does exactly that:
#
#   tools/bench_ab.sh OLDREV [NEWREV=HEAD]
#
# - exports each rev into a throwaway directory with `git archive` (the
#   current tree is never touched; NEWREV=HEAD uses the current checkout
#   directly so uncommitted changes can be A/B'd too)
# - builds + runs graft.Bench four times, same SF/CPU/iteration env, in
#   ABBA order: OLD, NEW, NEW, OLD. Load on a shared box drifts during a
#   session; run one side after the other and the drift reads as a
#   per-query ratio, while in ABBA order each side sees both ends of it
# - merges the four bench_detail.json files into BENCH_AB.json with a
#   per-query old/new/ratio table over each side's pooled samples
#   (tools/bench_ab_merge.py)
#
# Env knobs (same as Bench): SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS
# (default: the box's core count, `nproc` — the count perfbench and the
# tier-1 run use, so the pair times the plans they run),
# SPARK_GRAFT_BENCH_ITERS (default 5 here: speed claims rest on
# 5-iteration pairs), SPARK_GRAFT_BENCH_ONLY.
set -euo pipefail
cd "$(git rev-parse --show-toplevel)"
OLD=${1:?usage: tools/bench_ab.sh OLDREV [NEWREV=HEAD]}
NEW=${2:-HEAD}
export SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
export SPARK_GRAFT_BENCH_ITERS=${SPARK_GRAFT_BENCH_ITERS:-5}
WORK=$(mktemp -d /tmp/bench_ab.XXXXXX)
trap 'rm -rf "$WORK"' EXIT

export_tree() { # $1=rev  $2=dirname → prints the exported tree's path
  mkdir -p "$WORK/$2"
  git archive "$1" | tar -x -C "$WORK/$2"
  echo "$WORK/$2"
}

run_bench() { # $1=rev-or-HEAD  $2=treedir  $3=outprefix
  local dir=$2
  echo "[bench_ab] building + running bench for $1 in $dir ($3)" >&2
  # Each run gets its own JVM; sbt -batch so a PS1 prompt can't hang it.
  (cd "$dir" && sbt -batch "runMain graft.Bench" 2>"$WORK/$3.err" \
     | grep '"metric"' > "$WORK/$3.line") \
    || { echo "[bench_ab] $1 bench FAILED; stderr tail:" >&2; tail -20 "$WORK/$3.err" >&2; exit 1; }
  cp "$dir/bench_detail.json" "$WORK/$3.detail.json"
}

OLD_DIR=$(export_tree "$OLD" old)
if [ "$NEW" = "HEAD" ]; then
  NEW_DIR=$PWD; NEW_LABEL="HEAD(current tree)"
else
  NEW_DIR=$(export_tree "$NEW" new); NEW_LABEL=$NEW
fi
run_bench "$OLD" "$OLD_DIR" old1
run_bench "$NEW_LABEL" "$NEW_DIR" new1
run_bench "$NEW_LABEL" "$NEW_DIR" new2
run_bench "$OLD" "$OLD_DIR" old2

python3 tools/bench_ab_merge.py \
  --old "$WORK/old1.detail.json" "$WORK/old2.detail.json" \
  --new "$WORK/new1.detail.json" "$WORK/new2.detail.json" \
  --old-rev "$(git rev-parse --short "$OLD")" \
  --new-rev "$([ "$NEW" = HEAD ] && echo "$(git rev-parse --short HEAD)+wt" || git rev-parse --short "$NEW")" \
  --sf "$SPARK_GRAFT_SF_DIR" --out BENCH_AB.json
