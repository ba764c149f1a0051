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
# - checks each rev out into a throwaway git worktree (the current tree is
#   never touched; NEWREV=HEAD uses the current checkout directly so
#   uncommitted changes can be A/B'd too)
# - builds + runs graft.Bench in each, same SF/CPU/iteration env
# - merges the two bench_detail.json files into BENCH_AB.json with a
#   per-query old/new/ratio table (tools/bench_ab_merge.py)
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
trap 'git worktree remove --force "$WORK/old" 2>/dev/null || true;
      git worktree remove --force "$WORK/new" 2>/dev/null || true;
      rm -rf "$WORK"' EXIT

run_bench() { # $1=rev-or-HEAD  $2=treedir  $3=outprefix
  local dir=$2
  echo "[bench_ab] building + running bench for $1 in $dir" >&2
  # Each tree gets its own JVM; sbt -batch so a PS1 prompt can't hang it.
  (cd "$dir" && sbt -batch "runMain graft.Bench" 2>"$WORK/$3.err" \
     | grep '"metric"' > "$WORK/$3.line") \
    || { echo "[bench_ab] $1 bench FAILED; stderr tail:" >&2; tail -20 "$WORK/$3.err" >&2; exit 1; }
  cp "$dir/bench_detail.json" "$WORK/$3.detail.json"
}

git worktree add --detach "$WORK/old" "$OLD" >/dev/null
if [ "$NEW" = "HEAD" ]; then
  run_bench "$OLD" "$WORK/old" old
  run_bench "HEAD(current tree)" "$PWD" new
else
  git worktree add --detach "$WORK/new" "$NEW" >/dev/null
  run_bench "$OLD" "$WORK/old" old
  run_bench "$NEW" "$WORK/new" new
fi

python3 tools/bench_ab_merge.py \
  --old "$WORK/old.detail.json" --new "$WORK/new.detail.json" \
  --old-rev "$(git rev-parse --short "$OLD")" \
  --new-rev "$([ "$NEW" = HEAD ] && echo "$(git rev-parse --short HEAD)+wt" || git rev-parse --short "$NEW")" \
  --sf "$SPARK_GRAFT_SF_DIR" --out BENCH_AB.json
