#!/usr/bin/env python3
"""Merge two bench_detail.json runs (same session, see bench_ab.sh) into
BENCH_AB.json: per-query old/new medians + ratio, common-set totals, and the
largest movers in each direction. Medians because single samples on this box
spread +/-25% (Bench.scala header); the ratio of same-session medians is the
signal the per-round absolute totals cannot give.

Failed queries (-1 medians) are EXCLUDED from the comparable set and listed
separately: a query that errors costs ~0 s, so summing it on one side only
silently deflates that side's total. The round-7 r6-vs-r7 replay hit exactly
this — the r6 tree failed 40 event-table queries against the regenerated
NTZ fixtures, and the raw totals read as a phantom 1.6x regression that a
both-sides-succeeded comparison (0.96x) dissolved."""
import argparse, json, statistics


def load(path):
    """(per-query median, per-query raw samples) of one bench_detail.json."""
    with open(path) as f:
        runs = json.load(f)["runs"]
    med = {}
    for name, samples in runs.items():
        ok = [s for s in samples if s >= 0]
        med[name] = round(statistics.median(ok), 3) if ok else -1.0
    return med, runs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--old", required=True)
    ap.add_argument("--new", required=True)
    ap.add_argument("--old-rev", default="old")
    ap.add_argument("--new-rev", default="new")
    ap.add_argument("--sf", default="")
    ap.add_argument("--out", default="BENCH_AB.json")
    a = ap.parse_args()
    (old, old_samples), (new, new_samples) = load(a.old), load(a.new)
    registered_both = sorted(set(old) & set(new))
    failed_old = sorted(q for q in registered_both if old[q] < 0)
    failed_new = sorted(q for q in registered_both if new[q] < 0)
    # comparable = registered AND succeeded in BOTH trees; anything else
    # would sum a ~free failure against a real runtime
    common = [q for q in registered_both if old[q] >= 0 and new[q] >= 0]
    per = {
        q: {
            "old": old[q],
            "new": new[q],
            "ratio": round(new[q] / old[q], 3) if old[q] > 0 else None,
            "old_samples": old_samples[q],
            "new_samples": new_samples[q],
        }
        for q in common
    }
    tot_old = round(sum(old[q] for q in common), 3)
    tot_new = round(sum(new[q] for q in common), 3)
    movers = [(q, v["ratio"]) for q, v in per.items() if v["ratio"] is not None]
    out = {
        "old_rev": a.old_rev,
        "new_rev": a.new_rev,
        "sf": a.sf,
        "common_queries": len(common),
        "failed_old": failed_old,
        "failed_new": failed_new,
        "only_old": sorted(set(old) - set(new)),
        "only_new": sorted(set(new) - set(old)),
        "common_total_old_sec": tot_old,
        "common_total_new_sec": tot_new,
        "common_total_ratio": round(tot_new / tot_old, 3) if tot_old else None,
        "top_regressions": sorted(movers, key=lambda x: -x[1])[:8],
        "top_improvements": sorted(movers, key=lambda x: x[1])[:8],
        "per_query": per,
    }
    with open(a.out, "w") as f:
        json.dump(out, f, indent=1)
    print(f"[bench_ab] {a.old_rev} -> {a.new_rev} on {len(common)} comparable queries "
          f"({len(failed_old)} failed old-side, {len(failed_new)} failed new-side): "
          f"{tot_old}s -> {tot_new}s (x{out['common_total_ratio']}); wrote {a.out}")
    for q, r in out["top_improvements"][:5]:
        print(f"  improved  {q}: {per[q]['old']}s -> {per[q]['new']}s (x{r})")
    for q, r in out["top_regressions"][:5]:
        print(f"  regressed {q}: {per[q]['old']}s -> {per[q]['new']}s (x{r})")


if __name__ == "__main__":
    main()
