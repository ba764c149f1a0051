#!/usr/bin/env python3
"""Plan-identity comparer: asserts two `graft.Plans` dumps hold the same
formatted plans, file by file. Raw bytes differ between two dumps of the
same tree, so each file is normalized first:

  - `plan_id=N` exchange ids;
  - `$Lambda...` class names and `@<hex>` object identities;
  - UUIDs and the `-<hex>-<n>` suffix of `/tmp/graft-*` scratch dirs;
  - the source line of an RDD's call site (`at Pin.scala:27`), which moves
    with any edit above it in that file;
  - expression ids `#n` and RDD ids `RDD[n]`, each renumbered per file in
    order of first appearance. RDD ids count up across the whole run, so
    one query that builds a different number of RDDs from run to run
    shifts the ids in every later file.

Usage: python3 tools/plandiff.py <dumpA> <dumpB>
Exits 1 on any differing or missing file.
"""
import difflib
import os
import re
import sys

SUBS = [
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\$Lambda[$\w]*/0x[0-9a-f]+"), "$Lambda"),
    (re.compile(r"(?<=[\w$\]])@[0-9a-f]+\b"), "@HASH"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"),
     "UUID"),
    (re.compile(r"(/tmp/graft-[a-z_-]*?)-[0-9a-f]+-\d+"), r"\1-X"),
    (re.compile(r"(?<= at )(\w+\.scala):\d+"), r"\1:N"),
]
RENUMBER = [re.compile(r"(#)(\d+)"), re.compile(r"(RDD\[)(\d+)")]


def normalize(text):
    for pat, rep in SUBS:
        text = pat.sub(rep, text)
    for pat in RENUMBER:
        ids = {}
        text = pat.sub(lambda m: m.group(1) + ids.setdefault(m.group(2), str(len(ids))),
                       text)
    return text


def names(d):
    return {n for n in os.listdir(d) if n.endswith(".txt")}


def main():
    a, b = sys.argv[1], sys.argv[2]
    na, nb = names(a), names(b)
    missing = sorted(na ^ nb)
    for n in missing:
        print(f"MISSING {n}: only in {a if n in na else b}")
    bad = 0
    common = sorted(na & nb)
    for n in common:
        with open(os.path.join(a, n)) as fa, open(os.path.join(b, n)) as fb:
            ta, tb = normalize(fa.read()), normalize(fb.read())
        if ta != tb:
            bad += 1
            print(f"DIFF {n}")
            for line in list(difflib.unified_diff(
                    ta.splitlines(), tb.splitlines(), a, b, lineterm=""))[:12]:
                print("  " + line)
    print(f"\n== plandiff: {bad} of {len(common)} differ, {len(missing)} missing ==")
    sys.exit(1 if bad or missing else 0)


if __name__ == "__main__":
    main()
