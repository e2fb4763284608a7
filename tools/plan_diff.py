#!/usr/bin/env python3
"""Compare two `graft.Explain` dumps query by query.

Usage: python3 tools/plan_diff.py <dumpA> <dumpB>

A dump is the directory `sbt "runMain graft.Explain <dir>"` writes: one
`<query>.txt` of formatted physical plan per declared query. Two dumps
of the same commit still differ in what Spark numbers per session, so
each plan is masked before the compare:

  - expression ids       `o_orderkey#123L` -> `o_orderkey#NL`
  - exchange plan ids    `[plan_id=4567]`  -> `[plan_id=N]`
  - RDD ids              `MapPartitionsRDD[89]` -> `MapPartitionsRDD[N]`
  - RDD call sites       `at localCheckpoint at GraphOps.scala:118` ->
                         `GraphOps.scala:N` (a checkpointed RDD names
                         the source line that made it, which moves
                         with any edit above it)
  - UUIDs                the per-commit data files of TxTable scratch
                         paths -> `<uuid>`
  - JVM object identities  `Ops$$$Lambda$7126/0x00007f07@5cfb0061`,
                         `GeoMean$@155a6af5` -> `Ops$$$Lambda@<obj>`,
                         `GeoMean$@<obj>` (closures and UDAF objects
                         print their identity hash)

Everything else (operators, their order, keys, expressions, literals,
partitioning) must match. Prints each query whose masked plan differs,
with a short unified diff, and each query present in only one dump.
Exit status: 0 when every query matches, 1 otherwise, 2 on bad usage.
This is the check for a refactor that claims "no plan changed".
"""
import difflib
import re
import sys
from pathlib import Path

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda"),
    (re.compile(r"(?<=[\w$])@[0-9a-f]{1,8}\b"), "@<obj>"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-"
                r"[0-9a-f]{12}"), "<uuid>"),
]


def mask(text):
    for pat, rep in MASKS:
        text = pat.sub(rep, text)
    return text


def plans(d):
    return {p.stem: mask(p.read_text()) for p in sorted(Path(d).glob("*.txt"))}


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = plans(argv[1]), plans(argv[2])
    if not a or not b:
        print("empty dump: no <query>.txt in "
              + (argv[1] if not a else argv[2]), file=sys.stderr)
        return 2
    bad = 0
    for q in sorted(a.keys() | b.keys()):
        if q not in b or q not in a:
            print(f"ONLY IN {argv[1] if q in a else argv[2]}: {q}")
            bad += 1
        elif a[q] != b[q]:
            bad += 1
            print(f"DIFF {q}")
            diff = difflib.unified_diff(a[q].splitlines(), b[q].splitlines(),
                                        argv[1], argv[2], n=1, lineterm="")
            for line in list(diff)[:40]:
                print("  " + line)
    same = sum(1 for q in a.keys() & b.keys() if a[q] == b[q])
    print(f"== {same} same, {bad} differ ==")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
