#!/usr/bin/env python3
"""Diff two directories of `graft.tools.DumpPlan` output.

    python3 tools/plan_diff.py <dirA> <dirB> [query ...]

DumpPlan writes one `<query>_<suffix>.txt` per query (formatted physical
plan, AQE off). Files pair up by query name; each directory's suffix is
read off its file names. Before comparing, the ids Spark numbers afresh
in every session are masked: expression ids (`#123`), RDD ids
(`MapPartitionsRDD[45]`), exchange plan ids (`plan_id=67`), lambda
variable names (`lambda x_89`, from a JVM-wide counter), the JVM's
names for a typed operator's closure (`Foo$$$Lambda$51/0x7f..@6e5a`) and
the source line of an RDD's call site (`Dedup.scala:778`, which moves with
any edit above it). Prints a unified diff per differing query and exits
1 on any difference, or on a query present in only one directory (of
those asked for); exits 0 when every plan matches.
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"\b(lambda \w+?_)\d+"), r"\1N"),
    (re.compile(r"\$\$Lambda[$\d]*/0x[0-9a-f]+@[0-9a-f]+"), "$$Lambda@N"),
]


def plans(d):
    """query name -> path, for one DumpPlan output directory."""
    files = sorted(f for f in os.listdir(d) if f.endswith(".txt"))
    suffixes = {f[:-4].rsplit("_", 1)[-1] for f in files}
    if len(suffixes) > 1:
        sys.exit(f"plan_diff: {d} mixes suffixes {sorted(suffixes)}")
    return {f[:-4].rsplit("_", 1)[0]: os.path.join(d, f) for f in files}


def masked(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    for pat, rep in MASKS:
        text = pat.sub(rep, text)
    return text.splitlines(keepends=True)


def main(argv):
    if len(argv) < 3:
        sys.exit(__doc__)
    a, b = plans(argv[1]), plans(argv[2])
    names = argv[3:] or sorted(set(a) | set(b))
    bad = 0
    for name in names:
        if name not in a or name not in b:
            side = argv[2] if name not in b else argv[1]
            print(f"MISSING {name} (not in {side})")
            bad += 1
            continue
        diff = list(difflib.unified_diff(
            masked(a[name]), masked(b[name]), a[name], b[name]))
        if diff:
            print(f"DIFFERS {name}")
            sys.stdout.writelines(diff)
            bad += 1
    print(f"plan_diff: {len(names) - bad} of {len(names)} plans identical")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
