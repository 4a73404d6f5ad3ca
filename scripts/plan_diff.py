#!/usr/bin/env python3
"""Compare two directories of formatted physical plans and print the
queries whose plans differ.

    # dump the plans of every registered query (bench forms, 4 cores)
    SPARK_GRAFT_BENCH_FORM=1 SPARK_GRAFT_CPUS=4 SPARK_GRAFT_PLAN_OUT=/tmp/plans \
        java ... graft.tools.Explain $(ls plans/r20 | sed 's/_plan.txt$//')
    # compare with the committed dump; -v prints each difference
    python3 scripts/plan_diff.py /tmp/plans [plans/r20] [-v]

Both directories hold `<query>_plan.txt` files as `graft.tools.Explain`
writes them under SPARK_GRAFT_PLAN_OUT. What changes from one JVM to
the next without the plan changing is stripped before comparing:
expression ids (`vid#123L`), plan ids, RDD ids, the source lines of
checkpoint RDDs, Spark's scratch directories and lambda names. Queries
present on one side only are listed too. Exits 1 when anything
differs.
"""
import difflib
import os
import re
import sys

SUFFIX = "_plan.txt"

STRIP = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"(\w+RDD)\[\d+\]"), r"\1[]"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1"),
    (re.compile(r"/(spark|userFiles|blockmgr|temp)-[0-9a-f-]+"), r"/\1-"),
    (re.compile(r"\$\$Lambda[$/\w]*(@[0-9a-f]+)?"), "$$Lambda"),
    (re.compile(r"\blambda (\w+?)_\d+"), r"lambda \1_"),
]


def normalize(text):
    for pat, rep in STRIP:
        text = pat.sub(rep, text)
    return text.splitlines()


def plans(root):
    return {f[: -len(SUFFIX)]: os.path.join(root, f)
            for f in os.listdir(root) if f.endswith(SUFFIX)}


def main(argv):
    verbose = "-v" in argv
    args = [a for a in argv if a != "-v"]
    if not 1 <= len(args) <= 2:
        sys.exit(__doc__)
    here = os.path.dirname(os.path.abspath(__file__))
    new_dir = args[0]
    old_dir = args[1] if len(args) == 2 else os.path.join(here, "..", "plans", "r20")
    new, old = plans(new_dir), plans(old_dir)
    differ = 0
    for name in sorted(set(new) | set(old)):
        if name not in new or name not in old:
            print(f"{name}: only in {new_dir if name in new else old_dir}")
            differ += 1
            continue
        with open(old[name]) as fh:
            a = normalize(fh.read())
        with open(new[name]) as fh:
            b = normalize(fh.read())
        if a == b:
            continue
        differ += 1
        print(name)
        if verbose:
            for line in difflib.unified_diff(a, b, old[name], new[name], n=0, lineterm=""):
                print("    " + line)
    print(f"{differ} of {len(set(new) | set(old))} plans differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
