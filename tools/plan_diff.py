#!/usr/bin/env python3
"""Compare two `graft.DumpPlans` outputs query by query.

    python3 tools/plan_diff.py <dirA> <tagA> <dirB> <tagB>

`graft.DumpPlans <outDir> <tag>` writes one `<query>_<tag>.txt` per query.
This pairs `<dirA>/<query>_<tagA>.txt` with `<dirB>/<query>_<tagB>.txt`,
normalizes what differs between any two runs of the same plan, and prints
`identical` or a unified diff of the normalized text for each query. A
query present on one side only is reported as missing. Exit status is 0
when every pair is identical, 1 otherwise.

Normalized before comparing:
  - expression ids (`doc_id#12L` -> `doc_id#N`);
  - operator ids, reuse and hosting references, and codegen stage ids;
  - `plan_id=N` of exchanges and RDD ids of scanned local checkpoints;
  - the checkout path before `/target/` (snapshot and checkpoint dirs).
"""
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"\((\d+)\)"), "(N)"),
    (re.compile(r"(operator id\s*[:=]\s*)\d+"), r"\1N"),
    (re.compile(r"(Subquery:)\d+"), r"\1N"),
    (re.compile(r"(codegen id\s*:\s*)\d+"), r"\1N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"file:[^\s\],]*?/target/"), "file:<checkout>/target/"),
]


def normalize(text):
    for pat, rep in RULES:
        text = pat.sub(rep, text)
    return text.splitlines(keepends=True)


def plans(directory, tag):
    suffix = "_%s.txt" % tag
    return {f[:-len(suffix)]: os.path.join(directory, f)
            for f in os.listdir(directory) if f.endswith(suffix)}


def main(argv):
    if len(argv) != 5:
        sys.stderr.write(__doc__)
        return 2
    dir_a, tag_a, dir_b, tag_b = argv[1:]
    a, b = plans(dir_a, tag_a), plans(dir_b, tag_b)
    differing = 0
    for query in sorted(set(a) | set(b)):
        if query not in a or query not in b:
            print("%s: missing in %s" % (query, dir_a if query not in a else dir_b))
            differing += 1
            continue
        with open(a[query]) as fa, open(b[query]) as fb:
            la, lb = normalize(fa.read()), normalize(fb.read())
        if la == lb:
            print("%s: identical" % query)
            continue
        differing += 1
        print("%s: differs" % query)
        sys.stdout.writelines(difflib.unified_diff(
            la, lb, fromfile=a[query], tofile=b[query]))
    print("== %d identical / %d differ ==" % (len(set(a) | set(b)) - differing, differing))
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
