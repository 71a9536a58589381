#!/usr/bin/env python3
"""Diff two physical-plan dumps (graft.Explain output) up to the names
Spark allocates per session: expression ids (`#123`), exchange plan ids
(`plan_id=45`) and RDD ids (`MapPartitionsRDD[347]`) are renumbered in order
of first appearance and lambda/object addresses are dropped, so two builds
of the same plan compare equal.

Usage: scripts/plan_diff.py BEFORE AFTER [BEFORE AFTER ...]
Prints "identical" or a unified diff per pair; exits 1 if any pair differs.
"""
import difflib
import re
import sys


def normalize(text):
    seen = {}

    def renumber(kind):
        def sub(m):
            key = (kind, m.group(1))
            if key not in seen:
                seen[key] = sum(1 for k in seen if k[0] == kind)
            return f"{kind}{seen[key]}"
        return sub

    text = re.sub(r"#(\d+)", renumber("#"), text)
    text = re.sub(r"plan_id=(\d+)", renumber("plan_id="), text)
    text = re.sub(r"RDD\[(\d+)(?=\])", renumber("RDD["), text)
    text = re.sub(r"\$Lambda[$/0-9a-fx]*@[0-9a-f]+", "$Lambda", text)
    return re.sub(r"@[0-9a-f]{6,8}\b", "@", text)


def main(paths):
    if not paths or len(paths) % 2:
        sys.exit(__doc__)
    differ = False
    for before, after in zip(paths[::2], paths[1::2]):
        a = normalize(open(before).read()).splitlines(keepends=True)
        b = normalize(open(after).read()).splitlines(keepends=True)
        if a == b:
            print(f"identical  {before}  {after}")
        else:
            differ = True
            sys.stdout.writelines(difflib.unified_diff(a, b, before, after))
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main(sys.argv[1:])
