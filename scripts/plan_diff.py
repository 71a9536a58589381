#!/usr/bin/env python3
"""Diff physical-plan dumps (graft.Explain output) up to the names Spark
allocates per session: expression ids (`#123`), exchange plan ids
(`plan_id=45`) and RDD ids (`MapPartitionsRDD[347]`) are renumbered in order
of first appearance, lambda/object addresses are dropped, and the per-JVM
store directory (`graft_stores_<random>`) loses its random suffix, so two
builds of the same plan compare equal.

Usage:
  scripts/plan_diff.py BEFORE AFTER [BEFORE AFTER ...]
      file pairs: prints "identical" or a unified diff per pair
  scripts/plan_diff.py [--diff] BEFORE_DIR AFTER_DIR
      two `graft.Explain --out` directories, matched by file name: prints
      each differing query (with its unified diff under --diff), each
      query present on one side only, and the identical/differing counts
Exits 1 if any plan differs or is missing on one side.
"""
import difflib
import os
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
    text = re.sub(r"graft_stores_\d+", "graft_stores_", text)
    return re.sub(r"@[0-9a-f]{6,8}\b", "@", text)


def plan_lines(path):
    with open(path) as f:
        return normalize(f.read()).splitlines(keepends=True)


def diff_files(pairs):
    differ = False
    for before, after in pairs:
        a, b = plan_lines(before), plan_lines(after)
        if a == b:
            print(f"identical  {before}  {after}")
        else:
            differ = True
            sys.stdout.writelines(difflib.unified_diff(a, b, before, after))
    return differ


def diff_dirs(before, after, show_diff):
    names_a, names_b = set(os.listdir(before)), set(os.listdir(after))
    same, changed = 0, []
    for name in sorted(names_a & names_b):
        a = plan_lines(os.path.join(before, name))
        b = plan_lines(os.path.join(after, name))
        if a == b:
            same += 1
            continue
        changed.append(name)
        print(f"differs    {name}")
        if show_diff:
            sys.stdout.writelines(difflib.unified_diff(
                a, b, os.path.join(before, name), os.path.join(after, name)))
    for name in sorted(names_a - names_b):
        print(f"only in    {before}: {name}")
    for name in sorted(names_b - names_a):
        print(f"only in    {after}: {name}")
    missing = len(names_a ^ names_b)
    print(f"{same} identical, {len(changed)} differing, {missing} on one side only")
    return bool(changed) or missing > 0


def main(args):
    show_diff = "--diff" in args
    paths = [a for a in args if a != "--diff"]
    if len(paths) == 2 and all(os.path.isdir(p) for p in paths):
        differ = diff_dirs(paths[0], paths[1], show_diff)
    elif paths and len(paths) % 2 == 0 and not show_diff:
        differ = diff_files(zip(paths[::2], paths[1::2]))
    else:
        sys.exit(__doc__)
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main(sys.argv[1:])
