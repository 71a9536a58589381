#!/usr/bin/env python3
"""Count code lines per file in two source trees and print them side by side.

A code line is any line that is not blank, not a `//` comment and not
inside a `/* ... */` block (Scaladoc included). Comment blocks are
recognised where they open at the start of a line, the style this code
base uses; a `/*` after code on the same line is not tracked.

Usage:
  scripts/loc.py [--changed] TREE_A TREE_B [PATH ...]
      PATH defaults to src/main, relative to each tree; every *.scala,
      *.java and *.py file under it is counted. Prints one row per file
      (A, B, B - A) and a total row; --changed prints only the files whose
      count differs (the total still covers every file).
"""
import os
import sys

EXTENSIONS = (".scala", ".java", ".py")


def code_lines(text):
    count, in_block = 0, False
    for line in text.splitlines():
        rest = line.strip()
        is_code = False
        while rest:
            if in_block:
                end = rest.find("*/")
                if end < 0:
                    break
                rest, in_block = rest[end + 2:].strip(), False
            elif rest.startswith("//"):
                break
            elif rest.startswith("/*"):
                rest, in_block = rest[2:], True
            else:
                is_code = True
                break
        count += is_code
    return count


def counts(tree, paths):
    out = {}
    for path in paths:
        root = os.path.join(tree, path)
        if os.path.isfile(root):
            files = [root]
        else:
            files = [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs]
        for f in files:
            if f.endswith(EXTENSIONS):
                with open(f, encoding="utf-8") as fh:
                    out[os.path.relpath(f, tree)] = code_lines(fh.read())
    return out


def main(argv):
    changed = "--changed" in argv
    args = [a for a in argv if a != "--changed"]
    if len(args) < 2:
        sys.exit(__doc__)
    tree_a, tree_b, paths = args[0], args[1], args[2:] or ["src/main"]
    a, b = counts(tree_a, paths), counts(tree_b, paths)
    rows = [(f, a.get(f, 0), b.get(f, 0)) for f in sorted(set(a) | set(b))]
    width = max([len(f) for f, _, _ in rows] + [5])
    print(f"{'file':<{width}}  {'A':>6}  {'B':>6}  {'B-A':>6}")
    for f, x, y in rows:
        if not changed or x != y:
            print(f"{f:<{width}}  {x:>6}  {y:>6}  {y - x:>+6}")
    ta, tb = sum(a.values()), sum(b.values())
    print(f"{'total':<{width}}  {ta:>6}  {tb:>6}  {tb - ta:>+6}")


if __name__ == "__main__":
    main(sys.argv[1:])
