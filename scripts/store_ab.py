#!/usr/bin/env python3
"""A/B a list of queries between two source trees.

Runs `graft.Bench` with SPARK_GRAFT_ONLY set to the queries, once per tree
per pair, alternating which tree goes first. By default the queries are
the 23 store round trips (zarr z01-z12, HDF5 h01-h06, npy np01-np02,
TileDB td01-td02 and q88); `--queries` names others. Every Bench run starts
in a fresh scratch working directory with its own `java.io.tmpdir`, so no
`bench_detail.json` lands in either tree (PerfBudgetSpec reads the one at
the repository root). Prints each query's steady median and quartiles per
tree over the runs, and the change/parent ratio of the medians.

With `--hash`, each run goes through `scripts/StoreHash.java`, which hashes
every file the run's queries wrote under the store root in its tmpdir
before the JVM exits; the script then reports each file whose sha256
differs between the two trees, is written by one tree only, or differs
between two runs of the same tree.

    python3 scripts/store_ab.py PARENT_TREE CHANGE_TREE --sf SF_DIR
        [--queries q1,q2,...] [--pairs 5] [--cpus 4] [--work DIR] [--hash]

Each tree is built once with `sbt compile` and its runtime classpath
exported. A query that errors in any run is reported, not timed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

STORE_QUERIES = [
    "z01_zarr_roundtrip", "z02_zarr_2d", "z03_zarr_v3", "z04_zarr_nd",
    "z05_zarr_zstd", "z06_zarr_blosc", "z07_zarr_sharded",
    "z08_zarr_i4_u1_write", "z09_zarr_sharded_long", "z10_zarr_consolidated",
    "z11_zarr_consolidated_v3", "z12_zarr_bitshuffle", "q88_zarr_int64_exact",
    "h01_hdf5_roundtrip", "h02_hdf5_datasets", "h03_hdf5_chunked",
    "h04_hdf5_v4_latest", "h05_hdf5_dense_group", "h06_hdf5_nested_groups",
    "np01_npy_roundtrip", "np02_npy_nd", "td01_tiledb_roundtrip",
    "td02_tiledb_shadow",
]

OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def classpath(tree):
    out = subprocess.run(
        ["sbt", "-batch", "compile", "export Runtime/fullClasspath"],
        cwd=tree, capture_output=True, text=True, check=True).stdout
    lines = [l for l in out.splitlines() if l.startswith("/")]
    if not lines:
        sys.exit(f"no classpath exported in {tree}")
    return lines[-1]


STORE_HASH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "StoreHash.java")


def bench(cp, queries, sf, cpus, work, hash_files):
    """One Bench run: (steady seconds per query, errors, {store file: sha256})."""
    cwd = tempfile.mkdtemp(prefix="bench_", dir=work)
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(queries),
               SPARK_GRAFT_SF_DIR=sf, SPARK_GRAFT_CPUS=str(cpus))
    hashes_out = os.path.join(cwd, "store_sha256.txt")
    main = [STORE_HASH, hashes_out] if hash_files else ["graft.Bench"]
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS]
           + ["-Xmx4g", "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={cwd}",
              "-cp", cp] + main)
    subprocess.run(cmd, cwd=cwd, env=env, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL, check=True)
    with open(os.path.join(cwd, "bench_detail.json")) as f:
        d = json.load(f)
    hashes = {}
    if hash_files:
        with open(hashes_out) as f:
            for line in f:
                sha, path = line.rstrip("\n").split(" ", 1)
                hashes[path] = sha
    return ({q: v["steady"] for q, v in d["queries"].items()}, d.get("errors", []),
            hashes)


def report_hashes(hashes):
    """Print every store file whose sha256 is not one value on both trees."""
    paths = sorted(set(hashes["parent"]) | set(hashes["change"]))
    bad = []
    for p in paths:
        par, chg = hashes["parent"].get(p, set()), hashes["change"].get(p, set())
        if not par or not chg:
            bad.append(f"{p}: written by the {'change' if chg else 'parent'} only")
        elif len(par) > 1 or len(chg) > 1:
            bad.append(f"{p}: differs between runs of one tree "
                       f"(parent {len(par)} hashes, change {len(chg)})")
        elif par != chg:
            bad.append(f"{p}: parent {min(par)[:16]}, change {min(chg)[:16]}")
    print(f"\nstore files: {len(paths)}, identical on both trees: {len(paths) - len(bad)}")
    for b in bad:
        print(f"  {b}")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--sf", required=True, help="generated tables, e.g. sf0.01")
    ap.add_argument("--queries", default=",".join(STORE_QUERIES),
                    help="comma-separated query names (default: the store queries)")
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--work", default=None,
                    help="scratch dir for the Bench working dirs")
    ap.add_argument("--hash", action="store_true",
                    help="hash every store file each run writes and compare the trees")
    a = ap.parse_args()
    queries = [q for q in a.queries.split(",") if q]
    work = a.work or tempfile.mkdtemp(prefix="store_ab_")
    cps = {"parent": classpath(a.parent), "change": classpath(a.change)}
    steady = {"parent": {}, "change": {}}
    errors = {"parent": set(), "change": set()}
    hashes = {"parent": {}, "change": {}}
    for i in range(a.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            qs, errs, files = bench(cps[side], queries, a.sf, a.cpus, work, a.hash)
            errors[side].update(errs)
            for p, sha in files.items():
                hashes[side].setdefault(p, set()).add(sha)
            for q, s in qs.items():
                steady[side].setdefault(q, []).append(s)
            print(f"pair {i + 1}/{a.pairs} {side}: total steady "
                  f"{sum(qs.values()):.3f} s, errors {errs}", file=sys.stderr)
    print("| query | parent median [q1, q3] s | change median [q1, q3] s | change/parent |")
    print("|---|---|---|---|")
    for q in queries:
        if q in errors["parent"] or q in errors["change"]:
            print(f"| {q} | error | error | - |")
            continue
        p1, p2, p3 = quartiles(steady["parent"][q])
        c1, c2, c3 = quartiles(steady["change"][q])
        print(f"| {q} | {p2:.3f} [{p1:.3f}, {p3:.3f}] | {c2:.3f} [{c1:.3f}, {c3:.3f}] "
              f"| {c2 / p2:.2f} |")
    if a.hash:
        report_hashes(hashes)


if __name__ == "__main__":
    main()
