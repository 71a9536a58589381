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

    python3 scripts/store_ab.py PARENT_TREE CHANGE_TREE --sf SF_DIR
        [--queries q1,q2,...] [--pairs 5] [--cpus 4] [--work DIR]

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


def bench(cp, queries, sf, cpus, work):
    cwd = tempfile.mkdtemp(prefix="bench_", dir=work)
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(queries),
               SPARK_GRAFT_SF_DIR=sf, SPARK_GRAFT_CPUS=str(cpus))
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS]
           + ["-Xmx4g", "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={cwd}",
              "-cp", cp, "graft.Bench"])
    subprocess.run(cmd, cwd=cwd, env=env, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL, check=True)
    with open(os.path.join(cwd, "bench_detail.json")) as f:
        d = json.load(f)
    return {q: v["steady"] for q, v in d["queries"].items()}, d.get("errors", [])


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
    a = ap.parse_args()
    queries = [q for q in a.queries.split(",") if q]
    work = a.work or tempfile.mkdtemp(prefix="store_ab_")
    cps = {"parent": classpath(a.parent), "change": classpath(a.change)}
    steady = {"parent": {}, "change": {}}
    errors = {"parent": set(), "change": set()}
    for i in range(a.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            qs, errs = bench(cps[side], queries, a.sf, a.cpus, work)
            errors[side].update(errs)
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


if __name__ == "__main__":
    main()
