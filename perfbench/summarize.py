#!/usr/bin/env python3
"""Per-layer summary of traced benchmark runs, from their record files alone.

Usage:
    python3 perfbench/summarize.py [record.json ...]

Without arguments it reads the newest traced record of each workload under
perfbench/.work/results/. For each workload it prints the per-layer metrics
of one traced steady pass, the slowest queries with their layer split, and
the pass split into construction, Catalyst, job round trips and executor
time (see `split_pass`).
"""
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import layers  # noqa: E402


def newest_traced():
    latest = {}
    for p in (HERE / ".work" / "results").glob("*-t1-*.json"):
        r = json.loads(p.read_text())
        w = r["workload"]
        if r.get("trace_data") and r["started"] > latest.get(w, {}).get("started", 0):
            latest[w] = r
    return list(latest.values())


def as_result(record):
    """The runner-result shape `layers` reads, rebuilt from a record."""
    t = record["trace_data"]
    return {"spans": t["spans"], "passes": t["passes"],
            "trace": {k: t[k] for k in ("jobs", "stages", "query_executions",
                                        "stream_batches")}}


def split_pass(res, label, nproc):
    """Splits one pass's summed query latency into parts that do not overlap:
    construction and action time outside Spark jobs, less the Catalyst
    phases run there; the Catalyst phases; and the wall time of jobs, split
    into executor time (task run time over the cores) and round trips (the
    rest of the job wall time)."""
    tr = res["trace"]
    spans = [s for s in res["spans"] if s["pass"] == label]
    qspans = [s for s in spans if s["kind"] == "query"]
    d = layers.split(res, qspans)
    inner = [s for s in spans if s["kind"] in ("ctor", "action")]
    cat = {"ctor": 0.0, "action": 0.0}
    for q in tr["query_executions"]:
        at = layers.span_at(inner, q["start_ms"])
        if at is not None:
            k = at["kind"]
            cat[k] += q["analysis_ms"] + q["optimize_ms"] + q["plan_ms"]
    total = sum(s["dur_ms"] for s in qspans)
    jobs_wall = (d["ctor.ms"] - d["ctor.self_ms"]) + (d["action.ms"] - d["action.self_ms"])
    executor = min(d["exec.run_ms"] / nproc, jobs_wall)
    parts = {
        "construction (outside jobs and Catalyst)": d["ctor.self_ms"] - cat["ctor"],
        "Catalyst (analysis, optimization, planning)": cat["ctor"] + cat["action"],
        "action outside jobs and Catalyst": d["action.self_ms"] - cat["action"],
        "job round trips (job wall minus executor)": jobs_wall - executor,
        "executor (task run time / cores)": executor,
    }
    parts["unattributed"] = total - sum(parts.values())
    return total, parts


def show(record):
    res = as_result(record)
    wl = record["workload"]
    print(f"== {wl}  seed {record['seed']}  {record['timed_count']} of "
          f"{record['pool_count']} queries  sf{record['sf']}  nproc {record['nproc']}")
    pl = record.get("per_layer") or {k: tuple(v) for k, v in layers.per_layer(res).items()}
    print("  per traced steady pass:")
    for k, (v, unit) in pl.items():
        print(f"    {k:26s} {v:12.3f} {unit}")
    print(f"    tracing overhead: traced pass {pl['trace.pass_s'][0]:.3f} s, "
          f"{pl['trace.overhead_s'][0]:+.3f} s against the untraced passes of the same run")

    steady = sorted({s["pass"] for s in res["spans"]
                     if s["pass"].startswith("steady-") and s["traced"]})
    splits = [split_pass(res, p, record["nproc"]) for p in steady]
    total = statistics.median(t for t, _ in splits)
    print(f"  pass split (median of {len(splits)} traced steady passes, "
          f"{total:.0f} ms of query latency):")
    for name in splits[0][1]:
        v = statistics.median(s[1][name] for s in splits)
        print(f"    {name:45s} {v:10.1f} ms  {100 * v / total:5.1f}%")

    pq = record.get("per_query") or layers.per_query(res)
    print("  slowest queries (median traced steady latency):")
    print(f"    {'query':34s} {'ms':>8s} {'first':>8s} {'ctor':>8s} {'ctor.self':>9s} "
          f"{'jobs':>5s} {'tasks':>6s} {'exch':>5s} {'exec.run':>9s} {'shufW.MB':>9s}")
    for n, r in sorted(pq.items(), key=lambda kv: -kv[1]["query.ms"])[:15]:
        print(f"    {n:34s} {r['query.ms']:8.1f} {r['first.ms'] or 0:8.1f} {r['ctor.ms']:8.1f} "
              f"{r['ctor.self_ms']:9.1f} {r['sched.jobs']:5.0f} {r['sched.tasks']:6.0f} "
              f"{r['catalyst.exchanges']:5.0f} {r['exec.run_ms']:9.0f} "
              f"{r['shuffle.write_mb']:9.3f}")
    print()


def main():
    paths = sys.argv[1:]
    records = [json.loads(Path(p).read_text()) for p in paths] if paths else newest_traced()
    records = [r for r in records if r.get("trace_data")]
    if not records:
        sys.exit("no traced records (run with --trace 1 first)")
    for r in sorted(records, key=lambda r: r["workload"]):
        show(r)


if __name__ == "__main__":
    main()
