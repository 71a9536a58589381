"""Metrics from one runner record: the end-to-end figures and the per-layer
split of the traced passes.

Layers (each metric names the end-to-end figure it should move in
perfbench/README.md):
  ctor      building the DataFrame: `SparkEntry.queries(name)(spark, dir)`,
            including any Spark job launched while building it
  action    the `noop` write, outside the jobs it runs
  catalyst  analysis, optimization and physical planning per query execution
  sched     job, stage and task round trips
  exec      executor task time, inside the tasks
  shuffle   shuffle bytes and waits
  stream    micro-batches of the streaming replays
  jvm       JIT, GC, code cache and threads of the benchmark JVM
A span's self time is its duration minus the part of it its jobs cover.
"""
import math
import statistics

E2E_UNITS = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "query_p50_ms": "ms",
    "query_tail_ms": "ms",
    "retained_heap_mb": "MB",
}

# per-layer metric -> unit; each value describes one traced steady pass.
# shuffle.fetch_wait_ms stays in the records but is not a metric: local
# mode reads every shuffle block in-process, so it is always 0.
PER_LAYER = {
    "ctor.ms": "ms", "ctor.self_ms": "ms", "ctor.jobs": "count",
    "ctor.queries_with_jobs": "count",
    "action.ms": "ms", "action.self_ms": "ms",
    "catalyst.qes": "count", "catalyst.analysis_ms": "ms", "catalyst.optimize_ms": "ms",
    "catalyst.plan_ms": "ms", "catalyst.exchanges": "count",
    "catalyst.codegen_stages": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.job_ms": "ms", "sched.failed_tasks": "count",
    "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms", "exec.input_mb": "MB",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.spill_mb": "MB",
    "stream.batches": "count", "stream.data_batch_frac": "ratio", "stream.trigger_ms": "ms",
    "stream.plan_ms": "ms", "stream.wal_ms": "ms", "stream.commit_ms": "ms",
    "stream.state_commit_ms": "ms", "stream.state_rows": "count",
    "jvm.jit_ms": "ms", "jvm.gc_ms": "ms", "jvm.code_cache_mb": "MB",
    "jvm.threads_delta": "count",
    "trace.pass_s": "s", "trace.overhead_s": "s",
}


def query_spans(res, pred):
    return [s for s in res["spans"] if s["kind"] == "query" and pred(s)]


def steady(label):
    return label.startswith("steady-")


def pass_sums(res, traced):
    """Steady pass label -> summed query latency (s), for traced or untraced passes."""
    sums = {}
    for s in query_spans(res, lambda s: steady(s["pass"]) and s["traced"] == traced):
        sums[s["pass"]] = sums.get(s["pass"], 0.0) + s["dur_ms"] / 1000
    return sums


TAIL_PCT = 90


def tail(samples):
    """The TAIL_PCT-th percentile by nearest rank: (value, samples beyond it)."""
    xs = sorted(samples)
    rank = math.ceil(TAIL_PCT / 100 * len(xs))
    return xs[rank - 1], len(xs) - rank


# The time metrics are scaled to a machine on which one probe takes
# PROBE_REF_MS: wall time x PROBE_REF_MS / the mean probe time of the
# steady passes. The probe (Runner.Probe: a fixed CPU and memory kernel on
# one thread, run a few times after each timed query) runs no engine code.
# Neighbours on a shared host slow it much as they slow the queries, while
# wall times of one workload differed by up to 1.9x between quiet and busy
# periods of the host. The steady passes' probes also scale setup_s and
# first_pass_s: during the cold pass the JIT compilers share the cores, so
# its own probes would read the engine's warm-up as machine speed. The
# record keeps the wall times and the probes.
PROBE_REF_MS = 20.0


def probe_mean(res, passes):
    """Mean time of the probes taken after the queries of `passes`."""
    return statistics.mean(x for p in res["probes"] if p["pass"] in passes for x in p["ms"])


def end_to_end(res, setups):
    """End-to-end figures of a run. Every timed query's steady latencies
    count, also those of a query that threw or answered wrong: failures show
    only in the run's `failed` count, so a fix to a wrong answer cannot move
    the latency figures."""
    cold = query_spans(res, lambda s: s["pass"] == "cold")
    sums = pass_sums(res, traced=False) or pass_sums(res, traced=True)
    lat = [s["dur_ms"] for s in query_spans(res, lambda s: s["pass"] in sums)]
    t, beyond = tail(lat)
    wall = {
        "setup_s": statistics.median(setups),
        "first_pass_s": sum(s["dur_ms"] for s in cold) / 1000,
        "pass_s": statistics.median(sums.values()),
        "query_p50_ms": statistics.median(lat),
        "query_tail_ms": t,
    }
    probe = probe_mean(res, set(sums))
    out = {k: v * PROBE_REF_MS / probe for k, v in wall.items()}
    out.update({
        "retained_heap_mb": res["retained_heap_mb"],
        "wall": wall,
        "probe_cold_ms": probe_mean(res, {"cold"}),
        "probe_steady_ms": probe,
        "latency_samples": len(lat),
        "tail_beyond": beyond,
        "steady_passes": len(sums),
    })
    return out


def span_at(spans, t_ms):
    """The span among `spans` open at time `t_ms`, if any."""
    return next((s for s in spans if s["start_ms"] <= t_ms <= s["end_ms"]), None)


def _covered_ms(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    covered, cur = 0, start
    for a, b in sorted((max(a, start), min(b, end)) for a, b in intervals):
        if b <= cur:
            continue
        covered += b - max(a, cur)
        cur = b
    return covered


def split(res, qspans):
    """Per-layer totals over the given query spans and everything they caused."""
    tr = res["trace"]
    qids = {s["id"] for s in qspans}
    kids = [s for s in res["spans"] if s["parent"] in qids]
    ids = qids | {s["id"] for s in kids}
    jobs = [j for j in tr["jobs"] if j["span"] in ids]
    by_span = {}
    for j in jobs:
        by_span.setdefault(j["span"], []).append((j["start_ms"], j["end_ms"]))
    jids = {j["job"] for j in jobs}
    stages = [st for st in tr["stages"] if st["job"] in jids]
    qes = [q for q in tr["query_executions"] if span_at(kids, q["start_ms"]) is not None]
    batches = [b for b in tr["stream_batches"] if b["span"] in ids]

    def kind(k):
        return [s for s in kids if s["kind"] == k]

    def self_ms(spans):
        return sum(max(s["dur_ms"] - _covered_ms(s["start_ms"], s["end_ms"],
                                                  by_span.get(s["id"], [])), 0.0)
                   for s in spans)

    def st(key):
        return sum(x.get(key, 0) for x in stages)

    def dur(key):
        return sum(b["durations_ms"].get(key, 0) for b in batches)

    ctor, action = kind("ctor"), kind("action")
    mb = 1e6
    return {
        "ctor.ms": sum(s["dur_ms"] for s in ctor),
        "ctor.self_ms": self_ms(ctor),
        "ctor.jobs": sum(len(by_span.get(s["id"], [])) for s in ctor),
        "ctor.queries_with_jobs": sum(1 for s in ctor if by_span.get(s["id"])),
        "action.ms": sum(s["dur_ms"] for s in action),
        "action.self_ms": self_ms(action),
        "catalyst.qes": len(qes),
        "catalyst.analysis_ms": sum(q["analysis_ms"] for q in qes),
        "catalyst.optimize_ms": sum(q["optimize_ms"] for q in qes),
        "catalyst.plan_ms": sum(q["plan_ms"] for q in qes),
        "catalyst.exchanges": sum(max(q["exchanges"], 0) for q in qes),
        "catalyst.codegen_stages": sum(max(q["codegen_stages"], 0) for q in qes),
        "sched.jobs": len(jobs),
        "sched.stages": len(stages),
        "sched.tasks": st("task_ends"),
        "sched.job_ms": sum(j["end_ms"] - j["start_ms"] for j in jobs),
        "sched.failed_tasks": st("failed_tasks"),
        "exec.run_ms": st("run_ms"),
        "exec.cpu_ms": st("cpu_ns") / 1e6,
        "exec.gc_ms": st("gc_ms"),
        "exec.input_mb": st("input_bytes") / mb,
        "shuffle.write_mb": st("shuffle_write_bytes") / mb,
        "shuffle.read_mb": st("shuffle_read_bytes") / mb,
        "shuffle.spill_mb": st("spill_bytes") / mb,
        "shuffle.fetch_wait_ms": st("fetch_wait_ms"),
        "stream.batches": len(batches),
        "stream.data_batch_frac": (sum(1 for b in batches if b["input_rows"] > 0)
                                   / len(batches)) if batches else 0.0,
        "stream.trigger_ms": dur("triggerExecution"),
        "stream.plan_ms": dur("queryPlanning"),
        "stream.wal_ms": dur("walCommit"),
        "stream.commit_ms": dur("commitOffsets"),
        "stream.state_commit_ms": sum(b["state_commit_ms"] for b in batches),
        "stream.state_rows": sum(b["state_rows_updated"] for b in batches),
    }


def per_layer(res):
    """Per-layer metrics: the median over traced steady passes of each
    layer total, plus the JVM figures and the tracing overhead."""
    traced = sorted({s["pass"] for s in query_spans(
        res, lambda s: steady(s["pass"]) and s["traced"])})
    rows = [split(res, query_spans(res, lambda s, p=p: s["pass"] == p)) for p in traced]
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    passes = {p["pass"]: p for p in res["passes"]}
    cold = passes["cold"]
    out["jvm.jit_ms"] = cold["jvm_end"]["jit_ms"] - cold["jvm_start"]["jit_ms"]
    out["jvm.gc_ms"] = statistics.median(
        passes[p]["jvm_end"]["gc_ms"] - passes[p]["jvm_start"]["gc_ms"] for p in traced)
    out["jvm.code_cache_mb"] = res["jvm_end"]["code_cache_mb"]
    out["jvm.threads_delta"] = res["jvm_end"]["threads"] - res["jvm_setup"]["threads"]
    on = statistics.median(pass_sums(res, traced=True).values())
    off = pass_sums(res, traced=False)
    out["trace.pass_s"] = on
    out["trace.overhead_s"] = on - statistics.median(off.values()) if off else 0.0
    return {k: (out[k], PER_LAYER[k]) for k in PER_LAYER}


def per_query(res):
    """Per-query layer split over the traced steady passes (medians)."""
    names = sorted({s["name"] for s in res["spans"]})
    out = {}
    for n in names:
        qs = query_spans(res, lambda s: s["name"] == n and steady(s["pass"]) and s["traced"])
        if not qs:
            continue
        rows = [split(res, [q]) for q in qs]
        row = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        row["query.ms"] = statistics.median(q["dur_ms"] for q in qs)
        cold = query_spans(res, lambda s: s["name"] == n and s["pass"] == "cold")
        row["first.ms"] = cold[0]["dur_ms"] if cold else None
        out[n] = row
    return out
