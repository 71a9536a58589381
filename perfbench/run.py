#!/usr/bin/env python3
"""Layered benchmark of the graft Spark engine.

Usage:
    python3 perfbench/run.py --workload floor --seed 1 --seconds 10 --trace 0

Builds the engine and the runner (perfbench/harness) from source with sbt,
then drives one workload's queries through `SparkEntry.queries` and a `noop`
write in one JVM on local[nproc], as one closed-loop client. Inputs are the
seed-42 tables under perfbench/data; the seed only sets the query order of
each pass. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 the per-layer metrics (see perfbench/layers.py). Every run also
writes its full record (run facts, per-query samples, and in trace mode the
spans) to perfbench/.work/results/.

Options for manual runs:
    --sample all     time the whole pool instead of its fixed sample, with
                     no time limit on the JVM or the oracles
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
HARNESS = HERE / "harness"
sys.path.insert(0, str(HERE))

import layers  # noqa: E402
import oracle  # noqa: E402

# JVM flags of the engine's own build.sbt `run` settings (JDK 17 + Spark 4)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
            + str(Path.home() / ".sbt" / "repositories")
            + " -Dsbt.offline=true -Xmx2g")
SETUPS = 3          # setup_s is the median of this many JVM starts
JVM_TIMEOUT_S = 150  # hard stop for the measuring JVM


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_fingerprint():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HARNESS / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, building with sbt when sources changed."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail("no engine sources next to the benchmark (build.sbt, src/main)")
    fp = source_fingerprint()
    cache = WORK / "classpath.json"
    if cache.is_file():
        c = json.loads(cache.read_text())
        if c.get("fingerprint") == fp and all(
                Path(p).exists() for p in c["classpath"].split(":")):
            return c["classpath"], fp
    log("building engine and runner with sbt")
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=os.environ.get("SBT_OPTS", SBT_OPTS))
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, capture_output=True, text=True, timeout=800)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"sbt build did not run: {e}", 1)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("/")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("sbt build failed", 1)
    WORK.mkdir(parents=True, exist_ok=True)
    cache.write_text(json.dumps({"fingerprint": fp, "classpath": lines[-1]}))
    return lines[-1], fp


def java_cmd(cp, run_dir, heap="3g"):
    cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    return cmd + [
        # keeps the JVM's perf counters (the JIT time reads them) in
        # memory instead of an hsperfdata file under /tmp
        f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=512m", "-XX:+PerfDisableSharedMem",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.sql.legacy.parquet.nanosAsLong=true",
        "-Dspark.sql.extensions=graft.GraftExtensions",
        f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        f"-Dgraft.stream.tmpdir={run_dir / 'stream'}",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        "-cp", cp, "perfbench.Runner"]


# ---------------------------------------------------------------- JVMs

class Jvm:
    """A runner JVM whose stdout is watched for the ready line."""
    started = []  # every JVM of this run; `stop_all` ends those still alive

    @classmethod
    def stop_all(cls):
        for j in cls.started:
            if j.proc.poll() is None:
                j.proc.kill()
            j.proc.wait()

    def __init__(self, cmd, cwd, kill_on_ready=False):
        self.t0 = time.perf_counter()
        self.ready_s = None
        self.kill_on_ready = kill_on_ready
        self.proc = subprocess.Popen(cmd, cwd=cwd, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        Jvm.started.append(self)
        self.err = []
        self._out = threading.Thread(target=self._read_out, daemon=True)
        self._errt = threading.Thread(target=self._read_err, daemon=True)
        self._out.start()
        self._errt.start()

    def _read_out(self):
        for line in self.proc.stdout:
            if self.ready_s is None and line.strip() == "PERFBENCH_READY":
                self.ready_s = time.perf_counter() - self.t0
                if self.kill_on_ready:  # nothing left to measure
                    self.proc.kill()

    def _read_err(self):
        for line in self.proc.stderr:
            self.err.append(line)
            del self.err[:-200]

    def wait_ready(self, timeout):
        deadline = time.perf_counter() + timeout
        while self.ready_s is None and self.proc.poll() is None \
                and time.perf_counter() < deadline:
            time.sleep(0.02)
        return self.ready_s is not None

    def go(self):
        self.proc.stdin.write("go\n")
        self.proc.stdin.close()

    def wait(self, timeout):
        try:
            code = self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
            code = None
        self._out.join(5)
        self._errt.join(5)
        return code


def clean_stores(sf_names):
    """Removes the store dirs the engine's round-trip queries (z, h, np, td,
    q88) write under /tmp, named after the data dir (they sit outside
    java.io.tmpdir). No fixed sample holds such a query, so only whole-pool
    runs pass names."""
    if not sf_names:
        return
    for p in Path("/tmp").glob("graft_*"):
        if any(p.name.endswith("_" + n) or p.name.endswith("_" + n + ".h5") for n in sf_names):
            if p.is_dir():
                shutil.rmtree(p, ignore_errors=True)
            else:
                p.unlink(missing_ok=True)


def loadavg():
    try:
        return list(os.getloadavg())
    except OSError:
        return None


def cpu_times():
    """The aggregate `cpu` line of /proc/stat (user ... steal), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def cpu_shares(t0, t1):
    """Busy, idle and steal shares of all CPUs between two `cpu_times`."""
    if not t0 or not t1:
        return None
    d = [b - a for a, b in zip(t0, t1)]
    total = sum(d) or 1
    return {"busy": 1 - (d[3] + d[4] + d[7]) / total, "idle": (d[3] + d[4]) / total,
            "steal": d[7] / total}


def git_revision():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except OSError:
        return None


def registered_queries(cp, fp, run_dir):
    cache = WORK / "registry.json"
    if cache.is_file():
        c = json.loads(cache.read_text())
        if c.get("fingerprint") == fp:
            return c["queries"]
    p = subprocess.run(java_cmd(cp, run_dir, heap="1g") + ["--mode", "list"], cwd=run_dir,
                       capture_output=True, text=True, timeout=120)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        fail("could not list the registered queries", 1)
    names = p.stdout.split()
    cache.write_text(json.dumps({"fingerprint": fp, "queries": names}))
    return names


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sample", choices=["fixed", "all"], default="fixed")
    args = ap.parse_args()

    pools = json.loads((HERE / "pools.json").read_text())
    wl = pools["workloads"].get(args.workload)
    if wl is None:
        fail(f"unknown workload {args.workload!r}; known: {sorted(pools['workloads'])}")

    t_start = time.time()
    cp, fp = build()
    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "stream", "local", "dump"):
        (run_dir / d).mkdir(parents=True)

    # pool manifest against the registry: unknown names are fatal,
    # registered queries outside every pool are reported
    registered = registered_queries(cp, fp, run_dir)
    pooled = {q for w in pools["workloads"].values() for q in w["pool"]}
    unknown = sorted(pooled - set(registered))
    if unknown:
        fail(f"pools.json names unregistered queries: {', '.join(unknown)}")
    unpooled = sorted(set(registered) - pooled)
    if unpooled:
        log(f"registered queries in no pool: {', '.join(unpooled)}")

    timed = list(wl["pool"] if args.sample == "all" else wl["sample"])
    # a whole pool runs for many minutes and meets the slow oracles
    jvm_timeout, oracle_timeout = ((None, None) if args.sample == "all"
                                   else (JVM_TIMEOUT_S, oracle.ORACLE_TIMEOUT_S))

    sf = pools["sf"]
    data = HERE / "data"
    sf_dirs = {s: data / f"pb_sf{s}" for s in {sf, *pools["check_sf"].values()}}
    for s, d in sf_dirs.items():
        if not d.is_dir():
            fail(f"missing input tables {d}")
    check_sf = {q: pools["check_sf"].get(q, sf) for q in timed}
    (run_dir / "queries.tsv").write_text(
        "".join(f"{q}\t{sf_dirs[check_sf[q]]}\n" for q in timed))
    verdicts = oracle.Verdicts(HERE / "expected.json", WORK / "verdicts.json")
    (run_dir / "known.tsv").write_text(
        "".join(f"{q}\t{h}\n" for q, h in verdicts.known_hashes()))

    stores = [d.name for d in sf_dirs.values()] if args.sample == "all" else []
    clean_stores(stores)
    cpu0 = cpu_times()
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": sf, "timed_queries": timed,
        "timed_count": len(timed), "pool_count": len(wl["pool"]),
        "git_revision": git_revision(), "source_fingerprint": fp,
        "nproc": len(os.sched_getaffinity(0)), "loadavg_start": loadavg(),
        "started": t_start,
    }
    cpus = str(record["nproc"])

    # set-up time: the measuring JVM and SETUPS - 1 set-up-only JVMs start
    # together, each timed from its start until its session is ready; the
    # measuring JVM goes on once the others are gone
    out = run_dir / "result.json"
    local = ["--cpus", cpus, "--local-dir", str(run_dir / "local")]
    j = Jvm(java_cmd(cp, run_dir) + ["--mode", "run"] + local + [
        "--sf-dir", str(sf_dirs[sf]), "--queries", str(run_dir / "queries.tsv"),
        "--known", str(run_dir / "known.tsv"), "--dump", str(run_dir / "dump"),
        "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", str(out)], run_dir)
    extra = [Jvm(java_cmd(cp, run_dir) + ["--mode", "setup"] + local, run_dir,
                 kill_on_ready=True) for _ in range(SETUPS - 1)]
    for e in extra:
        e.wait(120)
    if not j.wait_ready(120) or any(e.ready_s is None for e in extra):
        j.wait(0)
        sys.stderr.write("".join(j.err[-40:] + [ln for e in extra for ln in e.err[-20:]]))
        fail("a JVM did not get its session ready", 1)
    setups = [j.ready_s] + [e.ready_s for e in extra]
    j.go()
    code = j.wait(jvm_timeout)
    clean_stores(stores)
    if code != 0 or not out.is_file():
        sys.stderr.write("".join(j.err[-60:]))
        fail(f"runner JVM failed (exit {code})", 1)
    res = json.loads(out.read_text())

    # correctness: every timed query's answer against its oracle verdict
    checks = verdicts.judge(res["checks"], {s: str(d) for s, d in sf_dirs.items()},
                            check_sf, run_dir / "dump", oracle_timeout)
    record.update({
        "setup_samples_s": setups, "loadavg_end": loadavg(),
        "cpu_shares": cpu_shares(cpu0, cpu_times()),
        "spark_version": res["spark_version"], "java_version": res["java_version"],
        "java_vm": res["java_vm"], "probes": res["probes"], "checks": checks,
    })
    why = {s["name"]: f"threw in the {s['pass']} pass: {s['error']}"
           for s in res["spans"] if s["kind"] == "query" and not s["ok"]}
    why.update({q: c["detail"] for q, c in checks.items() if not c["ok"]})
    failed_q = sorted(why)
    for q in failed_q:
        log(f"FAILED {q}: {why[q]}")
    for q, c in sorted(checks.items()):
        if c["sf"] != sf:
            log(f"{q}: answer checked at sf{c['sf']} (oracle too slow at sf{sf})")

    e2e = layers.end_to_end(res, setups)
    record["end_to_end"] = e2e
    log(f"query_tail_ms is p{layers.TAIL_PCT} of {e2e['latency_samples']} steady latencies "
        f"({e2e['tail_beyond']} beyond it); failed {len(failed_q)}/{len(timed)}")
    metrics = {k: {"value": v, "unit": layers.E2E_UNITS[k]}
               for k, v in e2e.items() if k in layers.E2E_UNITS}
    if args.trace:
        pl = layers.per_layer(res)
        record["per_layer"] = pl
        record["per_query"] = layers.per_query(res)
        record["trace_data"] = {"spans": res["spans"], "passes": res["passes"], **res["trace"]}
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in pl.items()}
    lat = {}
    for s in res["spans"]:
        if s["kind"] == "query":
            lat.setdefault(s["name"], {}).setdefault(s["pass"], s["dur_ms"])
    record["query_ms"] = lat
    record["steady_s"] = res["steady_s"]
    record["passes"] = [{k: p[k] for k in ("pass", "dur_s", "traced", "queries")}
                        for p in res["passes"]]
    record["elapsed_s"] = time.time() - t_start

    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(t_start * 1000)}.json"
    (results / name).write_text(json.dumps(record))
    log(f"record: {results / name}")
    shutil.rmtree(run_dir, ignore_errors=True)

    attempted = len(timed)
    print(json.dumps({"correct": not failed_q, "attempted": attempted,
                      "failed": len(failed_q), "metrics": metrics}))


if __name__ == "__main__":
    # a SIGTERM ends the run like an error: no JVM outlives it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    finally:
        Jvm.stop_all()
