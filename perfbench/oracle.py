"""Answer checks against the DuckDB oracles of `SparkEntry.oracleSql`.

The compare follows scripts/check_oracle.py: columns are matched by sorted
name, rows in the order the engine produced them, and values exactly, with
NaN equal to NaN and -0.0 distinct from +0.0.

Oracle runs are slow (minutes for a few queries), so every verdict is kept
by the answer's `CanonicalHash`: perfbench/expected.json holds the verdicts
recorded with the benchmark, perfbench/.work/verdicts.json the ones found
since. A query is re-checked against its oracle only when its answer hash is
in neither file. A run with `--sample all` checks a whole pool; copying
.work/verdicts.json over expected.json then records the verdicts.
"""
import json
import math
import threading
from pathlib import Path

ORACLE_TIMEOUT_S = 90
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return "-0.0"
    return v


def compare(sql, answer_dir, data_dir, timeout_s=ORACLE_TIMEOUT_S):
    """Returns None when the answer under `answer_dir` equals the oracle's,
    else a one-line reason. An oracle still running after `timeout_s` is
    interrupted, and the answer counts as unverified; None waits."""
    import duckdb
    import pyarrow.parquet as pq

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    got = pq.read_table(str(answer_dir))
    timer = threading.Timer(timeout_s, con.interrupt) if timeout_s else None
    if timer:
        timer.start()
    try:
        exp = con.execute(sql).fetch_arrow_table()
    except duckdb.InterruptException:
        return f"unverified: oracle still running after {timeout_s} s"
    finally:
        if timer:
            timer.cancel()
    gcols, ecols = sorted(got.column_names), sorted(exp.column_names)
    if gcols != ecols:
        return f"columns {gcols} vs oracle {ecols}"
    if got.num_rows != exp.num_rows:
        return f"rows {got.num_rows} vs oracle {exp.num_rows}"
    for c in gcols:
        gv = [_norm(x) for x in got.column(c).to_pylist()]
        ev = [_norm(x) for x in exp.column(c).to_pylist()]
        for i, (a, b) in enumerate(zip(gv, ev)):
            if a != b:
                return f"col={c} row={i}: engine={a!r} oracle={b!r}"
    return None


class Verdicts:
    """Oracle verdicts keyed by (query, sf, answer hash)."""

    def __init__(self, expected_path, cache_path):
        self.expected = self._load(expected_path)
        self.cache_path = Path(cache_path)
        self.cache = self._load(cache_path)

    @staticmethod
    def _load(path):
        path = Path(path)
        return json.loads(path.read_text()) if path.is_file() else {}

    def lookup(self, query, sf, h):
        for src in (self.expected, self.cache):
            v = src.get(query, {}).get(f"{sf}:{h}")
            if v is not None:
                return v
        return None

    def known_hashes(self):
        for src in (self.expected, self.cache):
            for q, vs in src.items():
                for key in vs:
                    yield q, key.split(":", 1)[1]

    def record(self, query, sf, h, verdict):
        self.cache.setdefault(query, {})[f"{sf}:{h}"] = verdict
        self.cache_path.parent.mkdir(parents=True, exist_ok=True)
        self.cache_path.write_text(json.dumps(self.cache, indent=1, sort_keys=True))

    def judge(self, checks, sf_dirs, check_sf, dump_dir, timeout_s=ORACLE_TIMEOUT_S):
        """Verdict per checked query: {"ok", "sf", "hash", "detail"}."""
        out = {}
        got = {c["query"]: c for c in checks}
        for q, sf in check_sf.items():
            c = got.get(q)
            if c is None:
                out[q] = {"ok": False, "sf": sf, "hash": None, "detail": "query threw"}
                continue
            v = self.lookup(q, sf, c["hash"])
            if v is None:
                if not c.get("oracle"):
                    v = {"ok": False, "detail": "no oracle registered"}
                else:
                    try:
                        why = compare(c["oracle"], Path(dump_dir) / q, sf_dirs[sf], timeout_s)
                    except Exception as e:  # an oracle error is a failed check
                        why = f"oracle error: {e}"
                    v = {"ok": why is None, "detail": why or "matches oracle"}
                    if not v["detail"].startswith("unverified"):
                        self.record(q, sf, c["hash"], v)
            out[q] = {"ok": v["ok"], "sf": sf, "hash": c["hash"], "detail": v["detail"]}
        return out

