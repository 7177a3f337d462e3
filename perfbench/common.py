"""Shared pieces of the workloads: percentiles, result checks against
DuckDB, the scan metrics of an executed plan, and the run context."""

from __future__ import annotations

import hashlib
import os
import statistics
import sys
from dataclasses import dataclass

import duckdb

from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
from check_oracles import normalize  # noqa: E402  (the oracle gate's own rule)

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

#: a tail needs at least this many samples beyond it
TAIL_BEYOND = 10


@dataclass
class Ctx:
    """What a workload gets: the session, its inputs and the tracer."""

    spark: object
    data_dir: str
    work_dir: str
    seed: int
    scale: dict
    tracer: Tracer

    def scratch(self, name: str) -> str:
        p = os.path.join(self.work_dir, name)
        os.makedirs(p, exist_ok=True)
        return p


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples) of the highest percentile that has at
    least ``TAIL_BEYOND`` samples beyond it; the maximum when the run has
    too few samples for that."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= TAIL_BEYOND:
        return s[-1], 100.0, n
    k = n - TAIL_BEYOND - 1
    return s[k], round(100.0 * (k + 1) / n, 1), n


def rows_digest(rows, cols: list[str]) -> tuple[int, str]:
    """Row count and an order-insensitive hash of normalised rows."""
    norm = normalize(rows, sorted(cols))
    return len(norm), hashlib.sha1(repr(norm).encode()).hexdigest()


def oracle_conn(data_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def oracle_digest(con, sql: str) -> tuple[int, str, list[str]]:
    r = con.execute(sql)
    cols = [d[0] for d in r.description]
    rows = [dict(zip(cols, x)) for x in r.fetchall()]
    n, h = rows_digest(rows, cols)
    return n, h, cols


def scan_metrics(df) -> dict[str, int]:
    """Files, bytes and rows read by the file-scan nodes of ``df``'s
    executed plan (after an action), walking through adaptive query
    stages and reused exchanges."""
    out = {"files": 0, "bytes": 0, "rows": 0}
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if kind == "FileSourceScanExec":
            m = node.metrics()
            for key, name in (("files", "numFiles"), ("bytes", "filesSize"), ("rows", "numOutputRows")):
                if m.contains(name):
                    out[key] += m.apply(name).value()
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
        subs = node.subqueries()
        stack.extend(subs.apply(i) for i in range(subs.size()))
    return out


def span_p50(spans: list[dict], key: str | None = None) -> float:
    """Median over spans of their duration, or of a count ``key``."""
    if key is None:
        return p50([s["end"] - s["start"] for s in spans])
    return p50([s.get(key, 0) for s in spans])
