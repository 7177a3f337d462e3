"""analytics_batch: passes over a fixed set of registry jobs, each
result collected to the driver.

One op is one job; one round (a pass) runs every job once, in a seeded
order. The jobs cover the engine's batch layers: a fixpoint loop
(``algo_sssp_colocation``), a similarity join with salted skew handling
(``dedup_ngram_jaccard_skew``) and a stateful stream-stream join
(``stream_live_left_outer_join``).

Every result is checked against the job's ``__spark_entry__.oracle_sql()``
query on DuckDB, by row count and an order-insensitive hash; the row
count (rows or pairs) is the job's witness. Results are at most a few
thousand rows, so collecting them costs little next to the job.
"""

from __future__ import annotations

import random
import time

from perfbench.common import oracle_conn, oracle_digest, p50, rows_digest, span_p50
from perfbench.metrics import JOBS

STREAM_JOB = "stream_live_left_outer_join"


class _Progress:
    """Collects streaming progress events (registered while tracing)."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.events: list = []
        self.started = self.ended = 0

        class L(StreamingQueryListener):
            def onQueryStarted(self, e):
                outer.started += 1

            def onQueryProgress(self, e):
                outer.events.append(e.progress)

            def onQueryIdle(self, e):
                pass

            def onQueryTerminated(self, e):
                outer.ended += 1

        self.listener = L()

    def wait_idle(self, timeout: float = 10.0) -> None:
        t0 = time.perf_counter()
        while self.ended < self.started and time.perf_counter() - t0 < timeout:
            time.sleep(0.05)


class Workload:
    name = "analytics_batch"
    #: one round runs every job once
    MIX = dict.fromkeys(JOBS, 1)

    def fixture(self, ctx) -> dict:
        return {}

    def start(self, ctx, st) -> None:
        import __spark_entry__ as entry

        self.fns = {j: entry.queries()[j] for j in JOBS}
        self.oracles = {j: entry.oracle_sql()[j] for j in JOBS}
        self.rng = random.Random(ctx.seed)
        self.progress = None
        con = oracle_conn(ctx.data_dir)
        #: job -> (rows, hash, columns) of the oracle's result
        self.expect = {j: oracle_digest(con, self.oracles[j]) for j in JOBS}
        con.close()

    def warmup(self, ctx) -> None:
        """One pass: every job once."""
        for job in JOBS:
            self.run_op(ctx, (job,), -1)

    def next_round(self):
        jobs = [(j,) for j in JOBS]
        self.rng.shuffle(jobs)
        return jobs

    def end_round(self, ctx) -> None:
        pass

    def run_op(self, ctx, op, op_id: int) -> dict:
        job = op[0]
        tr = ctx.tracer
        if tr.on and self.progress is None:
            self.progress = _Progress()
            ctx.spark.streams.addListener(self.progress.listener)
        t0 = time.perf_counter()
        with tr.span(f"job.{job}", op_id):
            df = self.fns[job](ctx.spark, ctx.data_dir)
            rows = df.collect()
        lat = time.perf_counter() - t0
        n, h = rows_digest(rows, df.columns)
        want = self.expect[job]
        ok = (n, h) == want[:2] and sorted(df.columns) == sorted(want[2])
        return {"kind": job, "op": op, "lat": lat, "rows": n, "ok": ok}

    def verify(self, ctx, recs) -> int:
        return sum(not r["ok"] for r in recs)

    def extra(self, recs, rounds) -> dict:
        return {"batch_s": p50(rounds)}

    def layers(self, ctx, recs) -> dict:
        tr = ctx.tracer
        out = {}
        for job, kind in JOBS.items():
            spans = tr.by_name(f"job.{job}")
            out[f"job.{job}_s"] = span_p50(spans)
            out[f"job.{job}_jobs"] = span_p50(spans, "jobs")
            out[f"job.{job}_tasks"] = span_p50(spans, "tasks")
            out[f"job.{job}_{kind}"] = p50([r.get("rows", 0) for r in recs if r["kind"] == job])
        if self.progress is not None:
            self.progress.wait_idle()
        ev = self.progress.events if self.progress else []
        stream = tr.by_name(f"job.{STREAM_JOB}")
        stream_s = sum(s["end"] - s["start"] for s in stream)
        n_stream = max(1, len(stream))

        def dur(key):
            return sum((p.durationMs or {}).get(key, 0) for p in ev) / n_stream

        def state(key):
            return sum(getattr(o, key) or 0 for p in ev for o in (p.stateOperators or [])) / n_stream

        out.update({
            "streaming.batches": len(ev) / n_stream,
            "streaming.planning_ms": dur("queryPlanning"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "streaming.state_commit_ms": state("commitTimeMs"),
            "streaming.state_rows": max(
                [sum(o.numRowsTotal for o in (p.stateOperators or [])) for p in ev] or [0]
            ),
            "streaming.state_bytes": max(
                [sum(o.memoryUsedBytes for o in (p.stateOperators or [])) for p in ev] or [0]
            ),
            "stream_events_per_s": (
                sum(p.numInputRows for p in ev) / stream_s if stream_s else 0.0
            ),
        })
        return out
