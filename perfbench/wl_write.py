"""write_view: small transactions against a GraphStore, each made visible
through CDC, incremental view maintenance and a routed read.

The store holds the customer→nation subgraph of the generated tables.
Two incremental views hang off it: ``seg_balance`` (count/sum/min/max of
customer balances per market segment, fed by vertex changes) and
``nation_degree`` (degree centrality over the edges, fed by edge
changes). One op is one write:

1. commit: ``GraphStore.apply_batch`` or a GQL ``MATCH..SET``;
2. ``store.changes`` → ``cdc_to_deltas`` for each table the write touched;
3. ``ViewCatalog.apply_deltas`` on the affected views;
4. a routed read of each affected view, checked against a driver-side
   model of every committed op.

The time from 1 to a read that matches the model is the write's
freshness. Each write is followed by one clean routed read of each view
(k = 2 reads between writes), and every round of writes by
``store.vacuum`` (every 4 commits). A round is four writes with seeded
ids and values, in the mix ``MIX``: two
``update`` (two customers' properties each), one ``gql_set`` (one
balance set through GQL ``MATCH..SET``) and one ``replace``
(``remove_vertex`` with its ``located_in`` edge cascade, plus a new
customer and its new ``located_in`` edge). Property updates are the bulk
of the writes; GQL SET is a share, and the cascade, which also adds and
removes edges, is the occasional write.
"""

from __future__ import annotations

import os
import random
import time
from decimal import Decimal

from perfbench.common import p50, span_p50, tail

CUST, NATION = 10_000_000, 100
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                pass
    return total, files


class Model:
    """Driver-side truth for both views."""

    def __init__(self):
        self.cust: dict[int, tuple[str, Decimal, int]] = {}  # id -> (seg, bal, nation id)
        self.groups: dict[str, list] = {}  # seg -> [n, sum, min, max]

    def _add(self, seg: str, bal: Decimal) -> None:
        g = self.groups.get(seg)
        if g is None:
            self.groups[seg] = [1, bal, bal, bal]
        else:
            g[0] += 1
            g[1] += bal
            g[2] = min(g[2], bal)
            g[3] = max(g[3], bal)

    def _remove(self, seg: str, bal: Decimal) -> None:
        g = self.groups[seg]
        g[0] -= 1
        g[1] -= bal
        if g[0] <= 0:
            del self.groups[seg]

    def put(self, cid: int, seg: str, bal: Decimal, nation: int) -> None:
        old = self.cust.get(cid)
        if old is not None and (old[0], old[1]) != (seg, bal):
            self._remove(old[0], old[1])
            self._add(seg, bal)
        elif old is None:
            self._add(seg, bal)
        self.cust[cid] = (seg, bal, nation)

    def drop(self, cid: int) -> None:
        seg, bal, _ = self.cust.pop(cid)
        self._remove(seg, bal)

    def agg_rows(self) -> dict:
        return {s: (g[0], float(g[1]), float(g[2]), float(g[3])) for s, g in self.groups.items()}

    def degree_row(self) -> tuple:
        deg: dict[int, int] = {}
        for cid, (_, _, nat) in self.cust.items():
            deg[cid] = deg.get(cid, 0) + 1
            deg[nat] = deg.get(nat, 0) + 1
        top = min(deg, key=lambda v: (-deg[v], v))
        n = len(deg)
        return top, deg[top], round(deg[top] / (2.0 * (n - 1)), 9), n


def agg_ok(rows, model: Model) -> bool:
    want = model.agg_rows()
    got = {r["mktsegment"]: (r["n"], r["total"], r["min_v"], r["max_v"]) for r in rows}
    if len(rows) != len(got) or got.keys() != want.keys():
        return False
    for s, (n, tot, lo, hi) in want.items():
        g = got[s]
        if g[0] != n or abs(g[1] - tot) > 1e-6 or abs(g[2] - lo) > 1e-9 or abs(g[3] - hi) > 1e-9:
            return False
    return True


def degree_ok(rows, model: Model) -> bool:
    if len(rows) != 1:
        return False
    r = rows[0]
    top, d, c, n = model.degree_row()
    return (r["max_vertex"], r["max_degree"], r["vertex_count"]) == (top, d, n) and abs(
        r["centrality"] - c
    ) < 1e-9


class Workload:
    name = "write_view"
    #: writes of each kind in one round
    MIX = {"update": 2, "gql_set": 1, "replace": 1}

    def fixture(self, ctx) -> dict:
        """A fresh store seeded through ``apply_batch`` with the
        customer→nation subgraph, plus both views loaded from its first
        change feed."""
        import pyarrow.parquet as pq
        from dd_graphdb_spark.storage import GraphStore, add_edge, add_vertex
        from dd_graphdb_spark.views import (
            IncrementalAggState, IncrementalDegreeCentrality, QueryRouter, ViewCatalog,
            ViewDefinition,
        )

        cust = pq.read_table(
            os.path.join(ctx.data_dir, "customer.parquet"),
            columns=["c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"],
        ).to_pylist()
        model = Model()
        ops = [add_vertex(NATION + k, "Nation", {"name": f"NATION_{k}"}) for k in range(25)]
        for c in cust:
            cid, nat = CUST + c["c_custkey"], NATION + c["c_nationkey"]
            bal = Decimal(repr(c["c_acctbal"]))
            ops.append(add_vertex(cid, "Customer", {"mktsegment": c["c_mktsegment"], "acctbal": float(bal)}))
            model.put(cid, c["c_mktsegment"], bal, nat)
        ops += [add_edge(CUST + c["c_custkey"], NATION + c["c_nationkey"], "located_in") for c in cust]
        root = ctx.scratch("store")
        store = GraphStore(ctx.spark, os.path.join(root, "store"))
        t0 = time.perf_counter()
        store.apply_batch(ops)
        load_s = time.perf_counter() - t0
        catalog = ViewCatalog(ctx.spark, os.path.join(root, "views"))
        agg = IncrementalAggState(ctx.spark, os.path.join(root, "agg"), ["mktsegment"], "acctbal")
        deg = IncrementalDegreeCentrality(ctx.spark, os.path.join(root, "deg"))
        catalog.register_incremental(ViewDefinition(name="seg_balance", view_type="aggregation"), agg)
        catalog.register_incremental(ViewDefinition(name="nation_degree", view_type="analytics"), deg)
        st = {
            "store": store, "catalog": catalog, "router": QueryRouter(catalog), "model": model,
            "root": root, "next_id": CUST + len(cust), "graph_load_s": load_s,
        }
        self._propagate(ctx, st, 0, store.version, ("vertices", "edges"), -1)
        return st

    # -- one write ----------------------------------------------------------
    def _propagate(self, ctx, st, a: int, b: int, tables, op_id: int) -> None:
        from dd_graphdb_spark.storage.store import cdc_to_deltas, prop_typed
        from pyspark.sql import functions as F

        tr, store, catalog = ctx.tracer, st["store"], st["catalog"]
        for table in tables:
            with tr.span("store.cdc", op_id):
                d = cdc_to_deltas(store.changes(table, a, b))
                if table == "vertices":
                    d = d.filter(F.col("label") == "Customer").select(
                        prop_typed("properties", "mktsegment").alias("mktsegment"),
                        prop_typed("properties", "acctbal", "double").alias("acctbal"),
                        "_sign",
                    )
                else:
                    d = d.select("src", "dst", "_sign")
            with tr.span("views.apply", op_id):
                catalog.apply_deltas("seg_balance" if table == "vertices" else "nation_degree", d)

    def _read(self, ctx, st, view: str, op_id: int, span: str):
        from dd_graphdb_spark.views import QueryPattern

        kind = "aggregation" if view == "seg_balance" else "analytics"
        with ctx.tracer.span(span, op_id) as sp:
            if sp is not None:
                sp["hit"] = not st["catalog"].state[view]["dirty"]
            rows = st["router"].execute(QueryPattern(kind)).collect()
        ok = agg_ok(rows, st["model"]) if view == "seg_balance" else degree_ok(rows, st["model"])
        return ok

    def _ops(self, st, kind: str, rng: random.Random):
        """(store ops or GQL statement, tables touched, model update)."""
        from dd_graphdb_spark.storage import (
            add_edge, add_vertex, remove_vertex, update_vertex_props,
        )

        model = st["model"]
        ids = sorted(model.cust)
        if kind == "update":
            a, b = rng.sample(ids, 2)
            ops, after = [], []
            for cid in (a, b):
                seg, nat = rng.choice(SEGMENTS), model.cust[cid][2]
                bal = Decimal(rng.randrange(-99_999, 999_999)) / 100
                ops.append(update_vertex_props(
                    cid, {"type": "Customer", "mktsegment": seg, "acctbal": float(bal)}))
                after.append((cid, seg, bal, nat))
            return ops, ("vertices",), lambda: [model.put(*x) for x in after]
        if kind == "replace":
            gone = rng.choice(ids)
            cid, st["next_id"] = st["next_id"], st["next_id"] + 1
            seg, nat = rng.choice(SEGMENTS), NATION + rng.randrange(25)
            bal = Decimal(rng.randrange(-99_999, 999_999)) / 100
            ops = [
                remove_vertex(gone),
                add_vertex(cid, "Customer", {"mktsegment": seg, "acctbal": float(bal)}),
                add_edge(cid, nat, "located_in"),
            ]
            return ops, ("vertices", "edges"), lambda: (model.drop(gone), model.put(cid, seg, bal, nat))
        cid = rng.choice(ids)
        seg, _, nat = model.cust[cid]
        bal = Decimal(rng.randrange(0, 999_999)) / 100
        stmt = f"MATCH (c:Customer) WHERE c.id = {cid} SET c.acctbal = {bal}"
        return stmt, ("vertices",), lambda: model.put(cid, seg, bal, nat)

    def _write(self, ctx, st, kind: str, rng: random.Random, op_id: int) -> dict:
        t_op = time.perf_counter()
        from dd_graphdb_spark.plans.lower import GQLEngine

        tr, store = ctx.tracer, st["store"]
        payload, tables, apply_model = self._ops(st, kind, rng)
        a = store.version
        before = dir_size(store.path) if tr.on else None
        t0 = time.perf_counter()
        with tr.span("write", op_id):
            if isinstance(payload, str):
                with tr.span("mutation.gql_set", op_id):
                    graph = store.as_property_graph({"acctbal": "double", "mktsegment": "string"})
                    GQLEngine(graph, store=store).execute(payload)
            else:
                with tr.span("store.commit", op_id):
                    store.apply_batch(payload)
            t_commit = time.perf_counter() - t0
            apply_model()
            self._propagate(ctx, st, a, store.version, tables, op_id)
            ok = True
            for view in ("seg_balance", "nation_degree"):
                if ("vertices" if view == "seg_balance" else "edges") in tables:
                    ok &= self._read(ctx, st, view, op_id, "views.router.fresh_read")
        t_fresh = time.perf_counter() - t0
        rec = {"kind": kind, "op": (kind,), "commit": t_commit, "fresh": t_fresh, "ok": ok,
               "reads": []}
        if before is not None:
            after = dir_size(store.path)
            rec["bytes_written"], rec["files_written"] = after[0] - before[0], after[1] - before[1]
        for view in ("seg_balance", "nation_degree"):
            t1 = time.perf_counter()
            ok = self._read(ctx, st, view, op_id, "views.router.read")
            rec["reads"].append(time.perf_counter() - t1)
            rec["ok"] &= ok
        rec["lat"] = time.perf_counter() - t_op
        return rec

    # -- harness interface --------------------------------------------------
    def start(self, ctx, st) -> None:
        self.st = st
        self.rng = random.Random(ctx.seed)

    def warmup(self, ctx) -> None:
        """One write of every kind: the first write of a kind runs well
        over its warm time."""
        rng = random.Random(ctx.seed + 1_000_003)
        for kind in self.MIX:
            self._write(ctx, self.st, kind, rng, -1)
        self.st["store"].vacuum(keep_last=2)

    def next_round(self):
        """The writes of ``MIX`` in a fixed order, cheapest first: the
        first writes after warm-up run beside seconds of JIT compilation,
        and with a seeded order the kind that paid for it changed from
        seed to seed."""
        return [(k,) for k, n in self.MIX.items() for _ in range(n)]

    def run_op(self, ctx, op, op_id: int) -> dict:
        return self._write(ctx, self.st, op[0], self.rng, op_id)

    def end_round(self, ctx) -> None:
        with ctx.tracer.span("store.vacuum"):
            self.st["store"].vacuum(keep_last=2)

    def verify(self, ctx, recs) -> int:
        return sum(not r["ok"] for r in recs)

    def extra(self, recs, rounds) -> dict:
        out = {}
        for key, xs in (
            ("commit", [r.get("commit", r["lat"]) for r in recs]),
            ("fresh", [r.get("fresh", r["lat"]) for r in recs]),
            ("read", [x for r in recs for x in r.get("reads", [])]),
        ):
            out[f"{key}_p50_s"] = p50(xs)
            out[f"{key}_tail_s"] = tail(xs)[0]
        return out

    def layers(self, ctx, recs) -> dict:
        tr = ctx.tracer
        commit = tr.by_name("store.commit")
        gql = tr.by_name("mutation.gql_set")
        cdc = tr.by_name("store.cdc")
        apply = tr.by_name("views.apply")
        reads = tr.by_name("views.router.fresh_read") + tr.by_name("views.router.read")
        return {
            "store.commit_s": span_p50(commit),
            "store.commit_jobs": span_p50(commit, "jobs"),
            "store.commit_tasks": span_p50(commit, "tasks"),
            "store.bytes_written_per_commit": p50([r.get("bytes_written", 0) for r in recs]),
            "store.files_written_per_commit": p50([r.get("files_written", 0) for r in recs]),
            "store.dir_bytes": dir_size(self.st["store"].path)[0],
            "store.vacuum_s": span_p50(tr.by_name("store.vacuum")),
            "store.cdc_s": span_p50(cdc),
            "store.cdc_jobs": span_p50(cdc, "jobs"),
            "mutation.gql_set_s": span_p50(gql),
            "mutation.gql_set_jobs": span_p50(gql, "jobs"),
            "views.apply_s": span_p50(apply),
            "views.apply_jobs": span_p50(apply, "jobs"),
            "views.router.read_s": span_p50(reads),
            "views.router.read_jobs": span_p50(reads, "jobs"),
            "views.router.hit_ratio": sum(s["hit"] for s in reads) / max(1, len(reads)),
        }
