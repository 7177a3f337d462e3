"""gql_interactive: one GQL read statement per op over the materialized
TPC-H graph, collected to the driver.

Ops come in rounds; each round is a seeded permutation of the eight
templates with seeded parameters, so every run sees the same template
mix and the seed moves only the order and the parameter values. Each
result is checked against DuckDB over ``graph.GRAPH_CTE``.
"""

from __future__ import annotations

import random
import time

from perfbench.common import (
    oracle_conn, oracle_digest, p50, rows_digest, scan_metrics, span_p50,
)
from perfbench.metrics import TEMPLATES as TEMPLATE_NAMES

CUST = 10_000_000
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

# name -> (GQL statement, DuckDB oracle body after GRAPH_CTE)
TEMPLATES = {
    "point": (
        "MATCH (c:Customer {id: $cid}) RETURN c.name, c.acctbal, c.mktsegment",
        "SELECT name AS c_name, acctbal AS c_acctbal, mktsegment AS c_mktsegment "
        "FROM vertices WHERE label = 'Customer' AND id = $cid",
    ),
    "incoming": (
        "MATCH (c:Customer {id: $cid})<-[:placed_by]-(o:Order) RETURN c.name, o.id",
        "SELECT c.name AS c_name, o.id AS o_id FROM vertices c "
        "JOIN edges e ON c.id = e.dst AND e.label = 'placed_by' "
        "JOIN vertices o ON e.src = o.id "
        "WHERE c.label = 'Customer' AND c.id = $cid AND o.label = 'Order'",
    ),
    "two_hop": (
        "MATCH (o:Order)-[:placed_by]->(c:Customer)-[:located_in]->(n:Nation) "
        "WHERE o.acctbal > $t RETURN o.id, c.name, n.name",
        "SELECT o.id AS o_id, c.name AS c_name, n.name AS n_name FROM vertices o "
        "JOIN edges e1 ON o.id = e1.src AND e1.label = 'placed_by' "
        "JOIN vertices c ON e1.dst = c.id "
        "JOIN edges e2 ON c.id = e2.src AND e2.label = 'located_in' "
        "JOIN vertices n ON e2.dst = n.id "
        "WHERE o.label = 'Order' AND c.label = 'Customer' AND n.label = 'Nation' "
        "AND o.acctbal > $t",
    ),
    "agg": (
        "MATCH (c:Customer)-[:located_in]->(n:Nation) WHERE c.mktsegment = $seg "
        "RETURN n.name, count(c)",
        "SELECT n.name AS n_name, COUNT(*) AS count_c FROM vertices c "
        "JOIN edges e ON c.id = e.src AND e.label = 'located_in' "
        "JOIN vertices n ON e.dst = n.id AND n.label = 'Nation' "
        "WHERE c.label = 'Customer' AND c.mktsegment = $seg GROUP BY n.name",
    ),
    "optional": (
        "MATCH (c:Customer {mktsegment: $seg}) "
        "OPTIONAL MATCH (c)<-[:placed_by]-(o:Order) WHERE o.acctbal > $t "
        "RETURN c.name, count(o)",
        "SELECT c.name AS c_name, COUNT(o.id) AS count_o FROM vertices c LEFT JOIN ("
        "SELECT e.dst AS cid, v.id FROM edges e JOIN vertices v ON e.src = v.id "
        "WHERE e.label = 'placed_by' AND v.label = 'Order' AND v.acctbal > $t"
        ") o ON c.id = o.cid WHERE c.label = 'Customer' AND c.mktsegment = $seg "
        "GROUP BY c.name",
    ),
    "var_length": (
        "MATCH (c:Customer {id: $cid})-[p*1..2]->(t) RETURN t.name, p.hops",
        "SELECT v.name AS t_name, w.hops AS p_hops FROM ("
        "SELECT e1.dst AS tid, 1 AS hops FROM edges e1 WHERE e1.src = $cid "
        "UNION ALL SELECT e2.dst, 2 FROM edges e1 JOIN edges e2 ON e1.dst = e2.src "
        "WHERE e1.src = $cid) w JOIN vertices v ON w.tid = v.id",
    ),
    "call_subquery": (
        "CALL { MATCH (c:Customer)-[:located_in]->(n:Nation) WHERE c.acctbal > $t "
        "RETURN n.name AS nm, c.acctbal AS bal UNION ALL "
        "MATCH (s:Supplier)-[:located_in]->(n:Nation) RETURN n.name AS nm, s.acctbal AS bal "
        "} RETURN nm, count(bal) AS n_accounts, max(bal) AS max_bal",
        "SELECT nm, count(bal) AS n_accounts, max(bal) AS max_bal FROM ("
        "SELECT n.name AS nm, c.acctbal AS bal FROM vertices c "
        "JOIN edges e ON e.src = c.id AND e.label = 'located_in' "
        "JOIN vertices n ON n.id = e.dst AND n.label = 'Nation' "
        "WHERE c.label = 'Customer' AND c.acctbal > $t UNION ALL "
        "SELECT n.name, s.acctbal FROM vertices s "
        "JOIN edges e ON e.src = s.id AND e.label = 'located_in' "
        "JOIN vertices n ON n.id = e.dst AND n.label = 'Nation' "
        "WHERE s.label = 'Supplier') GROUP BY nm",
    ),
    "union": (
        "MATCH (c:Customer) WHERE c.acctbal > $hi RETURN c.mktsegment AS seg "
        "UNION MATCH (c:Customer) WHERE c.acctbal < $lo RETURN c.mktsegment AS seg",
        "SELECT mktsegment AS seg FROM vertices WHERE label = 'Customer' AND acctbal > $hi "
        "UNION SELECT mktsegment FROM vertices WHERE label = 'Customer' AND acctbal < $lo",
    ),
}


def _params(name: str, rng: random.Random, n_customers: int) -> dict:
    if name in ("point", "incoming", "var_length"):
        return {"cid": CUST + rng.randrange(n_customers)}
    if name == "two_hop":
        return {"t": float(rng.randrange(460_000, 470_000))}
    if name == "agg":
        return {"seg": rng.choice(SEGMENTS)}
    if name == "optional":
        return {"seg": rng.choice(SEGMENTS), "t": float(rng.randrange(440_000, 460_000))}
    if name == "call_subquery":
        return {"t": float(rng.randrange(8_000, 9_000))}
    return {"hi": float(rng.randrange(9_000, 9_500)), "lo": float(rng.randrange(-500, 0))}


assert tuple(TEMPLATES) == TEMPLATE_NAMES


def _literal(v) -> str:
    return f"'{v}'" if isinstance(v, str) else repr(v)


def rounds(seed: int, n_customers: int):
    """Endless op rounds: a seeded permutation of every template with
    seeded parameters."""
    rng = random.Random(seed)
    names = list(TEMPLATES)
    while True:
        rng.shuffle(names)
        yield [(n, _params(n, rng, n_customers)) for n in names]


class Workload:
    name = "gql_interactive"
    #: one round runs every template once
    MIX = dict.fromkeys(TEMPLATES, 1)

    def fixture(self, ctx):
        """Build the materialized graph layout."""
        from dd_graphdb_spark.graph import materialized_tpch_graph

        t0 = time.perf_counter()
        g = materialized_tpch_graph(ctx.spark, ctx.data_dir)
        return {"graph": g, "graph_load_s": time.perf_counter() - t0}

    def start(self, ctx, state):
        from dd_graphdb_spark.plans.lower import GQLEngine

        self.engine = GQLEngine(state["graph"])
        self.gen = rounds(ctx.seed, ctx.scale["customer"])
        self.warm = rounds(ctx.seed + 1_000_003, ctx.scale["customer"])

    def warmup(self, ctx):
        """One round: every template once, with other parameters."""
        for op in next(self.warm):
            self.run_op(ctx, op, -1)

    def next_round(self):
        return next(self.gen)

    def end_round(self, ctx):
        pass

    def run_op(self, ctx, op, op_id: int) -> dict:
        from dd_graphdb_spark.plans.gql import parse_gql

        name, params = op
        stmt = TEMPLATES[name][0]
        tr = ctx.tracer
        t0 = time.perf_counter()
        with tr.span("op", op_id):
            if tr.on:
                with tr.span("plans.gql.parse", op_id):
                    parse_gql(stmt, params)
            with tr.span("plans.lower.build", op_id):
                df = self.engine.execute(stmt, params)
            if tr.on:
                with tr.span("catalyst.plan", op_id):
                    df._jdf.queryExecution().executedPlan()
            with tr.span("exec", op_id) as sp:
                rows = df.collect()
        lat = time.perf_counter() - t0
        rec = {"kind": name, "op": op, "lat": lat, "rows": rows, "cols": df.columns}
        if tr.on:
            sp.update(scan_metrics(df), result_rows=len(rows))
        return rec

    def verify(self, ctx, recs: list[dict]) -> int:
        from dd_graphdb_spark.graph import GRAPH_CTE

        con = oracle_conn(ctx.data_dir)
        failed = 0
        for r in recs:
            sql = TEMPLATES[r["kind"]][1]
            for k, v in r["op"][1].items():
                sql = sql.replace(f"${k}", _literal(v))
            rows = r.pop("rows", None)
            if rows is None:
                r["ok"] = False
            else:
                want = oracle_digest(con, GRAPH_CTE + sql)
                got = rows_digest(rows, r["cols"])
                r["ok"] = got == want[:2] and sorted(r["cols"]) == sorted(want[2])
            failed += not r["ok"]
        con.close()
        return failed

    def extra(self, recs, rounds) -> dict:
        return {}

    def layers(self, ctx, recs) -> dict:
        tr = ctx.tracer
        exec_spans = tr.by_name("exec")
        build = tr.by_name("plans.lower.build")
        out = {
            "plans.gql.parse_s": span_p50(tr.by_name("plans.gql.parse")),
            "plans.lower.build_s": span_p50(build),
            "plans.lower.build_jobs": span_p50(build, "jobs"),
            "catalyst.plan_s": span_p50(tr.by_name("catalyst.plan")),
            "exec.s": span_p50(exec_spans),
            "exec.jobs": span_p50(exec_spans, "jobs"),
            "exec.stages": span_p50(exec_spans, "stages"),
            "exec.tasks": span_p50(exec_spans, "tasks"),
            "exec.failed_tasks": sum(s.get("failed_tasks", 0) for s in exec_spans),
            "exec.files_read": span_p50(exec_spans, "files"),
            "exec.bytes_read": span_p50(exec_spans, "bytes"),
            "exec.rows_scanned_per_row": p50(
                [s["rows"] / max(1, s["result_rows"]) for s in exec_spans if "rows" in s]
            ),
        }
        for name in TEMPLATES:
            out[f"tmpl.{name}.p50_s"] = p50([r["lat"] for r in recs if r["kind"] == name])
        return out
