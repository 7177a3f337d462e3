"""Property-based tests (hypothesis): model-checked store semantics,
incremental-agg exactness, salted-join equivalence, parser robustness.

The reference's tests are golden-output on hand-built fixtures
(SURVEY.md §5); these widen coverage to arbitrary inputs while keeping
example counts small (each example drives real Spark jobs).
"""

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# each example drives real Spark jobs; default stays cheap, deep sweeps
# opt in via SPARK_GRAFT_HYP_EXAMPLES=40
SMALL = settings(
    max_examples=int(os.environ.get("SPARK_GRAFT_HYP_EXAMPLES", "8")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


# --------------------------------------------------------------------------
# GraphStore vs an in-memory HashMap model (apply_operation semantics,
# graph/storage/src/lib.rs:269-323)
# --------------------------------------------------------------------------
_op = st.one_of(
    st.tuples(st.just("add_vertex"), st.integers(1, 6), st.integers(0, 3)),
    st.tuples(st.just("remove_vertex"), st.integers(1, 6), st.just(0)),
    st.tuples(st.just("update_vertex_props"), st.integers(1, 6), st.integers(0, 3)),
    st.tuples(st.just("add_edge"), st.integers(1, 6), st.integers(1, 6)),
    st.tuples(st.just("remove_edge"), st.integers(1, 6), st.integers(1, 6)),
)


@SMALL
@given(st.lists(_op, min_size=1, max_size=12))
def test_store_matches_hashmap_model(spark, tmp_path_factory, ops):
    from dd_graphdb_spark.storage import (
        GraphStore,
        add_edge,
        add_vertex,
        remove_edge,
        remove_vertex,
        update_vertex_props,
    )

    store = GraphStore(spark, str(tmp_path_factory.mktemp("prop_store")))
    verts: dict[int, dict] = {}
    edges: set[tuple] = set()
    batch = []
    for kind, a, b in ops:
        if kind == "add_vertex":
            batch.append(add_vertex(a, "P", {"v": b}))
            verts[a] = {"type": "P", "v": b}
        elif kind == "remove_vertex":
            batch.append(remove_vertex(a))
            verts.pop(a, None)
            edges = {e for e in edges if a not in (e[0], e[1])}
        elif kind == "update_vertex_props":
            batch.append(update_vertex_props(a, {"v": b}))
            verts[a] = {"v": b}  # REPLACE + insert-if-missing
        elif kind == "add_edge":
            batch.append(add_edge(a, b, "l"))
            edges.add((a, b, "l"))
        elif kind == "remove_edge":
            batch.append(remove_edge(a, b, "l"))
            edges.discard((a, b, "l"))
    store.apply_batch(batch)

    got_v = {
        r["id"]: {k: __import__("json").loads(v) for k, v in r["properties"].items()}
        for r in store.vertices().collect()
    }
    got_e = {(r["src"], r["dst"], r["label"]) for r in store.edges().collect()}
    assert got_v == verts
    assert got_e == edges


@SMALL
@given(
    st.lists(_op, min_size=1, max_size=12),
    st.integers(1, 4),
    st.integers(1, 3),
)
def test_store_cow_multi_commit_matches_hashmap_model(
    spark, tmp_path_factory, ops, n_batches, max_layers
):
    """The file-level CoW path (forced via cow_min_bytes=0, 3 buckets)
    applied across SEVERAL commits — every version inherits most
    buckets, mutated buckets accumulate delta layers (upserts +
    tombstones, merged latest-wins on read), and chains compact at
    ``max_layers`` (1 = compact every commit, 3 = three-deep merge
    chains) — must agree with the same HashMap model as the
    single-batch test, and time travel must reproduce each
    intermediate state, before and after vacuum relocation."""
    import json as _json

    from dd_graphdb_spark.storage import (
        GraphStore,
        add_edge,
        add_vertex,
        remove_edge,
        remove_vertex,
        update_vertex_props,
    )

    store = GraphStore(
        spark, str(tmp_path_factory.mktemp("cow_store")),
        n_buckets=3, cow_min_bytes=0, cow_max_layers=max_layers,
    )
    verts: dict[int, dict] = {}
    edges: set[tuple] = set()
    batches: list[list] = [[] for _ in range(n_batches)]
    for i, (kind, a, b) in enumerate(ops):
        batch = batches[i % n_batches]
        if kind == "add_vertex":
            batch.append(add_vertex(a, "P", {"v": b}))
        elif kind == "remove_vertex":
            batch.append(remove_vertex(a))
        elif kind == "update_vertex_props":
            batch.append(update_vertex_props(a, {"v": b}))
        elif kind == "add_edge":
            batch.append(add_edge(a, b, "l"))
        elif kind == "remove_edge":
            batch.append(remove_edge(a, b, "l"))
    snapshots = []
    for batch in batches:
        if not batch:
            continue
        for op in batch:
            kind, p = op.kind, op.payload
            if kind == "add_vertex":
                verts[p["id"]] = dict(p["props"])  # raw (pre-render) props
            elif kind == "remove_vertex":
                verts.pop(p["id"], None)
                edges = {
                    e for e in edges if p["id"] not in (e[0], e[1])
                }
            elif kind == "update_vertex_props":
                verts[p["id"]] = dict(p["props"])
            elif kind == "add_edge":
                edges.add((p["src"], p["dst"], p["label"]))
            elif kind == "remove_edge":
                edges.discard((p["src"], p["dst"], p["label"]))
        store.apply_batch(batch)
        snapshots.append((store.version, dict(verts), set(edges)))

    def check(version, want_v, want_e, phase):
        got_v = {
            r["id"]: {k: _json.loads(v) for k, v in r["properties"].items()}
            for r in store.vertices(version=version).collect()
        }
        got_e = {
            (r["src"], r["dst"], r["label"])
            for r in store.edges(version=version).collect()
        }
        assert got_v == want_v, f"vertices diverge at v{version} ({phase})"
        assert got_e == want_e, f"edges diverge at v{version} ({phase})"

    for version, want_v, want_e in snapshots:
        check(version, want_v, want_e, "pre-vacuum")

    # vacuum relocates still-referenced buckets out of dead version
    # dirs (rename, no rewrite); the kept versions must read back
    # identically and the dead dirs must be gone
    import os as _os

    store.vacuum(keep_last=2)
    cur = store.version
    for version, want_v, want_e in snapshots:
        if version > cur - 2:
            check(version, want_v, want_e, "post-vacuum")
        else:
            assert not _os.path.isdir(
                _os.path.join(store.path, f"v{version}")
            ), f"v{version} should have been vacuumed"


# --------------------------------------------------------------------------
# IncrementalAggState: any batch split == direct aggregation of the net
# rows (±count/±sum exactness, incremental_engine.rs:875-946)
# --------------------------------------------------------------------------
@SMALL
@given(
    st.lists(
        st.tuples(
            st.sampled_from("ab"),
            st.integers(0, 1000).map(lambda x: x / 10.0),
            st.sampled_from([1, 1, 1, -1]),
        ),
        min_size=1,
        max_size=20,
    ),
    st.integers(1, 3),
)
def test_incremental_agg_matches_direct(spark, tmp_path_factory, rows, n_splits):
    from collections import defaultdict

    from dd_graphdb_spark.views import IncrementalAggState

    # Well-formed histories only: a remove must target a (key, value)
    # row currently in the multiset — the reference's removes carry the
    # removed entity's actual properties (DataChange::RemoveVertex
    # {properties}), so a remove of a value never added is out of
    # contract (and the per-op clamp it would hit,
    # incremental_engine.rs:886, is non-associative — it cannot survive
    # batch pre-aggregation). Ill-formed removes are dropped from the
    # generated history rather than rejecting the whole example.
    avail = defaultdict(int)
    effective = []
    for k, v, s in rows:
        if s < 0:
            if avail[(k, v)] == 0:
                continue
            avail[(k, v)] -= 1
        else:
            avail[(k, v)] += 1
        effective.append((k, v, s))
    rows = effective
    if not rows:
        return
    counts = defaultdict(int)
    sums = defaultdict(float)
    for k, v, s in rows:
        counts[k] += s
        sums[k] += s * v

    state = IncrementalAggState(
        spark, str(tmp_path_factory.mktemp("prop_agg")), ["k"], "v"
    )
    step = max(1, len(rows) // n_splits)
    for i in range(0, len(rows), step):
        chunk = rows[i : i + step]
        state.apply_deltas(
            spark.createDataFrame(chunk, "k string, v double, _sign int")
        )
    got = {r["k"]: (r["n"], round(r["total"], 6)) for r in state.result().collect()}
    want = {k: (c, round(sums[k], 6)) for k, c in counts.items() if c > 0}
    assert got == want


# --------------------------------------------------------------------------
# salted_self_pairs == plain self-join pairs on arbitrary small inputs
# --------------------------------------------------------------------------
@SMALL
@given(st.lists(st.tuples(st.integers(1, 8), st.integers(1, 4)), min_size=1, max_size=25))
def test_salted_pairs_equivalence(spark, members):
    from dd_graphdb_spark.operators._skew import salted_self_pairs

    df = spark.createDataFrame(members, "m long, key long").distinct()
    plain = (
        df.selectExpr("m AS a", "key")
        .join(df.selectExpr("m AS b", "key"), "key")
        .filter("a < b")
        .select("a", "b")
    )
    salted = salted_self_pairs(df, "m", ["key"], salt_threshold=1, n_salts=3)
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


# --------------------------------------------------------------------------
# Betweenness: Spark Brandes == pure-Python sigma-product model on
# arbitrary small digraphs (cycles included)
# --------------------------------------------------------------------------
def _bc_model(n, edges):
    """bc(v) = sum over (s,t), s!=v!=t, of sigma_st(v)/sigma_st with
    sigma_st(v) = sigma_sv * sigma_vt when d(s,v)+d(v,t) = d(s,t)."""
    from collections import deque

    adj = {v: [] for v in range(1, n + 1)}
    for s, t in edges:
        adj[s].append(t)
    d, sig = {}, {}
    for s in range(1, n + 1):
        dist = {s: 0}
        sigma = {s: 1}
        q = deque([s])
        while q:
            u = q.popleft()
            for w in adj[u]:
                if w not in dist:
                    dist[w] = dist[u] + 1
                    sigma[w] = sigma[u]
                    q.append(w)
                elif dist[w] == dist[u] + 1:
                    sigma[w] += sigma[u]
        for v, dv in dist.items():
            d[(s, v)] = dv
            sig[(s, v)] = sigma[v]
    bc = {v: 0.0 for v in range(1, n + 1)}
    for (s, v), dsv in d.items():
        if s == v:
            continue
        for t in range(1, n + 1):
            if t in (s, v) or (v, t) not in d or (s, t) not in d:
                continue
            if dsv + d[(v, t)] == d[(s, t)]:
                bc[v] += sig[(s, v)] * sig[(v, t)] / sig[(s, t)]
    return bc


@SMALL
@given(
    st.integers(3, 6),
    st.lists(st.tuples(st.integers(1, 6), st.integers(1, 6)), min_size=1, max_size=14),
)
def test_betweenness_matches_sigma_product_model(spark, n, raw_edges):
    from dd_graphdb_spark.algorithms import betweenness_centrality
    from dd_graphdb_spark.graph import PropertyGraph

    edges = sorted({(s, t) for s, t in raw_edges if s <= n and t <= n and s != t})
    if not edges:
        return
    v = spark.createDataFrame([(i,) for i in range(1, n + 1)], "id long")
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["betweenness"]
        for r in betweenness_centrality(PropertyGraph(v, e)).collect()
    }
    want = _bc_model(n, edges)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])


# --------------------------------------------------------------------------
# GQL parser: generated well-formed queries parse; junk raises ValueError
# --------------------------------------------------------------------------
_ident = st.from_regex(r"[a-z][a-z0-9_]{0,6}", fullmatch=True)
# a binding name may not contain '__', the engine's binding-column
# separator (parse_gql rejects it by contract: Parser._check_var)
_binding = _ident.filter(lambda s: "__" not in s)


@settings(max_examples=50, deadline=None)
@given(
    var=_binding,
    label=_ident,
    prop=_ident,
    num=st.integers(-1000, 1000),
    op=st.sampled_from(["=", "!=", "<", ">", "<=", ">="]),
)
def test_gql_parser_roundtrips(var, label, prop, num, op):
    from dd_graphdb_spark.plans.gql import Compare, MatchStatement, parse_gql

    q = f"MATCH ({var}:{label}) WHERE {var}.{prop} {op} {num} RETURN {var}.{prop}"
    stmt = parse_gql(q)
    assert isinstance(stmt, MatchStatement)
    cond = stmt.where
    assert isinstance(cond, Compare)
    assert cond.value == num and cond.var == var and cond.prop == prop


@settings(max_examples=30, deadline=None)
@given(st.text(alphabet="(){}[]<>-=.,:*acbd123 ", max_size=25))
def test_gql_parser_never_crashes_weirdly(junk):
    from dd_graphdb_spark.plans.gql import parse_gql

    try:
        parse_gql("MATCH " + junk)
    except ValueError:
        pass  # structured parse/lex error is the contract


# --------------------------------------------------------------------------
# asof_join vs the pandas merge_asof model (operators/timeseries.py)
# --------------------------------------------------------------------------
@settings(max_examples=int(os.environ.get("SPARK_GRAFT_HYP_EXAMPLES", "8")),
          deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    lefts=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 50)), min_size=1, max_size=20
    ),
    rights=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 50)), min_size=0, max_size=20
    ),
    direction=st.sampled_from(["backward", "forward"]),
    tol=st.sampled_from([None, 5]),
    bucket=st.sampled_from([None, 7.0]),
)
def test_asof_matches_pandas_model(spark, lefts, rights, direction, tol, bucket):
    """Distinct right timestamps per key (merge_asof's own tie rule is
    positional, ours is by tiebreak column — dedupe to sidestep that),
    integer-second timestamps, both directions, with/without tolerance."""
    import datetime as dt

    import pandas as pd

    from dd_graphdb_spark.operators.timeseries import asof_join

    base = dt.datetime(2024, 1, 1)
    rights = list({(k, s): None for k, s in rights})  # distinct (key, ts)
    ldf = pd.DataFrame(
        [(i, k, base + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(lefts)],
        columns=["lid", "key", "ts"],
    )
    rdf = pd.DataFrame(
        [(k, base + dt.timedelta(seconds=s), float(s)) for (k, s) in rights],
        columns=["key", "rts", "val"],
    )
    sl = spark.createDataFrame(ldf)
    sr = (
        spark.createDataFrame(rdf)
        if len(rdf)
        else spark.createDataFrame([], "key long, rts timestamp, val double")
    )
    got = asof_join(
        sl, sr, on=["key"], left_ts="ts", right_ts="rts",
        payload_cols=["val"], tiebreak="val",
        tolerance_seconds=tol, direction=direction,
        hot_key_bucket_seconds=bucket,  # None = single-level; 7 s forces
        # cross-bucket carries (timestamps span 0-50 s)
    ).toPandas().set_index("lid")["val"].to_dict()

    if len(rdf):
        exp_df = pd.merge_asof(
            ldf.sort_values(["ts", "lid"]),
            rdf.sort_values("rts"),
            left_on="ts", right_on="rts", by="key",
            direction=direction,
            tolerance=None if tol is None else pd.Timedelta(seconds=tol),
        ).set_index("lid")["val"].to_dict()
    else:
        exp_df = {i: None for i in ldf["lid"]}

    def norm(v):
        return None if v is None or v != v else v  # NaN -> None

    assert {k: norm(v) for k, v in got.items()} == {
        k: norm(v) for k, v in exp_df.items()
    }


# --------------------------------------------------------------------------
# CDC reconstruction: for ANY two op batches, replaying changes(v1, v2)
# onto the v1 snapshot reproduces the v2 snapshot exactly —
# old ⊕ (delete preimages, apply postimages/inserts) = new. This is the
# algebraic contract that lets every downstream consumer (incremental
# views, replicas) trust the feed.
# --------------------------------------------------------------------------
@SMALL
@given(
    st.lists(_op, min_size=1, max_size=8),
    st.lists(_op, min_size=1, max_size=8),
    st.booleans(),
)
def test_cdc_changes_reconstruct_snapshot(spark, tmp_path_factory, ops1, ops2, cow):
    from dd_graphdb_spark.storage import (
        GraphStore,
        add_edge,
        add_vertex,
        remove_edge,
        remove_vertex,
        update_vertex_props,
    )

    def to_batch(ops):
        mk = {
            "add_vertex": lambda a, b: add_vertex(a, "P", {"v": b}),
            "remove_vertex": lambda a, b: remove_vertex(a),
            "update_vertex_props": lambda a, b: update_vertex_props(a, {"v": b}),
            "add_edge": lambda a, b: add_edge(a, b, "l"),
            "remove_edge": lambda a, b: remove_edge(a, b, "l"),
        }
        return [mk[kind](a, b) for kind, a, b in ops]

    # cow: merge-on-read versions (delta layers over a base), not only
    # full rewrites
    kw = {"n_buckets": 3, "cow_min_bytes": 0} if cow else {}
    store = GraphStore(spark, str(tmp_path_factory.mktemp("cdc_store")), **kw)
    store.apply_batch(to_batch(ops1))
    v1 = store.version
    store.apply_batch(to_batch(ops2))
    v2 = store.version

    for table, keys in (("vertices", ("id",)), ("edges", ("src", "dst", "label"))):
        read = store.vertices if table == "vertices" else store.edges
        snap = lambda df: {  # noqa: E731
            tuple(r[k] for k in keys): (dict(r["properties"] or {}), r["label"])
            for r in df.collect()
        }
        old, new = snap(read(version=v1)), snap(read(version=v2))
        rebuilt = dict(old)
        rows = store.changes(table, v1, v2).collect()
        for r in rows:  # deletes + preimage retractions first
            if r["_change_type"] in ("delete", "update_preimage"):
                key = tuple(r[k] for k in keys)
                assert rebuilt.pop(key)[0] == dict(r["properties"] or {})
        for r in rows:
            if r["_change_type"] in ("insert", "update_postimage"):
                rebuilt[tuple(r[k] for k in keys)] = (
                    dict(r["properties"] or {}),
                    r["label"],
                )
        assert rebuilt == new, f"{table}: CDC replay diverged"


# --------------------------------------------------------------------------
# pack_sequences vs a direct python model: per bucket, offsets are the
# exclusive prefix sums in id order and chunk = offset // window.
# --------------------------------------------------------------------------
@SMALL
@given(
    st.lists(
        st.tuples(st.integers(1, 40), st.integers(1, 12)), min_size=1, max_size=20,
        unique_by=lambda t: t[0],
    ),
    st.integers(4, 32),
)
def test_pack_sequences_matches_model(spark, docs_and_lens, window):
    import hashlib

    from dd_graphdb_spark.operators.curation import pack_sequences

    rows = [(i, " ".join(["w"] * ln)) for i, ln in docs_and_lens]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["bucket"], r["offset"], r["chunk"], r["n_tokens"])
        for r in pack_sequences(df, window_tokens=window, n_buckets=4).collect()
    }

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 4

    by_b: dict = {}
    for i, ln in sorted(docs_and_lens):
        by_b.setdefault(bucket(i), []).append((i, ln))
    want = {}
    for b, ds in by_b.items():
        cum = 0
        for i, ln in ds:
            want[i] = (b, cum, cum // window, ln)
            cum += ln
    assert got == want


# --------------------------------------------------------------------------
# Banded range join == naive inequality join for ANY points/intervals
# and ANY band width (band explosion + residual verify must not change
# the match set).
# --------------------------------------------------------------------------
@SMALL
@given(
    st.lists(st.floats(-50, 50, allow_nan=False), min_size=1, max_size=15),
    st.lists(
        st.tuples(st.floats(-50, 50, allow_nan=False), st.floats(0, 30, allow_nan=False)),
        min_size=1,
        max_size=10,
    ),
    st.sampled_from([0.7, 3.0, 17.0, 100.0]),
)
def test_range_join_matches_naive(spark, vals, intervals, width):
    from dd_graphdb_spark.operators.rangejoin import range_join

    pts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "pid long, v double"
    )
    ivs = spark.createDataFrame(
        [(i, float(lo), float(lo + ln)) for i, (lo, ln) in enumerate(intervals)],
        "iid long, lo double, hi double",
    )
    got = {
        (r["pid"], r["iid"])
        for r in range_join(pts, ivs, "v", "lo", "hi", width).collect()
    }
    want = {
        (i, j)
        for i, v in enumerate(vals)
        for j, (lo, ln) in enumerate(intervals)
        if lo <= v < lo + ln
    }
    assert got == want


@settings(deadline=None, max_examples=12, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.integers(1, 40), min_size=1, max_size=6),  # tokens per doc
    st.integers(2, 10),  # chunk_tokens
    st.data(),
)
def test_chunking_tiles_every_token(spark, n_tokens_list, chunk_tokens, data):
    """Every token of every doc is covered, chunk starts advance by the
    stride, and the last chunk reaches exactly the end of the doc."""
    from dd_graphdb_spark.operators.curation import chunk_documents

    overlap = data.draw(st.integers(0, chunk_tokens - 1))
    rows = [
        (i, " ".join(f"t{i}_{k}" for k in range(n)))
        for i, n in enumerate(n_tokens_list)
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(d, chunk_tokens, overlap)
    stride = chunk_tokens - overlap
    by_doc: dict[int, list] = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, n in enumerate(n_tokens_list):
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_id)
        covered = set()
        for c in chunks:
            assert c.start_token == c.chunk_id * stride
            assert c.n_tokens == min(chunk_tokens, n - c.start_token)
            assert len(c.chunk_text.split(" ")) == c.n_tokens
            covered.update(range(c.start_token, c.start_token + c.n_tokens))
        assert covered == set(range(n))
        last = chunks[-1]
        assert last.start_token + last.n_tokens == n


@settings(deadline=None, max_examples=8, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(1, 30)),
             min_size=1, max_size=30),
    st.integers(10, 2000),
)
def test_mixture_sample_matches_model(spark, rows, budget):
    """The engine's sample equals a pure-python re-derivation of the
    hash-acceptance rule with the same derived rates."""
    import hashlib

    from dd_graphdb_spark.operators.curation import mixture_sample
    from dd_graphdb_spark.operators.sampling import BUCKETS

    weights = {"a": 0.5, "b": 0.3, "c": 1.5}
    data = [(i, src, "w " * n) for i, (src, n) in enumerate(rows)]
    d = spark.createDataFrame(data, "doc_id long, source string, text string")
    got = {r.doc_id for r in mixture_sample(d, weights, budget).collect()}

    tot: dict[str, int] = {}
    for i, (src, n) in enumerate(rows):
        tot[src] = tot.get(src, 0) + n
    expect = set()
    for i, (src, n) in enumerate(rows):
        rate = min(1.0, float(budget) * weights[src] / float(tot[src]))
        bucket = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
        if bucket < int(rate * BUCKETS):
            expect.add(i)
    assert got == expect


@settings(deadline=None, max_examples=10, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.tuples(st.integers(1, 6), st.integers(1, 6)), min_size=1, max_size=12),
    st.integers(1, 3),
    st.integers(0, 2),
)
def test_var_length_paths_match_walk_model(spark, raw_edges, lo_extra, span):
    """gql `-[p*lo..hi]->` returns one row per distinct WALK of each
    admissible length — checked against a python walk-enumeration model
    (multiplicities included)."""
    from collections import Counter

    from dd_graphdb_spark.graph import PropertyGraph
    from dd_graphdb_spark.plans.lower import GQLEngine

    lo, hi = lo_extra, lo_extra + span
    edges = sorted(set(raw_edges))
    nodes = sorted({v for e in edges for v in e})
    v = spark.createDataFrame([(n, "N") for n in nodes], "id long, label string")
    e = spark.createDataFrame([(a, b, "x") for a, b in edges], "src long, dst long, label string")
    eng = GQLEngine(PropertyGraph(v, e))
    df = eng.execute(f"MATCH (a)-[p:x*{lo}..{hi}]->(b) RETURN a.id, b.id, p.hops")
    got = Counter((r[0], r[1], r[2]) for r in df.collect())

    adj: dict[int, list[int]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    expect: Counter = Counter()
    if lo == 0:
        for n in nodes:
            expect[(n, n, 0)] += 1
    cur = Counter({(a, a): 1 for a in nodes})
    for h in range(1, hi + 1):
        nxt: Counter = Counter()
        for (s, t), m in cur.items():
            for u in adj.get(t, []):
                nxt[(s, u)] += m
        cur = nxt
        if h >= max(lo, 1):
            for (s, t), m in cur.items():
                expect[(s, t, h)] += m
    assert got == expect


# --------------------------------------------------------------------------
# Exact n-gram Jaccard: salted path ≡ unsalted path ≡ pure-python set
# model on arbitrary small corpora (guards the skew path end-to-end,
# not just on the hand-built boilerplate fixture)
# --------------------------------------------------------------------------
_word = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])


@SMALL
@given(st.lists(st.lists(_word, min_size=1, max_size=6), min_size=2, max_size=8))
def test_ngram_jaccard_salted_matches_set_model(spark, docs_tokens):
    from dd_graphdb_spark.operators.dedup import ngram_jaccard_pairs

    texts = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, 0.01, salt_threshold=1, n_salts=3
        ).collect()
    }

    def shingles(toks):
        if len(toks) >= 3:
            return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        return {" ".join(toks)}

    want = {}
    sh = {i: shingles(t) for i, t in enumerate(docs_tokens)}
    for a in sh:
        for b in sh:
            if a < b:
                inter = len(sh[a] & sh[b])
                if inter:
                    j = inter / len(sh[a] | sh[b])
                    if j >= 0.01:
                        want[(a, b)] = round(j, 6)
    assert got == pytest.approx(want)


# --------------------------------------------------------------------------
# Filter-rule Modify atomicity on arbitrary rule chains: every
# modification of a rule applies to exactly the rows its predicate
# matched BEFORE any of the rule's modifications
# --------------------------------------------------------------------------
@SMALL
@given(
    st.lists(st.sampled_from(["x", "y", "z"]), min_size=1, max_size=6),
    st.sampled_from(["x", "y"]),
)
def test_modify_rules_match_python_model(spark, values, match_val):
    from dd_graphdb_spark.streaming import FilterRule, apply_filter_rules

    rows = [(i, v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "event_id long, status string")
    rule = FilterRule(
        "r", "status", "equals", match_val,
        action="modify",
        modifications={"status": "done", "tag": 7},
    )
    got = {
        r["event_id"]: (r["status"], r["tag"])
        for r in apply_filter_rules(df, [rule]).collect()
    }
    want = {
        i: (("done", 7) if v == match_val else (v, None)) for i, v in rows
    }
    assert got == want


# --------------------------------------------------------------------------
# GQL scalar expressions vs a Python reference evaluator: random
# expression trees over two columns and literals must compute the same
# value through parse → lower → Spark as direct Python arithmetic.
# --------------------------------------------------------------------------
_leaf = st.one_of(
    st.just("v.a"),
    st.just("v.b"),
    st.integers(1, 9).map(str),
    st.floats(0.5, 9.5).map(lambda f: f"{round(f, 2)}"),
)


def _combine(children):
    op = st.sampled_from(["+", "-", "*"])
    return st.tuples(children, op, children).map(
        lambda t: f"({t[0]} {t[1]} {t[2]})"
    )


def _wrap_fn(children):
    # unary functions whose Python semantics match the GQL lowering
    # exactly (round is excluded: Python rounds half-to-even, Spark
    # half-up)
    fn = st.sampled_from(["abs", "floor", "ceil", "sign", "toInteger", "toFloat"])
    return st.tuples(fn, children).map(lambda t: f"{t[0]}({t[1]})")


_expr_text = st.recursive(
    _leaf, lambda ch: st.one_of(_combine(ch), _wrap_fn(ch)), max_leaves=6
)

# Python reference semantics for the GQL numeric function surface:
# floor/ceil → Float (Cypher), sign → Integer, toInteger truncates
# toward zero (Python int() does too)
_PY_NUM_ENV = {
    "abs": abs,
    "floor": lambda x: float(__import__("math").floor(x)),
    "ceil": lambda x: float(__import__("math").ceil(x)),
    "sign": lambda x: (x > 0) - (x < 0),
    "toInteger": int,
    "toFloat": float,
}


@SMALL
@given(_expr_text)
def test_gql_expression_matches_python_eval(spark, expr_text):
    from dd_graphdb_spark.graph import PropertyGraph
    from dd_graphdb_spark.plans.lower import GQLEngine

    rows = [(1, "P", 3, 2.5), (2, "P", 7, 0.5), (3, "P", 5, 4.0)]
    v = spark.createDataFrame(rows, "id long, label string, a long, b double")
    e = spark.createDataFrame([], "src long, dst long, label string")
    eng = GQLEngine(PropertyGraph(v, e))
    got = {
        r["vid"]: r["x"]
        for r in eng.execute(
            f"MATCH (v:P) RETURN v.id AS vid, {expr_text} AS x"
        ).collect()
    }
    for rid, _, a, b in rows:
        want = eval(
            expr_text.replace("v.a", str(a)).replace("v.b", repr(b)),
            dict(_PY_NUM_ENV),
        )
        assert got[rid] == pytest.approx(want, rel=1e-9), expr_text


# --------------------------------------------------------------------------
# GQL string expressions vs Python: random compositions of the string
# function surface over a bound name column must match straightforward
# Python string semantics (substring is 0-indexed — the lowering's
# 0→1 index shift is exactly what this hunts).
# --------------------------------------------------------------------------
_str_leaf = st.just("v.name")


def _wrap_str(children):
    unary = st.sampled_from(["toUpper", "toLower", "reverse", "trim"]).flatmap(
        lambda f: children.map(lambda c: f"{f}({c})")
    )
    sized = st.tuples(
        st.sampled_from(["left", "right"]), children, st.integers(1, 3)
    ).map(lambda t: f"{t[0]}({t[1]}, {t[2]})")
    sub = st.tuples(children, st.integers(0, 3), st.integers(1, 3)).map(
        lambda t: f"substring({t[0]}, {t[1]}, {t[2]})"
    )
    rep = st.tuples(children, st.sampled_from("aeil"), st.sampled_from(["X", ""])).map(
        lambda t: f"replace({t[0]}, '{t[1]}', '{t[2]}')"
    )
    return st.one_of(unary, sized, sub, rep)


_str_expr_text = st.recursive(_str_leaf, _wrap_str, max_leaves=4)

_PY_STR_ENV = {
    "toUpper": lambda s: s.upper(),
    "toLower": lambda s: s.lower(),
    "reverse": lambda s: s[::-1],
    "trim": lambda s: s.strip(),
    "left": lambda s, n: s[:n],
    "right": lambda s, n: s[len(s) - n:] if n <= len(s) else s,
    "substring": lambda s, i, n: s[i:i + n],
    "replace": lambda s, a, b: s.replace(a, b),
}


@SMALL
@given(_str_expr_text)
def test_gql_string_expression_matches_python(spark, expr_text):
    from dd_graphdb_spark.graph import PropertyGraph
    from dd_graphdb_spark.plans.lower import GQLEngine

    rows = [(1, "P", "Alice"), (2, "P", " bo B "), (3, "P", "xyz")]
    v = spark.createDataFrame(rows, "id long, label string, name string")
    e = spark.createDataFrame([], "src long, dst long, label string")
    eng = GQLEngine(PropertyGraph(v, e))
    got = {
        r["vid"]: r["x"]
        for r in eng.execute(
            f"MATCH (v:P) RETURN v.id AS vid, {expr_text} AS x"
        ).collect()
    }
    for rid, _, name in rows:
        want = eval(
            expr_text.replace("v.name", repr(name)), dict(_PY_STR_ENV)
        )
        assert got[rid] == want, expr_text


# --------------------------------------------------------------------------
# Whole-statement GQL round-trips (VERDICT r6 item 10 / r7 follow-up):
# generated MATCH / WHERE / WITH / RETURN statements over a fixed
# fixture graph must execute (parse → lower → Spark) to exactly what a
# pure-Python evaluator derives over the same graph — projections,
# implicit-grouping aggregates, DISTINCT, the WITH..WHERE pipeline, and
# ORDER BY/SKIP/LIMIT windows.
# --------------------------------------------------------------------------
_G_VERTS = {1: ("P", 3), 2: ("P", 7), 3: ("Q", 5), 4: ("Q", 2), 5: ("P", 4), 6: ("Q", 8)}
_G_EDGES = [(1, 2, "x"), (2, 3, "x"), (3, 4, "y"), (5, 6, "x"), (6, 1, "y"),
            (2, 5, "y"), (4, 1, "x"), (2, 6, "x")]
_CMP = {
    "=": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    ">": lambda a, b: a > b,
    "<=": lambda a, b: a <= b,
    ">=": lambda a, b: a >= b,
}


@pytest.fixture(scope="module")
def _stmt_graph(spark):
    from dd_graphdb_spark.graph import PropertyGraph

    v = spark.createDataFrame(
        [(i, l, a) for i, (l, a) in _G_VERTS.items()], "id long, label string, a long"
    )
    e = spark.createDataFrame(_G_EDGES, "src long, dst long, label string")
    return PropertyGraph(v, e)


@settings(max_examples=int(os.environ.get("SPARK_GRAFT_HYP_EXAMPLES", "10")),
          deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    edge=st.booleans(),
    vlabel=st.sampled_from([None, "P", "Q"]),
    elabel=st.sampled_from(["x", "y"]),
    use_where=st.booleans(),
    wop=st.sampled_from(["=", "!=", "<", ">", "<=", ">="]),
    wn=st.integers(0, 9),
    shape=st.sampled_from(
        ["proj", "proj_distinct", "agg", "with", "orderby_expr"]
    ),
    w2op=st.sampled_from(["<", ">", ">="]),
    w2n=st.integers(0, 9),
    skip=st.integers(0, 2),
    limit=st.integers(1, 5),
)
def test_gql_statement_roundtrip_matches_python_model(
    spark, _stmt_graph, edge, vlabel, elabel, use_where, wop, wn,
    shape, w2op, w2n, skip, limit,
):
    from dd_graphdb_spark.plans.lower import GQLEngine

    eng = GQLEngine(_stmt_graph)
    pat = f"(v{':' + vlabel if vlabel else ''})"
    if edge:
        pat += f"-[:{elabel}]->(u)"
    where = f" WHERE v.a {wop} {wn}" if use_where else ""

    # python model: enumerate bindings, filter
    binds = []
    for i, (l, a) in _G_VERTS.items():
        if vlabel is not None and l != vlabel:
            continue
        if use_where and not _CMP[wop](a, wn):
            continue
        if not edge:
            binds.append((i,))
        else:
            binds.extend((i, d) for (s, d, el) in _G_EDGES if s == i and el == elabel)

    if shape in ("proj", "proj_distinct"):
        distinct = "DISTINCT " if shape == "proj_distinct" else ""
        cols = "v.a AS x" + (", u.a AS y" if edge else "")
        order = "x, y" if edge else "x"
        q = (f"MATCH {pat}{where} RETURN {distinct}{cols} "
             f"ORDER BY {order} SKIP {skip} LIMIT {limit}")
        rows = [
            (_G_VERTS[b[0]][1],) + ((_G_VERTS[b[1]][1],) if edge else ())
            for b in binds
        ]
        if shape == "proj_distinct":
            rows = list(set(rows))
        want = sorted(rows)[skip : skip + limit]
        got = [tuple(r) for r in eng.execute(q).collect()]
        assert got == want, q
    elif shape == "agg":
        q = (f"MATCH {pat}{where} RETURN v.label AS lbl, count(*) AS c, "
             f"sum(v.a) AS s ORDER BY lbl")
        model: dict = {}
        for b in binds:
            l, a = _G_VERTS[b[0]]
            c, s = model.get(l, (0, 0))
            model[l] = (c + 1, s + a)
        got = {r["lbl"]: (r["c"], r["s"]) for r in eng.execute(q).collect()}
        assert got == model, q
    elif shape == "orderby_expr":
        # computed sort key (modulo bucket) with an id tie-break —
        # ORDER BY expressions end-to-end; duplicate bindings (one per
        # matched edge) share identical output rows, so any engine
        # order among equal keys yields the same list
        q = (f"MATCH {pat}{where} RETURN v.id AS vid, v.a AS x "
             f"ORDER BY x % 3, vid SKIP {skip} LIMIT {limit}")
        keyed = sorted(
            (_G_VERTS[b[0]][1] % 3, b[0], _G_VERTS[b[0]][1]) for b in binds
        )
        want = [(i, a) for (_, i, a) in keyed][skip : skip + limit]
        got = [(r["vid"], r["x"]) for r in eng.execute(q).collect()]
        assert got == want, q
    else:  # WITH pipeline: project, HAVING-style filter, re-return
        q = (f"MATCH {pat}{where} WITH v.a AS x WHERE x {w2op} {w2n} "
             f"RETURN x ORDER BY x SKIP {skip} LIMIT {limit}")
        xs = [_G_VERTS[b[0]][1] for b in binds]
        want = sorted(x for x in xs if _CMP[w2op](x, w2n))[skip : skip + limit]
        got = [r["x"] for r in eng.execute(q).collect()]
        assert got == want, q


# --------------------------------------------------------------------------
# Whole-statement fuzzer, round-9 extension (VERDICT r8 "Next #5"): the
# r8 construct push landed ~30 features one-by-one; this sweep composes
# them at the GRAMMAR level — OPTIONAL MATCH, UNWIND cross products,
# quantified list predicates, list comprehensions, and reduce() must
# execute to exactly what a pure-Python model derives on the same graph.
# --------------------------------------------------------------------------
_QUANT_PY = {
    "any": lambda hits, n: any(hits),
    "all": lambda hits, n: all(hits),
    "none": lambda hits, n: not any(hits),
    "single": lambda hits, n: sum(hits) == 1,
}


@settings(max_examples=int(os.environ.get("SPARK_GRAFT_HYP_EXAMPLES", "10")),
          deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    vlabel=st.sampled_from([None, "P", "Q"]),
    elabel=st.sampled_from(["x", "y"]),
    use_where=st.booleans(),
    wop=st.sampled_from(["=", "!=", "<", ">", "<=", ">="]),
    wn=st.integers(0, 9),
    shape=st.sampled_from(["optional", "unwind", "quant", "listcomp", "reduce"]),
    lst=st.lists(st.integers(0, 6), min_size=1, max_size=4),
    qkind=st.sampled_from(["any", "all", "none", "single"]),
    qop=st.sampled_from(["<", ">", "="]),
)
def test_gql_statement_roundtrip_extended_shapes(
    spark, _stmt_graph, vlabel, elabel, use_where, wop, wn,
    shape, lst, qkind, qop,
):
    from dd_graphdb_spark.plans.lower import GQLEngine

    eng = GQLEngine(_stmt_graph)
    pat = f"(v{':' + vlabel if vlabel else ''})"
    where = f" WHERE v.a {wop} {wn}" if use_where else ""
    verts = [
        (i, a) for i, (l, a) in _G_VERTS.items()
        if (vlabel is None or l == vlabel)
        and (not use_where or _CMP[wop](a, wn))
    ]
    lit = "[" + ", ".join(map(str, lst)) + "]"

    if shape == "optional":
        # left-join semantics: unmatched v keeps one row with NULL u.a;
        # ORDER BY ascending puts NULLs first (Spark) — model None as
        # smallest
        q = (f"MATCH {pat}{where} OPTIONAL MATCH (v)-[:{elabel}]->(u) "
             f"RETURN v.id AS vid, u.a AS y ORDER BY vid, y")
        want = []
        for i, _ in verts:
            hits = [_G_VERTS[d][1] for (s, d, el) in _G_EDGES
                    if s == i and el == elabel]
            want.extend((i, y) for y in hits) if hits else want.append((i, None))
        want.sort(key=lambda t: (t[0], t[1] is not None, t[1] or 0))
        got = [(r["vid"], r["y"]) for r in eng.execute(q).collect()]
        assert got == want, q
    elif shape == "unwind":
        q = (f"MATCH {pat}{where} UNWIND {lit} AS k "
             f"RETURN v.id AS vid, v.a + k AS s ORDER BY vid, s")
        want = sorted((i, a + k) for i, a in verts for k in lst)
        got = [(r["vid"], r["s"]) for r in eng.execute(q).collect()]
        assert got == want, q
    elif shape == "quant":
        q = (f"MATCH {pat} WHERE {qkind}(t IN {lit} WHERE t {qop} v.a) "
             f"RETURN v.id AS vid ORDER BY vid")
        want = sorted(
            i for i, a in (
                (i, a) for i, (l, a) in _G_VERTS.items()
                if vlabel is None or l == vlabel
            )
            if _QUANT_PY[qkind]([_CMP[qop](t, a) for t in lst], len(lst))
        )
        got = [r["vid"] for r in eng.execute(q).collect()]
        assert got == want, q
    elif shape == "listcomp":
        q = (f"MATCH {pat}{where} "
             f"RETURN v.id AS vid, [t IN {lit} WHERE t < v.a | t * 2] AS l "
             f"ORDER BY vid")
        want = {i: [t * 2 for t in lst if t < a] for i, a in verts}
        got = {r["vid"]: list(r["l"]) for r in eng.execute(q).collect()}
        assert got == want, q
    else:  # reduce
        q = (f"MATCH {pat}{where} "
             f"RETURN v.id AS vid, reduce(acc = 0, t IN {lit} | acc + t * v.a) AS r "
             f"ORDER BY vid")
        want = {i: sum(t * a for t in lst) for i, a in verts}
        got = {r["vid"]: r["r"] for r in eng.execute(q).collect()}
        assert got == want, q


# --------------------------------------------------------------------------
# Whole-statement fuzzer, round-9 subquery shapes: COUNT { } in RETURN
# and WHERE, pattern comprehensions, EXISTS { } blocks with an inner
# WHERE, and CALL { .. UNION .. } — the grammar-level composition sweep
# for this round's subquery surface, against the same pure-Python model.
# --------------------------------------------------------------------------
@settings(max_examples=int(os.environ.get("SPARK_GRAFT_HYP_EXAMPLES", "10")),
          deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    vlabel=st.sampled_from([None, "P", "Q"]),
    elabel=st.sampled_from(["x", "y"]),
    use_inner=st.booleans(),
    iop=st.sampled_from(["<", ">", ">=", "="]),
    inum=st.integers(0, 9),
    shape=st.sampled_from(
        ["count_return", "count_where", "pattern_comp", "exists_block", "call_union"]
    ),
    thresh=st.integers(0, 3),
)
def test_gql_statement_roundtrip_subquery_shapes(
    spark, _stmt_graph, vlabel, elabel, use_inner, iop, inum, shape, thresh,
):
    from dd_graphdb_spark.plans.lower import GQLEngine

    eng = GQLEngine(_stmt_graph)
    pat = f"(v{':' + vlabel if vlabel else ''})"
    inner = f" WHERE u.a {iop} {inum}" if use_inner else ""
    verts = [
        (i, a) for i, (l, a) in _G_VERTS.items()
        if vlabel is None or l == vlabel
    ]

    def hits(i):
        return [
            _G_VERTS[d][1] for (s, d, el) in _G_EDGES
            if s == i and el == elabel
            and (not use_inner or _CMP[iop](_G_VERTS[d][1], inum))
        ]

    if shape == "count_return":
        q = (f"MATCH {pat} RETURN v.id AS vid, "
             f"COUNT {{ (v)-[:{elabel}]->(u){inner} }} AS n ORDER BY vid")
        want = {i: len(hits(i)) for i, _ in verts}
        got = {r["vid"]: r["n"] for r in eng.execute(q).collect()}
        assert got == want, q
    elif shape == "count_where":
        q = (f"MATCH {pat} "
             f"WHERE COUNT {{ (v)-[:{elabel}]->(u){inner} }} >= {thresh} "
             f"RETURN v.id AS vid ORDER BY vid")
        want = sorted(i for i, _ in verts if len(hits(i)) >= thresh)
        got = [r["vid"] for r in eng.execute(q).collect()]
        assert got == want, q
    elif shape == "pattern_comp":
        q = (f"MATCH {pat} RETURN v.id AS vid, "
             f"[(v)-[:{elabel}]->(u){inner} | u.a + 1] AS l ORDER BY vid")
        want = {i: sorted(y + 1 for y in hits(i)) for i, _ in verts}
        got = {r["vid"]: list(r["l"]) for r in eng.execute(q).collect()}
        assert got == want, q
    elif shape == "exists_block":
        q = (f"MATCH {pat} "
             f"WHERE EXISTS {{ MATCH (v)-[:{elabel}]->(u){inner} }} "
             f"RETURN v.id AS vid ORDER BY vid")
        want = sorted(i for i, _ in verts if hits(i))
        got = [r["vid"] for r in eng.execute(q).collect()]
        assert got == want, q
    else:  # call_union: dedup vs bag semantics outside the braces
        q = ("CALL { MATCH (p:P) RETURN p.a AS w "
             "UNION MATCH (q:Q) RETURN q.a AS w } "
             "RETURN count(w) AS n, sum(w) AS s")
        vals = set(a for _, (l, a) in _G_VERTS.items())  # all distinct here
        row = eng.execute(q).collect()[0]
        assert (row["n"], row["s"]) == (len(vals), sum(vals)), q


_CONN_PY = {
    "AND": lambda a, b: a and b,
    "OR": lambda a, b: a or b,
    "XOR": lambda a, b: a != b,
}


@settings(max_examples=int(os.environ.get("SPARK_GRAFT_HYP_EXAMPLES", "10")),
          deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    op1=st.sampled_from(["<", ">", "=", "<=", ">="]),
    n1=st.integers(0, 9),
    op2=st.sampled_from(["<", ">", "="]),
    n2=st.integers(0, 9),
    conn=st.sampled_from(["AND", "OR", "XOR"]),
    negate=st.booleans(),
)
def test_gql_boolean_connectives_match_python(
    spark, _stmt_graph, op1, n1, op2, n2, conn, negate,
):
    from dd_graphdb_spark.plans.lower import GQLEngine

    eng = GQLEngine(_stmt_graph)
    neg = "NOT " if negate else ""
    q = (f"MATCH (v) WHERE v.a {op1} {n1} {conn} {neg}v.a {op2} {n2} "
         f"RETURN v.id AS vid ORDER BY vid")
    want = sorted(
        i for i, (_, a) in _G_VERTS.items()
        if _CONN_PY[conn](
            _CMP[op1](a, n1),
            (not _CMP[op2](a, n2)) if negate else _CMP[op2](a, n2),
        )
    )
    got = [r["vid"] for r in eng.execute(q).collect()]
    assert got == want, q


@settings(max_examples=int(os.environ.get("SPARK_GRAFT_HYP_EXAMPLES", "10")),
          deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    vlabel=st.sampled_from([None, "P", "Q"]),
    props=st.lists(
        st.sampled_from(["label", "a", "id"]), min_size=1, max_size=3, unique=True
    ),
)
def test_gql_map_projection_matches_json_model(spark, _stmt_graph, vlabel, props):
    import json as _json

    from dd_graphdb_spark.plans.lower import GQLEngine

    eng = GQLEngine(_stmt_graph)
    pat = f"(v{':' + vlabel if vlabel else ''})"
    sel = ", ".join(f".{p}" for p in props)
    q = f"MATCH {pat} RETURN v.id AS vid, v {{{sel}}} AS m ORDER BY vid"
    got = {r["vid"]: r["m"] for r in eng.execute(q).collect()}
    want = {}
    for i, (l, a) in _G_VERTS.items():
        if vlabel is not None and l != vlabel:
            continue
        vals = {"label": l, "a": a, "id": i}
        want[i] = _json.dumps(
            {p: vals[p] for p in props}, separators=(",", ":")
        )
    assert got == want, q


@settings(max_examples=int(os.environ.get("SPARK_GRAFT_HYP_EXAMPLES", "10")),
          deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    vlabel=st.sampled_from([None, "P", "Q"]),
    elabel=st.sampled_from(["x", "y"]),
    use_inner=st.booleans(),
    iop=st.sampled_from(["<", ">", ">=", "="]),
    inum=st.integers(0, 9),
    shape=st.sampled_from(
        ["call_agg", "call_rows", "call_cross_var",
         "count_with_where", "collect_post_with"]
    ),
    thresh=st.integers(0, 3),
)
def test_gql_statement_roundtrip_r10_shapes(
    spark, _stmt_graph, vlabel, elabel, use_inner, iop, inum, shape, thresh,
):
    """r10 surfaces vs the pure-Python model: correlated CALL bodies
    (aggregating LEFT / streaming INNER / cross-variable WHERE) and the
    post-WITH subquery positions."""
    from dd_graphdb_spark.plans.lower import GQLEngine

    eng = GQLEngine(_stmt_graph)
    pat = f"(v{':' + vlabel if vlabel else ''})"
    inner = f" WHERE u.a {iop} {inum}" if use_inner else ""
    verts = [
        (i, a) for i, (l, a) in _G_VERTS.items()
        if vlabel is None or l == vlabel
    ]

    def hits(i):
        return [
            _G_VERTS[d][1] for (s, d, el) in _G_EDGES
            if s == i and el == elabel
            and (not use_inner or _CMP[iop](_G_VERTS[d][1], inum))
        ]

    if shape == "call_agg":
        q = (f"MATCH {pat} CALL {{ WITH v MATCH (v)-[:{elabel}]->(u)"
             f"{inner} RETURN count(u) AS n, collect(u.a) AS l }} "
             f"RETURN v.id AS vid, n, l ORDER BY vid")
        want = {i: (len(hits(i)), sorted(hits(i))) for i, _ in verts}
        got = {
            r["vid"]: (r["n"], list(r["l"]))
            for r in eng.execute(q).collect()
        }
        assert got == want, q  # LEFT: every outer row present, 0/[]
    elif shape == "call_rows":
        q = (f"MATCH {pat} CALL {{ WITH v MATCH (v)-[:{elabel}]->(u)"
             f"{inner} RETURN u.a AS ua }} "
             f"RETURN v.id AS vid, ua ORDER BY vid, ua")
        want = sorted((i, y) for i, _ in verts for y in hits(i))
        got = [(r["vid"], r["ua"]) for r in eng.execute(q).collect()]
        assert got == want, q  # INNER: no-match outer rows drop
    elif shape == "call_cross_var":
        q = (f"MATCH {pat} CALL {{ WITH v MATCH (v)-[:{elabel}]->(u) "
             f"WHERE u.a > v.a RETURN count(u) AS n }} "
             f"RETURN v.id AS vid, n ORDER BY vid")
        want = {
            i: sum(
                1 for (s, d, el) in _G_EDGES
                if s == i and el == elabel and _G_VERTS[d][1] > a
            )
            for i, a in verts
        }
        got = {r["vid"]: r["n"] for r in eng.execute(q).collect()}
        assert got == want, q
    elif shape == "count_with_where":
        q = (f"MATCH {pat} WITH v "
             f"WHERE COUNT {{ (v)-[:{elabel}]->(u){inner} }} >= {thresh} "
             f"RETURN v.id AS vid ORDER BY vid")
        want = sorted(i for i, _ in verts if len(hits(i)) >= thresh)
        got = [r["vid"] for r in eng.execute(q).collect()]
        assert got == want, q
    else:  # collect_post_with
        q = (f"MATCH {pat} WITH v RETURN v.id AS vid, "
             f"[(v)-[:{elabel}]->(u){inner} | u.a + 1] AS l ORDER BY vid")
        want = {i: sorted(y + 1 for y in hits(i)) for i, _ in verts}
        got = {r["vid"]: list(r["l"]) for r in eng.execute(q).collect()}
        assert got == want, q


@settings(max_examples=int(os.environ.get("SPARK_GRAFT_HYP_EXAMPLES", "10")),
          deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    vlabel=st.sampled_from([None, "P", "Q"]),
    e1=st.sampled_from(["x", "y"]),
    e2=st.sampled_from(["x", "y"]),
    desc=st.booleans(),
    skip=st.integers(0, 2),
    limit=st.integers(1, 3),
    thresh=st.integers(0, 2),
    shape=st.sampled_from(
        ["call_topk", "call_mixed_group", "nested_count_in_exists",
         "nested_count_in_call_where", "nested_count_in_count"]
    ),
)
def test_gql_statement_roundtrip_r11_shapes(
    spark, _stmt_graph, vlabel, e1, e2, desc, skip, limit, thresh, shape,
):
    """r11 surfaces vs the pure-Python model: per-outer-row ORDER BY/
    SKIP/LIMIT in correlated CALL bodies, mixed grouped-aggregate CALL
    bodies (INNER semantics), and COUNT{} nested inside EXISTS / CALL /
    COUNT bodies."""
    from dd_graphdb_spark.plans.lower import GQLEngine

    eng = GQLEngine(_stmt_graph)
    pat = f"(v{':' + vlabel if vlabel else ''})"
    verts = [
        (i, a) for i, (l, a) in _G_VERTS.items()
        if vlabel is None or l == vlabel
    ]

    def out(i, el):
        return [d for (s, d, lab) in _G_EDGES if s == i and lab == el]

    def deg2(u):
        return len(out(u, e2))

    if shape == "call_topk":
        order = "DESC" if desc else "ASC"
        q = (f"MATCH {pat} CALL {{ WITH v MATCH (v)-[:{e1}]->(u) "
             f"RETURN u.a AS ua ORDER BY ua {order} "
             f"SKIP {skip} LIMIT {limit} }} "
             f"RETURN v.id AS vid, ua ORDER BY vid, ua")
        want = sorted(
            (i, y)
            for i, _ in verts
            for y in sorted(
                (_G_VERTS[d][1] for d in out(i, e1)), reverse=desc
            )[skip:skip + limit]
        )
        got = [(r["vid"], r["ua"]) for r in eng.execute(q).collect()]
        assert got == want, q
    elif shape == "call_mixed_group":
        q = (f"MATCH {pat} CALL {{ WITH v MATCH (v)-[:{e1}]->(u) "
             f"RETURN u.a AS ua, count(*) AS c }} "
             f"RETURN v.id AS vid, ua, c ORDER BY vid, ua")
        want = sorted(
            (i, _G_VERTS[d][1], 1) for i, _ in verts for d in out(i, e1)
        )  # INNER: no-match outer rows drop; distinct u.a -> groups of 1
        got = [(r["vid"], r["ua"], r["c"]) for r in eng.execute(q).collect()]
        assert got == want, q
    elif shape == "nested_count_in_exists":
        q = (f"MATCH {pat} WHERE EXISTS {{ (v)-[:{e1}]->(u) "
             f"WHERE COUNT {{ (u)-[:{e2}]->(w) }} >= {thresh} }} "
             f"RETURN v.id AS vid ORDER BY vid")
        want = sorted(
            i for i, _ in verts
            if any(deg2(u) >= thresh for u in out(i, e1))
        )
        got = [r["vid"] for r in eng.execute(q).collect()]
        assert got == want, q
    elif shape == "nested_count_in_call_where":
        q = (f"MATCH {pat} CALL {{ WITH v MATCH (v)-[:{e1}]->(u) "
             f"WHERE COUNT {{ (u)-[:{e2}]->(w) }} >= {thresh} "
             f"RETURN count(u) AS n }} "
             f"RETURN v.id AS vid, n ORDER BY vid")
        want = {
            i: sum(1 for u in out(i, e1) if deg2(u) >= thresh)
            for i, _ in verts
        }
        got = {r["vid"]: r["n"] for r in eng.execute(q).collect()}
        assert got == want, q
    else:  # nested_count_in_count
        q = (f"MATCH {pat} RETURN v.id AS vid, "
             f"COUNT {{ (v)-[:{e1}]->(u) "
             f"WHERE COUNT {{ (u)-[:{e2}]->(w) }} >= {thresh} }} AS n "
             f"ORDER BY vid")
        want = {
            i: sum(1 for u in out(i, e1) if deg2(u) >= thresh)
            for i, _ in verts
        }
        got = {r["vid"]: r["n"] for r in eng.execute(q).collect()}
        assert got == want, q


@settings(max_examples=int(os.environ.get("SPARK_GRAFT_HYP_EXAMPLES", "10")),
          deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    vlabel=st.sampled_from([None, "P", "Q"]),
    e1=st.sampled_from(["x", "y"]),
    e2=st.sampled_from(["x", "y"]),
    desc=st.booleans(),
    limit=st.integers(1, 3),
    thresh=st.integers(0, 2),
    shape=st.sampled_from(
        ["with_count_seed", "with_having", "with_topk_collect",
         "with_passthrough_post", "with_unwind", "optional_stream",
         "with_edge_prop"]
    ),
)
def test_gql_call_body_with_pipeline_shapes(
    spark, _stmt_graph, vlabel, e1, e2, desc, limit, thresh, shape,
):
    """r11 second session: ONE WITH pipeline inside correlated CALL
    bodies vs the pure-Python model — pure-aggregate seeding (count
    over empty input = 0 per outer row), HAVING filters, per-outer-row
    ORDER BY/LIMIT feeding collect(), whole-variable passthrough with a
    post-WITH MATCH clause, and post-WITH UNWIND."""
    from dd_graphdb_spark.plans.lower import GQLEngine

    eng = GQLEngine(_stmt_graph)
    pat = f"(v{':' + vlabel if vlabel else ''})"
    verts = [
        (i, a) for i, (l, a) in _G_VERTS.items()
        if vlabel is None or l == vlabel
    ]

    def out(i, el):
        return [d for (s, d, lab) in _G_EDGES if s == i and lab == el]

    if shape == "with_count_seed":
        q = (f"MATCH {pat} CALL {{ WITH v MATCH (v)-[:{e1}]->(u) "
             f"WITH count(u) AS n RETURN n }} "
             f"RETURN v.id AS vid, n ORDER BY vid")
        want = {i: len(out(i, e1)) for i, _ in verts}
        got = {r["vid"]: r["n"] for r in eng.execute(q).collect()}
        assert got == want, q
    elif shape == "with_having":
        q = (f"MATCH {pat} CALL {{ WITH v MATCH (v)-[:{e1}]->(u) "
             f"WITH count(u) AS n WHERE n >= {thresh} RETURN n }} "
             f"RETURN v.id AS vid, n ORDER BY vid")
        want = {
            i: len(out(i, e1)) for i, _ in verts
            if len(out(i, e1)) >= thresh
        }
        got = {r["vid"]: r["n"] for r in eng.execute(q).collect()}
        assert got == want, q
    elif shape == "with_topk_collect":
        order = "DESC" if desc else "ASC"
        q = (f"MATCH {pat} CALL {{ WITH v MATCH (v)-[:{e1}]->(u) "
             f"WITH u.a AS ua ORDER BY ua {order} LIMIT {limit} "
             f"RETURN collect(ua) AS l }} "
             f"RETURN v.id AS vid, l ORDER BY vid")
        want = {
            i: sorted(sorted((_G_VERTS[d][1] for d in out(i, e1)),
                             reverse=desc)[:limit])
            for i, _ in verts
        }
        got = {r["vid"]: list(r["l"]) for r in eng.execute(q).collect()}
        assert got == want, q
    elif shape == "with_passthrough_post":
        q = (f"MATCH {pat} CALL {{ WITH v MATCH (v)-[:{e1}]->(u) "
             f"WITH u MATCH (u)-[:{e2}]->(w) RETURN count(w) AS n }} "
             f"RETURN v.id AS vid, n ORDER BY vid")
        want = {
            i: sum(len(out(u, e2)) for u in out(i, e1)) for i, _ in verts
        }
        got = {r["vid"]: r["n"] for r in eng.execute(q).collect()}
        assert got == want, q
    elif shape == "with_unwind":
        # UNWIND over the seeded empty list drops the row
        q = (f"MATCH {pat} CALL {{ WITH v MATCH (v)-[:{e1}]->(u) "
             f"WITH collect(u.a) AS l UNWIND l AS ua RETURN ua }} "
             f"RETURN v.id AS vid, ua ORDER BY vid, ua")
        want = sorted(
            (i, _G_VERTS[d][1]) for i, _ in verts for d in out(i, e1)
        )
        got = [(r["vid"], r["ua"]) for r in eng.execute(q).collect()]
        assert got == want, q
    elif shape == "with_edge_prop":
        # an edge variable's property projects in the body's WITH the
        # same way it does at statement scope
        q = (f"MATCH {pat} CALL {{ WITH v MATCH (v)-[r:{e1}]->(u) "
             f"WITH r.dst AS w RETURN collect(w) AS l }} "
             f"RETURN v.id AS vid, l ORDER BY vid")
        want = {i: sorted(out(i, e1)) for i, _ in verts}
        got = {r["vid"]: list(r["l"]) for r in eng.execute(q).collect()}
        assert got == want, q
    else:  # optional_stream: OPTIONAL CALL NULL-fills empty bodies
        q = (f"MATCH {pat} OPTIONAL CALL {{ WITH v "
             f"MATCH (v)-[:{e1}]->(u) RETURN u.a AS ua }} "
             f"RETURN v.id AS vid, ua ORDER BY vid, ua")
        want = sorted(
            ((i, _G_VERTS[d][1]) for i, _ in verts for d in out(i, e1)),
        ) + sorted((i, None) for i, _ in verts if not out(i, e1))
        want.sort(key=lambda t: (t[0], t[1] is not None, t[1] or 0))
        got = [(r["vid"], r["ua"]) for r in eng.execute(q).collect()]
        got.sort(key=lambda t: (t[0], t[1] is not None, t[1] or 0))
        assert got == want, q


# --------------------------------------------------------------------------
# Whole-statement fuzzer, round-12 shapes: native multi-WITH pipeline
# chains (two/three chained stages, mid-pipeline top-k, passthrough +
# post-WITH MATCH in a later stage) plus the round's CALL-body grammar
# closures (leading UNWIND in the body; nested CALL composed with a
# WITH pipeline) — all against the same pure-Python model.
# --------------------------------------------------------------------------
@settings(max_examples=int(os.environ.get("SPARK_GRAFT_HYP_EXAMPLES", "10")),
          deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    vlabel=st.sampled_from([None, "P", "Q"]),
    e1=st.sampled_from(["x", "y"]),
    e2=st.sampled_from(["x", "y"]),
    wop=st.sampled_from(["<", ">", ">=", "<="]),
    wn=st.integers(0, 9),
    shape=st.sampled_from(
        ["chain_agg", "chain_three", "chain_topk", "chain_postmatch",
         "call_lead_unwind", "call_nested_with", "call_body_chain"]
    ),
    lst=st.lists(st.integers(0, 5), min_size=1, max_size=3),
    k=st.integers(1, 4),
    thresh=st.integers(0, 2),
)
def test_gql_statement_roundtrip_multi_with_shapes(
    spark, _stmt_graph, vlabel, e1, e2, wop, wn, shape, lst, k, thresh,
):
    from dd_graphdb_spark.plans.lower import GQLEngine

    eng = GQLEngine(_stmt_graph)
    pat = f"(v{':' + vlabel if vlabel else ''})"
    verts = [
        (i, a) for i, (l, a) in _G_VERTS.items()
        if vlabel is None or l == vlabel
    ]

    def out(i, el):
        return [d for (s, d, lab) in _G_EDGES if s == i and lab == el]

    lit = "[" + ", ".join(map(str, lst)) + "]"

    if shape == "chain_agg":
        # stage 1 projects + filters, stage 2 aggregates the alias
        q = (f"MATCH {pat} WITH v.a AS x WHERE x {wop} {wn} "
             f"WITH x % 3 AS b, count(*) AS c, sum(x) AS s "
             f"RETURN b, c, s ORDER BY b")
        model: dict = {}
        for _, a in verts:
            if not _CMP[wop](a, wn):
                continue
            c, s = model.get(a % 3, (0, 0))
            model[a % 3] = (c + 1, s + a)
        got = {r["b"]: (r["c"], r["s"]) for r in eng.execute(q).collect()}
        assert got == model, q
    elif shape == "chain_three":
        q = (f"MATCH {pat} WITH v.id AS vid, v.a AS x "
             f"WITH vid, x WHERE x {wop} {wn} "
             f"WITH vid, x * 2 AS y RETURN vid, y ORDER BY vid")
        want = sorted((i, a * 2) for i, a in verts if _CMP[wop](a, wn))
        got = [(r["vid"], r["y"]) for r in eng.execute(q).collect()]
        assert got == want, q
    elif shape == "chain_topk":
        # mid-pipeline top-k, then a further computing stage
        q = (f"MATCH {pat} WITH v.id AS vid, v.a AS x "
             f"ORDER BY x DESC, vid LIMIT {k} "
             f"WITH vid, x + 1 AS y RETURN vid, y ORDER BY vid")
        top = sorted(verts, key=lambda t: (-t[1], t[0]))[:k]
        want = sorted((i, a + 1) for i, a in top)
        got = [(r["vid"], r["y"]) for r in eng.execute(q).collect()]
        assert got == want, q
    elif shape == "chain_postmatch":
        # passthrough via two stages, MATCH joined in the second stage
        q = (f"MATCH {pat} WITH v WHERE v.a {wop} {wn} "
             f"WITH v MATCH (v)-[:{e1}]->(u) "
             f"RETURN v.id AS vid, u.a AS ua ORDER BY vid, ua")
        want = sorted(
            (i, _G_VERTS[d][1])
            for i, a in verts if _CMP[wop](a, wn)
            for d in out(i, e1)
        )
        got = [(r["vid"], r["ua"]) for r in eng.execute(q).collect()]
        assert got == want, q
    elif shape == "call_lead_unwind":
        # leading UNWIND in the body cross-products the body matches
        q = (f"MATCH {pat} CALL {{ WITH v UNWIND {lit} AS t "
             f"MATCH (v)-[:{e1}]->(u) "
             f"RETURN count(*) AS c, sum(t) AS s }} "
             f"RETURN v.id AS vid, c, s ORDER BY vid")
        want = {}
        for i, _ in verts:
            n = len(out(i, e1))
            want[i] = (n * len(lst), sum(lst) * n if n else 0)
        got = {r["vid"]: (r["c"], r["s"]) for r in eng.execute(q).collect()}
        assert got == want, q
    elif shape == "call_nested_with":
        q = (f"MATCH {pat} CALL {{ WITH v MATCH (v)-[:{e1}]->(u) "
             f"CALL {{ WITH u MATCH (u)-[:{e2}]->(w) RETURN count(w) AS nw }} "
             f"WITH u.a AS ua, nw WHERE nw >= {thresh} RETURN ua, nw }} "
             f"RETURN v.id AS vid, ua, nw ORDER BY vid, ua")
        want = sorted(
            (i, _G_VERTS[u][1], len(out(u, e2)))
            for i, _ in verts
            for u in out(i, e1)
            if len(out(u, e2)) >= thresh
        )
        got = [(r["vid"], r["ua"], r["nw"]) for r in eng.execute(q).collect()]
        assert got == want, q
    else:  # call_body_chain: two WITH stages INSIDE the body
        q = (f"MATCH {pat} CALL {{ WITH v MATCH (v)-[:{e1}]->(u) "
             f"WITH u.a AS ua WHERE ua {wop} {wn} "
             f"WITH count(*) AS c, sum(ua) AS s RETURN c, s }} "
             f"RETURN v.id AS vid, c, s ORDER BY vid")
        want = {}
        for i, _ in verts:
            vals = [
                _G_VERTS[u][1]
                for u in out(i, e1)
                if _CMP[wop](_G_VERTS[u][1], wn)
            ]
            want[i] = (len(vals), sum(vals))
        got = {r["vid"]: (r["c"], r["s"]) for r in eng.execute(q).collect()}
        assert got == want, q


# --------------------------------------------------------------------------
# SemDeDup model check (round 12): the engine's cell assignment, Lloyd
# refinement, multi-probe candidate generation and greedy prune vs an
# exact pure-Python replica. Integer vector components keep every
# arithmetic step bit-replicable: seeds and round-1 means are exact
# doubles, cosines share the engine's left-fold order, and the
# 6-decimal threshold round uses Spark's HALF_UP (not Python's
# banker's rounding).
# --------------------------------------------------------------------------
def _model_semantic_dedup(vecs, n_cent, thr, iters, n_probe):
    from decimal import ROUND_HALF_UP, Decimal

    ids = sorted(vecs)
    cents = [list(map(float, vecs[i])) for i in ids[:n_cent]]

    def cos(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        na = 0.0
        for x in a:
            na += x * x
        nb = 0.0
        for y in b:
            nb += y * y
        return s / ((na ** 0.5) * (nb ** 0.5))

    for _ in range(iters):
        assign = {}
        for i in ids:
            sims = [cos(vecs[i], c) for c in cents]
            assign[i] = sims.index(max(sims))  # first max = lowest cid
        new = []
        for c in range(len(cents)):
            members = [vecs[i] for i in ids if assign[i] == c]
            if members:
                d = len(members)
                new.append(
                    [
                        float(sum(v[p] for v in members)) / d
                        for p in range(len(members[0]))
                    ]
                )
            else:
                new.append(cents[c])
        cents = new

    def probes(i):
        sims = [(-cos(vecs[i], c), cid) for cid, c in enumerate(cents)]
        return [cid for _, cid in sorted(sims)[:n_probe]]

    cells = {i: probes(i) for i in ids}

    def r6(x):
        return float(
            Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )

    out = {}
    for j in ids:
        cands = [
            i
            for i in ids
            if i < j
            and set(cells[i]) & set(cells[j])
            and r6(cos(vecs[i], vecs[j])) >= thr
        ]
        out[j] = (cells[j][0], min(cands) if cands else None)
    return out


@settings(max_examples=int(os.environ.get("SPARK_GRAFT_HYP_EXAMPLES", "10")),
          deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    raw=st.lists(
        st.lists(st.integers(-3, 3), min_size=4, max_size=4),
        min_size=6, max_size=16,
    ),
    n_cent=st.integers(2, 4),
    thr=st.sampled_from([0.3, 0.5, 0.7, 0.9]),
    iters=st.integers(0, 1),
    n_probe=st.integers(1, 2),
)
def test_semantic_dedup_matches_model(spark, raw, n_cent, thr, iters, n_probe):
    from dd_graphdb_spark.operators import similarity as S

    vecs = {
        i: [float(x) for x in v]
        for i, v in enumerate(raw)
        if any(x != 0 for x in v)  # zero vectors have no cosine
    }
    if len(vecs) <= n_cent:
        return
    emb = spark.createDataFrame(
        [(i, v) for i, v in sorted(vecs.items())],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["cell"], r["dup_of"])
        for r in S.semantic_dedup(
            emb, n_centroids=n_cent, threshold=thr,
            train_iters=iters, n_probe=n_probe,
        ).collect()
    }
    want = _model_semantic_dedup(vecs, n_cent, thr, iters, n_probe)
    assert got == want


# --------------------------------------------------------------------------
# Whole-statement fuzzer, round-13 shapes: WITH * and RETURN * inside
# correlated CALL bodies vs the pure-Python model — the star stage's
# passthrough+WHERE, star with extra items, star feeding a body
# aggregate (pure-agg seeding preserved), and RETURN * star-export
# with per-outer-row top-k.
# --------------------------------------------------------------------------
@settings(max_examples=int(os.environ.get("SPARK_GRAFT_HYP_EXAMPLES", "10")),
          deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    vlabel=st.sampled_from([None, "P", "Q"]),
    e1=st.sampled_from(["x", "y"]),
    wop=st.sampled_from(["<", ">", ">=", "<="]),
    wn=st.integers(0, 9),
    k=st.integers(1, 3),
    desc=st.booleans(),
    shape=st.sampled_from(
        ["star_where", "star_extra", "star_then_agg", "return_star_topk",
         "star_entity_rejected", "star_agg"]
    ),
)
def test_gql_call_body_star_shapes(
    spark, _stmt_graph, vlabel, e1, wop, wn, k, desc, shape,
):
    from dd_graphdb_spark.plans.lower import GQLEngine

    eng = GQLEngine(_stmt_graph)
    pat = f"(v{':' + vlabel if vlabel else ''})"
    verts = [
        (i, a) for i, (l, a) in _G_VERTS.items()
        if vlabel is None or l == vlabel
    ]

    def out(i, el):
        return [d for (s, d, lab) in _G_EDGES if s == i and lab == el]

    cmp = _CMP[wop]
    if shape == "star_where":
        q = (f"MATCH {pat} CALL {{ WITH v MATCH (v)-[:{e1}]->(u) "
             f"WITH * WHERE u.a {wop} {wn} RETURN u.a AS ua }} "
             f"RETURN v.id AS vid, ua ORDER BY vid, ua")
        want = sorted(
            (i, _G_VERTS[d][1]) for i, _ in verts for d in out(i, e1)
            if cmp(_G_VERTS[d][1], wn)
        )
        got = [(r["vid"], r["ua"]) for r in eng.execute(q).collect()]
        assert got == want, q
    elif shape == "star_extra":
        q = (f"MATCH {pat} CALL {{ WITH v MATCH (v)-[:{e1}]->(u) "
             f"WITH *, u.a AS ua WHERE ua {wop} {wn} "
             f"RETURN ua, u.id AS uid }} "
             f"RETURN v.id AS vid, uid, ua ORDER BY vid, uid")
        want = sorted(
            (i, d, _G_VERTS[d][1]) for i, _ in verts for d in out(i, e1)
            if cmp(_G_VERTS[d][1], wn)
        )
        got = [(r["vid"], r["uid"], r["ua"]) for r in eng.execute(q).collect()]
        assert got == want, q
    elif shape == "star_then_agg":
        # star stage then a pure-aggregate body RETURN: one row per
        # outer row even over empty input (count -> 0)
        q = (f"MATCH {pat} CALL {{ WITH v MATCH (v)-[:{e1}]->(u) "
             f"WITH * WHERE u.a {wop} {wn} RETURN count(u) AS n }} "
             f"RETURN v.id AS vid, n ORDER BY vid")
        want = {
            i: sum(1 for d in out(i, e1) if cmp(_G_VERTS[d][1], wn))
            for i, _ in verts
        }
        got = {r["vid"]: r["n"] for r in eng.execute(q).collect()}
        assert got == want, q
    elif shape == "star_agg":
        # WITH *, <agg> AS k (r14): implicit grouping by the whole star
        # scope — here (v, ua) — still per imported binding
        q = (f"MATCH {pat} CALL {{ WITH v MATCH (v)-[:{e1}]->(u) "
             f"WITH v, u.a AS ua WITH *, count(*) AS k "
             f"WHERE k {wop} {wn} RETURN ua, k }} "
             f"RETURN v.id AS vid, ua, k ORDER BY vid, ua")
        from collections import Counter
        want = sorted(
            (i, a, k)
            for i, _ in verts
            for a, k in Counter(_G_VERTS[d][1] for d in out(i, e1)).items()
            if cmp(k, wn)
        )
        got = [(r["vid"], r["ua"], r["k"]) for r in eng.execute(q).collect()]
        assert got == want, q
    elif shape == "star_entity_rejected":
        # FINAL rejection (r14): RETURN * while entity bindings remain
        # in CALL-body scope — Neo4j parity ("variable already declared
        # in outer scope"). The two seams' guidance messages are pinned;
        # any other error (or silent acceptance) is a regression.
        import pytest as _pytest
        if desc:  # bare star directly after the body MATCH (parser seam)
            q = (f"MATCH {pat} CALL {{ WITH v MATCH (v)-[:{e1}]->(u) "
                 f"RETURN * }} RETURN v.id AS vid")
            with _pytest.raises(ValueError, match="project named scalars in a WITH"):
                eng.execute(q)
        else:  # WITH passing a whole variable keeps entity scope (lowerer seam)
            q = (f"MATCH {pat} CALL {{ WITH v MATCH (v)-[:{e1}]->(u) "
                 f"WITH u WHERE u.a {wop} {wn} RETURN * }} RETURN v.id AS vid")
            with _pytest.raises(ValueError, match="re-export entity bindings"):
                eng.execute(q)
    else:  # return_star_topk
        order = "DESC" if desc else "ASC"
        q = (f"MATCH {pat} CALL {{ WITH v MATCH (v)-[:{e1}]->(u) "
             f"WITH u.a AS ua, u.id AS uid RETURN * "
             f"ORDER BY ua {order}, uid ASC LIMIT {k} }} "
             f"RETURN v.id AS vid, uid, ua ORDER BY vid, uid")
        want = sorted(
            (i, uid, ua)
            for i, _ in verts
            for ua, uid in sorted(
                ((_G_VERTS[d][1], d) for d in out(i, e1)),
                key=lambda t: (-t[0] if desc else t[0], t[1]),
            )[:k]
        )
        got = [(r["vid"], r["uid"], r["ua"]) for r in eng.execute(q).collect()]
        assert got == want, q


# --------------------------------------------------------------------------
# r13: implicit grouping by an ENTITY in WITH stages vs the Python
# model — statement scope and CALL-body scope (per imported binding).
# --------------------------------------------------------------------------
@settings(max_examples=int(os.environ.get("SPARK_GRAFT_HYP_EXAMPLES", "10")),
          deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    vlabel=st.sampled_from([None, "P", "Q"]),
    e1=st.sampled_from(["x", "y"]),
    thresh=st.integers(0, 2),
    scope=st.sampled_from(["statement", "call_body"]),
)
def test_gql_with_entity_grouping_shapes(
    spark, _stmt_graph, vlabel, e1, thresh, scope,
):
    from dd_graphdb_spark.plans.lower import GQLEngine

    eng = GQLEngine(_stmt_graph)
    pat = f"(v{':' + vlabel if vlabel else ''})"
    verts = [
        i for i, (l, _a) in _G_VERTS.items()
        if vlabel is None or l == vlabel
    ]

    def out(i, el):
        return [d for (s, d, lab) in _G_EDGES if s == i and lab == el]

    if scope == "statement":
        # group by the TARGET entity: count of matched in-edges per u
        q = (f"MATCH {pat}-[:{e1}]->(u) WITH u, count(*) AS c "
             f"WHERE c >= {thresh} RETURN u.id AS uid, c ORDER BY uid")
        want = {}
        for i in verts:
            for d in out(i, e1):
                want[d] = want.get(d, 0) + 1
        want = {k: v for k, v in want.items() if v >= thresh}
        got = {r["uid"]: r["c"] for r in eng.execute(q).collect()}
        assert got == want, q
    else:
        # per imported binding: u's count is per (v, u) pair here
        q = (f"MATCH {pat} CALL {{ WITH v MATCH (v)-[:{e1}]->(u) "
             f"WITH u, count(*) AS c RETURN u.id AS uid, c }} "
             f"RETURN v.id AS vid, uid, c ORDER BY vid, uid")
        want = sorted((i, d, 1) for i in verts for d in out(i, e1))
        got = [(r["vid"], r["uid"], r["c"]) for r in eng.execute(q).collect()]
        assert got == want, q
