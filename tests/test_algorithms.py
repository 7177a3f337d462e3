"""Graph algorithms on reference-shaped fixtures (golden outputs from
the reference's own test assertions — SURVEY.md §5)."""

import pytest

import dd_graphdb_spark.algorithms as A
from dd_graphdb_spark.graph import PropertyGraph


@pytest.fixture()
def triangle(spark):
    # PageRank triangle A→B, B→C, A→C (basic.rs:397-437)
    v = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    e = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long").withColumn(
        "label", __import__("pyspark.sql.functions", fromlist=["lit"]).lit("link")
    )
    return PropertyGraph(v, e)


def test_pagerank_positive_and_sums_near_one(triangle):
    rows = {r["id"]: r["rank"] for r in A.pagerank(triangle, max_iterations=20).collect()}
    assert all(v > 0 for v in rows.values())  # basic.rs sanity assertion
    # C receives from A and B → highest rank; A receives nothing → lowest
    assert rows[3] > rows[2] > rows[1]


def test_connected_components_two_islands(spark):
    v = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    e = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "src long, dst long")
    g = PropertyGraph(v, e)
    comp = {r["id"]: r["component"] for r in A.connected_components(g).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[4] == comp[5] == 4
    assert comp[6] == 6
    n = A.component_count(g).collect()[0]["component_count"]
    assert n == 3


def test_sssp_dijkstra_triangle(spark):
    # A→B=1, B→C=2, A→C=4: shortest A→C is 3 via B (basic.rs:439-473)
    v = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 2.0), (1, 3, 4.0)], "src long, dst long, weight double"
    )
    g = PropertyGraph(v, e)
    out = {r["id"]: (r["distance"], r["path"]) for r in A.sssp(g, 1, "weight").collect()}
    assert out[3] == (3.0, "1->2->3")
    assert out[2] == (1.0, "1->2")


def test_sssp_unreachable_inf_and_target(spark):
    # vertex 4 unreachable → INF/NULL (incremental_engine.rs:1214-1285);
    # target= returns only that row and early-terminates (basic.rs:299-305)
    v = spark.createDataFrame([(1,), (2,), (3,), (4,)], "id long")
    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 2.0), (4, 1, 1.0)], "src long, dst long, weight double"
    )
    g = PropertyGraph(v, e)
    out = {r["id"]: (r["distance"], r["path"]) for r in A.sssp(g, 1, "weight").collect()}
    assert out[4] == (float("inf"), None)
    assert out[3] == (3.0, "1->2->3")
    t = A.sssp(g, 1, "weight", target=3).collect()
    assert len(t) == 1 and t[0]["distance"] == 3.0
    unreach = A.sssp(g, 1, "weight", target=4).collect()
    assert len(unreach) == 1 and unreach[0]["distance"] == float("inf")


def test_bfs_unreachable_and_depth(spark, people_graph):
    # storage lib.rs:1017-1173: directionality + unreachable = absent
    out = A.bfs_shortest_path(people_graph, source=2)
    rows = {r["id"]: r["hops"] for r in out.collect()}
    assert rows == {2: 0, 3: 1}  # Alice (1) unreachable from Bob
    t = A.bfs_shortest_path(people_graph, source=1, target=3)
    assert t.collect()[0]["path"] == "1->2->3"


def test_scc_cycles(spark):
    v = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4)], "src long, dst long"
    )
    g = PropertyGraph(v, e)
    scc = {r["id"]: r["scc"] for r in A.strongly_connected_components(g).collect()}
    assert scc[1] == scc[2] == scc[3] == 1
    assert scc[4] == scc[5] == 4
    assert scc[6] == 6


def test_eigenvector_centrality(spark):
    # 3-cycle with chord + pendant: cycle sustains mass; vertex 3 (two
    # in-edges) dominates, pendant 4 mirrors 3's previous score
    v = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], "id long")
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3), (3, 4)], "src long, dst long"
    )
    g = PropertyGraph(v, e)
    s = {r["id"]: r["score"] for r in A.eigenvector_centrality(g, max_iterations=20).collect()}
    assert s[3] == 1.0  # max-normalized leader
    assert all(0 <= x <= 1 for x in s.values())
    assert s[3] > s[1] > 0 and s[3] > s[2] > 0


def test_closeness_centrality(spark, people_graph):
    # 1→2→3: C(1)=(3-1)/(1+2), C(2)=(2-1)/1, C(3)=0
    s = {r["id"]: r["closeness"] for r in A.closeness_centrality(people_graph).collect()}
    assert abs(s[1] - 2 / 3) < 1e-12
    assert s[2] == 1.0 and s[3] == 0.0
    # landmark subset
    sub = {r["id"]: r["closeness"] for r in A.closeness_centrality(people_graph, sources=[2]).collect()}
    assert sub == {2: 1.0}


def test_betweenness_centrality_diamond(spark):
    # diamond + tail 1→{2,3}→4→5: σ(1,4)=2 so 2 and 3 each carry half of
    # pairs (1,4) and (1,5); 4 carries (1,5),(2,5),(3,5) whole → bc(4)=3
    v = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 5)], "id long")
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)], "src long, dst long"
    )
    s = {r["id"]: r["betweenness"]
         for r in A.betweenness_centrality(PropertyGraph(v, e)).collect()}
    assert s == {1: 0.0, 2: 1.0, 3: 1.0, 4: 3.0, 5: 0.0}


def test_betweenness_centrality_cycle_and_landmarks(spark):
    # directed 4-cycle: every vertex sits on exactly the paths between
    # its predecessor-side pairs — symmetry forces equal scores; pairs
    # (s,t) at distance 2 route through one intermediate, distance 3
    # through two → bc(v) = 1 + 1 + 1 = 3 for all v
    v = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], "id long")
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long")
    g = PropertyGraph(v, e)
    s = {r["id"]: r["betweenness"] for r in A.betweenness_centrality(g).collect()}
    assert s == {1: 3.0, 2: 3.0, 3: 3.0, 4: 3.0}
    # landmark subset: only source 1's dependencies are accumulated
    sub = {r["id"]: r["betweenness"]
           for r in A.betweenness_centrality(g, sources=[1]).collect()}
    assert sub == {1: 0.0, 2: 2.0, 3: 1.0, 4: 0.0}


def test_scc_empty_graph(spark):
    v = spark.createDataFrame([], "id long")
    e = spark.createDataFrame([], "src long, dst long")
    out = A.strongly_connected_components(PropertyGraph(v, e))
    assert out.count() == 0
    assert out.columns == ["id", "scc"]


def test_triangle_count_and_kcore(spark):
    # K4 has 4 triangles; every vertex has degree 3 → 3-core = all
    v = spark.createDataFrame([(i,) for i in range(1, 5)], "id long")
    e = spark.createDataFrame(
        [(a, b) for a in range(1, 5) for b in range(a + 1, 5)], "src long, dst long"
    )
    g = PropertyGraph(v, e)
    assert A.triangle_count(g).collect()[0]["triangle_count"] == 4
    assert sorted(r["id"] for r in A.k_core(g, 3).collect()) == [1, 2, 3, 4]
    assert A.k_core(g, 4).count() == 0


def test_reachability(spark, people_graph):
    ids = sorted(r["id"] for r in A.reachability(people_graph, 1).collect())
    assert ids == [1, 2, 3]
    ids2 = sorted(r["id"] for r in A.reachability(people_graph, 3).collect())
    assert ids2 == [3]


def test_label_propagation_two_triangles(spark):
    """Two triangles joined by a bridge resolve to two communities; the
    isolated vertex keeps its own label."""
    from dd_graphdb_spark.algorithms import label_propagation
    from dd_graphdb_spark.suites.algorithms import LPA_EDGES, LPA_VERTS, fixture_graph

    g = fixture_graph(spark, LPA_VERTS, LPA_EDGES)
    out = {r["id"]: r["community"] for r in label_propagation(g, 4).collect()}
    assert out[7] == 7  # isolated
    assert out[1] == out[2] == out[3]
    assert out[4] == out[5] == out[6]
    assert out[1] != out[4]


def test_personalized_pagerank_cone(spark):
    """Restart mass stays in the source's downstream cone: on the chain
    1->2->3 with source {1}, vertex 4 (disconnected) scores 0 and
    rank decays along the chain."""
    from dd_graphdb_spark.algorithms import personalized_pagerank
    from dd_graphdb_spark.suites.algorithms import fixture_graph

    g = fixture_graph(spark, [1, 2, 3, 4], [(1, 2), (2, 3)])
    out = {r["id"]: r["rank"] for r in personalized_pagerank(g, [1], max_iterations=8).collect()}
    assert out[4] == 0.0
    assert out[1] > out[2] > out[3] > 0.0
    import pytest as _pt

    with _pt.raises(ValueError, match="non-empty"):
        personalized_pagerank(g, [])


def test_weighted_pagerank_matches_numpy_model(spark):
    import numpy as np

    from dd_graphdb_spark.algorithms import pagerank
    from dd_graphdb_spark.graph import PropertyGraph

    # weighted 4-cycle with a chord: weights steer rank toward node 3
    edges = [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 9.0), (2, 0, 1.0), (3, 0, 1.0)]
    v = spark.createDataFrame([(i,) for i in range(4)], "id long")
    e = spark.createDataFrame(
        [(a, b, "x", w) for a, b, w in edges],
        "src long, dst long, label string, w double",
    )
    got = {
        r.id: r.rank
        for r in pagerank(
            PropertyGraph(v, e), max_iterations=8, round_to=6, weight_property="w"
        ).collect()
    }
    # numpy replay of the identical recurrence
    r = np.full(4, 0.25)
    outw = {a: sum(w for x, _, w in edges if x == a) for a in range(4)}
    for _ in range(8):
        nxt = np.full(4, 0.15 / 4)
        for a, b, w in edges:
            nxt[b] += 0.85 * r[a] * (w / outw[a])
        r = nxt
    for i in range(4):
        assert abs(got[i] - round(float(r[i]), 6)) < 1e-9, (i, got[i], r[i])
    # unweighted path unchanged: ignores the w column unless asked
    plain = {
        r.id: r.rank
        for r in pagerank(PropertyGraph(v, e), max_iterations=8, round_to=6).collect()
    }
    assert plain != got


def test_weighted_pagerank_rejects_missing_weight_column(spark):
    import pytest as _pt

    from dd_graphdb_spark.algorithms import pagerank
    from dd_graphdb_spark.graph import PropertyGraph

    v = spark.createDataFrame([(0,), (1,)], "id long")
    e = spark.createDataFrame([(0, 1, "x", 2.0)], "src long, dst long, label string, w double")
    # a typo'd weight property must fail loudly, not silently fall back
    # to the unweighted recurrence
    with _pt.raises(ValueError, match="weight_property"):
        pagerank(PropertyGraph(v, e), max_iterations=2, weight_property="wieght")


def test_sssp_rejects_missing_weight_column(spark):
    import pytest as _pt

    from dd_graphdb_spark.algorithms import sssp
    from dd_graphdb_spark.graph import PropertyGraph

    v = spark.createDataFrame([(1,), (2,)], "id long")
    e = spark.createDataFrame([(1, 2, "x", 2.0)], "src long, dst long, label string, w double")
    # same explicit-fail contract as pagerank: a typo'd weight property
    # must not silently degrade to hop-count distances
    with _pt.raises(ValueError, match="weight_property"):
        sssp(PropertyGraph(v, e), source=1, weight_property="wieght")


def test_sssp_raises_on_truncation(spark):
    import pytest as _pt

    from dd_graphdb_spark.algorithms import sssp
    from dd_graphdb_spark.graph import PropertyGraph

    # 6-vertex chain, max_iterations=3: vertices 4+ hops away would be
    # silently reported unreachable — the default contract raises
    v = spark.createDataFrame([(i,) for i in range(6)], "id long")
    e = spark.createDataFrame(
        [(i, i + 1, "x") for i in range(5)], "src long, dst long, label string"
    )
    g = PropertyGraph(v, e)
    with _pt.raises(RuntimeError, match="did not converge"):
        sssp(g, source=0, max_iterations=3)
    # explicit opt-in keeps bounded-round semantics
    out = {r["id"]: r["distance"] for r in
           sssp(g, source=0, max_iterations=3, on_exhaustion="truncate").collect()}
    assert out[3] == 3.0 and out[5] == float("inf")
    # and a converged run under the default raises nothing
    assert len(sssp(g, source=0, max_iterations=10).collect()) == 6


def test_reachability_raises_on_truncation(spark):
    import pytest as _pt

    from dd_graphdb_spark.algorithms import reachability
    from dd_graphdb_spark.graph import PropertyGraph

    v = spark.createDataFrame([(i,) for i in range(6)], "id long")
    e = spark.createDataFrame(
        [(i, i + 1, "x") for i in range(5)], "src long, dst long, label string"
    )
    g = PropertyGraph(v, e)
    with _pt.raises(RuntimeError, match="did not converge"):
        reachability(g, source=0, max_iterations=2)
    assert reachability(g, source=0, max_iterations=10).count() == 6


def test_personalized_pagerank_validates_sources(spark):
    import pytest as _pt

    from dd_graphdb_spark.algorithms import personalized_pagerank
    from dd_graphdb_spark.graph import PropertyGraph

    v = spark.createDataFrame([(1,), (2,)], "id long")
    e = spark.createDataFrame([(1, 2, "x")], "src long, dst long, label string")
    g = PropertyGraph(v, e)
    with _pt.raises(ValueError, match="duplicate"):
        personalized_pagerank(g, [1, 1], max_iterations=1)
    with _pt.raises(ValueError, match="not"):
        personalized_pagerank(g, [1, 99], max_iterations=1)


def test_concurrent_loops_do_not_corrupt_each_other(spark):
    """Two fixpoint loops on parallel threads of ONE session: the
    pinned-RDD bracket is serialized (_iter._PIN_LOCK), so neither loop
    unpersists the other's (unrecomputable) localCheckpoint blocks."""
    import threading

    from dd_graphdb_spark.algorithms import connected_components, pagerank
    from dd_graphdb_spark.graph import PropertyGraph

    v = spark.createDataFrame([(i,) for i in range(40)], "id long")
    e = spark.createDataFrame(
        [(i, (i + 1) % 40, "x") for i in range(40)],
        "src long, dst long, label string",
    )
    g = PropertyGraph(v, e)
    results, errors = {}, []

    def run(name, fn):
        try:
            results[name] = fn()
        except Exception as ex:  # noqa: BLE001
            errors.append((name, ex))

    threads = [
        threading.Thread(
            target=run, args=("pr", lambda: pagerank(g, max_iterations=6).count())
        ),
        threading.Thread(
            target=run, args=("cc", lambda: connected_components(g).count())
        ),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=180)
    assert not errors, errors
    assert results == {"pr": 40, "cc": 40}


def test_scc_raises_instead_of_splitting_long_cycle(spark):
    """A directed cycle longer than the mark loop's round budget must
    RAISE, not silently split one SCC into many (confirmed bug: a
    60-cycle returned 10 SCCs at the old defaults)."""
    import pytest as _pt

    from dd_graphdb_spark.algorithms import strongly_connected_components
    from dd_graphdb_spark.graph import PropertyGraph

    n = 12
    v = spark.createDataFrame([(i,) for i in range(n)], "id long")
    e = spark.createDataFrame(
        [(i, (i + 1) % n, "x") for i in range(n)], "src long, dst long, label string"
    )
    g = PropertyGraph(v, e)
    with _pt.raises(RuntimeError, match="did not converge"):
        strongly_connected_components(g, max_iterations=3)
    # with enough rounds the full cycle is ONE component
    out = strongly_connected_components(g, max_iterations=20).collect()
    assert len(out) == n and len({r["scc"] for r in out}) == 1


_CHAIN = ([(i,) for i in range(6)], [(i, i + 1, "x") for i in range(5)])
_CYCLE8 = ([(i,) for i in range(8)], [(i, (i + 1) % 8, "x") for i in range(8)])


@pytest.mark.parametrize(
    "graph, run, k, expected",
    [
        (_CHAIN, lambda g, k: A.reachability(g, 0, max_iterations=k), 5,
         {i: i for i in range(6)}),
        (_CHAIN, lambda g, k: A.closeness_centrality(g, sources=[0], max_depth=k), 5,
         {0: 5 / 15}),
        (_CHAIN, lambda g, k: A.betweenness_centrality(g, sources=[0], max_depth=k), 5,
         {0: 0.0, 1: 4.0, 2: 3.0, 3: 2.0, 4: 1.0, 5: 0.0}),
        (_CYCLE8, lambda g, k: A.strongly_connected_components(g, max_iterations=k), 7,
         {i: 0 for i in range(8)}),
    ],
    ids=["reachability", "closeness", "betweenness", "scc"],
)
def test_frontier_exhaustion_boundary(spark, graph, run, k, expected):
    """One exhaustion rule for every frontier search: a frontier that
    settles in exactly k levels gives the full result at a bound of k
    and raises at k-1 (a partial result would be silently wrong). The
    8-cycle's SCC mark needs exactly 7 levels."""
    v = spark.createDataFrame(graph[0], "id long")
    e = spark.createDataFrame(graph[1], "src long, dst long, label string")
    g = PropertyGraph(v, e)
    # (id, value) rows; reachability's lone id column maps to itself
    assert {r[0]: r[-1] for r in run(g, k).collect()} == pytest.approx(expected)
    with pytest.raises(RuntimeError, match="did not converge"):
        run(g, k - 1).collect()


def test_round_pins_release_and_forget(spark):
    """RoundPins frees superseded rounds' checkpoint blocks while the
    loop runs (the sf10 k-core OOM class), keeps `release_except`
    survivors readable, and `forget` stops tracking without freeing."""
    from pyspark.sql import functions as F

    from dd_graphdb_spark.algorithms._iter import RoundPins, _persistent_ids

    before = _persistent_ids(spark)
    pins = RoundPins(spark)
    frames = [
        pins.materialize(spark.range(100).select(F.col("id") + i))
        for i in range(4)
    ]
    assert len(_persistent_ids(spark) - before) >= 4
    kept, frozen = frames[3], frames[2]
    pins.forget(frozen)
    pins.release_except(kept)
    after = _persistent_ids(spark) - before
    # only the kept + frozen frames' blocks remain pinned
    assert len(after) == 2
    # both survivors still readable (their lineage is truncated — a
    # wrongly-freed localCheckpoint would raise here)
    assert kept.count() == 100 and frozen.count() == 100
    # cleanup: frozen is untracked by design; free both directly
    from dd_graphdb_spark.algorithms._iter import _unpersist

    _unpersist(spark, after)


def test_kcore_bounds_pinned_blocks_per_round(spark):
    """After k_core returns, run_loop's bracket leaves only the result's
    blocks; the per-round release inside means the loop never pinned
    more than a bounded set (regression guard for the sf10 OOM)."""
    from dd_graphdb_spark.algorithms._iter import _persistent_ids

    v = spark.createDataFrame([(i,) for i in range(30)], "id long")
    # a 10-clique (core number 9) plus a 20-chain that peels over many
    # rounds, forcing several prune iterations
    edges = [(a, b, "x") for a in range(10) for b in range(a + 1, 10)]
    edges += [(9 + i, 10 + i, "x") for i in range(20)]
    e = spark.createDataFrame(edges, "src long, dst long, label string")
    before = _persistent_ids(spark)
    out = A.k_core(PropertyGraph(v, e), k=3)
    assert sorted(r["id"] for r in out.collect()) == list(range(10))
    # bracket released everything but the final result's checkpoint
    assert len(_persistent_ids(spark) - before) <= 1


def test_wide_shuffle_scopes_and_restores(spark):
    """wide_shuffle rebinds a loop's graph into a child session that
    reads the raised initial partition count; the caller's session never
    changes — not inside the loop, not after it, not when it raises —
    and run_loop hands the result back in the caller's session."""
    from dd_graphdb_spark.algorithms._iter import run_loop, wide_shuffle

    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    before = spark.conf.get(key, None)
    g = PropertyGraph(spark.range(3), spark.createDataFrame([(0, 1)], "src long, dst long"))
    seen = []

    def loop(g, fail):
        w = wide_shuffle(g)
        seen.append((
            w.vertices.sparkSession.conf.get(key),
            w.edges.sparkSession.conf.get(key),
            spark.conf.get(key, None),
        ))
        if fail:
            raise RuntimeError("boom")
        return w.vertices

    out = run_loop(loop, g, False)
    assert out.sparkSession is spark and out.count() == 3
    with pytest.raises(RuntimeError, match="boom"):
        run_loop(loop, g, True)
    assert seen == [("256", "256", before)] * 2
    assert spark.conf.get(key, None) == before


def test_scoped_sites_never_write_the_parent_session(spark, monkeypatch):
    """Observed at every checkpoint job: inside a keyed-checkpoint build
    (copartitioned, salted_self_pairs), a wide_shuffle loop (k-core) and
    a narrow_shuffle scope, the frame being checkpointed reads the
    scoped conf while the caller's session keeps its own values."""
    from pyspark.sql import functions as F

    from dd_graphdb_spark.algorithms import _iter
    from dd_graphdb_spark.operators._skew import salted_self_pairs

    keys = (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        "spark.sql.shuffle.partitions",
    )

    def read(s):
        return tuple(s.conf.get(k, None) for k in keys)

    parent = read(spark)
    seen = []
    cls = type(spark.range(1))
    real = cls.localCheckpoint

    def spy(self, *a, **kw):
        seen.append((read(self.sparkSession), read(spark)))
        return real(self, *a, **kw)

    monkeypatch.setattr(cls, "localCheckpoint", spy)

    df = spark.range(40).select((F.col("id") % 4).alias("k"), "id")
    _iter.copartitioned(df, "k")
    salted_self_pairs(df, "id", ["k"], salt_threshold=5, n_salts=2)
    assert [c[0] for c, _ in seen] == ["false", "false"]
    assert all(p == parent for _, p in seen)

    seen.clear()
    v = spark.createDataFrame([(i,) for i in range(6)], "id long")
    e = spark.createDataFrame(
        [(a, b, "x") for a in range(4) for b in range(a + 1, 4)] + [(3, 4, "x"), (4, 5, "x")],
        "src long, dst long, label string",
    )
    assert sorted(r["id"] for r in A.k_core(PropertyGraph(v, e), k=3).collect()) == [0, 1, 2, 3]
    *rounds, final = seen
    assert rounds and all(c[1] == "256" for c, _ in rounds)
    assert final[0] == parent  # run_loop's result checkpoint: caller's session
    assert all(p == parent for _, p in seen)

    seen.clear()
    narrow = _iter.narrow_shuffle(spark, 2)
    assert _iter.materialize(narrow.range(10)).count() == 10
    assert seen == [((parent[0], "2", "2"), parent)]


def test_keyed_checkpoints_store_serialized_blocks(spark, monkeypatch):
    """The keyed checkpoints of salted_self_pairs and copartitioned store
    serialized MEMORY_AND_DISK blocks, the level every engine
    checkpoint takes through ``_iter._ckpt`` (the JVM default keeps
    deserialized object rows, 3-4x the footprint)."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from dd_graphdb_spark.algorithms import _iter
    from dd_graphdb_spark.operators._skew import salted_self_pairs

    levels = []
    cls = type(spark.range(1))
    real = cls.localCheckpoint

    def spy(self, eager=True, storageLevel=None):
        levels.append(storageLevel)
        return real(self, eager, storageLevel)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    df = spark.range(40).select((F.col("id") % 4).alias("k"), "id")
    _iter.copartitioned(df, "k")
    salted_self_pairs(df, "id", ["k"], salt_threshold=5, n_salts=2)
    assert levels == [StorageLevel.MEMORY_AND_DISK] * 2
    assert not StorageLevel.MEMORY_AND_DISK.deserialized
