"""Delta-based incremental view maintenance
(incremental_engine.rs:875-946 agg deltas; :1139-1211 warm PageRank;
state-reuse test :1554-1583)."""

import pytest
from pyspark.sql import functions as F

from dd_graphdb_spark.views import (
    IncrementalAggState,
    IncrementalPageRank,
    ViewCatalog,
    ViewDefinition,
)


@pytest.fixture()
def agg_state(spark, tmp_path):
    return IncrementalAggState(spark, str(tmp_path / "agg"), ["k"], "v")


def test_state_reuse_across_batches(spark, agg_state):
    # mirror of incremental_engine.rs:1554-1583: first result feeds the
    # second computation — 2 adds then 1 add = count 3
    agg_state.apply_deltas(spark.createDataFrame([("a", 1.0), ("a", 2.0)], "k string, v double"))
    assert agg_state.result().collect()[0]["n"] == 2
    agg_state.apply_deltas(spark.createDataFrame([("a", 3.0)], "k string, v double"))
    row = agg_state.result().collect()[0]
    assert row["n"] == 3 and row["total"] == 6.0 and row["avg_v"] == 2.0


def test_remove_deltas_exact_count_sum(spark, agg_state):
    agg_state.apply_deltas(
        spark.createDataFrame([("a", 5.0), ("a", 7.0), ("b", 1.0)], "k string, v double")
    )
    # update = remove(old) + add(new)  (:826-833)
    agg_state.apply_deltas(
        spark.createDataFrame(
            [("a", 5.0, -1), ("a", 9.0, 1)], "k string, v double, _sign int"
        )
    )
    rows = {r["k"]: r for r in agg_state.result().collect()}
    assert rows["a"]["n"] == 2 and rows["a"]["total"] == 16.0
    assert rows["b"]["n"] == 1


def test_group_vanishes_at_zero_count(spark, agg_state):
    agg_state.apply_deltas(spark.createDataFrame([("a", 5.0)], "k string, v double"))
    agg_state.apply_deltas(
        spark.createDataFrame([("a", 5.0, -1)], "k string, v double, _sign int")
    )
    assert agg_state.result().count() == 0


def test_minmax_conservative_under_delete(spark, agg_state):
    # min/max tighten on adds but stay unchanged on removes — the
    # reference's documented conservative approach (:885-892)
    agg_state.apply_deltas(
        spark.createDataFrame([("a", 1.0), ("a", 9.0)], "k string, v double")
    )
    r = agg_state.result().collect()[0]
    assert r["min_v"] == 1.0 and r["max_v"] == 9.0
    agg_state.apply_deltas(
        spark.createDataFrame([("a", 9.0, -1)], "k string, v double, _sign int")
    )
    r = agg_state.result().collect()[0]
    assert r["n"] == 1
    assert r["max_v"] == 9.0  # conservative: true max is now 1.0


def test_incremental_equals_full_recompute(spark, agg_state):
    import random

    random.seed(7)
    rows = [(random.choice("xyz"), round(random.uniform(0, 100), 3)) for _ in range(300)]
    full = {}
    for k, v in rows:
        c, s = full.get(k, (0, 0.0))
        full[k] = (c + 1, round(s + v, 6))
    # feed in 3 uneven batches
    for chunk in (rows[:50], rows[50:180], rows[180:]):
        agg_state.apply_deltas(spark.createDataFrame(chunk, "k string, v double"))
    got = {r["k"]: (r["n"], round(r["total"], 6)) for r in agg_state.result().collect()}
    assert got == full


def test_pagerank_warm_start_converges_to_batch(spark, tmp_path):
    # after enough warm refreshes the incremental vector must agree with
    # a from-scratch batch PageRank on the final graph
    import dd_graphdb_spark.algorithms as A
    from dd_graphdb_spark.graph import PropertyGraph

    pr = IncrementalPageRank(spark, str(tmp_path / "pr"), iterations=5)
    pr.apply_edge_deltas(spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long"))
    pr.refresh()
    pr.apply_edge_deltas(
        spark.createDataFrame(
            [(3, 4, 1), (4, 1, 1), (1, 3, -1)], "src long, dst long, _sign int"
        )
    )
    for _ in range(6):  # 30 warm iterations total on the final graph
        incr = {r["id"]: r["rank"] for r in pr.refresh().collect()}

    v = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], "id long")
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long"
    ).withColumn("label", F.lit("link"))
    batch = {
        r["id"]: r["rank"]
        for r in A.pagerank(PropertyGraph(v, e), max_iterations=60).collect()
    }
    # power iteration converges geometrically (error ~ d^k = 0.85^35 ≈ 3e-3)
    for i in batch:
        assert abs(incr[i] - batch[i]) < 5e-3, (i, incr[i], batch[i])


def test_catalog_incremental_refresh_is_delta_driven(spark, tmp_path):
    catalog = ViewCatalog(spark, str(tmp_path / "cat"))
    state = IncrementalAggState(spark, str(tmp_path / "st"), ["k"], "v")
    catalog.register_incremental(
        ViewDefinition(name="by_k", view_type="aggregation"), state
    )
    catalog.apply_deltas("by_k", spark.createDataFrame([("a", 2.0)], "k string, v double"))
    catalog.refresh_all()
    assert catalog.read("by_k").collect()[0]["n"] == 1
    catalog.apply_deltas("by_k", spark.createDataFrame([("a", 4.0)], "k string, v double"))
    catalog.refresh_all()
    row = catalog.read("by_k").collect()[0]
    assert row["n"] == 2 and row["total"] == 6.0


def test_null_group_merges_not_duplicates(spark, agg_state):
    """A NULL group must MERGE across batches (null-safe key join), not
    accumulate one duplicate state row per batch."""
    for _ in range(3):
        agg_state.apply_deltas(
            spark.createDataFrame([(None, 2.0), ("a", 1.0)], "k string, v double")
        )
    rows = {r["k"]: (r["n"], float(r["total"])) for r in agg_state.result().collect()}
    assert len(rows) == 2
    assert rows[None] == (3, 6.0)
    assert rows["a"] == (3, 3.0)


def test_centroids_merge_retract_and_update(spark, tmp_path):
    """IncrementalCentroids' signed merge: a NULL group merges across
    batches instead of duplicating, a group retracted to zero drops its
    (group, dim) rows, and an update (retract + add) moves the centroid."""
    from collections import Counter

    from dd_graphdb_spark.views.incremental import IncrementalCentroids

    cent = IncrementalCentroids(spark, str(tmp_path / "cent"), "g")
    schema = "g string, embedding array<double>, _sign int"
    cent.apply_deltas(spark.createDataFrame(
        [(None, [1.0, 2.0], 1), ("a", [0.0, 4.0], 1), ("b", [2.0, 2.0], 1)], schema
    ))
    cent.apply_deltas(spark.createDataFrame([(None, [3.0, 4.0], 1)], schema))
    cent.apply_deltas(spark.createDataFrame(
        [("b", [2.0, 2.0], -1), ("a", [0.0, 4.0], -1), ("a", [2.0, 6.0], 1)], schema
    ))
    rows = Counter((r["g"], r["dim"], r["centroid"]) for r in cent.result().collect())
    assert rows == Counter(
        [(None, 1, 2.0), (None, 2, 3.0), ("a", 1, 2.0), ("a", 2, 6.0)]
    )


def test_pagerank_same_batch_update_keeps_edge(spark, tmp_path):
    """A CDC edge update (retract preimage + add postimage in ONE batch)
    must keep the edge in adjacency state — the add wins, matching
    _EdgeState's re-insert semantics."""
    pr = IncrementalPageRank(spark, str(tmp_path / "pr"), iterations=2)
    pr.apply_edge_deltas(spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long"))
    # property update of edge (1,2) through cdc_to_deltas shape
    pr.apply_edge_deltas(
        spark.createDataFrame(
            [(1, 2, -1), (1, 2, 1)], "src long, dst long, _sign int"
        )
    )
    edges = {(r["src"], r["dst"]) for r in pr._edges.read().collect()}
    assert edges == {(1, 2), (2, 1)}


def test_incremental_minhash_passes_shingle_size(spark, tmp_path):
    from dd_graphdb_spark.operators.dedup import minhash_signatures
    from dd_graphdb_spark.views.incremental import IncrementalMinHash

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "h i j k l m n")], "doc_id long, text string"
    )
    mh = IncrementalMinHash(spark, str(tmp_path / "mh"), n=5)
    mh.apply_deltas(docs)
    got = {tuple(r) for r in mh.result().collect()}
    want = {tuple(r) for r in minhash_signatures(docs, n=5).withColumnRenamed("id", "id").collect()}
    assert got == want
    # and n=5 really differs from the default n=3 on this corpus
    n3 = {tuple(r) for r in minhash_signatures(docs, n=3).collect()}
    assert want != n3


def test_degree_centrality_single_vertex_defined(spark, tmp_path):
    from dd_graphdb_spark.views import IncrementalDegreeCentrality

    dc = IncrementalDegreeCentrality(spark, str(tmp_path / "deg"))
    dc.apply_deltas(spark.createDataFrame([(7,)], "id long"))
    r = dc.result().collect()[0]
    assert (r["max_vertex"], r["max_degree"], r["centrality"], r["vertex_count"]) == (
        7, 0, 0.0, 1
    )


def test_versioned_table_retention_bounded(spark, tmp_path):
    import os

    from dd_graphdb_spark.views.incremental import _VersionedTable

    t = _VersionedTable(spark, str(tmp_path / "vt"), "x long")
    for i in range(8):
        t.write(spark.createDataFrame([(i,)], "x long"))
    dirs = [d for d in os.listdir(str(tmp_path / "vt")) if d.startswith("v")]
    assert len(dirs) <= _VersionedTable.KEEP_LAST
    # the current version is readable and correct
    assert t.read().collect()[0]["x"] == 7


def test_incremental_sssp_absent_target_one_row(spark, tmp_path):
    """Fresh view / fully-retracted target: result() must still emit the
    documented single (inf, 'not_found') row (incremental_engine.rs:
    1277-1281), not an empty frame."""
    from dd_graphdb_spark.views import IncrementalSSSP

    view = IncrementalSSSP(spark, str(tmp_path / "ss"), source=1, target=99)
    r = view.result().collect()
    assert len(r) == 1
    assert r[0]["distance"] == float("inf") and r[0]["path"] == "not_found"


def test_agg_state_sums_past_decimal18(spark, tmp_path):
    """Exact sums must survive past 10^12 (decimal(18,6) capped there:
    ANSI overflow crash or silent NULL→0 reset)."""
    from dd_graphdb_spark.views import IncrementalAggState

    st = IncrementalAggState(spark, str(tmp_path / "big"), ["k"], "v")
    for _ in range(3):
        st.apply_deltas(spark.createDataFrame([("a", 9.0e11)], "k string, v double"))
    row = st.result().collect()[0]
    assert float(row["total"]) == 2.7e12 and row["n"] == 3


def test_versioned_table_reads_old_precision_state(spark, tmp_path):
    """State persisted under an older declared schema (decimal(18,6))
    must read cleanly after the declaration widens to decimal(38,6) —
    the read casts the parquet footer types instead of forcing the
    declared schema onto the file (ADVICE r6)."""
    from dd_graphdb_spark.views.incremental import _VersionedTable

    path = str(tmp_path / "mig")
    old = _VersionedTable(spark, path, "k string, _sum decimal(18,6)")
    old.write(spark.createDataFrame([("a", "1.5")], "k string, _sum string")
              .selectExpr("k", "cast(_sum as decimal(18,6)) _sum"))
    new = _VersionedTable(spark, path, "k string, _sum decimal(38,6), _extra long")
    rows = new.read().collect()
    assert rows[0]["k"] == "a"
    assert float(rows[0]["_sum"]) == 1.5
    assert str(new.read().schema["_sum"].dataType) == "DecimalType(38,6)"
    # a column added to the declaration since the write reads as NULL
    assert rows[0]["_extra"] is None


@pytest.mark.parametrize("cow_min_bytes", [32 << 20, 0])
def test_state_view_and_feed_reads_launch_no_job(spark, tmp_path, cow_min_bytes):
    """Building a state read, a refreshed view's read and a change feed
    launches no Spark job — no schema inference, no checkpoint: the
    consumer's action is the first job each of them costs."""
    from dd_graphdb_spark.storage import (
        GraphStore, add_edge, add_vertex, update_vertex_props,
    )
    from dd_graphdb_spark.views.incremental import _VersionedTable

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    cell = _VersionedTable(spark, str(tmp_path / "cell"), "k string, n long")
    cell.write(spark.createDataFrame([("a", 1)], "k string, n long"))
    catalog = ViewCatalog(spark, str(tmp_path / "views"))
    catalog.register(ViewDefinition(name="one", view_type="sql", sql="SELECT 1 AS x"))
    catalog.refresh("one", force=True)
    store = GraphStore(spark, str(tmp_path / "g"), n_buckets=4, cow_min_bytes=cow_min_bytes)
    store.apply_batch([add_vertex(i, "P") for i in range(4)] + [add_edge(0, 1, "l")])
    a = store.version
    store.apply_batch([update_vertex_props(1, {"n": 1}), add_edge(1, 2, "l")])

    before = dag.nextJobId()
    state = cell.read_version(cell.version)
    view = catalog.read("one")
    feeds = {t: store.changes(t, a) for t in ("vertices", "edges")}
    assert dag.nextJobId() == before

    assert [tuple(r) for r in state.collect()] == [("a", 1)]
    assert [r["x"] for r in view.collect()] == [1]
    assert sorted(r["_change_type"] for r in feeds["vertices"].collect()) == [
        "update_postimage", "update_preimage",
    ]
    assert [(r["src"], r["dst"]) for r in feeds["edges"].collect()] == [(1, 2)]
