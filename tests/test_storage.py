"""GraphStore: op batches, cascade, OCC, time travel, typed access
(reference graph/storage/src/lib.rs semantics — see storage/store.py)."""

import pytest

from dd_graphdb_spark.storage import (
    ConflictError,
    GraphStore,
    add_edge,
    add_vertex,
    remove_vertex,
    update_vertex_props,
)
from dd_graphdb_spark.storage.store import prop_typed


@pytest.fixture()
def store(spark, tmp_path):
    s = GraphStore(spark, str(tmp_path / "graph"))
    s.apply_batch(
        [
            add_vertex(1, "Person", {"name": "Alice", "age": 30}),
            add_vertex(2, "Person", {"name": "Bob", "age": 25}),
            add_edge(1, 2, "friend", {"since": 2020}),
        ]
    )
    return s


def test_add_and_stats(store):
    st = store.stats()
    assert st["vertex_count"] == 2 and st["edge_count"] == 1 and st["version"] == 1


def test_add_vertex_overwrites(store):
    # HashMap insert-overwrite semantics (lib.rs:294-299)
    store.apply_batch([add_vertex(1, "Person", {"name": "Alicia", "age": 31})])
    row = store.get_vertex(1).collect()[0]
    assert row["properties"]["name"] == '"Alicia"'
    assert store.stats()["vertex_count"] == 2


def test_remove_vertex_cascades_edges(store):
    # RemoveVertex cascades incident-edge deletion (lib.rs:274-293)
    store.apply_batch([remove_vertex(2)])
    st = store.stats()
    assert st["vertex_count"] == 1 and st["edge_count"] == 0


def test_update_props_replaces(store):
    # UpdateVertexProperties REPLACES the whole map (lib.rs:310-312)
    store.apply_batch([update_vertex_props(1, {"age": 31, "city": "Paris"})])
    props = store.get_vertex(1).collect()[0]["properties"]
    assert props == {"age": "31", "city": '"Paris"'}  # name cleared


def test_update_props_inserts_missing(store):
    # HashMap insert semantics: updating an absent id inserts it
    store.apply_batch([update_vertex_props(99, {"name": "New"})])
    assert store.get_vertex(99).count() == 1
    assert store.stats()["vertex_count"] == 3


def test_update_edge_props_replaces_on_match_only(store):
    from dd_graphdb_spark.storage import update_edge_props

    store.apply_batch(
        [
            update_edge_props(1, 2, "friend", {"since": 2021}),
            update_edge_props(7, 8, "friend", {"since": 2021}),  # missing → no-op
        ]
    )
    rows = store.edges().collect()
    assert len(rows) == 1
    assert rows[0]["properties"] == {"since": "2021"}


def test_large_homogeneous_batch_is_fast(store):
    # 1,000-op batch = one anti-join + union, not a 1,000-deep plan
    # (reference batch_size, differential_dataflow.rs:263)
    import time

    ops = [add_vertex(1000 + i, "Person", {"name": f"p{i}"}) for i in range(1000)]
    t0 = time.monotonic()
    store.apply_batch(ops)
    elapsed = time.monotonic() - t0
    assert store.stats()["vertex_count"] == 1002
    assert elapsed < 60, f"batch took {elapsed:.1f}s"


def test_mixed_batch_sequential_visibility(store):
    ops = [
        add_vertex(50, "Person", {"name": "tmp"}),
        add_edge(50, 1, "knows"),
        remove_vertex(50),  # cascades the edge added one run earlier
        add_vertex(51, "Person", {"name": "keep"}),
        add_vertex(51, "Person", {"name": "keep2"}),  # same-run overwrite
    ]
    store.apply_batch(ops)
    assert store.get_vertex(50).count() == 0
    assert store.get_vertex(51).collect()[0]["properties"]["name"] == '"keep2"'
    assert store.stats()["edge_count"] == 1  # only the fixture edge


def test_occ_conflict(store):
    # version compare at commit (lib.rs:461-463)
    t1 = store.begin_transaction().add(add_vertex(10, "Person", {"name": "X"}))
    t2 = store.begin_transaction().add(add_vertex(11, "Person", {"name": "Y"}))
    store.commit(t1)
    with pytest.raises(ConflictError):
        store.commit(t2)


def test_time_travel(store):
    v1 = store.version
    store.apply_batch([remove_vertex(2)])
    assert store.vertices().count() == 1
    assert store.vertices(version=v1).count() == 2


def test_prop_typed_accessor(store):
    # as_int64-style access-time typing (graph/core/src/lib.rs:166-222)
    df = store.vertices().select("id", prop_typed("properties", "age", "long").alias("age"))
    ages = {r["id"]: r["age"] for r in df.collect()}
    assert ages == {1: 30, 2: 25}
    older = store.vertices().filter(prop_typed("properties", "age", "long") > 25)
    assert [r["id"] for r in older.collect()] == [1]


def test_cdc_vertex_changes(store):
    from dd_graphdb_spark.storage import update_edge_props

    v1 = store.version
    store.apply_batch(
        [
            add_vertex(3, "Person", {"name": "Carol"}),
            remove_vertex(2),
            update_vertex_props(1, {"type": "Person", "name": "Alicia", "age": 30}),
        ]
    )
    ch = {
        (r["_change_type"], r["id"]): r
        for r in store.changes("vertices", v1).collect()
    }
    assert set(ch) == {
        ("insert", 3),
        ("delete", 2),
        ("update_preimage", 1),
        ("update_postimage", 1),
    }
    assert ch[("update_preimage", 1)]["properties"]["name"] == '"Alice"'
    assert ch[("update_postimage", 1)]["properties"]["name"] == '"Alicia"'
    assert all(r["_commit_version"] == store.version for r in ch.values())


def test_cdc_edge_changes_and_noop(store):
    from dd_graphdb_spark.storage import update_edge_props

    v1 = store.version
    # no-op batch: re-assert identical state -> empty diff
    store.apply_batch([add_vertex(1, "Person", {"name": "Alice", "age": 30})])
    assert store.changes("vertices", v1).count() == 0

    v2 = store.version
    store.apply_batch(
        [
            add_edge(2, 1, "follows"),
            update_edge_props(1, 2, "friend", {"since": 2021}),
        ]
    )
    ch = {
        (r["_change_type"], r["src"], r["dst"], r["label"])
        for r in store.changes("edges", v2).collect()
    }
    assert ch == {
        ("insert", 2, 1, "follows"),
        ("update_preimage", 1, 2, "friend"),
        ("update_postimage", 1, 2, "friend"),
    }


def test_cdc_rejects_unknown_table(store):
    with pytest.raises(ValueError, match="unknown table"):
        store.changes("nope", 0)


def test_cdc_rejects_bad_span(store):
    """An inverted span, a version above the current one and a vacuumed
    version each raise ValueError naming the span — not a silently
    inverted feed or a bare FileNotFoundError on a manifest."""
    v1 = store.version
    store.apply_batch([add_vertex(3, "Person", {"name": "Carol"})])
    with pytest.raises(ValueError, match=r"changes\('vertices', 2, 1\)"):
        store.changes("vertices", 2, 1)
    with pytest.raises(ValueError, match="v9"):
        store.changes("edges", v1, 9)
    store.vacuum(keep_last=1)
    with pytest.raises(ValueError, match=f"v{v1}"):
        store.changes("vertices", v1)
    assert store.changes("vertices", store.version).count() == 0


def test_cdc_to_deltas_signs(store):
    from dd_graphdb_spark.storage.store import cdc_to_deltas

    v1 = store.version
    store.apply_batch(
        [
            add_vertex(3, "Person", {"name": "Carol"}),
            remove_vertex(2),
            update_vertex_props(1, {"type": "Person", "name": "Alicia", "age": 30}),
        ]
    )
    d = {
        (r["id"], r["_sign"], r["properties"].get("name"))
        for r in cdc_to_deltas(store.changes("vertices", v1)).collect()
    }
    assert d == {
        (3, 1, '"Carol"'),
        (2, -1, '"Bob"'),
        (1, -1, '"Alice"'),
        (1, 1, '"Alicia"'),
    }


def test_update_edges_per_key_semantics(spark, tmp_path):
    from dd_graphdb_spark.storage import GraphStore, add_edge, add_vertex

    store = GraphStore(spark, str(tmp_path / "st"))
    store.apply_batch(
        [
            add_vertex(1), add_vertex(2), add_vertex(3),
            add_edge(1, 2, "knows", {"since": 2020}),
            add_edge(2, 3, "knows", {"since": 2021}),
        ]
    )
    keys = spark.createDataFrame([(1, 2, "knows")], "src long, dst long, label string")
    store.update_edges(keys, {"weight": 5})
    rows = {(r.src, r.dst): r.properties for r in store.edges().collect()}
    # updated edge keeps existing keys and gains the new one
    assert rows[(1, 2)]["weight"] == "5" and rows[(1, 2)]["since"] == "2020"
    # untouched edge unchanged
    assert "weight" not in rows[(2, 3)] and rows[(2, 3)]["since"] == "2021"


def test_update_vertices_set_type_rewrites_label(spark, tmp_path):
    """SET v.type must keep the label column consistent with the
    properties map — the store derives label from props['type']."""
    from dd_graphdb_spark.storage import GraphStore, add_vertex

    store = GraphStore(spark, str(tmp_path / "st"))
    store.apply_batch([add_vertex(1, "Person"), add_vertex(2, "Person")])
    ids = spark.createDataFrame([(1,)], "id long")
    store.update_vertices(ids, {"type": "Robot"})
    rows = {r.id: (r.label, r.properties) for r in store.vertices().collect()}
    assert rows[1][0] == "Robot" and rows[1][1]["type"] == '"Robot"'
    assert rows[2][0] == "Person"


def test_prop_typed_decodes_json_escapes(spark, tmp_path):
    """String properties containing quotes/backslashes/newlines must
    round-trip exactly (real JSON decode, not an outer-quote strip)."""
    from dd_graphdb_spark.storage import GraphStore, add_vertex
    from dd_graphdb_spark.storage.store import prop_typed

    store = GraphStore(spark, str(tmp_path / "st"))
    tricky = 'say "hi" \\ and\nbye'
    store.apply_batch([add_vertex(1, "Person", {"name": tricky, "age": 30})])
    row = store.vertices().select(
        prop_typed("properties", "name").alias("name"),
        prop_typed("properties", "age", "long").alias("age"),
    ).collect()[0]
    assert row["name"] == tricky and row["age"] == 30


def test_prop_typed_mismatch_yields_null_not_crash(spark, tmp_path):
    """Access-time typing returns NULL on a non-castable bag value
    (reference as_int64 semantics) — under Spark 4's default ANSI mode
    a strict cast would crash the whole query."""
    from dd_graphdb_spark.storage import GraphStore, add_vertex
    from dd_graphdb_spark.storage.store import prop_typed

    store = GraphStore(spark, str(tmp_path / "st"))
    store.apply_batch(
        [
            add_vertex(1, "P", {"age": 30}),
            add_vertex(2, "P", {"age": "unknown"}),
        ]
    )
    ages = {
        r["id"]: r["age"]
        for r in store.vertices()
        .select("id", prop_typed("properties", "age", "long").alias("age"))
        .collect()
    }
    assert ages == {1: 30, 2: None}


def test_add_vertex_nonstring_type_coerces_label(spark, tmp_path):
    from dd_graphdb_spark.storage import GraphStore, add_vertex

    store = GraphStore(spark, str(tmp_path / "st"))
    store.apply_batch([add_vertex(1, props={"type": 123})])
    assert store.vertices().collect()[0]["label"] == "123"


def test_match_set_multi_variable_single_version(spark, tmp_path):
    """SET a.x=.., e.y=.. commits ONE snapshot version for the whole
    statement (no observable half-applied state)."""
    from dd_graphdb_spark.plans.lower import GQLEngine
    from dd_graphdb_spark.storage import GraphStore, add_edge, add_vertex

    store = GraphStore(spark, str(tmp_path / "st"))
    store.apply_batch(
        [
            add_vertex(1, "Person", {"name": "A"}),
            add_vertex(2, "Person", {"name": "B"}),
            add_edge(1, 2, "knows", {"since": 2020}),
        ]
    )
    v_before = store.version
    eng = GQLEngine(
        store.as_property_graph({"name": "string"}), store=store
    )
    eng.execute(
        "MATCH (a:Person)-[e:knows]->(b:Person) SET a.flag = 1, e.w = 2"
    )
    assert store.version == v_before + 1
    vrow = {r["id"]: r["properties"] for r in store.vertices().collect()}
    assert vrow[1]["flag"] == "1" and "flag" not in vrow[2]
    erow = store.edges().collect()[0]["properties"]
    assert erow["w"] == "2" and erow["since"] == "2020"


# ---------------------------------------------------------------------------
# File-level copy-on-write commits (r14): the manifest maps every bucket
# to a layer CHAIN (one base + ordered deltas); a commit diffs its merged
# result against the bucket-restricted base and persists ONLY the changed
# rows (upserts + key tombstones) — write I/O is O(|delta rows|), not
# O(touched-bucket rows). Chains past cow_max_layers compact back to one
# base layer, bounding merge-on-read amplification.
# ---------------------------------------------------------------------------


def _chains(store, version, table):
    return store._chains(store._load_manifest(version), table)


def test_cow_commit_inherits_untouched_buckets(spark, tmp_path):
    store = GraphStore(spark, str(tmp_path / "cow"), n_buckets=4, cow_min_bytes=0)
    store.apply_batch([add_vertex(i, "P", {"n": i}) for i in range(8)])  # v1
    v1 = store.version
    # touch ONLY bucket 1 (id 5 % 4 == 1)
    store.apply_batch([update_vertex_props(5, {"n": 99})])
    v2 = store.version
    c1, c2 = _chains(store, v1, "vertices"), _chains(store, v2, "vertices")
    # bucket 1 gained a delta layer owned by v2; its base is inherited
    assert [l["k"] for l in c2["1"]] == ["b", "d"]
    assert c2["1"][0] == c1["1"][0]
    assert c2["1"][1]["p"].startswith(f"v{v2}/vertices_delta/")
    for b in ("0", "2", "3"):
        assert c2[b] == c1[b]  # untouched chains inherited verbatim
    assert _chains(store, v2, "edges") == _chains(store, v1, "edges")
    # logical state intact
    assert store.vertices().count() == 8
    assert store.get_vertex(5).collect()[0]["properties"]["n"] == "99"
    # time travel still reads the old chain content
    assert store.vertices(version=v1).filter("id = 5").collect()[0][
        "properties"
    ]["n"] == "5"


def test_cow_delta_layer_bytes_track_delta_not_bucket(spark, tmp_path):
    """The r13 weak item: a 1-row update must write ~1 row, not the
    whole touched bucket. 200 rows share bucket 1; updating one of them
    writes a delta layer whose row count is exactly 2 surviving reads
    (1 upsert here — no tombstone), not 200."""
    store = GraphStore(spark, str(tmp_path / "cow"), n_buckets=4, cow_min_bytes=0)
    store.apply_batch(
        [add_vertex(1 + 4 * i, "P", {"pad": "x" * 100}) for i in range(200)]
    )
    store.apply_batch([update_vertex_props(1, {"n": 1})])
    chain = _chains(store, store.version, "vertices")["1"]
    delta_rel = chain[-1]["p"]
    assert chain[-1]["k"] == "d"
    delta = spark.read.parquet(str(tmp_path / "cow" / delta_rel))
    assert delta.count() == 1  # one changed row, not 200
    assert store.vertices().count() == 200
    assert store.get_vertex(1).collect()[0]["properties"]["n"] == "1"


def test_cow_delete_writes_tombstones_and_merge_hides_them(spark, tmp_path):
    store = GraphStore(spark, str(tmp_path / "cow"), n_buckets=4, cow_min_bytes=0)
    store.apply_batch([add_vertex(i, "P") for i in (1, 5, 9, 2)])  # b1={1,5,9}
    ids = spark.createDataFrame([(1,), (5,)], "id long")
    store.delete_vertices(ids)
    chain = _chains(store, store.version, "vertices")["1"]
    delta = spark.read.parquet(
        str(tmp_path / "cow" / chain[-1]["p"])
    ).collect()
    assert sorted((r["id"], r["_op"]) for r in delta) == [(1, "d"), (5, "d")]
    assert sorted(r["id"] for r in store.vertices().collect()) == [2, 9]


def test_cow_chain_compacts_at_max_layers(spark, tmp_path):
    store = GraphStore(
        spark, str(tmp_path / "cow"), n_buckets=4, cow_min_bytes=0,
        cow_max_layers=3,
    )
    store.apply_batch([add_vertex(i, "P", {"n": 0}) for i in range(8)])
    for k in (1, 2):  # two deltas fill the chain to [b, d, d]
        store.apply_batch([update_vertex_props(5, {"n": k})])
    chain = _chains(store, store.version, "vertices")["1"]
    assert [l["k"] for l in chain] == ["b", "d", "d"]
    store.apply_batch([update_vertex_props(5, {"n": 3})])  # would exceed 3
    chain = _chains(store, store.version, "vertices")["1"]
    assert [l["k"] for l in chain] == ["b"]  # compacted
    assert chain[0]["s"] == store.version
    assert store.get_vertex(5).collect()[0]["properties"]["n"] == "3"
    assert store.vertices().count() == 8
    # untouched buckets never compacted along the way
    assert _chains(store, store.version, "vertices")["0"][0]["s"] == 1


def test_cow_noop_commit_inherits_everything(spark, tmp_path):
    """A commit whose merged result equals the base (e.g. MERGE matched)
    writes no data files at all — the new manifest inherits every
    chain verbatim."""
    store = GraphStore(spark, str(tmp_path / "cow"), n_buckets=4, cow_min_bytes=0)
    store.apply_batch([add_vertex(i, "P", {"n": i}) for i in range(8)])
    v1 = store.version
    store.apply_batch([update_vertex_props(5, {"type": "P", "n": 5})])  # no-op
    assert store.version == v1 + 1
    assert _chains(store, store.version, "vertices") == _chains(store, v1, "vertices")
    assert store.vertices().count() == 8


def test_cow_bucket_wide_delete_shadows_inherited_data(spark, tmp_path):
    store = GraphStore(spark, str(tmp_path / "cow"), n_buckets=4, cow_min_bytes=0)
    store.apply_batch([add_vertex(i, "P") for i in (1, 5, 2)])  # bucket1={1,5}
    ids = spark.createDataFrame([(1,), (5,)], "id long")
    store.delete_vertices(ids)
    # tombstones shadow the inherited base rows on read
    assert [r["id"] for r in store.vertices().collect()] == [2]
    # and a later compaction drops the bucket entry entirely
    store2 = GraphStore(
        spark, str(tmp_path / "cow"), cow_min_bytes=0, cow_max_layers=1
    )
    store2.apply_batch([add_vertex(2, "P", {"z": 1})])  # touches bucket 2 only
    # bucket 1's chain still resolves empty
    assert [r["id"] for r in store2.vertices().collect()] == [2]


def test_cow_cascade_deletes_in_edges_from_untouched_src_buckets(spark, tmp_path):
    store = GraphStore(spark, str(tmp_path / "cow"), n_buckets=4, cow_min_bytes=0)
    # edge 1->2 lives in src bucket 1; removing vertex 2 (bucket 2) must
    # still write tombstones into bucket 1 of edges (the dst-probe)
    store.apply_batch(
        [add_vertex(1, "P"), add_vertex(2, "P"), add_edge(1, 2, "knows")]
    )
    store.apply_batch([remove_vertex(2)])
    assert store.stats() == {"vertex_count": 1, "edge_count": 0,
                             "version": store.version}
    chain = _chains(store, store.version, "edges")["1"]
    assert chain[-1]["k"] == "d"  # tombstone layer in the in-edge bucket


def test_cow_vacuum_relocates_referenced_layers(spark, tmp_path):
    import os

    store = GraphStore(spark, str(tmp_path / "cow"), n_buckets=4, cow_min_bytes=0)
    store.apply_batch([add_vertex(i, "P", {"n": i}) for i in range(8)])   # v1
    store.apply_batch([update_vertex_props(5, {"n": 99})])                # v2
    store.apply_batch([update_vertex_props(6, {"n": 77})])                # v3
    store.vacuum(keep_last=2)  # v1 dies, but v2/v3 chains inherit its base
    assert not os.path.isdir(os.path.join(store.path, "v1"))
    # kept manifests were patched to the relocated dirs and still read
    for v in (2, 3):
        for chain in _chains(store, v, "vertices").values():
            assert all(not l["p"].startswith("v1/") for l in chain)
    assert store.vertices().count() == 8
    assert store.vertices(version=2).filter("id = 6").collect()[0][
        "properties"
    ]["n"] == "6"
    assert store.get_vertex(5).collect()[0]["properties"]["n"] == "99"


def test_cow_reopened_store_keeps_bucket_count(spark, tmp_path):
    store = GraphStore(spark, str(tmp_path / "cow"), n_buckets=4, cow_min_bytes=0)
    store.apply_batch([add_vertex(1, "P")])
    reopened = GraphStore(spark, str(tmp_path / "cow"), n_buckets=32)
    assert reopened.n_buckets == 4
    reopened.apply_batch([add_vertex(2, "P")])
    assert reopened.vertices().count() == 2


def test_cow_bucket_restricted_read_prunes_files(spark, tmp_path):
    """The commit's delta base must READ only the touched buckets —
    structural pruning via explicit manifest paths, not a post-scan
    filter (the 100 TB posture: commit I/O is O(delta) on the read
    side too). Holds for delta layers too."""
    store = GraphStore(spark, str(tmp_path / "cow"), n_buckets=4, cow_min_bytes=0)
    store.apply_batch([add_vertex(i, "P") for i in range(8)])
    store.apply_batch([update_vertex_props(5, {"n": 9})])  # delta in b1
    files = store.vertices(buckets={1}).inputFiles()
    assert files, "restricted read returned no files"
    assert all("_b=1" in f for f in files)
    assert any("vertices_delta" in f for f in files)
    # empty bucket set = empty frame, no scan at all
    assert store.vertices(buckets=set()).inputFiles() == []


def test_cow_size_gate_engages_past_threshold(spark, tmp_path):
    """Below cow_min_bytes touched tables are fully rewritten;
    once the store crosses the threshold the same commit shape starts
    inheriting untouched buckets."""
    store = GraphStore(
        spark, str(tmp_path / "cow"), n_buckets=4, cow_min_bytes=2000
    )
    store.apply_batch([add_vertex(1, "P")])          # tiny: full rewrite
    store.apply_batch([update_vertex_props(1, {"n": 1})])
    v = store.version
    assert all(
        c == [{"p": f"v{v}/vertices/_b={b}", "k": "b", "s": v}]
        for b, c in _chains(store, v, "vertices").items()
    )
    # grow past the threshold, then a bucket-local update inherits
    store.apply_batch([add_vertex(i, "P", {"pad": "x" * 50}) for i in range(2, 60)])
    assert store._cow_active()
    v_before = store.version
    store.apply_batch([update_vertex_props(4, {"n": 2})])  # bucket 0
    inherited = [
        c for c in _chains(store, store.version, "vertices").values()
        if all(l["s"] != store.version for l in c)
    ]
    assert inherited, "no buckets inherited after crossing the threshold"
    assert store.vertices().count() == 59
    assert store.vertices(version=v_before).count() == 59


def test_cow_commit_detects_concurrent_writer(spark, tmp_path):
    """A commit whose delta was planned against a version another
    writer has since moved must fail with ConflictError, not silently
    inherit the other writer's buckets (lost update)."""
    path = str(tmp_path / "cow")
    s1 = GraphStore(spark, path, n_buckets=4, cow_min_bytes=0)
    s1.apply_batch([add_vertex(i, "P") for i in range(8)])
    # plan a delta on s1, then let a second writer commit in between
    v_base, e_base, tv, te, planned = s1._cow_plan({1}, set())
    GraphStore(spark, path, cow_min_bytes=0).apply_batch([add_vertex(100, "P")])
    with pytest.raises(ConflictError, match="moved to"):
        s1._commit_version(v_base, None, tv, te, planned)
    # the interleaved writer's state is intact
    assert s1.vertices().count() == 9


def test_cow_plans_on_one_store_do_not_share_state(spark, tmp_path):
    """Two statements sharing ONE GraphStore instance: A plans, B
    commits, B's successor replans on the same instance, then A commits.
    A's plan read the old base, so A must fail with ConflictError — a
    planned version kept on the instance would have been overwritten by
    the replan and A would have committed a lost update."""
    store = GraphStore(spark, str(tmp_path / "cow"), n_buckets=4, cow_min_bytes=0)
    store.apply_batch([add_vertex(i, "P") for i in range(8)])
    v_a, _, tv_a, te_a, planned_a = store._cow_plan({1}, set())
    store.apply_batch([add_vertex(100, "P")])  # statement B commits
    store._cow_plan({1}, set())  # a later statement replans
    with pytest.raises(ConflictError, match="moved to"):
        store._commit_version(v_a, None, tv_a, te_a, planned_a)
    assert store.vertices().count() == 9


def test_cow_commit_vacuum_mutual_exclusion(spark, tmp_path):
    """The single-writer contract is ENFORCED by the store's writer
    lock: interleaved commits and vacuums from two threads never
    corrupt the store (without the lock, vacuum can relocate a layer a
    concurrent commit is inheriting — the inherited manifest path then
    dangles)."""
    import threading

    path = str(tmp_path / "cow")
    store = GraphStore(spark, path, n_buckets=4, cow_min_bytes=0)
    store.apply_batch([add_vertex(i, "P", {"n": 0}) for i in range(8)])
    errors = []

    def committer():
        s = GraphStore(spark, path, cow_min_bytes=0)
        for k in range(1, 7):
            try:
                s.apply_batch([update_vertex_props(5, {"n": k})])
            except ConflictError:
                pass  # OCC loser — legal under concurrency
            except Exception as e:  # noqa: BLE001
                errors.append(e)

    def vacuumer():
        s = GraphStore(spark, path, cow_min_bytes=0)
        for _ in range(6):
            try:
                s.vacuum(keep_last=2)
            except Exception as e:  # noqa: BLE001
                errors.append(e)

    t1, t2 = threading.Thread(target=committer), threading.Thread(target=vacuumer)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors
    # every retained version still reads end-to-end
    assert store.vertices().count() == 8
    assert store.get_vertex(5).collect()[0]["properties"]["n"] == "6"


def test_injected_io_sees_only_contract_calls(spark, tmp_path):
    """The store's metadata/maintenance traffic goes through the
    StorageIO port — an injected recorder observes the full commit
    protocol (manifest read/writes, pointer swap, lock), pinning the
    primitives an object-store implementation must provide."""
    from dd_graphdb_spark.storage.fsio import LocalFS

    calls = []

    class Recorder(LocalFS):
        def write_text_atomic(self, path, text):
            calls.append(("write_atomic", path.rsplit("/", 1)[-1]))
            super().write_text_atomic(path, text)

        def acquire_lock(self, path, timeout_s=30.0):
            calls.append(("lock", "acquire"))
            super().acquire_lock(path, timeout_s)

        def release_lock(self, path):
            calls.append(("lock", "release"))
            super().release_lock(path)

        def rename_tree(self, src, dst):
            calls.append(("rename", dst.rsplit("/inherited/", 1)[-1]))
            super().rename_tree(src, dst)

    store = GraphStore(
        spark, str(tmp_path / "cow"), n_buckets=4, cow_min_bytes=0,
        io=Recorder(),
    )
    store.apply_batch([add_vertex(1, "P")])
    # commit = lock → manifest write → meta pointer swap → unlock
    seq = [c for c in calls if c[0] in ("lock", "write_atomic")]
    assert seq[-4:] == [
        ("lock", "acquire"),
        ("write_atomic", "manifest.json"),
        ("write_atomic", "meta.json"),
        ("lock", "release"),
    ]
    store.apply_batch([update_vertex_props(1, {"n": 1})])
    store.apply_batch([update_vertex_props(1, {"n": 2})])
    calls.clear()
    store.vacuum(keep_last=1)
    assert ("lock", "acquire") in calls and ("lock", "release") in calls
    assert any(c[0] == "rename" for c in calls)  # relocation is a rename
    assert store.get_vertex(1).collect()[0]["properties"]["n"] == "2"


def test_cow_manifest_log_checkpoints_and_time_travel(spark, tmp_path, monkeypatch):
    """Manifest log (r14): between checkpoints a commit writes a chain
    DELTA (O(changed buckets), not O(n_buckets)); every version still
    reconstructs exactly (time travel), across checkpoint boundaries,
    reopen, and a vacuum (which rewrites kept manifests as
    self-contained fulls so no kept delta chains through a dead dir)."""
    import json, os

    monkeypatch.setattr(GraphStore, "_MANIFEST_CKPT_EVERY", 4)
    store = GraphStore(spark, str(tmp_path / "cow"), n_buckets=4, cow_min_bytes=0)
    store.apply_batch([add_vertex(i, "P", {"n": "0"}) for i in range(8)])  # v1
    for k in range(1, 9):  # v2..v9 — crosses the v4 and v8 checkpoints
        store.apply_batch([update_vertex_props(4 + (k % 2), {"type": "P", "n": str(k)})])
    docs = {
        v: json.loads(open(os.path.join(store.path, f"v{v}", "manifest.json")).read())
        for v in range(1, 10)
    }
    assert "base" in docs[2] and docs[2]["base"] == 1         # delta
    assert "full" in docs[4] and "full" in docs[8]            # checkpoints
    assert "base" in docs[5] and docs[5]["base"] == 4
    # a delta records ONLY the changed chains (v1 legitimately changes
    # all 4 — the initial load touches every bucket; the 1-row commits
    # after it each record exactly their one mutated bucket)
    changed = [
        len(d["delta"]["vertices"]) for v, d in docs.items()
        if "delta" in d and v > 1
    ]
    assert changed and all(c == 1 for c in changed), changed
    # every version reconstructs: the mutated vertex's n tracks history
    for v, want in [(1, "0"), (2, "1"), (3, "2"), (9, "8")]:
        vid = 4 + (0 if want == "0" else ((int(want)) % 2))
        row = store.vertices(version=v).filter(f"id = {vid}").collect()[0]
        assert row["properties"]["n"] == json.dumps(want), (v, vid, row)
    # reopen reads through the log; vacuum rewrites kept manifests full
    reopened = GraphStore(spark, str(tmp_path / "cow"), cow_min_bytes=0)
    assert reopened.vertices().count() == 8
    reopened.vacuum(keep_last=3)
    for v in (7, 8, 9):
        doc = json.loads(open(os.path.join(store.path, f"v{v}", "manifest.json")).read())
        assert "full" in doc, v
        assert reopened.vertices(version=v).count() == 8
    assert not os.path.isdir(os.path.join(store.path, "v2"))


# ---------------------------------------------------------------------------
# Writer-lock lease protocol (fsio.LocalFS) — r15: a crashed holder's
# lock is broken automatically (pid probe / lease expiry) instead of
# blocking every later commit and vacuum until manual cleanup.
# ---------------------------------------------------------------------------
def _lock_body(pid, expires):
    import json as _json

    return _json.dumps({"writer": "t" * 32, "pid": pid, "expires": expires})


def test_lock_takeover_dead_holder(tmp_path):
    """A lock whose recorded pid is dead is taken over immediately —
    the process-kill regression: the holder is a real child process
    that acquires the lock and exits WITHOUT releasing."""
    import subprocess
    import sys

    from dd_graphdb_spark.storage.fsio import LocalFS

    lock = str(tmp_path / "_writer.lock")
    # child takes the lock (full protocol, real body) and dies holding it
    subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys; sys.path.insert(0, '.')\n"
            "from dd_graphdb_spark.storage.fsio import LocalFS\n"
            f"LocalFS().acquire_lock({lock!r}, timeout_s=5.0)",
        ],
        check=True,
        cwd=".",
    )
    import os as _os

    assert _os.path.exists(lock)  # crashed holder left its lock behind
    t0 = __import__("time").monotonic()
    LocalFS().acquire_lock(lock, timeout_s=5.0)  # takeover, no timeout
    assert __import__("time").monotonic() - t0 < 2.0
    LocalFS().release_lock(lock)


def test_lock_takeover_expired_lease(tmp_path):
    """A LIVE holder past its lease is fenced out (the other-host case,
    where the pid probe cannot see the holder)."""
    import os as _os
    import time as _time

    from dd_graphdb_spark.storage.fsio import LocalFS

    lock = str(tmp_path / "_writer.lock")
    with open(lock, "w") as f:  # live pid, lease expired 10s ago
        f.write(_lock_body(_os.getpid(), _time.time() - 10.0))
    LocalFS().acquire_lock(lock, timeout_s=1.0)
    LocalFS().release_lock(lock)


def test_lock_live_holder_within_lease_blocks(tmp_path):
    """A live holder inside its lease is NOT broken: waiters time out
    with the recovery-guidance error."""
    import os as _os
    import time as _time

    import pytest as _pytest

    from dd_graphdb_spark.storage.fsio import LocalFS

    lock = str(tmp_path / "_writer.lock")
    with open(lock, "w") as f:
        f.write(_lock_body(_os.getpid(), _time.time() + 3600.0))
    with _pytest.raises(TimeoutError, match="LIVE holder"):
        LocalFS().acquire_lock(lock, timeout_s=0.3)
    assert _os.path.exists(lock)  # the live lock was not disturbed


def test_lock_legacy_bare_pid_body(tmp_path):
    """Pre-lease lock files (bare pid) still work: dead pid → takeover,
    live pid → treated as held (no lease recorded, so no expiry)."""
    import os as _os
    import subprocess
    import sys

    import pytest as _pytest

    from dd_graphdb_spark.storage.fsio import LocalFS

    lock = str(tmp_path / "_writer.lock")
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    with open(lock, "w") as f:
        f.write(str(dead.pid))
    LocalFS().acquire_lock(lock, timeout_s=2.0)
    LocalFS().release_lock(lock)
    with open(lock, "w") as f:
        f.write(str(_os.getpid()))
    with _pytest.raises(TimeoutError):
        LocalFS().acquire_lock(lock, timeout_s=0.3)


def test_lock_mutual_exclusion_under_thread_contention(tmp_path):
    """The lease machinery preserves the core guarantee: N threads
    hammering acquire/release never overlap in the critical section."""
    import threading

    from dd_graphdb_spark.storage.fsio import LocalFS

    lock = str(tmp_path / "_writer.lock")
    io = LocalFS()
    inside = []
    errors = []

    def worker():
        for _ in range(20):
            try:
                io.acquire_lock(lock, timeout_s=10.0)
                inside.append(1)
                assert len(inside) == 1, "two writers inside the lock"
                inside.pop()
                io.release_lock(lock)
            except Exception as e:  # noqa: BLE001
                errors.append(e)
                return

    threads = [threading.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors


def test_apply_batch_rejects_null_edge_label(store):
    """Edge identity is (src,dst,label) and every edge-key join in the
    store is null-insensitive — NULL labels are rejected at ingestion
    rather than null-safed through the CoW diff/merge joins."""
    from dd_graphdb_spark.storage import add_edge, update_edge_props

    with pytest.raises(ValueError, match="non-null label"):
        store.apply_batch([add_edge(1, 2, None)])
    with pytest.raises(ValueError, match="non-null label"):
        store.apply_batch([update_edge_props(1, 2, None, {"w": 1})])


def test_apply_batch_never_frees_a_concurrent_loops_checkpoint(store, monkeypatch):
    """A fixpoint loop on another thread checkpoints a frame while an
    ``apply_batch`` is between its pin snapshots: the batch's bracket
    must not unpersist that (unrecomputable) checkpoint. The batch is
    started first; its plan step signals, then waits briefly for the
    loop's checkpoint."""
    import threading

    from dd_graphdb_spark.algorithms._iter import _ckpt, _persistent_ids, run_loop

    spark = store.spark
    in_batch, loop_ckpt, batch_done = (threading.Event() for _ in range(3))
    plan = store._cow_plan

    def slow_plan(*args, **kwargs):
        in_batch.set()
        loop_ckpt.wait(timeout=8)
        return plan(*args, **kwargs)

    monkeypatch.setattr(store, "_cow_plan", slow_plan)
    seen, errors = {}, []

    def impl(g):
        before = _persistent_ids(spark)
        x = _ckpt(g.vertices.select("id"))
        seen["ids"] = _persistent_ids(spark) - before
        loop_ckpt.set()
        batch_done.wait(timeout=60)
        seen["pinned"] = seen["ids"] <= _persistent_ids(spark)
        seen["count"] = x.count()
        return x

    def batch():
        try:
            store.apply_batch([add_vertex(3, "Person", {"name": "C"})])
        except Exception as ex:  # noqa: BLE001
            errors.append(ex)
        finally:
            batch_done.set()

    def loop():
        try:
            run_loop(impl, store.as_property_graph())
        except Exception as ex:  # noqa: BLE001
            errors.append(ex)

    b = threading.Thread(target=batch)
    b.start()
    assert in_batch.wait(timeout=60)
    a = threading.Thread(target=loop)
    a.start()
    for t in (a, b):
        t.join(timeout=180)
    assert not a.is_alive() and not b.is_alive()
    assert not errors, errors
    assert seen["ids"] and seen["pinned"]
    assert seen["count"] == 2
    assert store.stats()["vertex_count"] == 3


def _rows(df):
    return sorted(
        (tuple(r[c] for c in df.columns if c != "properties"), sorted((r["properties"] or {}).items()))
        for r in df.collect()
    )


def test_full_rewrite_inherits_untouched_table(spark, tmp_path):
    """Below cow_min_bytes a write rewrites only the tables it touches:
    a vertex-only apply_batch and a vertex-only MATCH..SET each leave
    every edge chain identical to the previous version's, so the edge
    feed over them is empty and scans no file; vacuum then relocates the
    inherited edge layer and both tables still read back exactly."""
    import os

    from dd_graphdb_spark.plans.lower import GQLEngine

    store = GraphStore(spark, str(tmp_path / "g"), n_buckets=4)
    store.apply_batch(
        [add_vertex(i, "P", {"n": i}) for i in range(6)]
        + [add_edge(i, (i + 1) % 6, "next", {"w": i}) for i in range(6)]
    )
    v1 = store.version
    assert not store._cow_active()
    store.apply_batch([update_vertex_props(2, {"type": "P", "n": 20})])
    v2 = store.version
    GQLEngine(store.as_property_graph({"n": "long"}), store=store).execute(
        "MATCH (p:P) WHERE p.id = 3 SET p.n = 30"
    )
    v3 = store.version
    assert v3 == v2 + 1
    for a, b in ((v1, v2), (v2, v3)):
        assert _chains(store, b, "edges") == _chains(store, a, "edges")
        feed = store.changes("edges", a, b)
        assert feed.inputFiles() == []
        assert feed.count() == 0
        # the touched table is still rewritten whole
        assert all(l["s"] == b for c in _chains(store, b, "vertices").values() for l in c)
    verts, edges = _rows(store.vertices()), _rows(store.edges())
    assert len(verts) == 6 and len(edges) == 6
    assert store.get_vertex(3).collect()[0]["properties"]["n"] == "30"
    store.vacuum(keep_last=1)  # v1 owned the edge layer v3 inherits
    assert not os.path.isdir(os.path.join(store.path, f"v{v1}"))
    assert all(
        l["p"].startswith(f"v{v3}/inherited/v{v1}/edges/")
        for c in _chains(store, v3, "edges").values()
        for l in c
    )
    assert _rows(store.vertices()) == verts
    assert _rows(store.edges()) == edges
    # the next vertex-only round relocates the layer again, keeping its
    # original path rather than nesting one inherited/ level per vacuum
    store.apply_batch([update_vertex_props(4, {"type": "P", "n": 40})])
    store.vacuum(keep_last=1)
    assert all(
        l["p"].startswith(f"v{v3 + 1}/inherited/v{v1}/edges/")
        for c in _chains(store, v3 + 1, "edges").values()
        for l in c
    )
    assert _rows(store.edges()) == edges


def test_cow_changes_scan_only_touched_buckets(spark, tmp_path):
    """On a CoW store the change feed reads only the buckets whose
    chain differs between its endpoints."""
    store = GraphStore(spark, str(tmp_path / "cow"), n_buckets=4, cow_min_bytes=0)
    store.apply_batch(
        [add_vertex(i, "P", {"n": i}) for i in range(8)]
        + [add_edge(i, (i + 1) % 8, "next") for i in range(8)]
    )
    v1 = store.version
    # vertex bucket 1 (id 5) and edge bucket 2 (src 6)
    store.apply_batch([update_vertex_props(5, {"n": 50}), add_edge(6, 1, "skip")])
    for table, bucket in (("vertices", 1), ("edges", 2)):
        files = store.changes(table, v1).inputFiles()
        assert files and all(f"_b={bucket}/" in f for f in files), files
    rows = store.changes("vertices", v1).collect()
    assert sorted((r["id"], r["_change_type"], r["properties"]["n"]) for r in rows) == [
        (5, "update_postimage", "50"),
        (5, "update_preimage", "5"),
    ]
    rows = store.changes("edges", v1).collect()
    assert [(r["src"], r["dst"], r["_change_type"]) for r in rows] == [(6, 1, "insert")]
