"""Physical-plan regression guards for the headline queries.

The scale contract (SURVEY.md §7.3, README "Scale posture") is encoded
as assertions over `explain("formatted")` output: filters reach the
parquet scans, projections prune columns, dimension joins broadcast,
and nothing silently degrades to a cartesian product. A refactor that
breaks one of these still returns correct rows at test scale — these
tests are what catches it before a 100 TB run would.
"""

import pytest

SF = "/root/testdata/sf0.001"


def plan(spark, name):
    import __spark_entry__ as E

    df = E.queries()[name](spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


BATCH_QUERIES = [
    "q1_pricing_summary",
    "point_lookup_customer",
    "predicate_scan_customers",
    "join_revenue_per_region",
    "window_topk_per_segment",
    "gql_match_filter",
    "gql_multi_hop",
    "gql_var_length",
    "gql_optional_match",
    "gql_string_predicates",
    "text_tfidf_topk",
    "curation_chunk_docs",
    "curation_mixture_sample",
    "traverse_2hop",
    "dedup_exact",
    "text_quality",
]


@pytest.mark.parametrize("name", BATCH_QUERIES)
def test_no_cartesian_product(spark, name):
    assert "CartesianProduct" not in plan(spark, name), name


def test_q1_pushdown_and_pruning(spark):
    p = plan(spark, "q1_pricing_summary")
    # the shipdate filter must reach the parquet scan ...
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # ... and the scan must NOT read all 16 lineitem columns
    read = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert read.count(":") <= 8, read  # 7 fields needed by q1
    # map-side combine: partial then final aggregate
    assert "partial_sum" in p


def test_point_lookup_pushes_key(spark):
    p = plan(spark, "point_lookup_customer")
    assert "EqualTo(c_custkey" in p  # key filter inside PushedFilters


def test_dim_joins_broadcast(spark):
    # region/nation are small dims: the join picks broadcast, not a
    # data-sized shuffle
    p = plan(spark, "join_revenue_per_region")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_brute_force_topk_broadcasts_query_side(spark):
    # the q_id != nid theta-join is intentionally a broadcast nested
    # loop over the 3-row query side — never a cartesian of the corpus
    p = plan(spark, "sim_cosine_topk")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_asof_join_single_sort_no_nested_loop(spark):
    p = plan(spark, "asof_purchase_attribution")
    # the union+window formulation must not degrade to an inequality
    # join (nested-loop / cartesian) ...
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    # ... and both window frames must share ONE partition sort on the
    # key: exactly one Window node, fed by exactly one sort+exchange
    assert p.count("Window") >= 1
    import re

    sorts = [l for l in p.splitlines() if re.match(r"^\(\d+\) Sort", l.strip())]
    assert len(sorts) == 1, sorts


def _tree_nodes(p):
    """Operator names from the formatted plan's tree section (the
    details section repeats every name, so raw substring counts lie)."""
    import re

    out = []
    for l in p.splitlines():
        m = re.match(r"^[\s:+*-]*\(\d+\)\s+([A-Za-z]+)", l)
        if m:
            out.append(m.group(1))
    return out


def test_time_rollup_single_scan(spark):
    nodes = _tree_nodes(plan(spark, "events_time_rollup"))
    # every grain comes out of ONE parquet scan (Expand + partial agg)
    assert nodes.count("Scan") == 1, nodes
    assert "Expand" in nodes
    assert "partial" in plan(spark, "events_time_rollup").lower()


def test_sampling_no_shuffle_before_aggregate(spark):
    nodes = _tree_nodes(plan(spark, "sample_stratified_docs"))
    # hash-bucket selection is row-local: exactly the one aggregation
    # exchange, no repartition/sort before it
    assert nodes.count("Exchange") == 1, nodes
    assert "Sort" not in nodes


def test_seed_selection_no_global_sort(spark):
    """IVF-centroid / LSH-plane seed pick (similarity._seed_frame):
    "n smallest ids" must plan TakeOrderedAndProject — a bounded
    per-partition heap — never a global Sort or an Exchange of the
    corpus. This is the index-BUILD path at 100 TB."""
    from dd_graphdb_spark.operators.similarity import _seed_frame

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = _seed_frame(emb, 8, "vec_id", "embedding")
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    nodes = _tree_nodes(p)
    assert "TakeOrderedAndProject" in nodes, nodes
    assert "Sort" not in nodes, nodes
    assert "Exchange" not in nodes, nodes


def test_interval_join_uses_time_bounds(spark):
    """Stream-stream interval join, checked on its batch shape: the
    equi-key must be the join key (hash join), the time bounds the
    residual condition — not a nested-loop over the cross product."""
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    from dd_graphdb_spark.graph import read_events

    ev = read_events(spark, SF)
    p_side = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("event_id").alias("pid")
    )
    c_side = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("cts"),
        F.col("event_id").alias("cid"),
    )
    j = p_side.join(
        c_side,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 DAY")),
        "inner",
    )
    p = j._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_ngram_jaccard_skew_salted_plan(spark):
    """The skewed exact-Jaccard query must route hot shingles through
    the salted path: the hot branch replicates the right side across
    salts (Generate explode of the salt array) and joins on (key, salt),
    so no single task computes a hot shingle's d^2 pairs; and nothing
    degrades to a cartesian product."""
    p = plan(spark, "dedup_ngram_jaccard_skew")
    assert "CartesianProduct" not in p
    assert "explode" in p  # salt replication branch present
    assert "_salt" in p    # hot-side join key includes the salt
    # the hot-key set is broadcast to both branches, never shuffled
    assert "BroadcastHashJoin" in p


def test_landmark_centrality_seed_pruning(spark):
    """Landmark closeness seeds only the 5 region vertices: the source
    filter must reach the vertex scan, not materialize all vertices."""
    import __spark_entry__ as E
    from dd_graphdb_spark.suites.algorithms import (
        _LANDMARKS,
        _reversed_tpch_graph,
    )
    from pyspark.sql import functions as F

    g = _reversed_tpch_graph(spark, SF)
    seeds = g.vertices.select("id").distinct().filter(F.col("id").isin(_LANDMARKS))
    p = seeds._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "In(id" in p or "id IN" in p.replace("#", " ").replace("L", "")


def test_salted_pairs_single_pass_shape(spark):
    """Explosive-join parallelism guard + single-pass shape (r16).

    (a) The hot probe side must carry an explicit user repartition —
    `REPARTITION_BY_NUM` shuffles are exempt from AQE coalescing, which
    otherwise coalesced the probe side to ~1 partition and generated a
    hot key's whole d² explosion in one task (1.1B rows single-core at
    sf1).
    (b) The cold self-join must need NO shuffle: the helper's internal
    keyed checkpoint (built with AQE off) preserves
    hashpartitioning(key, n_parts) and the window sort order on both
    sides, so with broadcast disabled the only shuffle exchanges in the
    whole pair plan are the hot side's two (probe repartition + the
    salt-replicated build side).
    (c) Single-pass: the input appears only as checkpoint block scans
    (`Scan ExistingRDD`) — no size-probe aggregate, no broadcast
    anti-joins."""
    from pyspark.sql import functions as F

    from dd_graphdb_spark.operators._skew import salted_self_pairs

    df = spark.range(100).select(
        F.col("id").alias("m"), (F.col("id") % 3).alias("k")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = salted_self_pairs(df, "m", ["k"], salt_threshold=10, n_salts=4)
        p = pairs._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    import re

    assert p.count("REPARTITION_BY_NUM") == 1  # hot probe side
    # hot probe repartition + hot build ENSURE_REQUIREMENTS; the cold
    # join rides the checkpoint's preserved partitioning + ordering
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 2, p
    assert "BroadcastExchange" not in p  # anti-join probes are gone
    # AQE toggle restored after the internal checkpoint build
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_salted_pairs_width_follows_host(spark, monkeypatch):
    """One host-sized width, max(n_salts, 4 × defaultParallelism), sets
    the hot probe's AQE-exempt repartition and caps the keyed
    checkpoint: 16 under the local[4] test session, not a fixed
    n_salts × 16 (64 here, 256 at the callers' n_salts=16) whose hot
    tasks mostly got no rows. An unusable size estimate takes the cap."""
    import re

    from pyspark.sql import functions as F

    from dd_graphdb_spark.algorithms import _iter
    from dd_graphdb_spark.operators._skew import salted_self_pairs

    width = max(4, 4 * spark.sparkContext.defaultParallelism)
    assert width == 16
    df = spark.range(100).select(F.col("id").alias("m"), (F.col("id") % 3).alias("k"))

    def ckpt_parts(ann):
        return ann[0]._jdf.queryExecution().executedPlan().outputPartitioning().numPartitions()

    ann = []
    pairs = salted_self_pairs(df, "m", ["k"], salt_threshold=10, n_salts=4, annotated_out=ann)
    p = pairs._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert re.findall(r"hashpartitioning\([^()]*, (\d+)\), REPARTITION_BY_NUM", p) == ["16"], p
    assert ckpt_parts(ann) <= width

    monkeypatch.setattr(_iter, "plan_size_bytes", lambda _df: None)
    ann = []
    salted_self_pairs(df, "m", ["k"], salt_threshold=10, n_salts=4, annotated_out=ann)
    assert ckpt_parts(ann) == width


def test_salted_pairs_exact_when_cells_outnumber_width(spark):
    """40 hot keys × 8 salts = 320 (key, salt) cells share the 16 hot
    probe partitions of the local[4] session; cold keys and ids that sit
    in both a hot and a cold key ride along. The salted pairs must equal
    the plain self-join's a < b pairs as a multiset."""
    from collections import Counter

    from dd_graphdb_spark.operators._skew import salted_self_pairs

    rows = [(m, m % 40) for m in range(480)]  # 40 hot keys, 12 members each
    rows += [(1000 + m, 100 + m // 3) for m in range(60)]  # 20 cold keys of 3
    rows += [(m, 200 + m % 7) for m in range(0, 480, 17)]  # hot ids in cold keys
    df = spark.createDataFrame(rows, "m long, k long")
    assert 40 * 8 > max(8, 4 * spark.sparkContext.defaultParallelism)

    plain = (
        df.selectExpr("m AS a", "k")
        .join(df.selectExpr("m AS b", "k"), "k")
        .filter("a < b")
        .select("a", "b")
    )
    salted = salted_self_pairs(df, "m", ["k"], salt_threshold=5, n_salts=8).select("a", "b")
    want = Counter(map(tuple, plain.collect()))
    assert sum(want.values()) > 40 * 66  # every hot key's 66 pairs, and more
    assert Counter(map(tuple, salted.collect())) == want


def test_local_df_plans_local_table_scan_for_nested_schemas(spark):
    """local_df must keep planning a LocalTableScan (no Python-RDD
    scan) for every schema shape the engine feeds it — including
    map<string,string> (VERTEX_SCHEMA props) and nested
    array<array<double>> (PQ LUTs), the two shapes ADVICE r15 flagged
    as dependent on Arrow createDataFrame(pandas) support."""
    from dd_graphdb_spark.localrel import local_df

    # the engine's session factory (session.py) enables Arrow; the bare
    # test fixture does not — pin it here, restore after
    prev = spark.conf.get("spark.sql.execution.arrow.pyspark.enabled", "false")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    cases = [
        ([(1, {"k": "v"}), (2, {})], "id long, props map<string,string>"),
        ([(1, [[1.0, 2.0], [3.0]])], "id long, lut array<array<double>>"),
        ([(1, [1.0, 2.0], "x")], "id long, v array<double>, s string"),
        ([], "id long, props map<string,string>"),
    ]
    try:
        for rows, ddl in cases:
            df = local_df(spark, rows, ddl)
            plan = df._jdf.queryExecution().executedPlan().toString()
            # non-empty: Arrow LocalTableScan; empty: JVM Range(0)
            # projection (Arrow cannot build empty object-series
            # map/nested columns) — either way NO Python-RDD scan
            assert "LocalTableScan" in plan or "Range (0, 0" in plan, (ddl, plan[:200])
            assert "Scan ExistingRDD" not in plan, (ddl, plan[:200])
            assert df.count() == len(rows)
    finally:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", prev)


def test_list_surface_stays_per_row(spark):
    """Quantifiers, comprehensions, reduce, and IN-over-list lower to
    higher-order functions evaluated per row inside codegen — the plan
    must contain NO Generate (explode) and NO Exchange beyond what the
    base table access itself needs (here: none — single-table scan)."""
    from dd_graphdb_spark.graph import PropertyGraph
    from dd_graphdb_spark.plans.lower import GQLEngine

    v = spark.createDataFrame(
        [(1, "P", "ab", 3)], "id long, label string, name string, age long"
    )
    e = spark.createDataFrame([], "src long, dst long, label string")
    df = GQLEngine(PropertyGraph(v, e)).execute(
        "MATCH (v:P) "
        "WHERE any(x IN range(1, 99) WHERE v.age = x) "
        "AND v.age IN range(1, 50) "
        "RETURN v.name AS n, "
        "[x IN range(1, 9) WHERE x > 2 | x * 2] AS l, "
        "reduce(acc = 0, x IN range(1, 9) | acc + x) AS s"
    )
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Generate" not in p, p
    assert "Exchange" not in p, p


def test_copartitioned_edges_join_has_no_edge_side_exchange(spark):
    """Fixpoint-loop layout guard (the r9 scale fix): a loop-static edge
    frame checkpointed via copartitioned() must satisfy a subsequent
    join's distribution AND ordering by itself — the executed plan adds
    an Exchange and a Sort only on the frontier side. A plain
    localCheckpoint under AQE loses the layout (UnknownPartitioning) and
    re-shuffles the full edge list every round — at sf10 that was 10
    shuffle-writes of ~400M rows inside one SSSP call."""
    from pyspark.sql import functions as F

    from dd_graphdb_spark.algorithms._iter import copartitioned

    e = spark.range(10_000).select(
        (F.col("id") % 97).alias("src"), (F.col("id") % 89).alias("dst")
    )
    edges = copartitioned(e, "src")
    frontier = spark.range(5).select(F.col("id").alias("vid")).localCheckpoint(eager=True)
    j = frontier.join(edges, frontier.vid == edges.src)
    j.count()  # final adaptive plan
    p = j._jdf.queryExecution().executedPlan().toString()
    # exactly one data exchange (the frontier); a broadcast of the tiny
    # frontier is equally acceptable (also zero edge-side movement)
    n_exchange = p.count("Exchange")
    assert n_exchange <= 1, p
    # the edge side must not be re-sorted: at most the frontier's sort
    assert p.count("Sort ") <= 1, p


def test_pq_encode_is_one_stage(spark):
    """PQ encoding (similarity.pq_encode): codes are a constant-folded
    projection — the 100 TB posture is a write-time column, so the plan
    must be a bare scan + project: no Exchange, no Sort, no join."""
    from dd_graphdb_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cb = S.pq_codebook(emb, 8, 16)
    df = S.pq_encode(emb, cb)
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    nodes = _tree_nodes(p)
    assert "Exchange" not in nodes, nodes
    assert "Sort" not in nodes, nodes
    assert not any("Join" in n for n in nodes), nodes


def test_ivf_pq_scan_is_broadcast_join(spark):
    """IVF-PQ (similarity.ivf_pq_topk): the query side (|Q|·n_probe rows
    of literal LUTs) must broadcast into the code scan — no shuffle of
    the corpus before the per-query top-k window's own exchange (exactly
    one Exchange in the plan, belonging to the window)."""
    from dd_graphdb_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = S.ivf_pq_topk(emb, [0, 1, 2], n_centroids=8, n_probe=2, k=5)
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    nodes = _tree_nodes(p)
    assert any("BroadcastHashJoin" in n for n in nodes), nodes
    assert sum(1 for n in nodes if n.startswith("Exchange")) == 1, nodes


def test_layout_users_registry_matches_query_sources():
    """bench.py's LOAD-phase gating derives from LAYOUT_USERS; this scans
    every registered query's source for the layout-builder markers so a
    new layout reader missing from the registry fails HERE instead of
    silently paying the layout build inside its timed bench window."""
    import inspect

    from dd_graphdb_spark.suites import all_queries
    from dd_graphdb_spark.suites.algorithms import LAYOUT_MARKERS, LAYOUT_USERS

    qs, _ = all_queries(hygiene=False)
    for layout, markers in LAYOUT_MARKERS.items():
        actual = {
            name
            for name, fn in qs.items()
            if any(m in inspect.getsource(fn) for m in markers)
        }
        assert actual == LAYOUT_USERS[layout], (
            f"{layout}: registry {sorted(LAYOUT_USERS[layout])} != "
            f"source-scan {sorted(actual)} — update "
            f"suites.algorithms.LAYOUT_USERS"
        )


def test_call_topk_single_window_no_cartesian(spark):
    """Per-outer-row top-k in a correlated CALL body must lower as ONE
    row_number window over the derived body table + a join back — not a
    per-row re-execution (no cartesian, exactly one Window node)."""
    p = plan(spark, "gql_call_topk")
    assert "CartesianProduct" not in p
    assert p.count("Window") >= 1
    assert "row_number" in p


def test_call_body_with_pipeline_stays_grouped_join(spark):
    """A WITH pipeline inside a correlated CALL body lowers as grouped
    aggregation over the derived table keyed by the witness columns —
    hash aggregates + joins, never a cartesian or per-row
    re-execution."""
    p = plan(spark, "gql_call_with_pipeline")
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p


def test_call_body_with_topk_one_window(spark):
    """WITH ORDER BY/LIMIT inside a CALL body: exactly one row_number
    window partitioned by the witness ids feeds the collect — no global
    sort of the derived table."""
    p = plan(spark, "gql_call_with_topk_collect")
    assert "CartesianProduct" not in p
    assert "row_number" in p


def test_exact_substring_token_linear(spark):
    """The span table is one explode row per token position — the plan
    must stay aggregation-shaped (no cartesian, no self-join of the
    documents table; the only join is span-key ⋈ dup-key set)."""
    p = plan(spark, "dedup_exact_substring")
    assert "CartesianProduct" not in p
    # r15: the span table is checkpointed (it feeds two aggregations),
    # so the final plan reads its blocks — assert the linear explode on
    # the span-table builder itself, and that the query consumes the
    # materialized spans instead of re-generating them
    assert "Scan ExistingRDD" in p
    from dd_graphdb_spark.operators.dedup import _span_table

    docs = spark.createDataFrame([(1, "a b c d e f g h i")], "doc_id long, text string")
    sp = _span_table(docs, 8, "text", "doc_id")
    assert "Generate" in sp._jdf.queryExecution().executedPlan().toString()


def test_semantic_dedup_cell_local_pairs(spark):
    """SemDeDup's pair join must stay cell-bucketed (the salted pair
    path with its explicit user repartition) — no cartesian product,
    and the AQE-exempt REPARTITION_BY_NUM marker present so the
    within-cell explosion keeps its parallelism."""
    p = plan(spark, "dedup_semantic_cells")
    assert "CartesianProduct" not in p
    assert "REPARTITION_BY_NUM" in p


def test_nested_exists_stays_join_shaped(spark):
    """COUNT{} nested in an EXISTS body: grouped count joined inside the
    semi-join frame — still derived-table joins (a LeftSemi present, no
    cartesian)."""
    p = plan(spark, "gql_nested_exists")
    assert "CartesianProduct" not in p
    assert "LeftSemi" in p or "left_semi" in p


def test_multi_with_chain_adds_no_exchange(spark):
    """A 3-stage WITH chain must compile to the SAME exchange set as
    the single-stage equivalent — extra projection stages fuse into
    the surrounding codegen (verified identical at r12: 2 broadcast
    dims + 1 agg hash + 1 sort range)."""
    from dd_graphdb_spark.graph import materialized_tpch_graph
    from dd_graphdb_spark.plans.lower import GQLEngine

    eng = GQLEngine(materialized_tpch_graph(spark, SF))

    def exchanges(q):
        p = eng.execute(q)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        return p.count("Exchange")

    one = exchanges(
        "MATCH (c:Customer)-[:located_in]->(n:Nation) "
        "WITH n.name AS nation, count(*) AS n_cust WHERE n_cust > 25 "
        "RETURN nation, n_cust ORDER BY nation"
    )
    three = exchanges(
        "MATCH (c:Customer)-[:located_in]->(n:Nation) "
        "WITH n.name AS nation, count(*) AS n_cust "
        "WITH nation, n_cust WHERE n_cust > 25 "
        "WITH nation, n_cust * 2 AS score "
        "RETURN nation, score ORDER BY nation"
    )
    assert three == one


def test_materialized_graph_one_file_per_bucket(spark):
    """The materialized graph layout writes one file per bucket: each
    frame is hash-partitioned on its bucket column before the bucketed
    write, so each write task holds one bucket. Without it every write
    task emits a file per bucket it sees (61–65 files per table at
    sf0.01), and every GQL scan opens them all. The layout must still
    carry its bucket spec: bindings ⋈ edges on src shuffles only the
    bindings side."""
    import re

    from pyspark.sql import functions as F

    from dd_graphdb_spark.graph import materialized_tpch_graph

    buckets = 16
    g = materialized_tpch_graph(spark, SF, buckets)
    assert len(g.vertices.inputFiles()) <= buckets, g.vertices.inputFiles()
    assert len(g.edges.inputFiles()) <= buckets, g.edges.inputFiles()
    bindings = spark.range(100).select((F.col("id") + 10_000_000).alias("vid"))
    # a merge hint keeps the tiny bindings side from being broadcast,
    # so the plan shows which side is shuffled
    j = bindings.join(g.edges.hint("merge"), bindings.vid == g.edges.src)
    p = j._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    nodes = [l for l in p.splitlines() if re.match(r"^\(\d+\) Exchange", l)]
    assert len(nodes) == 1, p
    assert "Arguments: hashpartitioning(vid" in p, p
    assert "Bucketed: true" in p, p


def test_with_star_filter_reaches_scan(spark):
    """WITH * WHERE c.acctbal > x must push the predicate into the
    parquet scan (the star stage is a projection, not a barrier)."""
    p = plan(spark, "gql_with_star")
    assert "PushedFilters" in p
    import re

    pushed = [
        l for l in p.split("\n") if "PushedFilters" in l and "acctbal" in l
    ]
    assert pushed, "acctbal filter not pushed to any scan"


def test_semantic_multiprobe_stays_cell_local(spark):
    """Multi-probe SemDeDup keeps the salted cell-bucketed pair path —
    no cartesian product appears from the probe-cell explode."""
    p = plan(spark, "dedup_semantic_multiprobe")
    assert "CartesianProduct" not in p
    assert "REPARTITION_BY_NUM" in p


def test_capped_colocation_layout_is_rank_join(spark):
    """The capped colocation SSSP must read the bucketed lattice —
    never a nation-clique pair join (no cartesian, no broadcast
    nested loop over suppliers)."""
    p = plan(spark, "algo_sssp_colocation_capped")
    assert "CartesianProduct" not in p
