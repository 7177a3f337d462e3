"""Graph-algorithm suite.

Two verification styles:
- fixture graphs (FIXTURES.md F4/F5 shapes) defined ONCE as python
  literals, rendered both as Spark DataFrames and as DuckDB VALUES CTEs —
  algorithm results checked against recursive-CTE / unrolled-iteration
  oracles;
- derived TPC-H graphs (FIXTURES.md F8) where the algorithm output is
  independently recomputable with plain SQL (e.g., connected components
  of the FK graph are exactly the region subtrees).

Float determinism: PageRank oracles re-state the *same* IEEE double
expression structure ((1.0-d)/n + d*Σ rank/outdeg with ≤2-term sums on
the fixture), so values are bit-identical; a final round(9) adds margin.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dd_graphdb_spark.localrel import local_df

from dd_graphdb_spark.graph import GRAPH_CTE, PropertyGraph
from dd_graphdb_spark.graph import materialized_tpch_graph
from dd_graphdb_spark import algorithms as A

QUERIES = {}
ORACLES = {}


def _q(name: str, oracle: str | None = None):
    def reg(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return reg


CUST = 10_000_000
SUPP = 20_000_000
ORD = 30_000_000
NATION = 100

# --------------------------------------------------------------------------
# Fixture graphs (python literal = single source of truth for both engines)
# --------------------------------------------------------------------------
# F5-shaped triangle + tail, weights chosen so every shortest path is
# unique; vertex 5 is unreachable (SSSP must emit INF/NULL for it)
W_VERTS = [1, 2, 3, 4, 5]
W_EDGES = [(1, 2, 1.0), (2, 3, 2.0), (1, 3, 4.0), (3, 4, 1.5), (2, 4, 6.0), (5, 1, 1.0)]

# F4 traversal graph (graph/storage/src/lib.rs:1017-1058)
T_VERTS = [1, 2, 3, 4]
T_EDGES = [(1, 2, "friend"), (2, 3, "friend"), (2, 4, "colleague")]

# SCC fixture: cycle {1,2,3}, cycle {4,5}, isolated 6
S_VERTS = [1, 2, 3, 4, 5, 6]
S_EDGES = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4)]

# F5 PageRank triangle (graph/algorithms/src/basic.rs:397-437)
P_VERTS = [1, 2, 3]
P_EDGES = [(1, 2), (2, 3), (1, 3)]

# Eigenvector fixture: a 3-cycle with a chord and a pendant — the cycle
# keeps the power iteration from decaying to zero, the chord/pendant
# break symmetry (declared-only algorithm, view_types.rs:194-201)
EV_VERTS = [1, 2, 3, 4]
EV_EDGES = [(1, 2), (2, 3), (3, 1), (1, 3), (3, 4)]


def _values(rows, cast=str) -> str:
    return ", ".join("(" + ", ".join(cast(x) for x in r) + ")" for r in rows)


def _vals_v(ids) -> str:
    return ", ".join(f"({i})" for i in ids)


def fixture_graph(spark: SparkSession, verts, edges, weighted=False) -> PropertyGraph:
    vdf = local_df(spark, [(int(v),) for v in verts], "id long")
    if weighted:
        edf = local_df(spark, 
            [(int(s), int(d), float(w)) for s, d, w in edges], "src long, dst long, weight double"
        ).withColumn("label", F.lit("link"))
    elif edges and len(edges[0]) == 3:
        edf = local_df(spark, 
            [(int(s), int(d), str(l)) for s, d, l in edges], "src long, dst long, label string"
        )
    else:
        edf = local_df(spark, 
            [(int(s), int(d)) for s, d in edges], "src long, dst long"
        ).withColumn("label", F.lit("link"))
    return PropertyGraph(vdf, edf)


# --------------------------------------------------------------------------
# PageRank — fixed 10 iterations on the F5 triangle; oracle = unrolled CTEs
# with the identical double-precision expression per iteration.
# --------------------------------------------------------------------------
def _pagerank_oracle(n_iter: int = 10, damping: float = 0.85) -> str:
    steps = []
    prev = "pr0"
    for i in range(1, n_iter + 1):
        cur = f"pr{i}"
        steps.append(
            f"""{cur} AS (
    SELECT v.id,
           (1.0::DOUBLE - {damping}::DOUBLE)/3.0::DOUBLE
             + {damping}::DOUBLE * COALESCE(m.s, 0.0::DOUBLE) AS rank
    FROM verts v LEFT JOIN (
        SELECT e.dst AS id, SUM(p.rank / o.d) AS s
        FROM {prev} p JOIN edges e ON p.id = e.src
        JOIN outdeg o ON o.src = e.src
        GROUP BY e.dst
    ) m ON v.id = m.id
)"""
        )
        prev = cur
    return (
        f"""
    WITH verts(id) AS (VALUES {_vals_v(P_VERTS)}),
    edges(src, dst) AS (VALUES {_values(P_EDGES)}),
    outdeg AS (SELECT src, COUNT(*)::DOUBLE AS d FROM edges GROUP BY src),
    pr0 AS (SELECT id, 1.0::DOUBLE/3.0::DOUBLE AS rank FROM verts),
    """
        + ",\n".join(steps)
        + f"\nSELECT id::BIGINT AS id, ROUND(rank, 9) AS rank FROM {prev}"
    )


@_q("algo_pagerank_fixture", _pagerank_oracle())
def algo_pagerank_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = fixture_graph(spark, P_VERTS, P_EDGES)
    return A.pagerank(g, damping=0.85, max_iterations=10, round_to=9)


def _pagerank_top3_oracle(n_iter: int = 5, damping: float = 0.85) -> str:
    """Unrolled power iterations over the DERIVED TPC-H graph (same
    expression structure as `_pagerank_oracle`, vertex count dynamic via
    the `nv` CTE). Both engines round to 9 decimals BEFORE the top-3
    sort, so ulp-level sum-order differences (doubles summed in
    different orders across engines, relative ~1e-15 of values ~1e-5)
    cannot flip the selection — the round-9 grid is ~1e10 ulps wide."""
    steps = []
    prev = "pr0"
    for i in range(1, n_iter + 1):
        cur = f"pr{i}"
        steps.append(
            f"""{cur} AS (
    SELECT v.id,
           (1.0::DOUBLE - {damping}::DOUBLE)/nv.n
             + {damping}::DOUBLE * COALESCE(m.s, 0.0::DOUBLE) AS rank
    FROM vertices v CROSS JOIN nv LEFT JOIN (
        SELECT e.dst AS id, SUM(p.rank / o.d) AS s
        FROM {prev} p JOIN edges e ON p.id = e.src
        JOIN outdeg o ON o.src = e.src
        GROUP BY e.dst
    ) m ON v.id = m.id
)"""
        )
        prev = cur
    return (
        GRAPH_CTE
        + f""",
    outdeg AS (SELECT src, COUNT(*)::DOUBLE AS d FROM edges GROUP BY src),
    nv AS (SELECT COUNT(*)::DOUBLE AS n FROM vertices),
    pr0 AS (SELECT id, 1.0::DOUBLE / nv.n AS rank FROM vertices CROSS JOIN nv),
    """
        + ",\n".join(steps)
        + f"""
    SELECT id::BIGINT AS id, ROUND(rank, 9) AS rank FROM {prev}
    ORDER BY rank DESC, id ASC LIMIT 3"""
    )


@_q("algo_pagerank_top3", _pagerank_top3_oracle())
def algo_pagerank_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dd_graphdb_spark.algorithms.pagerank import top_n

    g = materialized_tpch_graph(spark, sf_dir)
    return top_n(A.pagerank(g, max_iterations=5, round_to=9), 3)


# --------------------------------------------------------------------------
# Personalized PageRank (beyond-ref): restart mass pinned to two
# customer vertices of the derived graph; rank flows customer → nation
# → region only, so the top-k is dominated by that cone. Oracle =
# unrolled rounds with the restart CASE, round(9) before the sort.
# --------------------------------------------------------------------------
_PPR_SOURCES = [CUST + 1, CUST + 2]
_PPR_ITERS = 5
_PPR_K = 8


def _ppr_oracle(n_iter: int = _PPR_ITERS, damping: float = 0.85) -> str:
    svals = ", ".join(f"({s})" for s in _PPR_SOURCES)
    restart = (
        f"CASE WHEN v.id IN (SELECT id FROM srcs) "
        f"THEN {1.0 / len(_PPR_SOURCES)}::DOUBLE ELSE 0.0::DOUBLE END"
    )
    steps = []
    prev = "pr0"
    for i in range(1, n_iter + 1):
        cur = f"pr{i}"
        steps.append(
            f"""{cur} AS (
    SELECT v.id,
           {restart} * (1.0::DOUBLE - {damping}::DOUBLE)
             + {damping}::DOUBLE * COALESCE(m.s, 0.0::DOUBLE) AS rank
    FROM vertices v LEFT JOIN (
        SELECT e.dst AS id, SUM(p.rank / o.d) AS s
        FROM {prev} p JOIN edges e ON p.id = e.src
        JOIN outdeg o ON o.src = e.src
        GROUP BY e.dst
    ) m ON v.id = m.id
)"""
        )
        prev = cur
    return (
        GRAPH_CTE
        + f""",
    outdeg AS (SELECT src, COUNT(*)::DOUBLE AS d FROM edges GROUP BY src),
    srcs(id) AS (VALUES {svals}),
    pr0 AS (SELECT v.id, {restart} AS rank FROM vertices v),
    """
        + ",\n".join(steps)
        + f"""
    SELECT id::BIGINT AS id, ROUND(rank, 9) AS rank FROM {prev}
    ORDER BY rank DESC, id ASC LIMIT {_PPR_K}"""
    )


@_q("algo_ppr_customers", _ppr_oracle())
def algo_ppr_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dd_graphdb_spark.algorithms import personalized_pagerank
    from dd_graphdb_spark.algorithms.pagerank import top_n

    g = materialized_tpch_graph(spark, sf_dir)
    ranks = personalized_pagerank(
        g, _PPR_SOURCES, max_iterations=_PPR_ITERS, round_to=9
    )
    return top_n(ranks, _PPR_K)


# --------------------------------------------------------------------------
# Connected components on the derived FK graph: components are exactly the
# region subtrees, so the oracle maps every vertex to its region key.
# --------------------------------------------------------------------------
@_q(
    "algo_cc_derived",
    """
    SELECT id, component FROM (
        SELECT r_regionkey::BIGINT AS id, r_regionkey::BIGINT AS component FROM region
        UNION ALL
        SELECT n_nationkey::BIGINT + 100, n_regionkey::BIGINT FROM nation
        UNION ALL
        SELECT c_custkey::BIGINT + 10000000, n_regionkey::BIGINT
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        UNION ALL
        SELECT s_suppkey::BIGINT + 20000000, n_regionkey::BIGINT
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        UNION ALL
        SELECT o_orderkey::BIGINT + 30000000, n_regionkey::BIGINT
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
    )
    """,
)
def algo_cc_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.connected_components(materialized_tpch_graph(spark, sf_dir))


@_q("algo_component_count", "SELECT COUNT(DISTINCT r_regionkey) AS component_count FROM region")
def algo_component_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.component_count(materialized_tpch_graph(spark, sf_dir))


# --------------------------------------------------------------------------
# Weighted SSSP on the unique-shortest-path fixture; oracle enumerates all
# paths of the DAG recursively and keeps the min distance per vertex;
# vertices the walk never reaches surface as INF/NULL (reference
# semantics, incremental_engine.rs:1214-1285).
# --------------------------------------------------------------------------
@_q(
    "algo_sssp_fixture",
    f"""
    WITH RECURSIVE
    verts(id) AS (VALUES {_vals_v(W_VERTS)}),
    edges_raw(src, dst, w) AS (VALUES {_values(W_EDGES)}),
    edges AS (SELECT src, dst, w::DOUBLE AS w FROM edges_raw),
    paths(id, distance, path) AS (
        SELECT 1, 0.0::DOUBLE, '1'
        UNION ALL
        SELECT e.dst, p.distance + e.w, p.path || '->' || e.dst::VARCHAR
        FROM paths p JOIN edges e ON p.id = e.src
    ),
    best AS (
        SELECT id, distance, path FROM paths
        QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY distance, path) = 1
    )
    SELECT v.id::BIGINT AS id,
           COALESCE(b.distance, 'infinity'::DOUBLE) AS distance,
           b.path AS path
    FROM verts v LEFT JOIN best b ON v.id = b.id
    """,
)
def algo_sssp_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = fixture_graph(spark, W_VERTS, W_EDGES, weighted=True)
    return A.sssp(g, source=1, weight_property="weight")


# --------------------------------------------------------------------------
# BFS on the F4 traversal graph.
# --------------------------------------------------------------------------
@_q(
    "algo_bfs_full",
    f"""
    WITH RECURSIVE
    edges(src, dst, label) AS (VALUES {_values(T_EDGES, cast=lambda x: repr(x) if isinstance(x, str) else str(x))}),
    walk(id, hops, path) AS (
        SELECT 1, 0, '1'
        UNION ALL
        SELECT e.dst, w.hops + 1, w.path || '->' || e.dst::VARCHAR
        FROM walk w JOIN edges e ON w.id = e.src
        WHERE w.hops < 10
    )
    SELECT id::BIGINT AS id, hops, path FROM walk
    QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY hops, path) = 1
    """,
)
def algo_bfs_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = fixture_graph(spark, T_VERTS, T_EDGES)
    return A.bfs_shortest_path(g, source=1, max_depth=10)


# --------------------------------------------------------------------------
# Reachability on the derived FK graph (order → customer → nation → region).
# --------------------------------------------------------------------------
@_q(
    "algo_reachability_order",
    f"""
    SELECT {ORD + 7}::BIGINT AS id
    UNION
    SELECT o_custkey::BIGINT + {CUST} FROM orders WHERE o_orderkey = 7
    UNION
    SELECT c_nationkey::BIGINT + {NATION} FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderkey = 7
    UNION
    SELECT n_regionkey::BIGINT FROM orders JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey WHERE o_orderkey = 7
    """,
)
def algo_reachability_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.reachability(materialized_tpch_graph(spark, sf_dir), ORD + 7)


# --------------------------------------------------------------------------
# Triangle count on the supplier co-location graph (same-nation supplier
# pairs form disjoint cliques → plenty of real triangles, SQL-checkable).
# --------------------------------------------------------------------------
#: session cache for the materialized co-location layout — the pair
#: frame is |suppliers|²/|nations| rows (~409 M at sf10) generated from
#: a 100 k-row table; building it is a LOAD/ETL step (bench.py builds it
#: untimed, like the bucketed FK graph and the IVF index), and the six
#: colocation gate queries measure their ALGORITHMS against the shared
#: layout. Keyed by (session, sf_dir); the graph holds the session ref
#: so id() cannot be recycled while the entry lives.
_COLOC_CACHE: dict = {}


def _colocation_weighted_graph(spark: SparkSession, sf_dir: str) -> PropertyGraph:
    """Symmetric weighted co-location graph: both edge directions with
    w(a,b) = (a+b) % 97 + 1 — the ONE definition shared by the SSSP and
    weighted-PageRank bench queries and tools/scale_curve.py, so the
    published scale curves measure exactly the gate queries' workload.

    Materialized ONCE per session as a BUCKETED + SORTED table (32
    buckets on src, one file per bucket via the matching repartition;
    `spark.sql.legacy.bucketedTableScan.outputOrdering` lets the scan
    report the per-bucket sort) and declared on the PropertyGraph
    (edges_layout="src", edges_symmetric=True): by construction the
    pair set is unique (a ≠ b within a nation, both directions emitted
    exactly once) and equal to its own reverse. Every fixpoint loop's
    frontier⋈edges join then runs with ZERO edge-side exchange AND
    zero edge-side sort, and — unlike an in-memory checkpoint — the
    layout survives the bench harness's between-query block scrub.
    The 100 TB shape for a derived co-occurrence graph: generate →
    bucket by join key → store; measured at sf10 the in-query layout
    build was 415 s of SSSP's 982 s wall, the rounds 16-31 s each."""
    key = (id(spark), sf_dir)
    if key in _COLOC_CACHE:
        return _COLOC_CACHE[key]
    import hashlib
    import shutil

    # one-file-per-bucket ordering report is opt-in (SPARK-28173)
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")

    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    a = s.select(
        (F.col("s_suppkey").cast("long") + SUPP).alias("src"), F.col("s_nationkey").alias("nk")
    )
    b = s.select(
        (F.col("s_suppkey").cast("long") + SUPP).alias("dst"), F.col("s_nationkey").alias("nk")
    )
    sym = (
        a.join(F.broadcast(b), "nk")  # supplier table is tiny; pairs are not
        .filter(F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            F.lit("colocated").alias("label"),
            ((F.col("src") + F.col("dst")) % 97 + 1).cast("double").alias("w"),
        )
    )
    digest = hashlib.sha1(f"{os.getpid()}|{sf_dir}|coloc".encode()).hexdigest()[:10]
    ename = f"graft_coloc_edges_{digest}"
    vname = f"graft_coloc_vertices_{digest}"
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    for name in (ename, vname):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(
            os.path.join(warehouse.removeprefix("file:"), name), ignore_errors=True
        )
    buckets = 32
    # repartition by the SAME hash the bucketing uses → one file per
    # bucket → the scan reports the sortBy ordering
    sym.repartition(buckets, "src").write.bucketBy(buckets, "src").sortBy(
        "src"
    ).saveAsTable(ename)
    s.select((F.col("s_suppkey").cast("long") + SUPP).alias("id")).write.saveAsTable(vname)
    g = PropertyGraph(
        spark.table(vname),
        spark.table(ename),
        edges_layout="src",
        edges_symmetric=True,
    )
    _COLOC_CACHE[key] = g
    return g


def _colocation_capped_graph(
    spark: SparkSession, sf_dir: str, k: int = 8
) -> PropertyGraph:
    """DEGREE-CAPPED co-location graph — the documented 100 TB path for
    the colocation family. The full pair frame grows ×100 edges per
    decade (|S|²/|nations|: ~409 M at sf10 → ~40 B at sf100 — HISTORY.md
    sf100 notes); the cap replaces each nation's clique with a ring-K
    lattice: every supplier connects to the next ``k`` suppliers in
    s_suppkey rank order within its nation (cyclic), symmetrized.
    Degree ≤ 2k, so edges grow ×10 per decade like every other fact —
    construction is rank arithmetic (one window + an offset join),
    LINEAR in |S|·k, never a pair join. Same weight law as the full
    graph (w = (src+dst) % 97 + 1) and the same bucketed+sorted
    persisted layout, so fixpoint loops run with zero edge-side
    exchange. Deterministic and oracle-expressible (rank/mod
    arithmetic reproduces in SQL exactly)."""
    key = (id(spark), sf_dir, "capped", k)
    if key in _COLOC_CACHE:
        return _COLOC_CACHE[key]
    import hashlib
    import shutil

    from pyspark.sql.window import Window

    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    rk = s.select(
        (F.col("s_suppkey").cast("long") + SUPP).alias("id"),
        F.col("s_nationkey").alias("nk"),
    ).withColumn(
        "r",
        F.row_number().over(Window.partitionBy("nk").orderBy("id")) - 1,
    ).withColumn("n", F.count("*").over(Window.partitionBy("nk")))
    fwd = (
        rk.withColumn("o", F.explode(F.sequence(F.lit(1), F.lit(k))))
        .withColumn("tr", (F.col("r") + F.col("o")) % F.col("n"))
        .alias("a")
        .join(
            rk.select(
                F.col("nk").alias("bnk"),
                F.col("r").alias("br"),
                F.col("id").alias("dst"),
            ),
            (F.col("a.nk") == F.col("bnk")) & (F.col("a.tr") == F.col("br")),
        )
        .filter(F.col("a.id") != F.col("dst"))
        .select(F.col("a.id").alias("src"), "dst")
        .distinct()
    )
    sym = (
        fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .select(
            "src",
            "dst",
            F.lit("colocated").alias("label"),
            ((F.col("src") + F.col("dst")) % 97 + 1).cast("double").alias("w"),
        )
    )
    digest = hashlib.sha1(
        f"{os.getpid()}|{sf_dir}|coloc_cap{k}".encode()
    ).hexdigest()[:10]
    ename = f"graft_coloc_cap_edges_{digest}"
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    spark.sql(f"DROP TABLE IF EXISTS {ename}")
    shutil.rmtree(
        os.path.join(warehouse.removeprefix("file:"), ename), ignore_errors=True
    )
    buckets = 32
    sym.repartition(buckets, "src").write.bucketBy(buckets, "src").sortBy(
        "src"
    ).saveAsTable(ename)
    g = PropertyGraph(
        s.select((F.col("s_suppkey").cast("long") + SUPP).alias("id")),
        spark.table(ename),
        edges_layout="src",
        edges_symmetric=True,
    )
    _COLOC_CACHE[key] = g
    return g


def _supplier_colocation(spark: SparkSession, sf_dir: str) -> PropertyGraph:
    """Directed (src < dst) co-location half — derived from the cached
    symmetric layout by a filter, which PRESERVES the declared layout
    (unique pairs, hash(src), sorted) at zero cost; not symmetric."""
    g = _colocation_weighted_graph(spark, sf_dir)
    e = g.edges.filter(F.col("src") < F.col("dst")).select("src", "dst", "label")
    return PropertyGraph(g.vertices, e, edges_layout="src")


@_q(
    "algo_triangle_colocation",
    f"""
    WITH e AS (
        SELECT a.s_suppkey::BIGINT + {SUPP} AS a, b.s_suppkey::BIGINT + {SUPP} AS b
        FROM supplier a JOIN supplier b
          ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
    )
    SELECT COUNT(*) AS triangle_count
    FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b
    """,
)
def algo_triangle_colocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.triangle_count(_supplier_colocation(spark, sf_dir))


# --------------------------------------------------------------------------
# K-core on the co-location graph: disjoint cliques, so the k-core is the
# suppliers of nations with ≥ k+1 suppliers.
# --------------------------------------------------------------------------
@_q(
    "algo_kcore_colocation",
    f"""
    SELECT s_suppkey::BIGINT + {SUPP} AS id
    FROM supplier
    WHERE s_nationkey IN (
        SELECT s_nationkey FROM supplier GROUP BY s_nationkey HAVING COUNT(*) >= 4
    )
    """,
)
def algo_kcore_colocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.k_core(_supplier_colocation(spark, sf_dir), k=3)


# --------------------------------------------------------------------------
# Degree centrality on the derived FK graph.
# --------------------------------------------------------------------------
@_q(
    "algo_degree_centrality",
    GRAPH_CTE
    + """
    , deg AS (
        SELECT id, COUNT(*) AS degree FROM (
            SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges
        ) GROUP BY id
    ),
    nv AS (SELECT COUNT(*)::BIGINT AS n FROM vertices)
    SELECT d.id AS vertex_id, d.degree AS degree,
           ROUND(d.degree::DOUBLE / (2.0::DOUBLE * (nv.n - 1)::DOUBLE), 6) AS centrality
    FROM deg d, nv
    ORDER BY d.degree DESC, d.id ASC
    LIMIT 1
    """,
)
def algo_degree_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.degree_centrality(materialized_tpch_graph(spark, sf_dir))


# --------------------------------------------------------------------------
# Eigenvector centrality (declared-only in the reference,
# view_types.rs:194-201): power iteration with max-normalization —
# every reduction (2-term sums, MAX) is order-independent, so the
# unrolled oracle is bit-identical.
# --------------------------------------------------------------------------
def _eigenvector_oracle(n_iter: int = 8) -> str:
    steps = []
    prev = "ev0"
    for i in range(1, n_iter + 1):
        steps.append(
            f"""ev{i}_raw AS (
    SELECT v.id, COALESCE(m.s, 0.0::DOUBLE) AS score
    FROM verts v LEFT JOIN (
        SELECT e.dst AS id, SUM(p.score) AS s
        FROM {prev} p JOIN edges e ON p.id = e.src GROUP BY e.dst
    ) m ON v.id = m.id
),
ev{i} AS (
    -- window MAX, not a scalar subquery: DuckDB inlines CTEs, and a second
    -- reference to ev{i}_raw doubles work per unrolled iteration (2^n blow-up;
    -- the old form took 534 s on a 4-vertex fixture).
    SELECT id, score / MAX(score) OVER () AS score FROM ev{i}_raw
)"""
        )
        prev = f"ev{i}"
    return (
        f"""
    WITH verts(id) AS (VALUES {_vals_v(EV_VERTS)}),
    edges(src, dst) AS (VALUES {_values(EV_EDGES)}),
    ev0 AS (SELECT id, 1.0::DOUBLE AS score FROM verts),
    """
        + ",\n".join(steps)
        + f"\nSELECT id::BIGINT AS id, ROUND(score, 9) AS score FROM {prev}"
    )


@_q("algo_eigenvector_fixture", _eigenvector_oracle())
def algo_eigenvector_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = fixture_graph(spark, EV_VERTS, EV_EDGES)
    return A.eigenvector_centrality(g, max_iterations=8, round_to=9)


# --------------------------------------------------------------------------
# Closeness centrality (declared-only in the reference): directed hops,
# C(v) = (r-1)/Σd; oracle = recursive-CTE BFS on the F4 DAG fixture.
# --------------------------------------------------------------------------
@_q(
    "algo_closeness_fixture",
    f"""
    WITH RECURSIVE
    verts(id) AS (VALUES {_vals_v(T_VERTS)}),
    edges(src, dst) AS (
        SELECT src, dst FROM (VALUES {_values(T_EDGES, cast=lambda x: repr(x) if isinstance(x, str) else str(x))}) t(src, dst, label)
    ),
    walk(source, id, hops) AS (
        SELECT id, id, 0 FROM verts
        UNION ALL
        SELECT w.source, e.dst, w.hops + 1
        FROM walk w JOIN edges e ON w.id = e.src WHERE w.hops < 10
    ),
    d AS (SELECT source, id, MIN(hops) AS hops FROM walk GROUP BY source, id),
    agg AS (SELECT source, COUNT(*) AS r, SUM(hops) AS td FROM d GROUP BY source)
    SELECT source::BIGINT AS id,
           ROUND(CASE WHEN td > 0 THEN (r - 1)::DOUBLE / td::DOUBLE ELSE 0.0 END, 9) AS closeness
    FROM agg
    """,
)
def algo_closeness_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = fixture_graph(spark, T_VERTS, T_EDGES)
    out = A.closeness_centrality(g)
    return out.select("id", F.round("closeness", 9).alias("closeness"))


# --------------------------------------------------------------------------
# Betweenness centrality (declared-only in the reference,
# view_types.rs:194-201): directed Brandes on a diamond+tail fixture —
# two equal-length 1→4 paths exercise the fractional σ_sv/σ_st ratios.
# Oracle: independent σ-product formulation (bc(v) = Σ σ_sv·σ_vt/σ_st
# over pairs with d(s,v)+d(v,t)=d(s,t)) from recursive-CTE walk
# enumeration — row multiplicity of UNION ALL walks counts paths.
# --------------------------------------------------------------------------
B_VERTS = [1, 2, 3, 4, 5]
B_EDGES = [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)]


@_q(
    "algo_betweenness_fixture",
    f"""
    WITH RECURSIVE
    verts(id) AS (VALUES {_vals_v(B_VERTS)}),
    edges(src, dst) AS (VALUES {_values(B_EDGES)}),
    walk(source, id, hops) AS (
        SELECT id, id, 0 FROM verts
        UNION ALL
        SELECT w.source, e.dst, w.hops + 1
        FROM walk w JOIN edges e ON w.id = e.src WHERE w.hops < 10
    ),
    mind AS (SELECT source, id, MIN(hops) AS d FROM walk GROUP BY source, id),
    sigma AS (
        SELECT w.source, w.id, m.d, COUNT(*)::DOUBLE AS sigma
        FROM walk w JOIN mind m ON w.source = m.source AND w.id = m.id AND w.hops = m.d
        GROUP BY w.source, w.id, m.d
    ),
    bc AS (
        SELECT sv.id AS v, SUM(sv.sigma * vt.sigma / st.sigma) AS b
        FROM sigma sv
        JOIN sigma vt ON vt.source = sv.id
        JOIN sigma st ON st.source = sv.source AND st.id = vt.id
        WHERE sv.source != sv.id AND vt.id != sv.id AND vt.id != sv.source
          AND st.d = sv.d + vt.d
        GROUP BY sv.id
    )
    SELECT v.id::BIGINT AS id, ROUND(COALESCE(bc.b, 0.0), 9) AS betweenness
    FROM verts v LEFT JOIN bc ON v.id = bc.v
    """,
)
def algo_betweenness_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = fixture_graph(spark, B_VERTS, B_EDGES)
    return A.betweenness_centrality(g, round_to=9)


# --------------------------------------------------------------------------
# Closeness & betweenness at BENCH scale via landmark sources — the
# `sources` parameter is the documented 100 TB path (all-sources exact
# centrality is inherently quadratic). Landmarks = the 5 region
# vertices on the REVERSED derived FK graph, where each region's
# shortest-path tree is exactly its subtree:
#     region → nation (d1) → customer/supplier (d2) → order (d3)
# Every vertex has a UNIQUE parent, so σ = 1 everywhere and both
# centralities have closed-form oracles from per-region counts.
# --------------------------------------------------------------------------
#: session cache for derived FK-graph layouts (reversed / symmetrized):
#: the derivations destroy the base table's src-bucketing, so each is
#: materialized ONCE per session as its own bucketed+sorted table (the
#: same LOAD/ETL treatment as the base FK graph and the co-location
#: layout) and declared on the PropertyGraph so fixpoint loops skip
#: their per-query layout build.
_FK_DERIVED_CACHE: dict = {}


def _materialized_fk_layout(
    spark: SparkSession, sf_dir: str, tag: str, edges: DataFrame, symmetric: bool
) -> PropertyGraph:
    key = (id(spark), sf_dir, tag)
    if key in _FK_DERIVED_CACHE:
        return _FK_DERIVED_CACHE[key]
    import hashlib
    import shutil

    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    g = materialized_tpch_graph(spark, sf_dir)
    digest = hashlib.sha1(f"{os.getpid()}|{sf_dir}|{tag}".encode()).hexdigest()[:10]
    ename = f"graft_fk_{tag}_edges_{digest}"
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    spark.sql(f"DROP TABLE IF EXISTS {ename}")
    shutil.rmtree(
        os.path.join(warehouse.removeprefix("file:"), ename), ignore_errors=True
    )
    buckets = 32
    edges.repartition(buckets, "src").write.bucketBy(buckets, "src").sortBy(
        "src"
    ).saveAsTable(ename)
    out = PropertyGraph(
        g.vertices,
        spark.table(ename),
        edges_layout="src",
        edges_symmetric=symmetric,
    )
    _FK_DERIVED_CACHE[key] = out
    return out


def _reversed_tpch_graph(spark: SparkSession, sf_dir: str) -> PropertyGraph:
    g = materialized_tpch_graph(spark, sf_dir)
    rev = g.edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "label"
    )
    # FK edges are unique and one-directional, so the reversal is unique
    return _materialized_fk_layout(spark, sf_dir, "rev", rev, symmetric=False)


def _symmetric_tpch_graph(spark: SparkSession, sf_dir: str) -> PropertyGraph:
    g = materialized_tpch_graph(spark, sf_dir)
    sym = g.edges.unionByName(
        g.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "label")
    )
    # namespaced vertex ids make the FK edge set disjoint from its
    # reverse, so the union is duplicate-free
    return _materialized_fk_layout(spark, sf_dir, "sym", sym, symmetric=True)


_LANDMARKS = [0, 1, 2, 3, 4]  # the region vertex ids (offset 0)


@_q(
    "algo_closeness_landmarks",
    """
    WITH nat AS (SELECT n_regionkey AS rk, COUNT(*) AS c FROM nation GROUP BY 1),
    cust AS (
        SELECT n_regionkey AS rk, COUNT(*) AS c
        FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1
    ),
    supp AS (
        SELECT n_regionkey AS rk, COUNT(*) AS c
        FROM supplier JOIN nation ON s_nationkey = n_nationkey GROUP BY 1
    ),
    ordr AS (
        SELECT n_regionkey AS rk, COUNT(*) AS c
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey GROUP BY 1
    )
    SELECT r.r_regionkey::BIGINT AS id,
           ROUND(
             CASE WHEN COALESCE(n.c,0) + 2*(COALESCE(cu.c,0)+COALESCE(s.c,0)) + 3*COALESCE(o.c,0) > 0
                  THEN (COALESCE(n.c,0)+COALESCE(cu.c,0)+COALESCE(s.c,0)+COALESCE(o.c,0))::DOUBLE
                       / (COALESCE(n.c,0) + 2*(COALESCE(cu.c,0)+COALESCE(s.c,0)) + 3*COALESCE(o.c,0))::DOUBLE
                  ELSE 0.0 END, 9) AS closeness
    FROM region r
    LEFT JOIN nat n ON r.r_regionkey = n.rk
    LEFT JOIN cust cu ON r.r_regionkey = cu.rk
    LEFT JOIN supp s ON r.r_regionkey = s.rk
    LEFT JOIN ordr o ON r.r_regionkey = o.rk
    """,
)
def algo_closeness_landmarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = A.closeness_centrality(
        _reversed_tpch_graph(spark, sf_dir), sources=_LANDMARKS, max_depth=6
    )
    return out.select("id", F.round("closeness", 9).alias("closeness"))


@_q(
    "algo_betweenness_landmarks",
    f"""
    WITH co AS (SELECT o_custkey AS ck, COUNT(*) AS c FROM orders GROUP BY 1),
    nat_cust AS (
        SELECT c_nationkey AS nk, COUNT(*) AS nc, SUM(COALESCE(co.c, 0)) AS nord
        FROM customer LEFT JOIN co ON c_custkey = co.ck GROUP BY 1
    ),
    nat_supp AS (SELECT s_nationkey AS nk, COUNT(*) AS ns FROM supplier GROUP BY 1)
    SELECT id, ROUND(bc, 6) AS betweenness FROM (
        SELECT COALESCE(nc.nk, ns.nk)::BIGINT + {NATION} AS id,
               (COALESCE(nc.nc,0) + COALESCE(nc.nord,0) + COALESCE(ns.ns,0))::DOUBLE AS bc
        FROM nat_cust nc FULL JOIN nat_supp ns ON nc.nk = ns.nk
        UNION ALL
        SELECT ck::BIGINT + {CUST}, c::DOUBLE FROM co
    ) WHERE bc > 0
    """,
)
def algo_betweenness_landmarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-landmark-exact Brandes from the 5 region sources on the
    reversed FK tree: bc(nation) = its customers + suppliers + their
    orders; bc(customer) = its order count; leaves and sources are 0
    (filtered — the >0 projection keeps the result set proportional to
    the interior, not the whole vertex set)."""
    out = A.betweenness_centrality(
        _reversed_tpch_graph(spark, sf_dir), sources=_LANDMARKS, max_depth=6
    )
    return out.filter(F.col("betweenness") > 0).select(
        "id", F.round("betweenness", 6).alias("betweenness")
    )


# --------------------------------------------------------------------------
# Label-propagation communities (beyond-ref; algorithms/community.py):
# synchronized rounds, argmax-frequency label with min-label ties,
# isolated vertices keep theirs — a pure function of the input, so the
# oracle unrolls the rounds. Fixture: two triangles joined by a bridge
# plus an isolated vertex.
# --------------------------------------------------------------------------
LPA_VERTS = [1, 2, 3, 4, 5, 6, 7]
LPA_EDGES = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
_LPA_ROUNDS = 4


def _lpa_unrolled(head: str, n_rounds: int) -> str:
    """Round-unrolled LPA oracle over any ``head`` that defines
    verts(id) and sym(src, dst) CTEs (synchronized rounds, argmax
    frequency, min-label ties, isolated vertices keep theirs)."""
    steps = []
    prev = "l0"
    for i in range(1, n_rounds + 1):
        steps.append(
            f"""f{i} AS (
    SELECT e.src AS id, l.lbl, COUNT(*) AS c
    FROM sym e JOIN {prev} l ON e.dst = l.id
    GROUP BY e.src, l.lbl
),
p{i} AS (
    SELECT id, lbl FROM f{i}
    QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, lbl ASC) = 1
),
l{i} AS MATERIALIZED (
    SELECT v.id, COALESCE(p.lbl, l.lbl) AS lbl
    FROM verts v JOIN {prev} l ON v.id = l.id LEFT JOIN p{i} p ON v.id = p.id
)"""
        )
        prev = f"l{i}"
    return (
        head
        + ",\n    l0 AS (SELECT id, id AS lbl FROM verts),\n    "
        + ",\n".join(steps)
        + f"\nSELECT id::BIGINT AS id, lbl::BIGINT AS community FROM {prev}"
    )


def _lpa_oracle(n_rounds: int = _LPA_ROUNDS) -> str:
    """Fixture-graph LPA oracle — the fixture VALUES head through the
    ONE shared round-unroller (`_lpa_unrolled`), so the tie-break SQL
    cannot diverge between the fixture and colocation oracles."""
    head = f"""
    WITH verts(id) AS (VALUES {_vals_v(LPA_VERTS)}),
    edges(src, dst) AS (VALUES {_values(LPA_EDGES)}),
    sym AS (
        SELECT src, dst FROM edges WHERE src <> dst
        UNION SELECT dst, src FROM edges WHERE src <> dst
    )"""
    return _lpa_unrolled(head, n_rounds)


@_q("algo_lpa_fixture", _lpa_oracle())
def algo_lpa_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dd_graphdb_spark.algorithms import label_propagation

    g = fixture_graph(spark, LPA_VERTS, LPA_EDGES)
    return label_propagation(g, max_iterations=_LPA_ROUNDS)


# --------------------------------------------------------------------------
# SCC on the cyclic fixture; oracle = mutual reachability with min-id rep.
# --------------------------------------------------------------------------
@_q(
    "algo_scc_fixture",
    f"""
    WITH RECURSIVE
    verts(id) AS (VALUES {_vals_v(S_VERTS)}),
    edges(src, dst) AS (VALUES {_values(S_EDGES)}),
    reach(a, b) AS (
        SELECT id, id FROM verts
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
    )
    SELECT r1.a::BIGINT AS id, MIN(r1.b)::BIGINT AS scc
    FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
    GROUP BY r1.a
    """,
)
def algo_scc_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = fixture_graph(spark, S_VERTS, S_EDGES)
    return A.strongly_connected_components(g)


# --------------------------------------------------------------------------
# Weighted SSSP at bench scale (the fixture variant proves the math on 5
# vertices; this runs the same engine loop on the supplier co-location
# cliques, where multi-hop detours genuinely beat direct edges). Weight
# w(a,b) = (a+b) % 97 + 1 is symmetric and engine-portable; vertices
# outside the source's clique keep the reference's +Infinity
# (incremental_engine.rs:1214-1285 INF semantics).
# --------------------------------------------------------------------------
def _sssp_colocation_oracle(rounds: int = 10) -> str:
    head = f"""
    WITH sup AS (
        SELECT s_suppkey::BIGINT + {SUPP} AS id, s_nationkey AS nk FROM supplier
    ),
    e AS (
        SELECT a.id AS src, b.id AS dst,
               ((a.id + b.id) % 97 + 1)::DOUBLE AS w
        FROM sup a JOIN sup b ON a.nk = b.nk AND a.id <> b.id
    ),
    d0 AS (SELECT {SUPP}::BIGINT AS id, 0.0::DOUBLE AS d)
    """
    # AS MATERIALIZED: each round references d{r-1} twice (keep + relax);
    # DuckDB inlines plain CTEs, so without it the prefix re-evaluates
    # 2^rounds times (measured 31.5 s at sf0.01; sub-second materialized)
    for r in range(1, rounds + 1):
        head += f"""
    , d{r} AS MATERIALIZED (
        SELECT id, MIN(d) AS d FROM (
            SELECT id, d FROM d{r-1}
            UNION ALL
            SELECT e.dst AS id, p.d + e.w AS d
            FROM d{r-1} p JOIN e ON p.id = e.src
        ) GROUP BY id
    )"""
    return head + f"""
    SELECT s.id AS id, COALESCE(dN.d, 'infinity'::DOUBLE) AS distance
    FROM sup s LEFT JOIN d{rounds} dN ON s.id = dN.id
    """


@_q("algo_sssp_colocation", _sssp_colocation_oracle())
def algo_sssp_colocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_iterations=10 matches the oracle's hardcoded 10 Bellman-Ford
    # rounds exactly — at larger SFs a weight-1 detour inside a 40+-node
    # clique can need >10 hops, so a convergence-driven run would diverge
    # from the truncated oracle; pinning the rounds keeps both sides
    # computing the identical truncation at any scale.
    res = A.sssp(
        _colocation_weighted_graph(spark, sf_dir),
        source=SUPP,
        weight_property="w",
        max_iterations=10,
        on_exhaustion="truncate",  # the 10-round truncation IS the contract
    )
    return res.select("id", "distance")


# --------------------------------------------------------------------------
# Weighted SSSP on the DEGREE-CAPPED co-location graph (r12): the
# ring-K lattice whose edge count grows ×10 per decade instead of the
# clique's ×100 — the measured (not just arithmetic) third-decade story
# for the colocation loop family. Same truncated-Bellman-Ford contract
# as algo_sssp_colocation.
# --------------------------------------------------------------------------
def _sssp_colocation_capped_oracle(rounds: int = 10, k: int = 8) -> str:
    head = f"""
    WITH sup AS (
        SELECT s_suppkey::BIGINT + {SUPP} AS id, s_nationkey AS nk FROM supplier
    ),
    rk AS (
        SELECT id, nk, ROW_NUMBER() OVER (PARTITION BY nk ORDER BY id) - 1 AS r,
               COUNT(*) OVER (PARTITION BY nk) AS n
        FROM sup
    ),
    fwd AS (
        SELECT DISTINCT a.id AS src, b.id AS dst
        FROM rk a
        JOIN (SELECT unnest(generate_series(1, {k})) AS o) t ON TRUE
        JOIN rk b ON b.nk = a.nk AND b.r = (a.r + t.o) % a.n
        WHERE a.id <> b.id
    ),
    e AS MATERIALIZED (
        SELECT src, dst, ((src + dst) % 97 + 1)::DOUBLE AS w
        FROM (SELECT src, dst FROM fwd UNION SELECT dst, src FROM fwd)
    ),
    d0 AS (SELECT {SUPP}::BIGINT AS id, 0.0::DOUBLE AS d)
    """
    for r in range(1, rounds + 1):
        head += f"""
    , d{r} AS MATERIALIZED (
        SELECT id, MIN(d) AS d FROM (
            SELECT id, d FROM d{r-1}
            UNION ALL
            SELECT e.dst AS id, p.d + e.w AS d
            FROM d{r-1} p JOIN e ON p.id = e.src
        ) GROUP BY id
    )"""
    return head + f"""
    SELECT s.id AS id, COALESCE(dN.d, 'infinity'::DOUBLE) AS distance
    FROM sup s LEFT JOIN d{rounds} dN ON s.id = dN.id
    """


@_q("algo_sssp_colocation_capped", _sssp_colocation_capped_oracle())
def algo_sssp_colocation_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rounds pinned to the oracle's truncation, exactly as
    # algo_sssp_colocation (the 10-round truncation IS the contract)
    res = A.sssp(
        _colocation_capped_graph(spark, sf_dir),
        source=SUPP,
        weight_property="w",
        max_iterations=10,
        on_exhaustion="truncate",
    )
    return res.select("id", "distance")


# --------------------------------------------------------------------------
# LPA at bench scale: co-location cliques converge to the clique-minimum
# label, so communities == nations — but the oracle does not assume
# that: it replays the identical synchronized rounds.
# --------------------------------------------------------------------------
_LPA_COLOC_ROUNDS = 3


@_q(
    "algo_lpa_colocation",
    _lpa_unrolled(
        f"""
    WITH sup AS (
        SELECT s_suppkey::BIGINT + {SUPP} AS id, s_nationkey AS nk FROM supplier
    ),
    verts AS (SELECT id FROM sup),
    sym AS (
        SELECT a.id AS src, b.id AS dst
        FROM sup a JOIN sup b ON a.nk = b.nk AND a.id <> b.id
    )""",
        _LPA_COLOC_ROUNDS,
    ),
)
def algo_lpa_colocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dd_graphdb_spark.algorithms import label_propagation

    # the SYMMETRIC cached layout: LPA symmetrizes its input internally,
    # and union(e, rev(e)).distinct() over the directed half IS this
    # frame — identical communities, but the declared layout lets the
    # loop skip the symmetrize-union AND the per-round edge exchange
    return label_propagation(
        _colocation_weighted_graph(spark, sf_dir), max_iterations=_LPA_COLOC_ROUNDS
    )


# --------------------------------------------------------------------------
# SCC at bench scale: the co-location graph made symmetric is strongly
# connected exactly within each clique, so the FW-BW loop must recover
# one component per nation with the min-id representative.
# --------------------------------------------------------------------------
@_q(
    "algo_scc_colocation",
    f"""
    WITH sup AS (
        SELECT s_suppkey::BIGINT + {SUPP} AS id, s_nationkey AS nk FROM supplier
    )
    SELECT s.id, m.rep AS scc
    FROM sup s JOIN (SELECT nk, MIN(id) AS rep FROM sup GROUP BY nk) m
      ON s.nk = m.nk
    """,
)
def algo_scc_colocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _supplier_colocation(spark, sf_dir)
    sym = g.edges.unionByName(
        g.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "label"
        )
    )
    return A.strongly_connected_components(PropertyGraph(g.vertices, sym))


# --------------------------------------------------------------------------
# BFS at bench scale: undirected hop distances from Region 0 over the
# full derived graph (region→nation→customer/supplier→order tiers). The
# fixture variant proves path reconstruction; this runs the frontier
# loop on ~60k vertices. Unreachable vertices (other regions' subtrees)
# are correctly absent.
# --------------------------------------------------------------------------
def _bfs_region_oracle(rounds: int = 4) -> str:
    head = (
        GRAPH_CTE
        + """
    , sym AS (
        SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ),
    d0(id, hops) AS (SELECT 0::BIGINT, 0)
    """
    )
    for r in range(1, rounds + 1):
        head += f"""
    , d{r} AS (
        SELECT id, MIN(hops) AS hops FROM (
            SELECT id, hops FROM d{r-1}
            UNION ALL
            SELECT s.dst AS id, p.hops + 1 AS hops
            FROM d{r-1} p JOIN sym s ON p.id = s.src
        ) GROUP BY id
    )"""
    return head + f"""
    SELECT id, hops::BIGINT AS hops FROM d{rounds}
    """


@_q("algo_bfs_region", _bfs_region_oracle())
def algo_bfs_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = A.bfs_shortest_path(
        _symmetric_tpch_graph(spark, sf_dir), source=0, max_depth=4
    )
    return res.select("id", F.col("hops").cast("long").alias("hops"))


# --------------------------------------------------------------------------
# Weighted PageRank (beyond-ref): contributions split proportionally to
# edge weight; oracle unrolls 5 iterations over the co-location cliques
# with precomputed shares, restating the identical float expression
# tree (base = (1-d)/n, new = base + d * Σ rank·share).
# --------------------------------------------------------------------------
def _weighted_pr_oracle(rounds: int = 5, d: float = 0.85) -> str:
    head = f"""
    WITH sup AS (
        SELECT s_suppkey::BIGINT + {SUPP} AS id, s_nationkey AS nk FROM supplier
    ),
    e AS (
        SELECT a.id AS src, b.id AS dst,
               ((a.id + b.id) % 97 + 1)::DOUBLE AS w
        FROM sup a JOIN sup b ON a.nk = b.nk AND a.id <> b.id
    ),
    ow AS (SELECT src, SUM(w) AS outw FROM e GROUP BY src),
    ce AS (SELECT e.src, e.dst, e.w / ow.outw AS share FROM e JOIN ow ON e.src = ow.src),
    nv AS (SELECT COUNT(*)::DOUBLE AS n FROM sup),
    r0 AS (SELECT id, 1.0 / (SELECT n FROM nv) AS rank FROM sup)
    """
    for t in range(1, rounds + 1):
        head += f"""
    , r{t} AS (
        SELECT v.id,
               (1.0 - {d}) / (SELECT n FROM nv)
               + {d} * COALESCE(s.ms, 0.0) AS rank
        FROM sup v LEFT JOIN (
            SELECT ce.dst AS id, SUM(r.rank * ce.share) AS ms
            FROM r{t-1} r JOIN ce ON r.id = ce.src
            GROUP BY ce.dst
        ) s ON v.id = s.id
    )"""
    return head + f"""
    SELECT id, ROUND(rank, 6) AS rank FROM r{rounds}
    """


@_q("algo_pagerank_weighted", _weighted_pr_oracle())
def algo_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.pagerank(
        _colocation_weighted_graph(spark, sf_dir),
        max_iterations=5,
        round_to=6,
        weight_property="w",
    )


# --------------------------------------------------------------------------
# LOAD-phase layout registry: which registered gate queries READ which
# session-cached derived layout. bench.py derives its untimed LOAD-phase
# gating from this (a subset run builds only the layouts its queries
# read), and tests/test_plans.py asserts the sets against the actual
# query sources — a new layout user that is missing here fails the test
# instead of silently paying the layout build inside its timed window.
# --------------------------------------------------------------------------
LAYOUT_USERS: dict[str, set[str]] = {
    # the supplier co-location pair frame (|S|²/|nations| rows; ~409 M
    # at sf10, ×100 per decade) — built by _colocation_weighted_graph
    "colocation_layout": {
        "algo_triangle_colocation",
        "algo_kcore_colocation",
        "algo_sssp_colocation",
        "algo_lpa_colocation",
        "algo_scc_colocation",
        "algo_pagerank_weighted",
        "gql_shortest_path_clique",
    },
    # the DEGREE-CAPPED co-location lattice (|S|·k rows, ×10/decade) —
    # built by _colocation_capped_graph
    "colocation_capped_layout": {
        "algo_sssp_colocation_capped",
    },
    # the reversed / symmetrized bucketed FK graphs — built by
    # _reversed_tpch_graph / _symmetric_tpch_graph
    "fk_rev_sym_layouts": {
        "algo_closeness_landmarks",
        "algo_betweenness_landmarks",
        "algo_bfs_region",
    },
}

#: source-text markers the verification test scans query functions for —
#: a query whose source mentions any marker of a layout must be listed in
#: LAYOUT_USERS for that layout (wrapper helpers included so indirect
#: readers are caught)
LAYOUT_MARKERS: dict[str, tuple[str, ...]] = {
    "colocation_layout": ("_colocation_weighted_graph", "_supplier_colocation"),
    "colocation_capped_layout": ("_colocation_capped_graph",),
    "fk_rev_sym_layouts": ("_reversed_tpch_graph", "_symmetric_tpch_graph"),
}
