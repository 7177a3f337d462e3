"""Property-graph data model on DataFrames.

Reference data model (cited for parity, not copied):
- vertex = VertexId(u64) + property bag        (graph/core/src/lib.rs:16,282)
- edge   = (src, dst, label) + property bag,
  multigraph keyed by the full triple          (graph/core/src/lib.rs:64-71;
                                                graph/storage/src/lib.rs:171)
- vertex "label" is the ``type`` property      (graph/query/src/executor.rs:290-295)

Spark mapping (SURVEY.md §1.3): two DataFrames.

- ``vertices``: id LONG, label STRING, + typed property columns
- ``edges``:    src LONG, dst LONG, label STRING, + typed property columns

Adjacency indexes (out_adj/in_adj hash maps in the reference,
graph/storage/src/lib.rs:179-184) are NOT materialized: expansion is a
join on ``src``/``dst`` and Catalyst picks hash vs broadcast. At 100 TB
scale, edges should be written bucketed/partitioned by ``src`` so the
expansion join is shuffle-free; vertices broadcast when small.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Vertex-id namespacing for the TPC-H-derived graph: each entity type maps
# into a disjoint u64 range so ids remain unique in a single vertex table.
# These offsets are part of the public contract (oracle SQL re-derives them).
OFFSET = {
    "region": 0,
    "nation": 100,
    "customer": 10_000_000,
    "supplier": 20_000_000,
    "orders": 30_000_000,
}


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events table, normalizing its ``ts`` column to a plain
    session-local TIMESTAMP.

    Driver generations have stored ``ts`` two ways: parquet INT64
    TIMESTAMP(NANOS) (rejected by Spark's vectorized reader — read nanos
    as long and truncate to microseconds, Spark's native precision) and
    parquet timestamp[us] without timezone (Spark reads TIMESTAMP_NTZ,
    which ``withWatermark`` rejects — cast to TIMESTAMP; the session
    timezone is pinned to UTC in get_spark, so the wall-clock values are
    preserved exactly and match what DuckDB reads natively).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Oracle-side events table with ts truncated to microseconds, matching
# read_events(). Use `FROM {EVENTS_US} e` / `FROM {EVENTS_US} events`.
EVENTS_US = "(SELECT * REPLACE (make_timestamp(epoch_ns(ts) // 1000) AS ts) FROM events)"

_SQL_AFTER_FROM_KW = (
    "JOIN|WHERE|GROUP|ORDER|LEFT|RIGHT|FULL|CROSS|INNER|UNION|HAVING|"
    "QUALIFY|LIMIT|ON|USING"
)
_EVENTS_FROM_RE = None  # compiled lazily


def rewrite_events_oracles(oracles: dict) -> None:
    """Rewrite every ``FROM events`` in the given ORACLES dict to the
    microsecond-truncated ``EVENTS_US`` form (alias-preserving), so the
    DuckDB side compares the same timestamp precision read_events()
    produces — events.parquet is TIMESTAMP(NANOS) in some driver
    generations and plain µs in others; the truncation is a no-op on µs
    data. ONE shared implementation: per-module copies of this rewrite
    drifted (one module missed it entirely), which is a latent
    false-FAIL under a NANOS-generation testdata dir.

    Call at the very END of a suite module (after ALL registrations) —
    a mid-module call silently skips oracles registered below it.
    """
    import re

    global _EVENTS_FROM_RE
    if _EVENTS_FROM_RE is None:
        _EVENTS_FROM_RE = re.compile(
            rf"\bFROM\s+events\b"
            rf"(?:\s+(?:AS\s+)?(?!(?:{_SQL_AFTER_FROM_KW})\b)(?P<alias>[A-Za-z_]\w*))?"
        )

    def _sub(m):
        alias = m.group("alias") or "events"
        return f"FROM {EVENTS_US} {alias}"

    # EVENTS_US itself contains an inner `FROM events`; mask any spans
    # the module author already truncated inline so the rewrite can't
    # double-wrap them, then rewrite the REMAINING raw references — an
    # oracle mixing one interpolated EVENTS_US subquery with another
    # raw `FROM events` gets the raw one truncated too (a blanket skip
    # used to leave it at ns precision — latent false-FAIL).
    mask = "\x00EVENTS_US\x00"
    for k in list(oracles):
        masked = oracles[k].replace(EVENTS_US, mask)
        oracles[k] = _EVENTS_FROM_RE.sub(_sub, masked).replace(mask, EVENTS_US)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the driver-generated parquet tables and register temp views.

    Mirrors the reference's fixed table universe for SQL views
    (graph/views/src/sql_parser.rs:135-139 restricts to vertices/edges/
    graph); we register the full relational star schema instead — a
    strict superset.
    """
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        if name == "events":
            df = read_events(spark, sf_dir)
        else:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


@dataclass
class PropertyGraph:
    """A property graph = (vertices DF, edges DF).

    Equivalent of the reference's ``Snapshot`` (graph/storage/src/
    lib.rs:176-187) minus the in-memory adjacency maps, which Spark
    replaces with joins.

    ``edges_layout``: a LOAD-phase layout declaration — set (to a column
    name, e.g. "src") only by builders that guarantee the edge frame is
    (a) globally unique (src, dst) pairs, (b) hash-partitioned on that
    column at spark.sql.shuffle.partitions, and (c) sorted by it within
    partitions (the ``copartitioned`` layout). Fixpoint loops then use
    the frame as-is — zero per-query layout build, zero per-round edge
    exchange/sort — instead of rebuilding the layout inside the timed
    query. Projections and filters over the declared frame preserve all
    three properties. The Spark analogue of a bucketed+sorted edge
    table; at 100 TB this is an ETL step, not per-query work.

    ``edges_symmetric``: the edge set equals its own reverse (for every
    (a, b) there is (b, a)) — lets undirected algorithms skip their
    symmetrize-union and flip join sides to match ``edges_layout``.
    """

    vertices: DataFrame
    edges: DataFrame
    edges_layout: str | None = None
    edges_symmetric: bool = False

    def register(self, prefix: str = "") -> "PropertyGraph":
        self.vertices.createOrReplaceTempView(f"{prefix}vertices")
        self.edges.createOrReplaceTempView(f"{prefix}edges")
        return self

    # -- degree / stats (graph/collection/src/lib.rs:210-223;
    #    graph/storage/src/lib.rs:571-579) --------------------------------
    def in_degrees(self) -> DataFrame:
        return self.edges.groupBy("dst").agg(F.count("*").alias("in_degree"))

    def degrees(self) -> DataFrame:
        """Total degree per vertex (undirected view of edges)."""
        ends = self.edges.select(F.col("src").alias("id")).unionAll(
            self.edges.select(F.col("dst").alias("id"))
        )
        return ends.groupBy("id").agg(F.count("*").alias("degree"))

    def stats(self) -> dict[str, int]:
        return {
            "vertex_count": self.vertices.count(),
            "edge_count": self.edges.count(),
        }

    def undirected_edges(self) -> DataFrame:
        """edges ∪ reversed(edges) — the reference's undirected-ize step
        (graph/algorithms/src/lib.rs:197-199)."""
        rev = self.edges.select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            *[c for c in self.edges.columns if c not in ("src", "dst")],
        )
        return self.edges.unionByName(rev)


def tpch_graph(spark: SparkSession, sf_dir: str) -> PropertyGraph:
    """Derive a property graph from the TPC-H FK relationships.

    Vertices: region / nation / customer / supplier / orders with
    namespaced ids (OFFSET). Edges follow the foreign keys:

        nation   -in_region->  region
        customer -located_in-> nation
        supplier -located_in-> nation
        orders   -placed_by->  customer

    This makes every graph-operator result independently checkable with
    plain SQL over the same parquet tables (FIXTURES.md F8).
    """
    t = load_tables(spark, sf_dir)
    L = F.lit

    def v(df, key, label, name, acctbal=None, mktsegment=None):
        return df.select(
            (F.col(key).cast("long") + L(OFFSET[label.lower()])).alias("id"),
            L(label).alias("label"),
            F.col(name).cast("string").alias("name"),
            (F.col(acctbal).cast("double") if acctbal else L(None).cast("double")).alias("acctbal"),
            (F.col(mktsegment).cast("string") if mktsegment else L(None).cast("string")).alias("mktsegment"),
        )

    vertices = (
        v(t["region"], "r_regionkey", "Region", "r_name")
        .unionByName(v(t["nation"], "n_nationkey", "Nation", "n_name"))
        .unionByName(
            v(t["customer"], "c_custkey", "Customer", "c_name", "c_acctbal", "c_mktsegment")
        )
        .unionByName(v(t["supplier"], "s_suppkey", "Supplier", "s_name", "s_acctbal"))
        .unionByName(
            t["orders"].select(
                (F.col("o_orderkey").cast("long") + L(OFFSET["orders"])).alias("id"),
                L("Order").alias("label"),
                F.col("o_orderstatus").cast("string").alias("name"),
                F.col("o_totalprice").cast("double").alias("acctbal"),
                F.col("o_orderpriority").cast("string").alias("mktsegment"),
            )
        )
    )

    def e(df, skey, soff, dkey, doff, label):
        return df.select(
            (F.col(skey).cast("long") + L(soff)).alias("src"),
            (F.col(dkey).cast("long") + L(doff)).alias("dst"),
            L(label).alias("label"),
        )

    edges = (
        e(t["nation"], "n_nationkey", OFFSET["nation"], "n_regionkey", OFFSET["region"], "in_region")
        .unionByName(
            e(t["customer"], "c_custkey", OFFSET["customer"], "c_nationkey", OFFSET["nation"], "located_in")
        )
        .unionByName(
            e(t["supplier"], "s_suppkey", OFFSET["supplier"], "s_nationkey", OFFSET["nation"], "located_in")
        )
        .unionByName(
            e(t["orders"], "o_orderkey", OFFSET["orders"], "o_custkey", OFFSET["customer"], "placed_by")
        )
    )
    return PropertyGraph(vertices, edges)


_GRAPH_CACHE: dict[tuple[int, str, int], PropertyGraph] = {}


def materialized_tpch_graph(
    spark: SparkSession, sf_dir: str, buckets: int = 16
) -> PropertyGraph:
    """``tpch_graph`` materialized ONCE per session as bucketed tables.

    The derived graph is a 5-table union + casts; rebuilding it per query
    re-scans every base table. Here the first call writes it to the
    session catalog — edges bucketed by ``src``, vertices by ``id`` — and
    later calls reuse the cataloged tables, so:

    - every graph query reads a single pre-cast parquet table instead of
      re-deriving the union (one scan, pushdown-friendly);
    - expansion joins (bindings ⋈ edges on src) shuffle only the
      bindings side: the bucketed edge scan already satisfies the join's
      required hash partitioning (the Spark analogue of the reference's
      out_adj index, graph/storage/src/lib.rs:179-184);
    - at 100 TB this is the canonical layout: edges bucketed by src make
      every traversal co-located; re-bucketing by dst as a second copy
      buys reverse expansion.

    Each bucket is ONE file (an empty bucket has none). Both frames are
    hash-partitioned on their bucket column into ``buckets`` partitions
    before the bucketed write. Spark's shuffle hash,
    ``pmod(murmur3(col), n)``, is the same function as the bucket id, so
    each write task holds exactly one bucket and writes one file, and
    the bucket spec stays valid. Without the repartition every write
    task emits a file per bucket it sees (61–65 files per table at
    sf0.01), and every scan of the layout opens them all. AQE leaves the
    partition count alone: ``repartition(n, col)`` is a by-number
    repartition, which it never coalesces.

    Building the layout is a LOAD-phase cost (3–4 s at sf0.1 on a 4-core
    host with a warm JVM; 10–12 s as a session's first job), paid once
    per session and amortized across every graph query after it — the
    same ETL/query split any bucketed warehouse table has.

    The cache key pins the session (DataFrames hold the session ref, so
    id() cannot be recycled while the entry lives).
    """
    # buckets is part of the key: the table-name digest already keeps
    # layouts distinct on disk, but the session cache would otherwise
    # silently return the previously built bucket count
    key = (id(spark), sf_dir, buckets)
    if key in _GRAPH_CACHE:
        return _GRAPH_CACHE[key]
    g = tpch_graph(spark, sf_dir)
    # table names carry a digest of (pid, sf_dir, buckets): a second
    # call with a different sf_dir gets its own tables instead of
    # silently rewriting — and invalidating — the ones earlier cached
    # PropertyGraphs resolve by name at action time; the pid isolates
    # concurrent PROCESSES sharing one warehouse dir (two local runs
    # drop/rewrite each other's tables mid-read otherwise — observed as
    # a reader hang). Cost: throwaway local runs leave per-pid table
    # dirs behind; on a real cluster the layout build is a named ETL
    # step, not a per-process side effect.
    import hashlib

    digest = hashlib.sha1(f"{os.getpid()}|{sf_dir}|{buckets}".encode()).hexdigest()[:10]
    vname = f"graft_graph_vertices_{digest}"
    ename = f"graft_graph_edges_{digest}"
    # a previous session may have left the managed-table location behind
    # without a catalog entry — drop both sides before writing
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    for name in (vname, ename):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        loc = os.path.join(warehouse.removeprefix("file:"), name)
        shutil.rmtree(loc, ignore_errors=True)
    # no sortBy: hash-join expansion needs only the bucketing; sorting
    # buckets doubles the build cost for no hash-join benefit
    g.vertices.repartition(buckets, "id").write.bucketBy(
        buckets, "id"
    ).saveAsTable(vname)
    g.edges.repartition(buckets, "src").write.bucketBy(
        buckets, "src"
    ).saveAsTable(ename)
    mg = PropertyGraph(spark.table(vname), spark.table(ename))
    _GRAPH_CACHE[key] = mg
    return mg


# Shared oracle-SQL CTE re-deriving the identical graph in DuckDB from the
# pre-registered parquet views. Prepend to graph-query oracles.
GRAPH_CTE = """
WITH vertices AS (
    SELECT r_regionkey::BIGINT + 0 AS id, 'Region' AS label,
           r_name AS name, NULL::DOUBLE AS acctbal, NULL::VARCHAR AS mktsegment
    FROM region
    UNION ALL
    SELECT n_nationkey::BIGINT + 100, 'Nation', n_name, NULL, NULL FROM nation
    UNION ALL
    SELECT c_custkey::BIGINT + 10000000, 'Customer', c_name, c_acctbal, c_mktsegment
    FROM customer
    UNION ALL
    SELECT s_suppkey::BIGINT + 20000000, 'Supplier', s_name, s_acctbal, NULL FROM supplier
    UNION ALL
    SELECT o_orderkey::BIGINT + 30000000, 'Order', o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
),
edges AS (
    SELECT n_nationkey::BIGINT + 100 AS src, n_regionkey::BIGINT + 0 AS dst,
           'in_region' AS label
    FROM nation
    UNION ALL
    SELECT c_custkey::BIGINT + 10000000, c_nationkey::BIGINT + 100, 'located_in' FROM customer
    UNION ALL
    SELECT s_suppkey::BIGINT + 20000000, s_nationkey::BIGINT + 100, 'located_in' FROM supplier
    UNION ALL
    SELECT o_orderkey::BIGINT + 30000000, o_custkey::BIGINT + 10000000, 'placed_by' FROM orders
)
"""
