"""Graph traversal operators as declarative joins.

Reference semantics (graph/storage/src/lib.rs):
- get_out/in/all_neighbors  :738-775  — O(degree) adjacency expansion
- traverse_1hop             :779-798  — out-neighbors, optional edge label
- traverse_2hop             :802-830  — friends-of-friends, distinct,
                                        excluding the start vertex
- edges_between (collection)           graph/collection/src/lib.rs:149-235
- common_neighbors (stubbed pattern)   src/social_network_platform.rs:527-554

The reference walks in-memory adjacency hash maps; here each hop is an
equi-join on src/dst that Catalyst executes as broadcast or shuffled hash
join. For 100 TB: bucket edges by src so repeated expansions are
co-partitioned and shuffle-free; a start-vertex filter makes the first
hop a pushed-down point predicate, not a scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dd_graphdb_spark.graph import PropertyGraph


def _label_filter(edges: DataFrame, label: str | None) -> DataFrame:
    return edges.filter(F.col("label") == label) if label is not None else edges


def out_neighbors(g: PropertyGraph, vertex_id: int, label: str | None = None) -> DataFrame:
    """Out-neighbor ids of ``vertex_id`` (lib.rs:738-751)."""
    e = _label_filter(g.edges, label)
    return e.filter(F.col("src") == vertex_id).select(F.col("dst").alias("neighbor_id")).distinct()


def in_neighbors(g: PropertyGraph, vertex_id: int, label: str | None = None) -> DataFrame:
    e = _label_filter(g.edges, label)
    return e.filter(F.col("dst") == vertex_id).select(F.col("src").alias("neighbor_id")).distinct()


def all_neighbors(g: PropertyGraph, vertex_id: int, label: str | None = None) -> DataFrame:
    """Union of out- and in-neighbors (lib.rs:768-775). Keeps duplicates
    across directions distinct-ed, matching the reference's set union."""
    return out_neighbors(g, vertex_id, label).union(in_neighbors(g, vertex_id, label)).distinct()


def traverse_1hop(g: PropertyGraph, start: int, label: str | None = None) -> DataFrame:
    """1-hop traversal with vertex payload (lib.rs:779-798)."""
    hop = out_neighbors(g, start, label)
    return hop.join(g.vertices, hop.neighbor_id == g.vertices.id).select(
        "neighbor_id", *[c for c in g.vertices.columns if c != "id"]
    )


def traverse_2hop(g: PropertyGraph, start: int, label: str | None = None) -> DataFrame:
    """2-hop traversal: distinct friends-of-friends excluding the start
    vertex (lib.rs:802-830). Self-join of the edge table."""
    e = _label_filter(g.edges, label)
    first = e.filter(F.col("src") == start).select(F.col("dst").alias("mid"))
    second = first.join(e, first.mid == e.src).select(F.col("dst").alias("neighbor_id"))
    return second.filter(F.col("neighbor_id") != start).distinct()


def edges_between(g: PropertyGraph, src: int, dst: int, label: str | None = None) -> DataFrame:
    """All (multigraph) edges src→dst, optionally by label
    (graph/collection/src/lib.rs:149-235; get_edge_by_label
    graph/storage/src/lib.rs:524-528)."""
    e = _label_filter(g.edges, label)
    return e.filter((F.col("src") == src) & (F.col("dst") == dst))


def common_neighbors(
    g: PropertyGraph,
    min_common: int = 1,
    label: str | None = None,
    salt_threshold: int = 1000,
    n_salts: int = 16,
    max_degree: int | None = None,
) -> DataFrame:
    """For every pair of vertices, the number of shared out-neighbors —
    the recommendation pattern the reference declares but stubs
    (src/social_network_platform.rs:527-554).

    Self-join on dst: pairs sharing a target. A hot target with in-degree
    d emits d² pairs, and an unsalted join computes all of them in ONE
    task. Skew handling, exact by default:

    - dst keys with degree > ``salt_threshold`` take a salted path: the
      left side is split into ``n_salts`` buckets by src and the right
      side is replicated per salt, spreading each hot key's d² pair
      generation across n_salts cells. Identical output, parallel work.
    - ``max_degree`` (optional, OFF by default) caps each dst's fanout to
      its lowest-id ``max_degree`` sources — the documented approximate
      escape hatch when d² itself is unacceptable (or switch to the
      MinHash path in operators.dedup for approximate overlap).
    """
    from pyspark.sql.window import Window

    from dd_graphdb_spark.operators._skew import salted_self_pairs

    # distinct (src,dst): common-neighbor counts are over the neighbor
    # SET — multigraph parallel edges (first-class here, see
    # edges_between) would otherwise inflate every pair's count by the
    # product of the two edge multiplicities
    e = _label_filter(g.edges, label).select("src", "dst").distinct()
    if max_degree is not None:
        w = Window.partitionBy("dst").orderBy("src")
        e = e.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= max_degree
        ).drop("_rn")

    # no caller-side checkpoint needed (r16): salted_self_pairs is
    # single-pass — it evaluates its input exactly once into its own
    # keyed checkpoint, so the scan + distinct exchange run once.
    pairs = salted_self_pairs(e, "src", ["dst"], salt_threshold, n_salts)
    return (
        pairs.groupBy("a", "b")
        .agg(F.count("*").alias("common_count"))
        .filter(F.col("common_count") >= min_common)
    )
