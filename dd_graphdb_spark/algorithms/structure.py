"""Structural algorithms: k-core, triangle counting, degree centrality.

Reference semantics:
- k-core: iteratively drop vertices with degree < k; keep edges whose
  endpoints both survive (graph/algorithms/src/lib.rs:46-82).
- Triangle counting: undirected-ize, join edges sharing a vertex, dedupe
  triples (graph/algorithms/src/lib.rs:189-209).
- Degree centrality: max total degree / (2·(n−1)), returns the max vertex
  + normalized score (compute_degree_centrality,
  graph/views/src/incremental_engine.rs:1288-1326).

Scale notes: triangle listing orders each edge low-id→high-id first so
the join fans out on the smaller-degree side (standard node-iterator++);
k-core's loop is degree-computation + semi-joins per round, bounded by
the core number of the graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dd_graphdb_spark.graph import PropertyGraph
from dd_graphdb_spark.algorithms._iter import RoundPins, run_loop, wide_shuffle


def _k_core_loop(g: PropertyGraph, k: int, max_iterations: int = 50) -> DataFrame:
    """Vertices of the k-core (id). Undirected degrees.

    Runs on a wide_shuffle graph: the per-round degree recount is an
    EDGE-sized aggregate (same-host sf10 A/B: 164 s at 32 initial
    partitions → 119 s at 256)."""
    g = wide_shuffle(g)
    e = g.edges.select("src", "dst")
    # per-round state here is EDGE-sized (the pruned edge list), so each
    # round's checkpoint must be released as soon as the next round's is
    # materialized — accumulating them OOM'd at sf10 (~200 M-edge
    # colocation graph, rounds × |E| pinned)
    pins = RoundPins(g.vertices.sparkSession)
    # undirected simple graph: canonical low→high, dedupe, drop self-loops
    und = pins.materialize(
        e.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # carry the edge count across rounds: und.count() always equals the
    # previous round's pruned.count(), so one count job per round
    # suffices (job launches dominate driver-side loop cost)
    n_und = und.count()
    for _ in range(max_iterations):
        deg = (
            und.select(F.col("a").alias("id"))
            .union(und.select(F.col("b").alias("id")))
            .groupBy("id")
            .agg(F.count("*").alias("deg"))
        )
        keep = pins.materialize(deg.filter(F.col("deg") >= k).select("id"))
        # one action: round checkpoint + the surviving-edge count the
        # fixpoint test needs (materialize_count, r16 — was ckpt + count)
        pruned, n_pruned = pins.materialize_count(
            und.join(keep.withColumnRenamed("id", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("id", "b"), "b", "left_semi")
            .select("a", "b")
        )
        und = pruned
        pins.release_except(und)
        if n_pruned == n_und:
            break
        n_und = n_pruned
    deg = (
        und.select(F.col("a").alias("id"))
        .union(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    return deg.filter(F.col("deg") >= k).select("id")


def triangle_count(g: PropertyGraph) -> DataFrame:
    """Total number of distinct triangles {a,b,c} in the undirected
    simple graph. Node-iterator++: only a<b<c orientations are joined."""
    e = g.edges.select("src", "dst")
    und = (
        e.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e1 = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = und.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = und.select(F.col("a").alias("x"), F.col("b").alias("z"))
    wedges = e1.join(e2, "y")  # x < y < z by construction
    tris = wedges.join(e3, ["x", "z"])
    return tris.agg(F.count("*").alias("triangle_count"))


def degree_centrality(g: PropertyGraph) -> DataFrame:
    """Max-degree vertex + normalized score max_deg / (2·(n−1))
    (incremental_engine.rs:1288-1326). Tie-break: smallest id."""
    n = g.vertices.count()
    deg = g.degrees()
    top = deg.orderBy(F.col("degree").desc(), F.col("id").asc()).limit(1)
    denom = float(2 * (n - 1)) if n > 1 else 1.0
    return top.select(
        F.col("id").alias("vertex_id"),
        F.col("degree").alias("degree"),
        F.round(F.col("degree") / F.lit(denom), 6).alias("centrality"),
    )


def k_core(g: PropertyGraph, k: int, max_iterations: int = 50) -> DataFrame:
    """Public entry; releases loop-intermediate checkpoint blocks."""
    return run_loop(_k_core_loop, g, k, max_iterations)
