"""Label-propagation community detection (synchronized, deterministic).

Beyond the reference's algorithm set (its analytics enum stops at
PageRank/CC/shortest-path/degree + declared-only centralities,
graph/views/src/view_types.rs:194-201); LPA is the standard next
community primitive for a property-graph engine.

Semantics (deterministic by construction, hence oracle-unrollable):
synchronized rounds; each round EVERY vertex adopts the most frequent
label among its undirected neighbors, ties broken by the smallest
label; vertices with no neighbors keep their label. Fixed
``max_iterations`` (classic LPA stops at stability; fixed rounds keep
the result a pure function of the input so the DuckDB oracle can
restate it round by round).

Spark shape: per round one join (edges ⋈ labels on the neighbor end),
one groupBy count, one per-vertex argmax window, one left join back to
the vertex universe — all shuffles on vertex id. Lineage is cut on a
checkpoint cadence (see algorithms/pagerank.py for the measurement).
At 100 TB: same posture as PageRank — co-partition edges and labels by
id; AQE absorbs hub skew in the count aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dd_graphdb_spark.graph import PropertyGraph
from dd_graphdb_spark.algorithms._iter import RoundPins, _ckpt, copartitioned
from dd_graphdb_spark.algorithms._iter import run_loop, wide_shuffle


def _lpa_loop(
    g: PropertyGraph, max_iterations: int = 5, ckpt_every: int = 4
) -> DataFrame:
    g = wide_shuffle(g)  # see label_propagation
    verts = _ckpt(g.vertices.select("id"))
    e = g.edges.select("src", "dst")
    # the per-round join reads the neighbor end's label. On a
    # declared-symmetric src-layout graph the symmetrize-union is a
    # no-op and the join FLIPS to the laid-out side: labels join on
    # sym.src (zero edge exchange/sort per round), counts keyed by dst —
    # over a symmetric edge set {(s,d)} = {(d,s)}, so the per-vertex
    # neighbor-label multiset is identical either way.
    if g.edges_symmetric and g.edges_layout == "src":
        sym = e.filter(F.col("src") != F.col("dst"))
        join_end, count_end = "src", "dst"
    else:
        # dedup INSIDE the build (one exchange — see copartitioned)
        sym = copartitioned(
            e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .filter(F.col("src") != F.col("dst")),
            "dst",
            dedup_cols=["dst", "src"],
        )
        join_end, count_end = "dst", "src"
    pins = RoundPins(g.vertices.sparkSession)
    labels = verts.withColumn("lbl", F.col("id"))
    for i in range(max_iterations):
        freq = (
            sym.join(labels.withColumnRenamed("id", "nbr"), sym[join_end] == F.col("nbr"))
            .select(F.col(count_end).alias("id"), "lbl")
            .groupBy("id", "lbl")
            .agg(F.count("*").alias("c"))
        )
        # per-vertex argmax (count desc, label asc) as a HASH aggregate:
        # max(struct(c, -lbl)) — NOT a row_number window. Round 1's freq
        # is EDGE-sized (every neighbor still carries a distinct label),
        # and a window must shuffle + SORT all of it per partition — the
        # sf10 colocation graph (~400 M rows into 32 partitions) OOM'd a
        # 64 g heap there; the aggregate form combines map-side and
        # never sorts.
        pick = (
            freq.groupBy("id")
            .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))).alias("b"))
            .select("id", (-F.col("b.nl")).alias("new_lbl"))
        )
        labels = (
            labels.join(pick, "id", "left")
            .select("id", F.coalesce("new_lbl", "lbl").alias("lbl"))
        )
        if (i + 1) % ckpt_every == 0 or i == max_iterations - 1:
            labels = pins.materialize(labels)
            pins.release_except(labels)
    return labels.select("id", F.col("lbl").alias("community"))


def label_propagation(
    g: PropertyGraph, max_iterations: int = 5, ckpt_every: int = 4
) -> DataFrame:
    """(id, community) after ``max_iterations`` synchronized LPA rounds.

    Runs on a wide_shuffle graph: round 1's neighbor-label frequency
    frame is EDGE-sized and its hash aggregate needs the wider reduce
    fan-out (same-host sf10 A/B: 122 s at 32 initial partitions → 90 s
    at 256; the pre-serialized-checkpoint form spilled to 1272 s)."""
    return run_loop(_lpa_loop, g, max_iterations, ckpt_every)
