"""Eigenvector, closeness & betweenness centrality.

The reference DECLARES these as analytics-view algorithm variants but
never implements them (AnalyticsType Betweenness/Closeness/Eigenvector,
graph/views/src/view_types.rs:194-201) — degree centrality is the only
one with a body (incremental_engine.rs:1288-1326, in structure.py). The
semantics here are therefore standard definitions, documented precisely
so the oracles can restate them:

- eigenvector_centrality (directed): power iteration
      x'(v) = Σ_{u→v} x(u),  then  x' ← x' / max(x')
  from x0 = 1, a fixed number of iterations. Max-normalization (not L2)
  keeps every step's reduction order-independent, so results are
  engine-portable. Vertices with no in-path decay to 0.
- closeness_centrality (directed, unweighted hops):
      C(v) = (r(v) − 1) / Σ_{u reachable from v} d(v, u)
  with r(v) = number of vertices reachable from v including itself;
  C(v) = 0 when nothing else is reachable.

Scale notes: eigenvector is one join + agg per iteration (same shape and
cost as PageRank). Closeness runs a multi-source BFS — state is
O(Σ reachable sets); exact all-sources closeness is inherently quadratic
on dense graphs, so at scale pass ``sources`` (landmark sampling) and
keep exactness per landmark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dd_graphdb_spark.graph import PropertyGraph
from dd_graphdb_spark.algorithms._iter import RoundPins, _ckpt, bfs_levels, materialize
from dd_graphdb_spark.algorithms._iter import run_loop, src_edges


def _eigenvector_loop(
    g: PropertyGraph, max_iterations: int = 10, round_to: int | None = None
) -> DataFrame:
    verts = _ckpt(g.vertices.select("id").distinct())
    edges = src_edges(g)
    pins = RoundPins(g.vertices.sparkSession)
    x = pins.materialize(verts.withColumn("score", F.lit(1.0)))
    for _ in range(max_iterations):
        contrib = (
            x.join(edges, x.id == edges.src)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("score").alias("s"))
        )
        # one action: checkpoint the raw scores AND find the max
        # (materialize_agg, r16 — was agg job + checkpoint job); the
        # normalized x is a lazy projection over the stored y blocks
        # (identical arithmetic: one division by the same mx)
        y, (mx,) = pins.materialize_agg(
            verts.join(contrib, "id", "left").select(
                "id", F.coalesce("s", F.lit(0.0)).alias("score")
            ),
            F.max("score"),
        )
        if not mx:  # all-zero vector (no edges): stay at zero
            x = y
            pins.release_except(x)
            break
        x = y.select("id", (F.col("score") / F.lit(float(mx))).alias("score"))
        pins.release_except(y)
    if round_to is not None:
        x = x.select("id", F.round("score", round_to).alias("score"))
    return x


def eigenvector_centrality(
    g: PropertyGraph, max_iterations: int = 10, round_to: int | None = None
) -> DataFrame:
    """Public entry; releases loop-intermediate checkpoint blocks."""
    return run_loop(_eigenvector_loop, g, max_iterations, round_to)


def _closeness_loop(
    g: PropertyGraph,
    sources: list[int] | None = None,
    max_depth: int = 30,
) -> DataFrame:
    """(id, closeness) for every source (all vertices by default;
    landmark subset via ``sources`` at scale). Multi-source BFS: the
    frontier is keyed by (source, vertex), each round one join."""
    verts = g.vertices.select("id").distinct()
    seeds = verts if sources is None else verts.filter(F.col("id").isin(sources))
    visited, _ = bfs_levels(
        seeds.select(F.col("id").alias("source"), F.col("id"), F.lit(0).alias("hops")),
        src_edges(g),
        lambda j, depth: j.select(
            "source", F.col("dst").alias("id"), F.lit(depth).alias("hops")
        ).distinct(),
        max_depth,
        keys=("source",),
        name="closeness",
    )
    per_src = visited.groupBy("source").agg(
        F.count("*").alias("r"), F.sum("hops").alias("total_d")
    )
    return per_src.select(
        F.col("source").alias("id"),
        F.when(F.col("total_d") > 0, (F.col("r") - 1) / F.col("total_d"))
        .otherwise(F.lit(0.0))
        .alias("closeness"),
    )


def closeness_centrality(
    g: PropertyGraph, sources: list[int] | None = None, max_depth: int = 30
) -> DataFrame:
    """Public entry; releases loop-intermediate checkpoint blocks."""
    return run_loop(_closeness_loop, g, sources, max_depth)


def _betweenness_loop(
    g: PropertyGraph,
    sources: list[int] | None = None,
    max_depth: int = 30,
    round_to: int | None = None,
) -> DataFrame:
    """Brandes betweenness (directed, unweighted):
        bc(v) = Σ_{s≠v} δ_s(v),
        δ_s(v) = Σ_{w: (v,w) on s's SP-DAG} σ_sv/σ_sw · (1 + δ_s(w))

    Phase 1 is the closeness multi-source BFS extended with path
    counting: σ(s,v) at depth d = Σ of predecessor σ at d−1 (one
    join+agg per level). Phase 2 materializes the shortest-path DAG with
    one 2-way join, then accumulates δ level-by-level from the deepest
    frontier back — one join+agg per level. Total rounds = 2·diameter.

    Scale notes: state is O(Σ reachable sets) keyed (source, vertex) —
    all-sources exact betweenness is inherently quadratic, so at scale
    pass ``sources`` (landmark/pivot sampling, the standard
    approximation) and keep per-landmark exactness.
    """
    edges = src_edges(g)
    verts = g.vertices.select("id").distinct()
    seeds = verts if sources is None else verts.filter(F.col("id").isin(sources))

    # -- forward: BFS levels + shortest-path counts ---------------------
    visited, deepest = bfs_levels(
        seeds.select(
            F.col("id").alias("source"), F.col("id"), F.lit(0).alias("d"),
            F.lit(1.0).alias("sigma"),
        ),
        edges,
        lambda j, depth: j.groupBy("source", F.col("dst").alias("id"))
        .agg(F.sum("sigma").alias("sigma"))
        .select("source", "id", F.lit(depth).alias("d"), "sigma"),
        max_depth,
        keys=("source",),
        name="betweenness",
    )

    # -- SP-DAG: (source, v→w) where d(w) = d(v)+1 along an edge --------
    v_side = visited.select(
        "source", F.col("id").alias("v"), F.col("d").alias("dv"), F.col("sigma").alias("sigma_v")
    )
    w_side = visited.select(
        "source", F.col("id").alias("w"), F.col("d").alias("dw"), F.col("sigma").alias("sigma_w")
    )
    dag = materialize(
        v_side.join(edges, v_side.v == edges.src)
        .join(w_side, ["source"])
        .filter((F.col("dst") == F.col("w")) & (F.col("dw") == F.col("dv") + 1))
        .select("source", "v", "dv", "sigma_v", "w", "sigma_w")
    )

    # -- backward: δ accumulation, deepest level first ------------------
    # Per-LEVEL δ frames (r15 optimization): the contrib join at level l
    # reads ONLY level l+1's δ — DAG edges step exactly one level and a
    # vertex appears at one level per source (BFS first-visit), so the
    # cumulative-δ join the loop used to run was equivalent but built
    # its hash side from Σ-levels rows and re-materialized the whole
    # cumulative union every round (O(rounds · |δ|) checkpoint writes).
    # Now each round writes O(|level|) and joins |level l+1|; the full δ
    # table exists only as the final lazy union feeding one aggregation.
    # The per-level frames are the loop's OUTPUT: they stay pinned until
    # run_loop's end bracket re-checkpoints the result.
    prev = materialize(
        visited.filter(F.col("d") == deepest)
        .select("source", "id", F.lit(0.0).alias("delta"))
    )
    levels = [prev]
    for lvl in range(deepest - 1, -1, -1):
        contrib = (
            dag.filter(F.col("dv") == lvl)
            .join(
                prev.select("source", F.col("id").alias("w"), "delta"),
                ["source", "w"],
            )
            .groupBy("source", F.col("v").alias("id"))
            .agg(
                F.sum(
                    (F.col("sigma_v") / F.col("sigma_w")) * (F.lit(1.0) + F.col("delta"))
                ).alias("c")
            )
        )
        level = (
            visited.filter(F.col("d") == lvl)
            .join(contrib, ["source", "id"], "left")
            .select("source", "id", F.coalesce("c", F.lit(0.0)).alias("delta"))
        )
        prev = materialize(level)
        levels.append(prev)

    delta = levels[0]
    for x in levels[1:]:
        delta = delta.unionByName(x)
    bc = (
        delta.filter(F.col("id") != F.col("source"))
        .groupBy("id")
        .agg(F.sum("delta").alias("b"))
    )
    out = verts.join(bc, "id", "left").select(
        "id", F.coalesce("b", F.lit(0.0)).alias("betweenness")
    )
    if round_to is not None:
        out = out.select("id", F.round("betweenness", round_to).alias("betweenness"))
    return out


def betweenness_centrality(
    g: PropertyGraph,
    sources: list[int] | None = None,
    max_depth: int = 30,
    round_to: int | None = None,
) -> DataFrame:
    """Public entry; releases loop-intermediate checkpoint blocks."""
    return run_loop(_betweenness_loop, g, sources, max_depth, round_to)
