"""PageRank as a DataFrame power-iteration loop.

Reference semantics (compute_pagerank, graph/algorithms/src/basic.rs:46-131;
incremental variant graph/views/src/incremental_engine.rs:1139-1211):

    new_rank(v) = (1 - d)/n + d * Σ_{u→v} rank(u) / outdeg(u)

with damping ``d`` (default 0.85), bounded iterations, optional L1
convergence tolerance. Dangling vertices contribute nothing (their mass
decays), matching the reference's recurrence.

Spark shape: ranks ⋈ edges on src → groupBy dst sum → left join back onto
the vertex universe. Each iteration is one shuffle on the join key plus an
aggregation with map-side partial sums (``_power_iterate``, the one step
PageRank, personalized PageRank and the incremental PageRank view share).
The rank state is localCheckpoint'ed on a cadence: each job then reads a
materialized RDD instead of re-executing the whole chained-join lineage (lazily
cached inputs re-run their plan once per downstream job until first
materialization — that, not the joins, is what dominates a naive loop).
At 100 TB: pre-partition edges and ranks by the same key so the per-iter
join is co-located; AQE handles skewed hub vertices; swap localCheckpoint
for reliable checkpoint(dir) when executors can be lost.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dd_graphdb_spark.graph import PropertyGraph
from dd_graphdb_spark.algorithms._iter import (
    RoundPins,
    copartitioned,
    materialize_agg,
    materialize_count,
    run_loop,
)


def _power_iterate(
    verts: DataFrame, contrib_edges: DataFrame, ranks: DataFrame, base: Column,
    damping: float, iterations: int, ckpt_every: int = 8,
    tolerance: float | None = None, contrib: Column | None = None,
) -> DataFrame:
    """The PageRank power step all variants share, ``iterations`` times
    from ``ranks`` (id, rank): rank'(v) = base + d·Σ_{u→v} contrib over
    ``contrib_edges`` (src, dst, …), left-joined onto ``verts`` (id).
    ``contrib`` defaults to rank/outdeg; ``base`` may vary per vertex.
    Ranks checkpoint through ``RoundPins`` every ``ckpt_every`` rounds, on
    the last, and every round under a ``tolerance`` (L1 stop, whose delta
    job materializes each round anyway); each checkpoint releases the
    rounds it supersedes. Callers run under ``run_loop``/``pin_scope``."""
    if contrib is None:
        contrib = F.col("rank") / F.col("outdeg")
    pins = RoundPins(verts.sparkSession)
    ranks = pins.materialize(ranks)
    for i in range(iterations):
        contribs = (
            ranks.join(contrib_edges, ranks.id == contrib_edges.src)
            .select(F.col("dst").alias("id"), contrib.alias("contrib"))
            .groupBy("id")
            .agg(F.sum("contrib").alias("msum"))
        )
        new_ranks = verts.join(contribs, "id", "left").select(
            "id",
            (base + F.lit(damping) * F.coalesce(F.col("msum"), F.lit(0.0))).alias("rank"),
        )
        if tolerance is None and (i + 1) % ckpt_every and i < iterations - 1:
            # lazy round: keep every pin — `ranks` still READS the last
            # checkpoint's blocks (which can't recompute)
            ranks = new_ranks
            continue
        new_ranks = pins.materialize(new_ranks)
        l1 = None
        if tolerance is not None:
            l1 = (
                new_ranks.alias("n")
                .join(ranks.alias("o"), "id")
                .agg(F.sum(F.abs(F.col("n.rank") - F.col("o.rank"))).alias("l1"))
                .collect()[0]["l1"]
            )
        ranks = new_ranks
        pins.release_except(ranks)
        if l1 is not None and l1 < tolerance:
            break
    return ranks


def _outdeg_edges(g: PropertyGraph) -> DataFrame:
    """(src, dst, outdeg): each edge's share denominator computed once,
    materialized partitioned on the per-round join key (copartitioned)."""
    edges = g.edges.select("src", "dst")
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    return copartitioned(
        edges.join(outdeg, "src").select("src", "dst", "outdeg"), "src"
    )


def _pagerank_loop(
    g: PropertyGraph,
    damping: float = 0.85,
    max_iterations: int = 20,
    tolerance: float | None = None,
    round_to: int | None = None,
    ckpt_every: int = 8,
    weight_property: str | None = None,
) -> DataFrame:
    """Returns (id, rank). ``tolerance``: stop when the L1 delta between
    iterations drops below it (basic.rs convergence check); None = run all
    ``max_iterations`` (deterministic, oracle-friendly).

    ``ckpt_every``: without a tolerance there is ONE action at the end,
    so materializing every iteration just buys per-iteration job
    overhead — checkpoint on a cadence instead (measured at sf0.1 ×20
    iterations: every-1 9.6 s, every-10 7.2 s, never 7.8 s — plan
    depth starts costing past ~10 chained join-aggs); see
    ``_power_iterate`` for the tolerance case."""
    # one action: checkpoint the vertex set AND count it (r16)
    verts, n = materialize_count(g.vertices.select("id"))
    if n == 0:
        return verts.withColumn("rank", F.lit(0.0))
    if weight_property is not None and weight_property not in g.edges.columns:
        # explicit fail over silent unweighted fallback: a typo'd property
        # name would otherwise produce plausible but wrong ranks
        raise ValueError(
            f"weight_property {weight_property!r} is not an edge column "
            f"(have: {sorted(g.edges.columns)})"
        )
    if weight_property is not None:
        # weighted variant: contributions split proportionally to edge
        # weight (share = w / Σw_out, precomputed once). The unweighted
        # path below keeps its rank/outdeg float expression unchanged —
        # existing oracles restate exactly that tree.
        w = F.coalesce(F.col(weight_property).cast("double"), F.lit(1.0))
        wedges = g.edges.select("src", "dst", w.alias("w"))
        ow = wedges.groupBy("src").agg(F.sum("w").alias("outw"))
        # partitioned + sorted on src once: each iteration's ranks⋈edges
        # join then exchanges only the vertex-sized ranks (copartitioned)
        contrib_edges = copartitioned(
            wedges.join(ow, "src")
            .select("src", "dst", (F.col("w") / F.col("outw")).alias("share")),
            "src",
        )
        contrib_expr = F.col("rank") * F.col("share")
    else:
        contrib_edges, contrib_expr = _outdeg_edges(g), None
    ranks = _power_iterate(
        verts, contrib_edges, verts.withColumn("rank", F.lit(1.0 / n)),
        F.lit(float((1.0 - damping) / n)), damping, max_iterations, ckpt_every,
        tolerance, contrib_expr,
    )
    if round_to is not None:
        ranks = ranks.select("id", F.round("rank", round_to).alias("rank"))
    return ranks


def top_n(ranks: DataFrame, n: int) -> DataFrame:
    """Sort desc by score, take n (PageRankResult::top_n, basic.rs:25-31);
    ties broken by id for a total order."""
    return ranks.orderBy(F.col("rank").desc(), F.col("id").asc()).limit(n)


def pagerank(
    g: PropertyGraph,
    damping: float = 0.85,
    max_iterations: int = 20,
    tolerance: float | None = None,
    round_to: int | None = None,
    ckpt_every: int = 8,
    weight_property: str | None = None,
) -> DataFrame:
    """Public entry: runs the loop, then releases the loop's intermediate
    checkpoint blocks (the loop frame must be gone before GC can free its
    py4j references — see algorithms/_iter.py)."""
    return run_loop(
        _pagerank_loop, g, damping, max_iterations, tolerance, round_to,
        ckpt_every, weight_property,
    )


def _ppr_loop(
    g: PropertyGraph,
    sources: list[int],
    damping: float = 0.85,
    max_iterations: int = 10,
    round_to: int | None = None,
    ckpt_every: int = 8,
) -> DataFrame:
    """Personalized PageRank: the (1−d) restart mass flows only to the
    ``sources`` set (uniform over it) instead of all vertices —
    new(v) = (1−d)·[v ∈ S]/|S| + d·Σ_{u→v} rank(u)/outdeg(u), rank⁰ =
    restart. Same plan shape and checkpoint cadence as `_pagerank_loop`;
    deterministic fixed iterations, so the oracle unrolls rounds."""
    if not sources:
        raise ValueError("personalized_pagerank needs a non-empty source set")
    # restart mass is 1/|S| per source matched via isin (a SET match):
    # duplicates would shrink every share silently, and a typo'd id
    # that matches no vertex loses its share entirely — fail fast on
    # both, like the weight_property guard
    if len(set(sources)) != len(sources):
        raise ValueError(f"duplicate source ids in {sources}")
    # one action: checkpoint the vertex set AND count the matching
    # sources over it (r16 — was checkpoint + filtered count)
    verts, (n_found,) = materialize_agg(
        g.vertices.select("id"),
        F.sum(
            F.when(
                F.col("id").isin([int(s) for s in sources]), F.lit(1)
            ).otherwise(F.lit(0))
        ),
    )
    n_found = int(n_found or 0)
    if n_found != len(sources):
        raise ValueError(
            f"{len(sources) - n_found} of {len(sources)} source ids are not "
            "vertices of the graph"
        )
    restart = F.when(
        F.col("id").isin([int(s) for s in sources]), F.lit(1.0 / len(sources))
    ).otherwise(F.lit(0.0))
    ranks = _power_iterate(
        verts, _outdeg_edges(g), verts.withColumn("rank", restart),
        restart * F.lit(1.0 - damping), damping, max_iterations, ckpt_every,
    )
    if round_to is not None:
        ranks = ranks.select("id", F.round("rank", round_to).alias("rank"))
    return ranks


def personalized_pagerank(
    g: PropertyGraph,
    sources: list[int],
    damping: float = 0.85,
    max_iterations: int = 10,
    round_to: int | None = None,
) -> DataFrame:
    """(id, rank) with restart mass pinned to ``sources``."""
    return run_loop(_ppr_loop, g, sources, damping, max_iterations, round_to)
