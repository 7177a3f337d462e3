"""Shortest paths & reachability as frontier fixpoints.

Reference semantics:
- Weighted Dijkstra: weight from an edge property, default 1.0, path
  reconstruction, INF/None when unreachable (compute_shortest_path,
  graph/algorithms/src/basic.rs:277-340; the incremental engine's
  SPFA-ish variant incremental_engine.rs:1214-1285 returns dist +
  "a->b->c" path string).
- BFS shortest path: unweighted, max_depth bound, returns vertex path
  (graph/storage/src/lib.rs:834-871).
- Reachability / transitive closure: fixpoint reach ∪ (reach ⋈ edges)
  (graph/algorithms/src/lib.rs:14-43).

BFS and reachability are first-visit searches on the shared frontier
loop, ``_iter.bfs_levels``. SSSP's Spark shape is its own
Bellman-Ford-style frontier relaxation — each round joins
the updated-distance frontier with edges and min-combines into the
distance table. Rounds ≈ longest shortest-path hop count. Driver only
checks an "any improvement?" flag; all data stays distributed.
``localCheckpoint`` bounds lineage. At 100 TB, edges bucketed by src make
the relax join co-located; delta-frontier joins keep per-round work
proportional to the frontier, not the graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dd_graphdb_spark.graph import PropertyGraph
from dd_graphdb_spark.algorithms._iter import RoundPins, bfs_levels, copartitioned, run_loop
from dd_graphdb_spark.algorithms._iter import src_edges


def _sssp_loop(
    g: PropertyGraph,
    source: int,
    weight_property: str | None = None,
    default_weight: float = 1.0,
    max_iterations: int = 50,
    target: int | None = None,
    include_unreachable: bool = True,
    on_exhaustion: str = "raise",
) -> DataFrame:
    """Single-source shortest paths. Returns (id, distance, path) where
    path is the reference's "a->b->c" rendering; unreachable vertices get
    distance = +Infinity and a NULL path (the reference's INF/None —
    incremental_engine.rs:1214-1285; basic.rs:277-340).

    ``target``: early-terminate once the target's distance can no longer
    improve — no frontier vertex is closer than the target's settled
    distance (valid for non-negative weights; Dijkstra's target-pop rule,
    basic.rs:299-305) — and return only that vertex's row.

    ``on_exhaustion``: what to do when ``max_iterations`` rounds elapse
    with relaxation still improving (distances would be silently wrong:
    reachable vertices reported +Infinity / too-long). "raise" (default)
    errors like the centrality/SCC non-convergence guards; "truncate"
    opts into the bounded-rounds semantics (e.g. a fixed-round
    Bellman-Ford matched by an equally-truncated oracle)."""
    if on_exhaustion not in ("raise", "truncate"):
        raise ValueError(f"on_exhaustion must be 'raise' or 'truncate', got {on_exhaustion!r}")
    e = g.edges
    if weight_property is not None and weight_property not in e.columns:
        # same explicit-fail contract as pagerank: a typo'd property name
        # must not silently degrade to hop-count distances. Per-EDGE
        # missing values (nulls in an existing column) still fall back to
        # default_weight below — that is the reference's "default 1.0".
        raise ValueError(
            f"weight_property {weight_property!r} is not an edge column "
            f"(have: {sorted(e.columns)}); for unweighted SSSP pass "
            "weight_property=None"
        )
    if weight_property is not None:
        w = F.coalesce(F.col(weight_property).cast("double"), F.lit(default_weight))
    else:
        w = F.lit(default_weight)
    # partitioned + sorted on the per-round join key ONCE — each relax
    # round then exchanges only the frontier (see copartitioned; the
    # unpartitioned checkpoint re-shuffled all ~400 M sf10 colocation
    # edges every round: 1372 s). A graph with a DECLARED src layout
    # (LOAD-phase artifact, see PropertyGraph.edges_layout) is used
    # as-is: the projection preserves partitioning/ordering, so the
    # query pays zero layout build (measured 415 s of the 982 s sf10
    # run — the rounds themselves are 16-31 s each).
    base = e.select("src", "dst", w.alias("w"))
    edges = base if g.edges_layout == "src" else copartitioned(base, "src")

    # per-round state (dist carries path strings) is re-checkpointed each
    # round; release superseded rounds eagerly (see RoundPins)
    pins = RoundPins(g.vertices.sparkSession)
    dist = pins.materialize(
        g.vertices.select("id")
        .filter(F.col("id") == source)
        .select("id", F.lit(0.0).alias("distance"), F.col("id").cast("string").alias("path"))
        # checkpoint-root the initial state like every later round: when
        # vertices and edges share a scan (e.g. a co-location graph
        # self-joined from one table), the round-1 best⋈dist self-join
        # otherwise fails attribute dedup ("key not found: id#N")
    )
    frontier = dist
    for i in range(max_iterations):
        relaxed = (
            frontier.join(edges, frontier.id == edges.src)
            .select(
                F.col("dst").alias("id"),
                (F.col("distance") + F.col("w")).alias("distance"),
                F.concat(F.col("path"), F.lit("->"), F.col("dst").cast("string")).alias("path"),
            )
        )
        # keep the best candidate per vertex this round (deterministic
        # tie-break on the path string mirrors "first found" stability)
        best = relaxed.groupBy("id").agg(
            F.min(F.struct("distance", "path")).alias("b")
        ).select("id", F.col("b.distance").alias("distance"), F.col("b.path").alias("path"))
        # one action materializes the round AND yields the emptiness
        # check (materialize_count, r16 — was checkpoint job + isEmpty)
        improved, n_improved = pins.materialize_count(
            best.alias("n")
            .join(dist.alias("o"), "id", "left")
            .filter(F.col("o.id").isNull() | (F.col("n.distance") < F.col("o.distance")))
            .select(F.col("id"), F.col("n.distance").alias("distance"), F.col("n.path").alias("path"))
        )
        if n_improved == 0:
            break
        # merge as ONE full-outer join (improved wins) rather than
        # anti-join + union: the latter places the same checkpointed
        # relation on two branches, which Spark 4.1's relation dedup
        # mis-rewrites for scan-backed graphs ("key not found: id#N")
        dist = pins.materialize(
            dist.alias("o")
            .join(improved.alias("n"), "id", "full")
            .select(
                "id",
                F.coalesce(F.col("n.distance"), F.col("o.distance")).alias("distance"),
                F.coalesce(F.col("n.path"), F.col("o.path")).alias("path"),
            )
        )
        frontier = improved
        pins.release_except(dist, frontier)
        if target is not None:
            trow = dist.filter(F.col("id") == target).collect()
            if trow:
                fmin = frontier.agg(F.min("distance")).collect()[0][0]
                if fmin is None or fmin >= trow[0]["distance"]:
                    break
    else:
        if on_exhaustion == "raise":
            # the loop ran out with the last round still improving —
            # probe whether ANOTHER round would improve (the last merge
            # may have settled everything); only paid on exhaustion
            probe = (
                frontier.join(edges, frontier.id == edges.src)
                .select(F.col("dst").alias("id"), (F.col("distance") + F.col("w")).alias("nd"))
                .join(dist.select("id", "distance"), "id", "left")
                .filter(F.col("distance").isNull() | (F.col("nd") < F.col("distance")))
            )
            if not probe.isEmpty():
                raise RuntimeError(
                    f"sssp did not converge in max_iterations={max_iterations} "
                    "rounds (distances still improving) — raise max_iterations, "
                    "or pass on_exhaustion='truncate' for bounded-round semantics"
                )
    if include_unreachable:
        dist = g.vertices.select("id").join(dist, "id", "left").select(
            "id",
            F.coalesce("distance", F.lit(float("inf"))).alias("distance"),
            "path",
        )
    if target is not None:
        dist = dist.filter(F.col("id") == target)
    return dist


def _bfs_shortest_path_loop(
    g: PropertyGraph,
    source: int,
    target: int | None = None,
    max_depth: int = 10,
    label: str | None = None,
) -> DataFrame:
    """Unweighted BFS. Returns (id, hops, path); with ``target`` set,
    only that vertex's row (empty DF = unreachable, matching the
    reference's None). Early-terminates when the target is settled
    (graph/storage/src/lib.rs:858-861). All of a level's candidates
    share its hop count, so min(path) per vertex is the reference's
    deterministic "first found"."""
    seed = (
        g.vertices.select("id")
        .filter(F.col("id") == source)
        .select("id", F.lit(0).alias("hops"), F.col("id").cast("string").alias("path"))
    )

    def step(j: DataFrame, depth: int) -> DataFrame:
        path = F.concat(F.col("path"), F.lit("->"), F.col("dst").cast("string"))
        return (
            j.groupBy(F.col("dst").alias("id"))
            .agg(F.min(path).alias("path"))
            .select("id", F.lit(depth).alias("hops"), "path")
        )

    def reached(frontier: DataFrame) -> bool:
        return not frontier.filter(F.col("id") == target).isEmpty()

    visited, _ = bfs_levels(
        seed, src_edges(g, label), step, max_depth, stop=None if target is None else reached
    )
    if target is not None:
        return visited.filter(F.col("id") == target)
    return visited


def _reachability_loop(g: PropertyGraph, source: int, max_iterations: int = 50) -> DataFrame:
    """All vertices reachable from ``source`` (the seed included), as
    (id). Fixpoint reach ∪ (reach ⋈ edges) with a delta frontier so each
    round only expands newly found vertices."""
    reach, _ = bfs_levels(
        g.vertices.select("id").filter(F.col("id") == source),
        src_edges(g),
        lambda j, _d: j.select(F.col("dst").alias("id")).distinct(),
        max_iterations,
        name="reachability",
        bound="max_iterations",
    )
    return reach


def sssp(
    g: PropertyGraph,
    source: int,
    weight_property: str | None = None,
    default_weight: float = 1.0,
    max_iterations: int = 50,
    target: int | None = None,
    include_unreachable: bool = True,
    on_exhaustion: str = "raise",
) -> DataFrame:
    """Public entry; releases loop-intermediate checkpoint blocks."""
    return run_loop(
        _sssp_loop,
        g,
        source,
        weight_property,
        default_weight,
        max_iterations,
        target,
        include_unreachable,
        on_exhaustion,
    )


def bfs_shortest_path(
    g: PropertyGraph,
    source: int,
    target: int | None = None,
    max_depth: int = 10,
    label: str | None = None,
) -> DataFrame:
    """Public entry; releases loop-intermediate checkpoint blocks."""
    return run_loop(_bfs_shortest_path_loop, g, source, target, max_depth, label)


def reachability(g: PropertyGraph, source: int, max_iterations: int = 50) -> DataFrame:
    """Public entry; releases loop-intermediate checkpoint blocks."""
    return run_loop(_reachability_loop, g, source, max_iterations)
