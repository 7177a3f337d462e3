"""Connected components & SCC as label-propagation fixpoints.

Reference semantics:
- CC batch: union-find over undirected edges (find_connected_components,
  graph/algorithms/src/basic.rs:157-206) — component id = min vertex id.
- CC differential: min-label propagation to fixpoint
  (graph/algorithms/src/lib.rs:143-186).
- Component *count* (compute_connectivity,
  graph/views/src/incremental_engine.rs:1082-1136).
- SCC: forward ∩ reverse reachability, min-vertex representative
  (graph/algorithms/src/lib.rs:252-289).

Spark shape: each round does (1) comp(v) ← min(comp(v), min over
neighbors comp(u)) and (2) a pointer-jumping shortcut
comp(v) ← comp(comp(v)) (FastSV-style; Zhang/Azad/Buluç, and the
shortcutting half of Kiveris et al., "Connected Components in MapReduce
and Beyond"). Labels double their reach per round, so the fixpoint
arrives in ~log2(diameter) rounds instead of ~diameter — the difference
between 5 and 20 sequential shuffles on a 100 TB graph. The shortcut
preserves the loop invariant (comp(v) is always the id of a vertex in
v's component, and comp(x) ≤ x), so labels stay monotonically
non-increasing.

Iteration mechanics (important at any scale): the evolving state is
eagerly localCheckpoint'ed EVERY round so each job reads a materialized
RDD instead of re-executing the whole lineage (a lazily-persisted input
re-runs its plan once per downstream job until first materialization —
on a multi-table-union graph that dominates everything). Convergence is
a scalar aggregate on the checkpointed state: both the neighbor-min and
the shortcut only ever decrease labels, so sum(component) is strictly
decreasing until the fixpoint — one cheap job, no self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dd_graphdb_spark.localrel import local_df

from dd_graphdb_spark.graph import PropertyGraph


from dd_graphdb_spark.algorithms._iter import RoundPins, bfs_levels, copartitioned
from dd_graphdb_spark.algorithms._iter import run_loop, wide_shuffle


def _connected_components_loop(g: PropertyGraph, max_iterations: int = 50) -> DataFrame:
    """Returns (id, component) with component = min vertex id reachable
    via undirected edges."""
    g = wide_shuffle(g)  # see connected_components
    verts = g.vertices.select("id").distinct()
    e = g.edges.select("src", "dst")
    # partitioned on src — the per-round join key (gp.id == sym.src);
    # dedup INSIDE the build (one exchange — see copartitioned). A
    # declared-symmetric src-layout graph skips the build entirely.
    if g.edges_symmetric and g.edges_layout == "src":
        sym = e
    else:
        sym = copartitioned(
            e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))),
            "src",
            dedup_cols=["src", "dst"],
        )

    # comp is re-checkpointed every round; release superseded rounds
    # eagerly so pinned state stays at one |V|-sized copy (see RoundPins)
    pins = RoundPins(g.vertices.sparkSession)
    comp = pins.materialize(verts.withColumn("component", F.col("id")))
    prev_sum = None
    for _ in range(max_iterations):
        # pointer-jumping shortcut first (FastSV's stale-grandparent
        # form): gp(v) = comp(comp(v)) from the PREVIOUS round's
        # materialized labels. Labels are vertex ids of the same
        # component, so the |V|-row self-join resolves each label to its
        # label's label — reach doubles per round (log-diameter
        # convergence) with a single checkpoint per round.
        parents = comp.select(
            F.col("id").alias("component"), F.col("component").alias("gp")
        )
        gp = comp.join(parents, "component", "left").select(
            "id", F.coalesce("gp", "component").alias("component")
        )
        nbr_min = (
            gp.join(sym, gp.id == sym.src)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("nbr_component"))
        )
        # one action materializes the round AND evaluates the fixpoint
        # sum (materialize_agg, r16 — was checkpoint job + agg job)
        comp, (cur_sum,) = pins.materialize_agg(
            gp.join(nbr_min, "id", "left").select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("nbr_component", "component")
                ).alias("component"),
            ),
            F.sum("component"),
        )
        pins.release_except(comp)
        # labels are monotonically non-increasing → equal sums ⇔ fixpoint
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        # exhausted with labels still decreasing: the result is NOT a
        # fixpoint — raise like the SCC guard instead of returning
        # silently-split components
        raise RuntimeError(
            f"connected_components did not converge in "
            f"max_iterations={max_iterations} rounds — raise max_iterations"
        )
    return comp


def component_count(g: PropertyGraph, max_iterations: int = 50) -> DataFrame:
    """Number of connected components (compute_connectivity parity)."""
    return connected_components(g, max_iterations).agg(
        F.count_distinct("component").alias("component_count")
    )


def _strongly_connected_components_loop(
    g: PropertyGraph, max_rounds: int = 25, max_iterations: int = 50
) -> DataFrame:
    """SCC via forward-backward coloring (the MapReduce FW-BW algorithm;
    same result semantics as the reference's forward ∩ reverse
    reachability with min-vertex representative,
    graph/algorithms/src/lib.rs:252-289).

    Per round: (1) propagate color(v) = min id that reaches v (forward
    min-label fixpoint) over the remaining subgraph; (2) vertices that can
    reach their color root through same-colored vertices form the SCC of
    that root (backward mark fixpoint); (3) remove found SCCs, repeat.
    A DAG fully resolves in one round; each round peels ≥1 SCC per color.

    Returns (id, scc) where scc = min vertex id of the component.
    """
    # remaining_e is EDGE-sized and re-checkpointed per peeling round —
    # the same accumulation class that OOM'd k-core at sf10; the peeled
    # `marked` sets are the loop's OUTPUT and are `forget`-frozen instead
    # (run_loop's end bracket frees them after the final re-checkpoint)
    pins = RoundPins(g.vertices.sparkSession)
    remaining_v, n_remaining = pins.materialize_count(g.vertices.select("id").distinct())
    # a declared src-layout edge frame is already unique (src, dst) and
    # materialized — round 1 reads it in place (later rounds' shrunken
    # frames re-checkpoint as usual)
    if g.edges_layout == "src":
        remaining_e = g.edges.select("src", "dst")
    else:
        remaining_e = pins.materialize(g.edges.select("src", "dst").distinct())
    results: list[DataFrame] = []

    for _ in range(max_rounds):
        if n_remaining == 0:
            break
        # (1) forward min-label coloring over remaining subgraph
        color = pins.materialize(remaining_v.withColumn("color", F.col("id")))
        prev_sum = None
        for _ in range(max_iterations):
            # pointer-jumping shortcut (see _connected_components_loop):
            # color(v)=u means u reaches v, and color(u)=w means w reaches
            # u, so w reaches v — color(color(v)) keeps the invariant for
            # directed reachability coloring too.
            parents = color.select(
                F.col("id").alias("color"), F.col("color").alias("gp")
            )
            gp = color.join(parents, "color", "left").select(
                "id", F.coalesce("gp", "color").alias("color")
            )
            nbr = (
                gp.join(remaining_e, gp.id == remaining_e.src)
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("color").alias("nbr_color"))
            )
            # one action: round checkpoint + fixpoint sum (r16)
            color, (cur_sum,) = pins.materialize_agg(
                gp.join(nbr, "id", "left").select(
                    "id",
                    F.least(F.col("color"), F.coalesce("nbr_color", "color")).alias("color"),
                ),
                F.sum("color"),
            )
            pins.release_except(remaining_v, remaining_e, color)
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        else:
            raise RuntimeError(
                f"SCC forward coloring did not converge in "
                f"max_iterations={max_iterations} rounds — raise max_iterations"
            )
        # (2) backward mark: can v reach its color root via same-color
        # path? A BFS from each root over the REVERSED same-color edges;
        # a predecessor inherits the frontier vertex's root color. An
        # exhausted mark raises: recording the partial set would SPLIT
        # one SCC into many (a 60-cycle at the old limits returned 10)
        rev_e = pins.materialize(
            remaining_e.join(
                color.withColumnRenamed("id", "src").withColumnRenamed("color", "c_src"), "src"
            )
            .join(color.withColumnRenamed("id", "dst").withColumnRenamed("color", "c_dst"), "dst")
            .filter(F.col("c_src") == F.col("c_dst"))
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        marked, _ = bfs_levels(
            color.filter(F.col("id") == F.col("color")).select("id", "color"),
            rev_e,
            lambda j, _d: j.select(F.col("dst").alias("id"), "color").distinct(),
            max_iterations,
            keys=("color",),
            name="SCC backward mark",
            bound="max_iterations",
        )
        results.append(marked.select("id", F.col("color").alias("scc")))
        remaining_v, n_remaining = pins.materialize_count(
            remaining_v.join(marked.select("id"), "id", "left_anti")
        )
        remaining_e = pins.materialize(
            remaining_e.join(marked.select(F.col("id").alias("src")), "src", "left_anti")
            .join(marked.select(F.col("id").alias("dst")), "dst", "left_anti")
            .select("src", "dst")
        )
        pins.release_except(remaining_v, remaining_e)

    if n_remaining != 0:
        # every round peels ≥1 SCC, so this only triggers on graphs with
        # more SCC "layers" than max_rounds — silently dropping vertices
        # would return an incomplete partition
        raise RuntimeError(
            f"SCC did not converge within max_rounds={max_rounds}; "
            "raise max_rounds for this graph"
        )
    if not results:
        return local_df(g.vertices.sparkSession, [], "id long, scc long")
    out = results[0]
    for r in results[1:]:
        out = out.union(r)
    return out


def _connected_components_single_partition(g: PropertyGraph) -> DataFrame:
    """Size-gated single-task union-find — the tiny-graph fast path.

    The FastSV loop's cost floor is round LATENCY (checkpoint job +
    convergence job per round), ~2 s even on a 6-vertex graph; for a
    graph whose whole edge set fits one task comfortably (callers gate
    on measured state bytes) the right plan is the same one Spark picks
    for broadcast-sized join sides: ship it to ONE task. Vertices and
    edges funnel through a single Arrow-batched mapInPandas partition
    (coalesce(1) is a narrow dependency — no shuffle) running min-root
    union-find, so labels equal the distributed fixpoint's exactly
    (component = min member id). One job, no checkpoints, nothing
    pinned. NOT for general use — the distributed loop is the scale
    path; this exists so an incremental view's small-state refresh
    isn't charged log-diameter round latency."""
    verts = g.vertices.select("id")
    edges = g.edges.select("src", "dst")
    tagged = verts.select(
        F.col("id").alias("a"), F.lit(None).cast("long").alias("b")
    ).unionByName(
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    )

    def uf(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            # Arrow→pandas turns the NULLABLE 'b' column (vertex rows
            # carry NULL) into float64, which silently loses precision
            # for ids >= 2^53 and could merge distinct vertices; the
            # nullable Int64 extension dtype keeps exact 64-bit values
            b_col = pdf["b"].astype("Int64")
            for a, b in zip(pdf["a"], b_col):
                a = int(a)
                parent.setdefault(a, a)
                if not pd.isna(b):
                    b = int(b)
                    parent.setdefault(b, b)
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        # union by MIN root: the final find() of any
                        # member resolves to the component's min id
                        if ra < rb:
                            parent[rb] = ra
                        else:
                            parent[ra] = rb
        ids = sorted(parent)
        yield pd.DataFrame(
            {"id": ids, "component": [find(i) for i in ids]}
        )

    return tagged.coalesce(1).mapInPandas(uf, "id long, component long")


def connected_components(
    g: PropertyGraph, max_iterations: int = 50, single_partition: bool = False
) -> DataFrame:
    """Public entry; releases loop-intermediate checkpoint blocks.

    Runs on a wide_shuffle graph: FastSV's per-round neighbor-min
    reduction is an EDGE-sized aggregate (same-host sf10 A/B on the
    derived-graph gate query: 77 s at 32 initial partitions → 47 s at
    256). SCC does NOT take the raise — its peel rounds are many small
    stages and the wider fan-out measured 1.7x slower (283 s vs 487 s).

    ``single_partition=True`` routes to the one-task union-find — ONLY
    for callers that measured the graph to be tiny (see
    _connected_components_single_partition)."""
    if single_partition:
        return _connected_components_single_partition(g)
    return run_loop(_connected_components_loop, g, max_iterations)


def strongly_connected_components(
    g: PropertyGraph, max_rounds: int = 25, max_iterations: int = 50
) -> DataFrame:
    """Public entry; releases loop-intermediate checkpoint blocks."""
    return run_loop(_strongly_connected_components_loop, g, max_rounds, max_iterations)
