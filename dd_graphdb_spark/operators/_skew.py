"""Skew-safe self-join pair generation, shared by common-neighbors and
MinHash-LSH candidate generation.

A self-join on a grouping key emits d² pairs for a key with d members,
and an unsalted join computes each hot key's d² in ONE task. This helper
splits hot keys (group size > ``salt_threshold``) onto a salted path:
the left side is bucketed into ``n_salts`` salts by member id and the
right side is replicated per salt, spreading each hot key's pair
generation across n_salts (key, salt) cells. Exact output, parallel
work — the same technique AQE's skew-join mitigation applies to shuffled
joins, done explicitly so it also covers the pair-explosion stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def salted_self_pairs(
    df: DataFrame,
    id_col: str,
    key_cols: list[str],
    salt_threshold: int = 1000,
    n_salts: int = 16,
    payload_cols: tuple[str, ...] = (),
    carry_cols: tuple[str, ...] = (),
    annotated_out: list | None = None,
) -> DataFrame:
    """All ordered pairs (a < b) of ``id_col`` values sharing identical
    ``key_cols`` values — one output row per matching key instance
    (callers count or distinct as needed). Hot keys are salted.

    ``payload_cols``: extra columns carried through the pair join and
    emitted per side as ``<col>_a`` / ``<col>_b`` — for verification
    steps that need per-member data (vectors, norms) on BOTH sides of
    each candidate, replacing two post-hoc re-attach joins (guide §2.4).

    ``carry_cols`` / ``annotated_out``: a caller that ALSO needs the
    evaluated input for its own downstream work (semantic_dedup's final
    per-id cell join) passes a list as ``annotated_out``; the helper
    appends its internal annotated checkpoint — columns ``_m``,
    key_cols, payload_cols, carry_cols, ``_sz`` — so the caller reads
    the already-materialized blocks instead of keeping a SECOND
    caller-side checkpoint of the same data (one eager job instead of
    two). ``carry_cols`` ride the one exchange into that checkpoint but
    are dropped before the pair joins.

    Single-pass shape (optimization r16): the input is evaluated ONCE —
    one hash exchange on ``key_cols`` feeds a whole-partition window
    count, so every member row carries its key's group size inline and
    hot/cold routing is a filter, not a separate size-probe aggregation
    plus two broadcast anti-joins (the r15 shape referenced its input
    five times, which is why every caller needed its own checkpoint).
    The annotated frame is the shared keyed checkpoint
    (``algorithms._iter._keyed_checkpoint``, built with AQE off): it
    preserves hashpartitioning(key_cols, n_ckpt) AND the window's sort
    order — so the cold self-join below needs NO exchange and NO sort on
    either side (both sides are the same pre-partitioned, pre-sorted
    blocks).

    Contract notes: this operator is EAGER (the checkpoint runs a Spark
    job at DataFrame-construction time) and does not accept streaming
    inputs. localCheckpoint blocks are MEMORY_AND_DISK and freed when
    the returned frame is GC'd; on a multi-executor cluster they die
    with their executor (no recompute path) — for long jobs on
    preemptible nodes prefer ``df.checkpoint()`` semantics upstream (see
    README "localCheckpoint durability").
    """
    base = df.select(F.col(id_col).alias("_m"), *key_cols, *payload_cols, *carry_cols)
    spark = df.sparkSession

    # Explosive-join parallelism guard: the pair join's INPUTS are tiny
    # (one row per member) while its OUTPUT is d² per key, so AQE —
    # which sizes post-shuffle partitions by INPUT bytes — would
    # coalesce the probe side to ~1 partition and run the whole
    # explosion in one task (observed at sf1: 5 hot keys × 15k members
    # = 1.1B join rows on a single core). The cold join inherits the
    # checkpoint's width (no exchange to coalesce); the hot probe side
    # keeps an explicit AQE-exempt repartition into n_parts, one width
    # that follows the host: 4 slots per core, at least n_salts. (key,
    # salt) cells may share a slot, which decides only which task makes
    # a cell's pairs, never which pairs; per-cell output stays bounded
    # (hot: d·d/n_salts; cold: ≤ salt_threshold² per key). A slot per
    # cell (a 256 floor) left most hot tasks empty: 5 hot n-gram keys ×
    # 16 salts fill at most 80 cells.
    n_parts = max(n_salts, spark.sparkContext.defaultParallelism * 4)

    # Checkpoint width is SIZE-ADAPTIVE (the wide_shuffle pattern):
    # Catalyst's free size estimate over the input, one partition per
    # SPARK_GRAFT_PAIR_PART_BYTES (4 MB default — deliberately small
    # because each input row fans out up to d-fold in the cold join),
    # at least the session shuffle width, capped at n_parts — the cap
    # wins when the session is wider than the host (32 on a 4-core
    # host runs 16). An unusable estimate takes the cap.
    from dd_graphdb_spark.algorithms._iter import _env_int, _keyed_checkpoint, plan_size_bytes

    est = plan_size_bytes(base)
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if est is not None:
        part_bytes = max(1, _env_int("SPARK_GRAFT_PAIR_PART_BYTES", 4 << 20))
        n_ckpt = min(n_parts, max(shuffle_n, est // part_bytes + 1))
    else:
        n_ckpt = n_parts

    ann = _keyed_checkpoint(
        base,
        n_ckpt,
        key_cols,
        lambda f: f.withColumn("_sz", F.count("*").over(Window.partitionBy(*key_cols))),
    )

    if annotated_out is not None:
        annotated_out.append(ann)

    cold = ann.filter(F.col("_sz") <= salt_threshold).drop("_sz", *carry_cols)
    hot = ann.filter(F.col("_sz") > salt_threshold).drop("_sz", *carry_cols)

    pay_a = [F.col(c).alias(f"{c}_a") for c in payload_cols]
    pay_b = [F.col(c).alias(f"{c}_b") for c in payload_cols]
    out_cols = ["a", "b", *[f"{c}_a" for c in payload_cols], *[f"{c}_b" for c in payload_cols]]

    a_cold = cold.select(F.col("_m").alias("a"), *key_cols, *pay_a)
    b_cold = cold.select(F.col("_m").alias("b"), *key_cols, *pay_b)
    pairs_cold = a_cold.join(b_cold, key_cols).select(*out_cols)

    a_hot = (
        hot.select(F.col("_m").alias("a"), *key_cols, *pay_a)
        .withColumn("_salt", F.pmod(F.hash("a"), F.lit(n_salts)).cast("int"))
        .repartition(n_parts, *key_cols, "_salt")
    )
    b_hot = hot.select(
        *key_cols,
        F.col("_m").alias("b"),
        *pay_b,
        F.explode(F.array(*[F.lit(i) for i in range(n_salts)])).alias("_salt"),
    )
    pairs_hot = a_hot.join(b_hot, [*key_cols, "_salt"]).select(*out_cols)

    return pairs_cold.union(pairs_hot).filter(F.col("a") < F.col("b"))
