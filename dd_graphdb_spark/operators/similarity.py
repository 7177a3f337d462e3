"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: exact baseline — cross join restricted to the
  query set, JVM-side dot products via zip_with/aggregate (no Python).
- LSH-bucketed ANN: random-hyperplane signatures partition the corpus;
  top-k runs within buckets only. Hyperplanes are data-derived
  (deterministic) so results are oracle-checkable.

Scale notes (100 TB): brute force is O(|Q|·|C|·d) — fine for small query
sets because the corpus side stays partitioned and the query side is
broadcast. The LSH path is the scale answer: bucket key is computed in a
single projection, the per-bucket join is a shuffle hash join on the
bucket key, and k·d floats per row stream through whole-stage codegen.
An IVF variant (k-means centroids as bucket keys) drops in by replacing
the signature expression.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dd_graphdb_spark.localrel import local_df


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — same evaluation order as the
    DuckDB oracle's list_reduce, so doubles match bit-for-bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query id (neighbors exclude
    the query itself). Output: (q_id, neighbor_id, sim, rank)."""
    from pyspark.sql.window import Window

    # norms are computed ONCE per vector before the pair join — the
    # cosine per pair then costs one fold (dot) instead of three
    base = emb.select(
        F.col(id_col).alias("nid"), as_double(F.col(vec_col)).alias("nvec")
    ).withColumn("nn", norm(F.col("nvec")))
    q = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("q_id"), as_double(F.col(vec_col)).alias("qvec"))
        .withColumn("qn", norm(F.col("qvec")))
    )
    return _score_rank_topk(F.broadcast(q).join(base, F.col("q_id") != F.col("nid")), k)


def _score_rank_topk(joined: DataFrame, k: int) -> DataFrame:
    """Shared scoring tail of every top-k variant: cosine from the
    precomputed norms, round(6), per-query rank with the (sim desc,
    neighbor_id asc) tie-break. ONE definition so brute-force / IVF /
    indexed-IVF / LSH cannot drift on rounding or tie order (the
    ivf_topk ≡ ivf_topk_indexed guarantee depends on it)."""
    from pyspark.sql.window import Window

    scored = joined.select(
        "q_id",
        F.col("nid").alias("neighbor_id"),
        F.round(
            dot(F.col("qvec"), F.col("nvec")) / (F.col("qn") * F.col("nn")), 6
        ).alias("sim"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _seed_frame(emb: DataFrame, n: int, id_col: str, vec_col: str) -> DataFrame:
    """The ``n`` lowest-id corpus vectors — deterministic seeds for IVF
    centroids and LSH hyperplanes. ``orderBy + limit`` plans
    ``TakeOrderedAndProject``: a bounded per-partition top-n heap (n
    rows of state per task, no shuffle, NO global sort) merged on the
    driver — the scale-appropriate plan for "n smallest ids out of N"
    (guarded by tests/test_plans.py::test_seed_selection_no_global_sort)."""
    return emb.orderBy(id_col).limit(n).select(vec_col)


def _seed_vectors(emb: DataFrame, n: int, id_col: str, vec_col: str) -> list[list[float]]:
    """Collect the seed vectors: only n × d floats reach the driver."""
    return [[float(x) for x in r[0]] for r in _seed_frame(emb, n, id_col, vec_col).collect()]


def _matrix_lit(rows: list[list[float]]) -> Column:
    """One array<array<double>> literal for a plane/centroid matrix.

    A single ``lit`` call instead of rows x dims literal nodes: the
    expression tree (and its codegen) stays constant-size no matter how
    many planes/centroids/dimensions — at 64-dim x 8 centroids the
    per-literal form cost ~3 s of driver-side plan build plus ~6 s of
    first-run codegen compile for a query that executes in 0.5 s."""
    return F.lit([[float(x) for x in r] for r in rows])


def hyperplane_signature(vec: Column, planes: list[list[float]]) -> Column:
    """LSH bucket id: bit_i = (vec · plane_i) > 0. Planes are one
    constant matrix literal folded into the plan (broadcast-free)."""
    powers = F.lit([1 << i for i in range(len(planes))])
    bits = F.transform(
        _matrix_lit(planes),
        lambda p, i: F.when(dot(vec, p) > 0.0, F.element_at(powers, i + 1)).otherwise(F.lit(0)),
    )
    return F.aggregate(bits, F.lit(0), lambda acc, b: acc + b)


def train_centroids(
    emb: DataFrame,
    n_centroids: int = 8,
    iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """IVF coarse quantizer. Centroids seed from the first
    ``n_centroids`` corpus vectors (deterministic, bounded-heap pick —
    see `_seed_frame`); ``iters`` Lloyd rounds refine them (assign by
    max cosine, recompute element-wise means). Each round is one
    broadcast scoring pass + one aggregation; only n_centroids × d
    values ever reach the driver."""
    cents = _seed_vectors(emb, n_centroids, id_col, vec_col)
    base = emb.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
    for _ in range(iters):
        assigned = base.withColumn("cid", _nearest_centroid(F.col("v"), cents))
        means = (
            assigned.select("cid", F.posexplode("v").alias("pos", "x"))
            .groupBy("cid", "pos")
            # exact decimal sum (order-independent) + one double division
            .agg(
                (
                    F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
                    / F.count("*")
                ).alias("m")
            )
        )
        rows = means.collect()
        new = {}
        for r in rows:
            new.setdefault(r["cid"], {})[r["pos"]] = r["m"]
        cents = [
            [new[c][p] for p in sorted(new[c])] if c in new else cents[c]
            for c in range(len(cents))
        ]
    return cents


def _centroid_sims(vec: Column, cents: list[list[float]]) -> Column:
    """array of cosine(vec, centroid_i), one constant matrix literal."""
    return F.transform(_matrix_lit(cents), lambda c: cosine(vec, c))


def _nearest_centroid(vec: Column, cents: list[list[float]]) -> Column:
    """argmax-cosine centroid id, ties to the lowest id — a constant-
    folded expression, no join (array_position returns the FIRST max)."""
    sims = _centroid_sims(vec, cents)
    return (F.array_position(sims, F.array_max(sims)) - 1).cast("int")


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    n_centroids: int = 8,
    n_probe: int = 2,
    k: int = 5,
    train_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN top-k — the scale path beyond LSH
    bucketing: corpus vectors are assigned to their nearest coarse
    centroid (the inverted lists); each query probes its ``n_probe``
    nearest cells and ranks exactly within them.

    At 100 TB: cell assignment is one constant-folded projection over
    the corpus (write-time, persists as a partition column), queries
    broadcast with their probe lists, and the scoring join touches
    |corpus|·n_probe/n_centroids rows instead of the full corpus.
    Output: (q_id, neighbor_id, sim, rank); recall < 1 by construction.
    """
    from pyspark.sql.window import Window

    cents = train_centroids(emb, n_centroids, train_iters, id_col, vec_col)
    base = (
        emb.select(F.col(id_col).alias("nid"), as_double(F.col(vec_col)).alias("nvec"))
        .withColumn("cell", _nearest_centroid(F.col("nvec"), cents))
        .withColumn("nn", norm(F.col("nvec")))
    )

    # per-query probe list: the n_probe nearest centroids (sim desc,
    # ties to the lowest cid — negated-sim sort keys make both orders
    # ascending for array_sort)
    def probe_cells(qvec: Column) -> Column:
        keyed = F.transform(
            _centroid_sims(qvec, cents),
            lambda x, i: F.struct((-x).alias("negsim"), i.alias("cid")),
        )
        return F.slice(F.transform(F.array_sort(keyed), lambda s: s["cid"]), 1, n_probe)

    q = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("q_id"), as_double(F.col(vec_col)).alias("qvec"))
        .withColumn("qn", norm(F.col("qvec")))
        .withColumn("cell", F.explode(probe_cells(F.col("qvec"))))
    )
    return _score_rank_topk(
        F.broadcast(q).join(base, "cell").filter(F.col("q_id") != F.col("nid")), k
    )


def cosine_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    n_bands: int = 4,
    band_bits: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt_threshold: int = 1000,
    n_salts: int = 16,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the dedup-family member
    over vector columns (exact dedup / MinHash-LSH / SimHash cover text;
    this covers embeddings).

    Banded random-hyperplane LSH generates candidates: ``n_bands``
    independent plane sets of ``band_bits`` planes each; two vectors are
    candidates if their sign signatures agree in ANY band (the same
    band/bucket structure as MinHash-LSH over shingles). Candidates are
    verified with the exact cosine >= threshold. Planes are data-derived
    (first n_bands*band_bits corpus vectors) so results are
    deterministic and oracle-checkable; recall < 1 vs the all-pairs scan
    by construction — the documented LSH tradeoff.

    Scale notes (100 TB): signatures are one constant-folded projection
    (no shuffle); candidate generation shuffles one (band, bucket) row
    per vector per band and goes through the salted pair path
    (operators._skew) so a degenerate bucket (e.g. a corpus of
    near-identical embeddings) spreads its d^2 across ``n_salts`` cells;
    verification is O(d) per candidate, never all-pairs. Output: (a, b,
    sim).

    Execution shape (r15/r16, same treatment as semantic_dedup): all
    ``n_bands`` signatures + the norm are ONE corpus projection that
    flows lazily into the salted pair path, which evaluates it exactly
    once into its own keyed checkpoint (r16 single-pass
    salted_self_pairs; the r14 form re-ran the signature folds in every
    branch referencing the band table — 68 parquet scans / 54 exchanges
    in the plan). Vectors+norms ride through the salted pair join
    (payload_cols), verification filters pipeline-locally, and the
    candidate dedup moves AFTER the threshold filter onto the (a, b,
    sim) survivors — sim is deterministic per pair, so
    distinct-then-verify and verify-then-distinct yield the same set,
    and the dedup exchange now carries only survivors.
    """
    from dd_graphdb_spark.operators._skew import salted_self_pairs

    n_planes = n_bands * band_bits
    planes = _seed_vectors(emb, n_planes, id_col, vec_col)
    sigs = [
        hyperplane_signature(F.col("v"), planes[b * band_bits : (b + 1) * band_bits]).alias(
            f"_sig{b}"
        )
        for b in range(n_bands)
    ]
    # no caller-side checkpoint (r16): the signature projection feeds
    # only the band table, and salted_self_pairs evaluates its input
    # exactly once into its own keyed checkpoint
    assigned = emb.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v")
    ).select("id", "v", norm(F.col("v")).alias("n"), *sigs)
    bt = assigned.select(
        "id",
        "v",
        "n",
        F.posexplode(F.array(*[F.col(f"_sig{b}") for b in range(n_bands)])).alias(
            "band", "bucket"
        ),
    )
    cand = salted_self_pairs(
        bt, "id", ["band", "bucket"], salt_threshold, n_salts, payload_cols=("v", "n")
    )
    return (
        cand.withColumn(
            "sim",
            F.round(dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")), 6),
        )
        .filter(F.col("sim") >= threshold)
        .select("a", "b", "sim")
        .distinct()
    )


def semantic_dedup(
    emb: DataFrame,
    n_centroids: int = 8,
    threshold: float = 0.4,
    train_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt_threshold: int = 1000,
    n_salts: int = 16,
    n_probe: int = 1,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — cluster-then-
    prune semantic deduplication, the cell-partitioned sibling of
    `cosine_near_dup_pairs` (which buckets by LSH bands instead).

    Corpus vectors are assigned to their nearest coarse centroid (the
    SAME deterministic quantizer the IVF index uses, so at scale the
    cell column already exists as the index's partition key); within
    each cell a vector is a duplicate when ANY lower-id cell-mate
    matches it at cosine >= threshold, and its representative is the
    smallest such id (greedy pairwise prune — the paper's
    keep-one-per-near-dup-set policy with a deterministic keeper).
    Cross-cell near-dups are missed by construction: that is
    SemDeDup's recall tradeoff, bounded by quantizer quality.

    ``n_probe`` > 1 extends candidate generation with the SAME
    multi-probe idea `ivf_topk` uses for queries: every vector is
    replicated into its ``n_probe`` nearest cells for PAIRING (its
    reported ``cell`` stays the primary/nearest one), so two vectors
    whose probe lists intersect anywhere become a candidate pair —
    recovering boundary-straddling near-dups the single-cell variant
    misses. A pair can co-occur in up to n_probe cells; candidates
    dedup on (a, b) before the exact-cosine verify.

    Scale notes (100 TB): the pair join is PARTITION-LOCAL — one hash
    shuffle on cell, quadratic only within a cell; n_centroids scales
    with the corpus to bound cell size, and a degenerate hot cell
    (near-identical corpus) takes the salted pair path so its d^2
    spreads across ``n_salts`` cells. Multi-probe multiplies per-cell
    membership by ≤ n_probe (candidate volume ≤ n_probe² ×), still
    cell-local — the knob trades exactly that factor for recall.
    Cosines round to 6 decimals before the threshold compare
    (engine-portable boundary decisions). Output: one row per vector —
    (id_col, cell, keep, dup_of; dup_of NULL for survivors).

    Execution shape (r15/r16): the quantizer assignment + probe list +
    norm are ONE corpus projection evaluated exactly once — it flows
    lazily into the r16 single-pass salted_self_pairs, whose internal
    keyed checkpoint is the single materialization; the final per-id
    cell join reads the same blocks via ``annotated_out`` (the primary
    cell rides the one exchange as a carry column). The r14 form
    re-evaluated the 8-cosine assignment fold in EVERY branch that
    referenced the corpus (22 parquet scans / 34 exchanges in the
    physical plan; at 100 TB that is 22 corpus passes). Vectors and
    norms ride THROUGH the salted pair join (payload_cols) so
    verification is pipeline-local — no candidate⋈corpus re-attach
    joins — and multiprobe's duplicate candidates are absorbed by the
    final min-aggregation instead of a dedicated dropDuplicates
    exchange (min over a multiset ≡ min over its set). Same output,
    bit-for-bit: same fold forms on the same doubles, same (greatest,
    least, min) resolution.
    """
    from dd_graphdb_spark.operators._skew import salted_self_pairs

    if n_centroids < 1:
        # an empty quantizer has no cell to assign: fail here instead of
        # deep inside the probe fold (or dropping every id from the
        # output via the NULL cell == cell0 filter below)
        raise ValueError(f"semantic_dedup needs n_centroids >= 1, got {n_centroids}")
    cents = train_centroids(emb, n_centroids, train_iters, id_col, vec_col)

    # probe list exactly as ivf_topk: n_probe nearest centroids, sim
    # desc with ties to the lowest cid (negated-sim sort keys). The
    # FIRST probe IS the nearest centroid (same sims, same tie-break as
    # _nearest_centroid's first-max array_position), so `cell` reads
    # element 1 instead of evaluating the sims a second time.
    # NaN caveat (ADVICE r15): the equivalence assumes no NaN sims —
    # a zero-norm centroid or vector yields cosine 0/0 = NaN, which
    # wins array_max (the old path) but sorts LAST under the
    # negated-sim struct sort. Degenerate zero-norm inputs are outside
    # this operator's domain (corpus embeddings are non-zero by
    # construction; the trained quantizer averages non-empty cells) —
    # on such inputs the two formulations may assign different cells.
    def probe_cells(vec: Column) -> Column:
        keyed = F.transform(
            _centroid_sims(vec, cents),
            lambda x, i: F.struct((-x).alias("negsim"), i.alias("cid")),
        )
        return F.slice(
            F.transform(F.array_sort(keyed), lambda s: s["cid"]), 1, max(n_probe, 1)
        )

    # ONE corpus evaluation, ONE materialization (r16): the quantizer
    # assignment + probe explosion flow lazily into salted_self_pairs,
    # which materializes them into its own keyed checkpoint; the primary
    # cell rides that one exchange as a carry column so the final
    # per-id join below reads the same blocks — no caller-side
    # checkpoint, no second corpus pass.
    assigned = emb.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v")
    ).select("id", "v", norm(F.col("v")).alias("n"), probe_cells(F.col("v")).alias("probes"))
    # explode_outer, not explode: plain explode makes the optimizer
    # infer a size(probes) > 0 filter and push the WHOLE quantizer fold
    # (8 cosines + array_sort) into it — re-evaluating the assignment
    # per row (the shingle_table disease, operators/dedup.py). probes is
    # never empty (slice of an 8-element array, n_probe >= 1), so
    # outer ≡ inner; ``probes`` is bound in the projection above so the
    # fold runs once per row.
    probed = assigned.select(
        "id",
        F.explode_outer("probes").alias("cell"),
        "v",
        "n",
        F.element_at("probes", 1).alias("cell0"),
    )
    ann_holder: list = []
    cand = salted_self_pairs(
        probed,
        "id",
        ["cell"],
        salt_threshold,
        n_salts,
        payload_cols=("v", "n"),
        carry_cols=("cell0",),
        annotated_out=ann_holder,
    )
    dup_of = (
        cand.filter(
            F.round(dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")), 6)
            >= threshold
        )
        # pairs arrive as unordered (a, b): the duplicate is the LARGER
        # id, its candidate representative the smaller side; the min
        # aggregate also collapses multiprobe's repeated (a, b) copies
        .select(
            F.greatest("a", "b").alias("id"),
            F.least("a", "b").alias("rep"),
        )
        .groupBy("id")
        .agg(F.min("rep").alias("dup_of"))
    )
    # every id's primary-cell row (cell == cell0, exactly one per id:
    # probes are distinct cids) read straight from the helper's
    # checkpoint blocks — same (id, cell) frame the r15 caller
    # checkpoint provided, without the extra eager job
    cells = (
        ann_holder[0]
        .filter(F.col("cell") == F.col("cell0"))
        .select(F.col("_m").alias("id"), "cell")
    )
    return cells.join(dup_of, "id", "left").select(
        F.col("id").alias(id_col),
        "cell",
        F.col("dup_of").isNull().alias("keep"),
        "dup_of",
    )


def ivf_write_index(
    emb: DataFrame,
    path: str,
    n_centroids: int = 8,
    train_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the corpus as a CELL-PARTITIONED parquet index — the
    write-time half of IVF at scale: one directory per inverted list, so
    a probing query's `cell IN (...)` predicate becomes partition
    pruning (the scan never opens non-probed cells). Centroids are saved
    alongside as JSON."""
    import json
    import os

    cents = train_centroids(emb, n_centroids, train_iters, id_col, vec_col)
    base = (
        emb.select(F.col(id_col).alias("nid"), as_double(F.col(vec_col)).alias("nvec"))
        .withColumn("cell", _nearest_centroid(F.col("nvec"), cents))
        .withColumn("nn", norm(F.col("nvec")))
    )
    base.write.partitionBy("cell").mode("overwrite").parquet(os.path.join(path, "vectors"))
    with open(os.path.join(path, "centroids.json"), "w") as f:
        json.dump(cents, f)


def _py_cosine(a: list[float], b: list[float]) -> float:
    """Driver-side cosine with the SAME left-fold order as dot()/norm()
    (IEEE doubles both sides), so probe selection matches the in-plan
    expression bit-for-bit."""
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    na = 0.0
    for x in a:
        na += x * x
    nb = 0.0
    for y in b:
        nb += y * y
    return s / ((na**0.5) * (nb**0.5))


def ivf_topk_indexed(
    spark,
    index_path: str,
    query_vecs: dict[int, list[float]],
    n_probe: int = 2,
    k: int = 5,
) -> DataFrame:
    """Query a persisted IVF index: probe lists are computed driver-side
    from the saved centroids (n_centroids·d floats), the scan reads ONLY
    the probed cell partitions (partition pruning — verify with
    `explain`: PartitionFilters on `cell`), and ranking is exact within
    the probed cells. Identical results to `ivf_topk` for the same
    corpus/centroids/parameters."""
    import json
    import os

    from pyspark.sql.window import Window

    with open(os.path.join(index_path, "centroids.json")) as f:
        cents = json.load(f)
    probes = {
        q: sorted(range(len(cents)), key=lambda c: (-_py_cosine(v, cents[c]), c))[:n_probe]
        for q, v in query_vecs.items()
    }
    needed = sorted({c for cells in probes.values() for c in cells})
    base = spark.read.parquet(os.path.join(index_path, "vectors")).filter(
        F.col("cell").isin(needed)
    )
    q_rows = [
        (q, [float(x) for x in v], _py_norm(v), c)
        for q, v in query_vecs.items()
        for c in probes[q]
    ]
    q = local_df(spark, q_rows, "q_id long, qvec array<double>, qn double, cell int")
    return _score_rank_topk(
        F.broadcast(q).join(base, "cell").filter(F.col("q_id") != F.col("nid")), k
    )


def _py_norm(a: list[float]) -> float:
    s = 0.0
    for x in a:
        s += float(x) * float(x)
    return s**0.5


def lsh_topk(
    emb: DataFrame,
    query_ids: list[int],
    n_planes: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k restricted to the query's hyperplane bucket. Planes are
    the first ``n_planes`` corpus vectors (deterministic, data-derived).
    Output: (q_id, neighbor_id, sim, rank) — recall < 1 vs brute force by
    construction; that's the documented ANN tradeoff."""
    from pyspark.sql.window import Window

    planes = _seed_vectors(emb, n_planes, id_col, vec_col)
    base = (
        emb.select(F.col(id_col).alias("nid"), as_double(F.col(vec_col)).alias("nvec"))
        .withColumn("bucket", hyperplane_signature(F.col("nvec"), planes))
        .withColumn("nn", norm(F.col("nvec")))
    )
    q = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("q_id"), as_double(F.col(vec_col)).alias("qvec"))
        .withColumn("bucket", hyperplane_signature(F.col("qvec"), planes))
        .withColumn("qn", norm(F.col("qvec")))
    )
    return _score_rank_topk(
        F.broadcast(q).join(base, "bucket").filter(F.col("q_id") != F.col("nid")), k
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN
# --------------------------------------------------------------------------
def pq_codebook(
    emb: DataFrame,
    m: int = 8,
    n_codewords: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Per-subspace codebooks: the vector space splits into ``m`` equal
    subspaces and each gets ``n_codewords`` codewords — the sub-vectors
    of the ``n_codewords`` lowest-id corpus vectors (the same
    deterministic data-derived seeding as the IVF coarse quantizer and
    the LSH hyperplanes, which keeps results oracle-checkable; a
    production build would k-means-refine each subspace codebook — the
    encode/ADC machinery below is identical either way).
    Returns ``codebook[s][j] = the j-th codeword of subspace s``."""
    seeds = _seed_vectors(emb, n_codewords, id_col, vec_col)
    d = len(seeds[0])
    if d % m != 0:
        raise ValueError(f"dimension {d} is not divisible by m={m} subspaces")
    dsub = d // m
    return [
        [seed[s * dsub : (s + 1) * dsub] for seed in seeds] for s in range(m)
    ]


def _pq_l2sq(sub: Column, w: Column) -> Column:
    """0.0-seeded left-fold squared-L2 between a sub-vector column and a
    codeword array — term form (a-b)*(a-b) and fold order match the
    DuckDB oracle's list_reduce exactly (bit-for-bit doubles)."""
    return F.aggregate(
        F.zip_with(sub, w, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_code(vec: Column, cb_s: Column, s: int, dsub: int) -> Column:
    """Argmin codeword index for subspace ``s`` (ties → lowest index):
    struct-array min orders (distance asc, index asc)."""
    sub = F.slice(vec, s * dsub + 1, dsub)
    keyed = F.transform(
        cb_s, lambda w, j: F.struct(_pq_l2sq(sub, w).alias("d"), j.alias("j"))
    )
    return F.array_min(keyed)["j"]


def pq_encode(
    emb: DataFrame,
    codebook: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes array<int>): each vector compressed to ``m`` small
    codeword indices — with m=8 subspaces that is 8 bytes of code per
    64-dim float vector, a 32x read reduction for the ADC scan below.

    Spark shape: ONE constant-folded projection (codebooks are array
    literals, distances are higher-order folds inside codegen) — no
    shuffle, no Python; at 100 TB this is a write-time column, exactly
    like the IVF cell id."""
    m = len(codebook)
    dsub = len(codebook[0][0])
    vec = as_double(F.col(vec_col))
    codes = F.array(
        *[_pq_code(vec, _matrix_lit(codebook[s]), s, dsub) for s in range(m)]
    )
    return emb.select(F.col(id_col).alias("nid"), codes.alias("codes"))


def brute_force_l2_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact squared-L2 top-k — the ground truth for PQ recall (PQ
    approximates L2, not cosine, so its recall baseline must too).
    Output: (q_id, neighbor_id, adist, rank), adist ascending with the
    lowest-neighbor tie-break — the same ordering contract as pq_topk."""
    from pyspark.sql.window import Window

    base = emb.select(
        F.col(id_col).alias("nid"), as_double(F.col(vec_col)).alias("nvec")
    )
    q = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("q_id"), as_double(F.col(vec_col)).alias("qvec")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(base)
        .filter(F.col("q_id") != F.col("nid"))
        .select(
            "q_id",
            F.col("nid").alias("neighbor_id"),
            F.round(_pq_l2sq(F.col("qvec"), F.col("nvec")), 6).alias("adist"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def pq_topk(
    emb: DataFrame,
    query_ids: list[int],
    m: int = 8,
    n_codewords: int = 16,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ ANN top-k by asymmetric distance computation (ADC): corpus
    vectors are scanned as ``m``-byte PQ codes; each query precomputes a
    per-subspace lookup table of squared-L2 distances to every codeword,
    and a neighbor's approximate distance is the sum of ``m`` table
    lookups — no float vector is touched during the scan.

    At 100 TB this is the memory-bound complement to IVF: IVF prunes
    WHICH rows are scanned (partition pruning), PQ shrinks WHAT a scan
    reads per row (codes are ~32x smaller than the raw vectors) — real
    systems compose them (IVF-PQ); both halves exist here and compose
    by encoding each IVF cell. Everything is JVM-side: the query table
    is a broadcast of |Q| rows carrying literal-computed LUT arrays, the
    scan is element_at folds inside codegen.

    Output: (q_id, neighbor_id, adist, rank) — adist ascending (squared
    L2 approximation), ties to the lowest neighbor id, the query itself
    excluded. Recall < 1 vs brute force by construction."""
    from functools import reduce as _reduce

    from pyspark.sql.window import Window

    codebook = pq_codebook(emb, m, n_codewords, id_col, vec_col)
    dsub = len(codebook[0][0])
    base = pq_encode(emb, codebook, id_col, vec_col)

    # per-query LUTs are computed on the DRIVER — |Q| x m x n_codewords
    # doubles, the PQ-canonical "precompute once per query" step. The
    # fold order and term form ((a-b)*(a-b), 0.0-seeded left fold)
    # mirror the engine/oracle computation exactly, so the Python
    # doubles are bit-identical to what DuckDB derives. (An earlier
    # column-side formulation — nested transform/aggregate lambdas on
    # the broadcast side — silently produced NULLs once a window
    # exchange collapsed the projection: lambda-variable resolution
    # across merged HOF trees is not stable under that rewrite. Literal
    # LUTs keep the scan side the only HOF user.)
    qrows = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("q_id"), as_double(F.col(vec_col)).alias("v"))
        .collect()
    )

    def _lut(vec: list[float]) -> list[list[float]]:
        out = []
        for s in range(m):
            sub = vec[s * dsub : (s + 1) * dsub]
            row = []
            for w in codebook[s]:
                acc = 0.0
                for a, b in zip(sub, w):
                    d = a - b
                    acc = acc + d * d
                row.append(acc)
            out.append(row)
        return out

    spark = emb.sparkSession
    q = local_df(spark, 
        [(int(r["q_id"]), _lut([float(x) for x in r["v"]])) for r in qrows],
        "q_id long, lut array<array<double>>",
    )
    adist = _reduce(
        lambda acc, s: acc
        + F.element_at(
            F.element_at(F.col("lut"), s + 1),
            F.element_at(F.col("codes"), s + 1) + 1,
        ),
        range(m),
        F.lit(0.0),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(base)
        .filter(F.col("q_id") != F.col("nid"))
        .select(
            "q_id",
            F.col("nid").alias("neighbor_id"),
            F.round(adist, 6).alias("adist"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_pq_topk(
    emb: DataFrame,
    query_ids: list[int],
    n_centroids: int = 8,
    n_probe: int = 2,
    m: int = 8,
    n_codewords: int = 16,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the two ANN halves composed the way production vector
    indexes do (FAISS's IVFPQ) — IVF prunes WHICH rows are scanned
    (each query probes its ``n_probe`` nearest coarse cells), PQ shrinks
    WHAT the scan reads per row (``m``-byte codes, ADC lookup-table
    distances).

    At 100 TB: corpus side is ONE write-time projection — (cell, codes)
    per vector, partition by cell — so a query touches
    |corpus|·n_probe/n_centroids rows of m-byte codes; the query side is
    a broadcast of |Q|·n_probe rows carrying driver-computed LUT
    literals. Both quantizers use the deterministic data-derived seeding
    (first-n corpus vectors), keeping every adist an exact
    oracle-checked value.

    Output: (q_id, neighbor_id, adist, rank) — adist ascending, lowest-
    neighbor ties, query excluded. Recall < 1 twice over (cell pruning +
    quantization) — the documented trade, measured in-gate."""
    from functools import reduce as _reduce

    from pyspark.sql.window import Window

    cents = train_centroids(emb, n_centroids, 0, id_col, vec_col)
    codebook = pq_codebook(emb, m, n_codewords, id_col, vec_col)
    dsub = len(codebook[0][0])
    vec = as_double(F.col(vec_col))
    base = emb.select(
        F.col(id_col).alias("nid"),
        _nearest_centroid(vec, cents).alias("cell"),
        F.array(
            *[_pq_code(vec, _matrix_lit(codebook[s]), s, dsub) for s in range(m)]
        ).alias("codes"),
    )

    # driver-side per-query prep (|Q| rows): probe cells by the same
    # cosine fold order as the engine/oracle, plus the PQ LUT — all
    # literals, so the scan side is the only HOF user (see pq_topk)
    def _dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def _norm(a):
        import math

        acc = 0.0
        for x in a:
            acc = acc + x * x
        return math.sqrt(acc)

    def _probes(v):
        sims = [
            (_dot(v, c) / (_norm(v) * _norm(c)), cid) for cid, c in enumerate(cents)
        ]
        sims.sort(key=lambda t: (-t[0], t[1]))
        return [cid for _, cid in sims[:n_probe]]

    def _lut(v):
        out = []
        for s in range(m):
            sub = v[s * dsub : (s + 1) * dsub]
            row = []
            for w in codebook[s]:
                acc = 0.0
                for a, b in zip(sub, w):
                    d = a - b
                    acc = acc + d * d
                row.append(acc)
            out.append(row)
        return out

    qrows = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("q_id"), as_double(F.col(vec_col)).alias("v"))
        .collect()
    )
    spark = emb.sparkSession
    q = local_df(spark, 
        [
            (int(r["q_id"]), cell, _lut([float(x) for x in r["v"]]))
            for r in qrows
            for cell in _probes([float(x) for x in r["v"]])
        ],
        "q_id long, cell int, lut array<array<double>>",
    )
    adist = _reduce(
        lambda acc, s: acc
        + F.element_at(
            F.element_at(F.col("lut"), s + 1),
            F.element_at(F.col("codes"), s + 1) + 1,
        ),
        range(m),
        F.lit(0.0),
    )
    scored = (
        F.broadcast(q)
        .join(base, "cell")
        .filter(F.col("q_id") != F.col("nid"))
        .select(
            "q_id",
            F.col("nid").alias("neighbor_id"),
            F.round(adist, 6).alias("adist"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
