"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (its dedup is a config flag with no
implementation — graph/views/src/stream_processing.rs:428,441), these are
first-class operators per the north-star brief:

- exact dedup: hash-groupBy on content digest
- n-gram Jaccard: word-shingle overlap self-join
- MinHash + LSH banding: signature → band buckets → candidate pairs →
  exact-Jaccard verification
- SimHash: sign-aggregated bit signature per document

Everything is expressed with built-in JVM-side functions (no Python UDFs
in the hot path): shingling via ``split``/``transform``/``sequence``,
hashing via an integer polynomial rolling hash (engine-portable — the
DuckDB oracles restate the identical arithmetic), dedup joins as
shuffle hash joins on shingle/band keys.

Scale notes (100 TB): the shingle self-join explodes on hot shingles —
that's precisely what MinHash/LSH avoids: signatures are fixed-size per
doc (k hashes), band buckets bound the candidate-pair space, and the
exact verification join only touches candidates. Band buckets with
pathological skew (boilerplate docs) take the salted pair path
(operators._skew.salted_self_pairs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dd_graphdb_spark.algorithms._iter import _ckpt
from dd_graphdb_spark.operators._skew import salted_self_pairs
from dd_graphdb_spark.operators.text import tokens

MOD = 1_000_000_007
# (a, b) parameters for the MinHash family h_i(x) = (a_i*x + b_i) mod MOD;
# small odd a keeps a*x < 2^63 for x < MOD.
MINHASH_PARAMS = [(3, 1), (5, 7), (7, 13), (11, 19), (13, 29), (17, 37), (19, 43), (23, 53)]
BAND_SIZE = 2
# shingle combiner multiplier: token hashes (< MOD ≈ 2^30) fold as
# (acc*MIX + t) % MOD, so acc*MIX < 2^50 — no 64-bit overflow
MIX = 1_000_003


def poly_hash(col: Column) -> Column:
    """Deterministic polynomial rolling hash of a string column:
    fold (h*31 + ascii(char)) % MOD — identical arithmetic is restated in
    the DuckDB oracles, so results are engine-portable by construction."""
    return F.aggregate(
        F.split(col, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % MOD,
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of a whitespace-tokenized text column."""
    toks = tokens(text)  # \s+ runs — agrees with text.tokens()
    # one slice + join per shingle instead of n element_at + concat —
    # 3x less per-element work through the lambda evaluator
    sh = F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            )
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return sh


def _fold(arr: Column) -> Column:
    """(acc*MIX + t) % MOD left-fold of a token-hash array."""
    return F.aggregate(
        arr, F.lit(0).cast("long"), lambda acc, t: (acc * MIX + t) % MOD
    )


def token_hashes(text: Column) -> Column:
    """Per-token polynomial char hash — each token hashed ONCE per doc
    (a token appears in up to n shingles; hashing shingle *strings*
    re-hashes every char n times and, worse, has to build the shingle
    strings at all)."""
    toks = tokens(text)  # \s+ runs — agrees with text.tokens()
    return F.transform(
        toks,
        lambda t: F.aggregate(
            F.split(t, ""),
            F.lit(0).cast("long"),
            lambda acc, c: (acc * 31 + F.ascii(c)) % MOD,
        ),
    )


def _shingles_from_token_hashes(th: Column, n: int = 3) -> Column:
    """Distinct hashed n-shingles from a BOUND token-hash array column.

    ``th`` MUST be a column reference (not the token_hashes expression
    inline): this expression references ``th`` once per shingle, and an
    inlined token_hashes would be re-evaluated per reference —
    O(tokens · chars) per *shingle* instead of per doc (measured 6×
    slower than even the string path at sf0.1)."""
    return F.when(
        F.size(th) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(th) - n),
                lambda i: _fold(F.slice(th, i + 1, n)),
            )
        ),
    ).otherwise(F.array(_fold(th)))


def with_shingle_hashes(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, sh) with sh = distinct hashed word-n-shingle long array:
    shingle hash = (acc*MIX + token_hash) % MOD fold of its n token
    hashes. Profiling at sf0.1 shows building shingle STRINGS (slice +
    array_join per shingle) dominates the MinHash pipeline; folding 3
    longs per shingle replaces ~60 chars of string assembly per
    shingle, and everything downstream (explode, groupBy, cache,
    array_intersect verification) moves longs instead of strings. The
    DuckDB oracles restate the identical arithmetic, so results stay
    engine-portable by construction.

    Two projection steps on purpose: token hashes bind to a real column
    first so each token is hashed once per doc (see
    _shingles_from_token_hashes).
    """
    t = df.select(
        F.col(id_col).alias("id"), token_hashes(F.col(text_col)).alias("_th")
    )
    return t.select("id", _shingles_from_token_hashes(F.col("_th"), n).alias("sh"))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content digest: one survivor (min id) per distinct
    text + the duplicate count. Digest-groupBy shuffles 1 row per doc."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def _span_table(
    df: DataFrame, window: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, h) — one md5'd ``window``-token span per token position, the
    token-LINEAR explode duplicate_spans checkpoints (kept separate so
    tests/test_plans.py can assert the Generate shape; the final query
    plan reads the checkpoint blocks instead)."""
    from dd_graphdb_spark.operators.text import tokens

    t = df.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("t"))
    n = F.size("t") - F.lit(window - 1)
    idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    return t.select(
        "id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("t"), i, window))),
            )
        ).alias("h"),
    )


def duplicate_spans(
    df: DataFrame,
    window: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact substring duplication (Lee et al. 2022, arXiv:2107.06499
    "Deduplicating Training Data Makes Language Models Better"):
    mark every ``window``-token span that appears VERBATIM in more
    than one document, then score each document by its duplicated-span
    ratio — the span-level sibling of the document-level family
    (exact / MinHash / SimHash / Jaccard / semantic all judge whole
    docs; memorization leaks through spans).

    Shape: one row per token position (linear in corpus tokens, same
    scaling law as the LSH band tables); spans key by md5 of the
    joined window — identical on both engines, and at 100 TB the
    128-bit digest is what shuffles, never the span text. A
    partial-agg groupBy counts distinct carrier docs per key
    (boilerplate hot keys stay one aggregation row each); doc verdicts
    aggregate back with a second partial agg. Cross-document ONLY: a
    span repeated inside a single document is not a duplicate (the
    paper's cross-example leakage target).

    Output: (id_col, n_spans, n_dup_spans, dup_ratio) — dup_ratio is
    -1.0 for documents shorter than ``window`` tokens (no spans; a
    NULL double would degrade through client fetches).
    """
    # the span table feeds TWO aggregations (global dup keys + per-doc
    # verdicts); unmaterialized, each re-tokenizes and re-hashes every
    # window (r15: min-of-3 1.92 s -> 1.45 s at sf0.1). The checkpoint
    # is (id, digest) rows — the same bytes both downstream shuffles
    # already write to disk per pass, paid once instead of recomputed
    spans = _ckpt(_span_table(df, window, text_col, id_col))
    dup = (
        spans.groupBy("h")
        .agg(F.countDistinct("id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(1).alias("isdup"))
    )
    per = (
        spans.join(dup, "h", "left")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_spans"),
            F.count("isdup").alias("n_dup_spans"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce(
                F.round(F.col("n_dup_spans") / F.col("n_spans"), 6), F.lit(-1.0)
            ).alias("dup_ratio"),
        )
    )


def shingle_table(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(id, shingle) exploded distinct-shingle table.

    explode_outer for the same reason as shingle_hash_table: plain
    explode lets pushdown substitute the whole shingle expression into
    an inferred ``size(..) > 0`` filter (re-evaluating shingling per
    row); word_shingles never yields an empty array, so outer ≡ inner.
    """
    return df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(word_shingles(F.col(text_col), n)).alias("s"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    salt_threshold: int = 1000,
    n_salts: int = 16,
) -> DataFrame:
    """All pairs (a < b) with word-n-gram Jaccard ≥ threshold.

    |A∩B| via shingle self-join + count; |A∪B| = |A|+|B|−|A∩B|.

    The self-join goes through the salted pair path (operators._skew),
    like the LSH bands and common-neighbors already do: a boilerplate
    shingle shared by d documents generates d² intersection rows, and an
    unsalted join computes each hot shingle's d² in ONE task — the
    one remaining scale-killer VERDICT r5 flagged. Shingles with more
    than ``salt_threshold`` carriers are split across ``n_salts`` cells
    (exact output, parallel work). LSH (minhash_lsh_pairs) remains the
    preferred path at corpus scale — exact all-pairs is inherently
    quadratic in the carrier count per shingle — but the exact operator
    no longer serializes a hot key into a single straggler task.
    """
    # eager checkpoint, NOT .persist(): sh is read twice (sizes +
    # pair generation) within one action, but CacheManager entries from
    # persist() survive until explicit unpersist — repeated calls would
    # pin shingle tables for the session lifetime. Checkpoint blocks
    # free via GC once the result frame is dropped.
    sh = _ckpt(shingle_table(df, text_col, id_col, n))
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    inter = (
        salted_self_pairs(
            sh, "id", ["s"], salt_threshold=salt_threshold, n_salts=n_salts
        )
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("id", "a").withColumnRenamed("sz", "sza"), "a")
        .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("sz", "szb"), "b")
        .withColumn("jaccard", F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


def shingle_hash_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, x) exploded distinct hashed-shingle table (the scale path —
    see with_shingle_hashes).

    explode_outer, not explode: plain explode makes the optimizer infer
    a ``size(sh) > 0`` filter under the Generate, and predicate pushdown
    substitutes the WHOLE shingle expression (token hashing included)
    into that filter below the projections — re-hashing every doc
    several times per row (measured 6× on sf0.1). ``sh`` is never
    empty (the < n branch emits a 1-element array), so outer ≡ inner.
    """
    return with_shingle_hashes(df, text_col, id_col, n).select(
        "id", F.explode_outer("sh").alias("x")
    )


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(id, h0..h{k-1}) MinHash signature per document."""
    sh = shingle_hash_table(df, text_col, id_col, n)
    aggs = [
        F.min((F.lit(a) * F.col("x") + F.lit(b)) % MOD).alias(f"h{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    ]
    return sh.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    band_salt_threshold: int = 1000,
    n_salts: int = 16,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification.

    Bands of BAND_SIZE signature slots; docs sharing any band bucket are
    candidates; candidates are verified with the true Jaccard ≥ threshold.
    Output schema matches ngram_jaccard_pairs (a, b, jaccard) — LSH is the
    scale path that avoids the all-pairs shingle join.

    Band buckets with pathological skew (boilerplate near-identical docs
    collapse into one bucket) go through the salted pair path
    (operators._skew): buckets over ``band_salt_threshold`` members
    spread their d² candidate generation across ``n_salts`` cells.
    """
    # Compute hashed shingle arrays ONCE and reuse for signatures
    # (exploded) and verification (arrays). Without materialization the
    # self-join below would re-execute the whole signature pipeline for
    # each side, and the verification joins would re-shingle the corpus
    # twice more — the plan is referenced 4×, so cache/checkpoint here is
    # a 4× saving, not a micro-optimization. Arrays are longs, not
    # shingle strings — ~10× smaller in cache and in the verify join.
    # checkpoint, not persist — same CacheManager-leak rationale
    # as ngram_jaccard_pairs
    sh_arr = _ckpt(with_shingle_hashes(df, text_col, id_col, n))
    sh = sh_arr.select("id", F.explode("sh").alias("x"))
    mins = [
        F.min((F.lit(a) * F.col("x") + F.lit(b)) % MOD).alias(f"h{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    ]
    sig = _ckpt(sh.groupBy("id").agg(*mins))
    k = len(MINHASH_PARAMS)
    bands = []
    for band_i in range(k // BAND_SIZE):
        cols = [f"h{band_i * BAND_SIZE + j}" for j in range(BAND_SIZE)]
        bands.append(
            sig.select(
                "id",
                F.lit(band_i).alias("band"),
                F.concat_ws("_", *[F.col(c).cast("string") for c in cols]).alias("bucket"),
            )
        )
    bt = bands[0]
    for x in bands[1:]:
        bt = bt.unionByName(x)
    # no band-table checkpoint needed (r16): salted_self_pairs is
    # single-pass — the 4-way band union is evaluated exactly once into
    # the helper's own keyed checkpoint
    cand = salted_self_pairs(
        bt, "id", ["band", "bucket"], band_salt_threshold, n_salts
    ).distinct()

    # exact verification restricted to candidates: reuse the cached
    # hashed-shingle ARRAYs and intersect JVM-side per pair — O(|A|+|B|)
    # per candidate, vs. the |A|×|B| blow-up of a per-pair cross join.
    # Jaccard over distinct shingle hashes == Jaccard over shingles up
    # to 1e-9-probability hash collisions; the oracle computes the
    # identical quantity.
    shas = sh_arr.select(F.col("id").alias("a"), F.col("sh").alias("sa"))
    shbs = sh_arr.select(F.col("id").alias("b"), F.col("sh").alias("sb"))
    return (
        cand.join(shas, "a")
        .join(shbs, "b")
        .withColumn("inter", F.size(F.array_intersect("sa", "sb")))
        .withColumn("jaccard", F.col("inter") / (F.size("sa") + F.size("sb") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def near_dup_clusters(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """End-to-end near-dup resolution: MinHash-LSH verified pairs →
    connected components over the pair graph → survivor (min id) per
    cluster. Returns (doc_id, keep_id) for every doc in at least one
    near-dup pair; docs without a near-dup are their own survivors and
    are omitted (the output is duplicate-resolution-sized, not
    corpus-sized — at 100 TB the pair graph is orders of magnitude
    smaller than the corpus, and the component fixpoint runs on it,
    never on the corpus)."""
    from dd_graphdb_spark.algorithms.components import connected_components
    from dd_graphdb_spark.graph import PropertyGraph

    # the pair graph is referenced three times below (both vertex-side
    # projections + the edge list the CC loop copartitions); without
    # materialization each reference re-executes the WHOLE LSH
    # candidate+verify pipeline (r15 optimization — same
    # localCheckpoint-not-persist rationale as minhash_lsh_pairs)
    pairs = _ckpt(minhash_lsh_pairs(df, threshold, text_col, id_col, n))
    verts = (
        pairs.select(F.col("a").alias("id"))
        .union(pairs.select(F.col("b").alias("id")))
        .distinct()
    )
    g = PropertyGraph(
        verts,
        pairs.select(
            F.col("a").alias("src"), F.col("b").alias("dst"), F.lit("dup").alias("label")
        ),
    )
    comp = connected_components(g)
    return comp.select(
        F.col("id").alias(id_col), F.col("component").alias("keep_id")
    )


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3, bits: int = 16
) -> DataFrame:
    """(id, simhash) — ``bits``-wide SimHash over word shingles.

    bit_j(sig) = 1 iff Σ_shingles (bit_j(h(shingle)) ? +1 : −1) > 0,
    with h = poly_hash mod 2^bits.
    """
    sh = shingle_hash_table(df, text_col, id_col, n).withColumn("x", F.col("x") % (2**bits))
    # one ±1 vote aggregate per bit (literal shift amounts keep this fully
    # JVM-side; no row explosion)
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("x"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    per = sh.groupBy("id").agg(*aggs)
    sig = None
    for j in range(bits):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return per.select("id", sig.alias("simhash"))
