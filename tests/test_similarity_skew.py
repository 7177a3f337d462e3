"""IVF ANN + salted-pair skew path (operators.similarity / _skew)."""

import pytest
from pyspark.sql import functions as F

import dd_graphdb_spark.operators.similarity as S
from dd_graphdb_spark.operators import dedup as D

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _key(df):
    return sorted((r["q_id"], r["neighbor_id"], r["sim"], r["rank"]) for r in df.collect())


def test_ivf_probe_all_equals_brute_force(emb):
    # probing every cell = scanning the full corpus → IVF must reproduce
    # the exact brute-force ranking
    brute = S.brute_force_topk(emb, [0, 1, 2], k=5)
    ivf = S.ivf_topk(emb, [0, 1, 2], n_centroids=4, n_probe=4, k=5)
    assert _key(ivf) == _key(brute)


def test_ivf_partial_probe_subset_of_brute(emb):
    brute = {(r["q_id"], r["neighbor_id"]): r["sim"] for r in
             S.brute_force_topk(emb, [0, 1, 2], k=100).collect()}
    ivf = S.ivf_topk(emb, [0, 1, 2], n_centroids=8, n_probe=2, k=5).collect()
    assert len(ivf) > 0
    for r in ivf:  # every IVF hit must carry the true similarity
        assert brute[(r["q_id"], r["neighbor_id"])] == r["sim"]


def test_ivf_lloyd_training_runs(emb):
    cents0 = S.train_centroids(emb, n_centroids=4, iters=0)
    cents2 = S.train_centroids(emb, n_centroids=4, iters=2)
    assert len(cents0) == len(cents2) == 4
    assert len(cents0[0]) == len(cents2[0])
    assert cents0 != cents2  # training moved the centroids
    out = S.ivf_topk(emb, [0, 1], n_centroids=4, n_probe=2, k=3, train_iters=2)
    assert out.count() > 0


def test_cosine_near_dup_finds_identical_vectors(spark):
    # identical/near-identical vectors collide in every band, so the
    # banded LSH path must surface them; sim of an exact duplicate is 1
    rows = [(i, [float(i + 1), float(2 * i + 1), 1.0, 0.5]) for i in range(12)]
    rows += [(100, [1.0, 2.0, 3.0, 4.0]), (101, [1.0, 2.0, 3.0, 4.0]),
             (102, [2.0, 4.0, 6.0, 8.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {(r["a"], r["b"]): r["sim"]
           for r in S.cosine_near_dup_pairs(emb, threshold=0.999).collect()}
    assert out[(100, 101)] == 1.0  # exact duplicate
    assert out[(100, 102)] == 1.0  # scaled duplicate (cosine ignores norm)
    assert out[(101, 102)] == 1.0


def test_cosine_near_dup_salting_exact(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plain = S.cosine_near_dup_pairs(emb, threshold=0.3, salt_threshold=10**9)
    salted = S.cosine_near_dup_pairs(emb, threshold=0.3, salt_threshold=1, n_salts=4)
    k = lambda df: sorted((r["a"], r["b"], r["sim"]) for r in df.collect())
    assert k(plain) == k(salted)


def test_ivf_persisted_index_prunes_and_matches(spark, emb, tmp_path):
    # write-time half: corpus persisted partitioned by cell; query-time
    # half must (a) reproduce ivf_topk exactly and (b) prune partitions
    idx = str(tmp_path / "ivf_index")
    S.ivf_write_index(emb, idx, n_centroids=4)
    qvecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin([0, 1, 2])).collect()
    }
    out = S.ivf_topk_indexed(spark, idx, qvecs, n_probe=2, k=5)
    direct = S.ivf_topk(emb, [0, 1, 2], n_centroids=4, n_probe=2, k=5)
    assert _key(out) == _key(direct)
    # the scan must carry a partition filter on cell — probing reads
    # only the probed inverted lists
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters", 1)[1][:200]


def test_lsh_band_salting_exact(spark):
    # force the salted path (threshold 1) and check identical output
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i % 3}") for i in range(30)],
        "doc_id long, text string",
    )
    plain = D.minhash_lsh_pairs(docs, 0.5, band_salt_threshold=10**9)
    salted = D.minhash_lsh_pairs(docs, 0.5, band_salt_threshold=1, n_salts=4)
    k = lambda df: sorted((r["a"], r["b"], r["jaccard"]) for r in df.collect())
    assert k(plain) == k(salted)
    assert len(k(plain)) > 0


def test_ngram_jaccard_salting_exact(spark):
    """Exact n-gram Jaccard through the salted pair path must be
    bit-identical to the unsalted join — the hot boilerplate shingle
    (shared by every doc) is the d-squared key the salting spreads."""
    docs = spark.createDataFrame(
        [(i, f"common boiler plate header then unique tail {i} {i+1} {i+2}") for i in range(24)],
        "doc_id long, text string",
    )
    plain = D.ngram_jaccard_pairs(docs, 0.2, salt_threshold=10**9)
    salted = D.ngram_jaccard_pairs(docs, 0.2, salt_threshold=1, n_salts=4)
    k = lambda df: sorted((r["a"], r["b"], r["jaccard"]) for r in df.collect())
    assert k(plain) == k(salted)
    assert len(k(plain)) > 0


def test_pq_encode_seeds_code_to_themselves(emb):
    """Codebook vectors encode to their own index in every subspace —
    their sub-vector distance to themselves is exactly 0.0."""
    cb = S.pq_codebook(emb, m=8, n_codewords=16)
    codes = {
        r["nid"]: list(r["codes"])
        for r in S.pq_encode(emb, cb).filter(F.col("nid") < 16).collect()
    }
    for vid, cs in codes.items():
        assert cs == [vid] * 8, (vid, cs)


def test_pq_adc_matches_manual_model(emb):
    """ADC distances equal the exact LUT-sum computed in Python from the
    same codes and codebook (the operator's literal-LUT path is the same
    arithmetic, so equality is exact up to the round(6))."""
    cb = S.pq_codebook(emb, m=8, n_codewords=16)
    codes = {r["nid"]: list(r["codes"]) for r in S.pq_encode(emb, cb).collect()}
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") == 3).collect()
    }
    q = vecs[3]
    got = {
        r["neighbor_id"]: r["adist"]
        for r in S.pq_topk(emb, [3], m=8, n_codewords=16, k=5).collect()
    }
    for nid, adist in got.items():
        want = 0.0
        for s in range(8):
            sub = q[s * 8 : (s + 1) * 8]
            w = cb[s][codes[nid][s]]
            d2 = 0.0
            for a, b in zip(sub, w):
                d2 = d2 + (a - b) * (a - b)
            want = want + d2
        assert abs(want - adist) < 1e-6, (nid, want, adist)


def test_pq_recall_nonzero_and_bounded(emb):
    """PQ top-5 overlaps the exact L2 top-5 somewhere (sane quantizer)
    and never exceeds 5 (the window bound)."""
    pq = S.pq_topk(emb, [0, 1, 2], m=8, n_codewords=16, k=5)
    ex = S.brute_force_l2_topk(emb, [0, 1, 2], k=5)
    hits = (
        ex.select("q_id", "neighbor_id")
        .intersect(pq.select("q_id", "neighbor_id"))
        .count()
    )
    assert 0 <= hits <= 15
    assert pq.groupBy("q_id").count().agg(F.max("count")).collect()[0][0] == 5


def test_pq_rejects_indivisible_dims(emb):
    with pytest.raises(ValueError, match="not divisible"):
        S.pq_codebook(emb, m=7, n_codewords=4)


def test_ivf_pq_subset_of_pq_with_all_cells_probed(emb):
    """Probing ALL cells makes IVF-PQ rank exactly like plain PQ (same
    codes, same LUTs, no pruning); probing fewer cells yields a subset
    of each query's candidate pool."""
    full = S.ivf_pq_topk(emb, [0, 1], n_centroids=8, n_probe=8, m=8,
                         n_codewords=16, k=5)
    plain = S.pq_topk(emb, [0, 1], m=8, n_codewords=16, k=5)
    key = lambda df: sorted(
        (r["q_id"], r["neighbor_id"], r["adist"], r["rank"]) for r in df.collect()
    )
    assert key(full) == key(plain)
    pruned = S.ivf_pq_topk(emb, [0, 1], n_centroids=8, n_probe=2, m=8,
                           n_codewords=16, k=50)
    cand = {(r["q_id"], r["neighbor_id"]) for r in pruned.collect()}
    pool = {
        (r["q_id"], r["neighbor_id"])
        for r in S.pq_topk(emb, [0, 1], m=8, n_codewords=16, k=10**6).collect()
    }
    assert cand <= pool


def test_semantic_dedup_greedy_prune(spark):
    """SemDeDup on a crafted frame: centroids seed from v0/v1
    (orthogonal); v2/v3 are near-copies of v0 (same cell, pairwise
    cos ~1) and v4 a near-copy of v1. The lowest id in each near-dup
    set survives as the representative; later members all point at it
    (min lower-id, not a chain)."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 0.0, 0.0, 1.0]),
        (2, [1.0, 0.001, 0.0, 0.0]),
        (3, [1.0, 0.0, 0.001, 0.0]),
        (4, [0.0, 0.0, 0.001, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: (r["keep"], r["dup_of"])
        for r in S.semantic_dedup(emb, n_centroids=2, threshold=0.9).collect()
    }
    assert out[0] == (True, None)
    assert out[1] == (True, None)
    assert out[2] == (False, 0)
    assert out[3] == (False, 0)
    assert out[4] == (False, 1)


def test_semantic_dedup_rejects_empty_quantizer(spark):
    """n_centroids < 1 has no cell to assign any vector to: the operator
    fails loudly at entry instead of deep in the probe fold."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="n_centroids >= 1"):
        S.semantic_dedup(emb, n_centroids=0)


def test_semantic_dedup_cells_bound_the_pairs(spark):
    """Near-dups split across different cells are NOT compared — the
    documented SemDeDup recall tradeoff (cell-locality is what makes
    the quadratic work partition-local at scale)."""
    # centroids seed from vec_id 0 and 1 (orthogonal); 2 lands with 0,
    # 3 with 1 — the (2,3) pair is cross-cell and stays unexamined even
    # though cos(2,3) ~ 0.707 > threshold 0.5 would match within a cell
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [1.0, 0.4]),
        (3, [0.6, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r["keep"] for r in
           S.semantic_dedup(emb, n_centroids=2, threshold=0.5).collect()}
    # within-cell: cos(0,2)=0.928 >= 0.5 -> 2 pruned; cos(1,3)=0.857 -> 3 pruned
    assert out == {0: True, 1: True, 2: False, 3: False}


def test_duplicate_spans_cross_document_only(spark):
    """Exact-substring spans: d1/d2 share an 8-token span; d3 repeats
    its own span twice (intra-doc — NOT a duplicate); d4 is shorter
    than the window (sentinel ratio -1.0)."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, shared + " one two"),
        (2, "x y " + shared),
        (3, ("p q r s t u v w " * 2).strip()),   # own 8-gram twice
        (4, "too short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_ratio"])
        for r in D.duplicate_spans(docs, window=8).collect()
    }
    # d1: 10 tokens -> 3 spans, exactly the pure shared one is cross-doc
    assert out[1][0] == 3 and out[1][1] == 1
    # d2: 10 tokens -> 3 spans, the shared suffix span duplicates
    assert out[2][0] == 3 and out[2][1] == 1
    # d3: intra-doc repetition only -> no cross-doc duplicates
    assert out[3][1] == 0 and out[3][0] == 9
    # d4: no spans at all -> sentinel
    assert out[4] == (0, 0, -1.0)
