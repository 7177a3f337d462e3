"""LLM-data-pipeline operator suite: dedup, text analysis, similarity
search, multimodal plumbing — over the documents/embeddings tables.

Oracles restate the exact arithmetic (polynomial rolling hash, left-fold
dot products, rational Jaccard) so results are engine-portable, per the
determinism contract in suites/__init__.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dd_graphdb_spark.localrel import local_df

from dd_graphdb_spark.operators import dedup as D
from dd_graphdb_spark.operators import multimodal as M
from dd_graphdb_spark.operators import similarity as S
from dd_graphdb_spark.operators import text as X
from dd_graphdb_spark.operators.dedup import MINHASH_PARAMS, MOD

QUERIES = {}
ORACLES = {}


def _q(name: str, oracle: str | None = None):
    def reg(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return reg


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


JACCARD_THRESHOLD = 0.18  # tuned on sf0.01 to yield a small non-empty pair set

# ---- shared DuckDB fragments ----------------------------------------------
SQL_SHINGLES = r"""
sh AS (
    SELECT id, unnest(sl) AS s FROM (
        SELECT doc_id AS id,
               CASE WHEN len(t) >= 3
                    THEN list_distinct(list_transform(generate_series(1, len(t)-2),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                    ELSE [array_to_string(t, ' ')] END AS sl
        FROM (SELECT doc_id, (CASE WHEN len(trim(text)) = 0 THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END) AS t FROM documents)
    )
)
"""

# polynomial rolling hash of a string s → BIGINT (matches operators.dedup.poly_hash)
def _sql_ph(expr: str) -> str:
    return (
        f"list_reduce(list_prepend(0::BIGINT, list_transform(generate_series(1, len({expr})),"
        f" i -> ascii({expr}[i])::BIGINT)), (h, c) -> (h * 31 + c) % {MOD})"
    )


# hashed-shingle table (id, x) — matches operators.dedup.shingle_hashes:
# per-token char hash, then (acc*MIX + t) % MOD fold of each 3-token
# window (whole-token-list fold when < 3 tokens), distinct per doc
SQL_SHINGLE_HASHES = rf"""
sh AS (
    SELECT id, unnest(xs) AS x FROM (
        SELECT id,
               CASE WHEN len(th) >= 3
                    THEN list_distinct(list_transform(generate_series(1, len(th)-2),
                         i -> list_reduce(list_prepend(0::BIGINT, th[i:i+2]),
                                          (h, v) -> (h * {D.MIX} + v) % {MOD})))
                    ELSE [list_reduce(list_prepend(0::BIGINT, th),
                                      (h, v) -> (h * {D.MIX} + v) % {MOD})]
               END AS xs
        FROM (
            SELECT doc_id AS id,
                   list_transform((CASE WHEN len(trim(text)) = 0 THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END),
                                  tok -> {_sql_ph('tok')}) AS th
            FROM documents
        )
    )
)
"""


SQL_JACCARD_TAIL = f"""
sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
inter AS (
    SELECT x.id AS a, y.id AS b, COUNT(*) AS inter
    FROM sh x JOIN sh y ON x.s = y.s AND x.id < y.id
    GROUP BY x.id, y.id
)
SELECT i.a, i.b, ROUND(i.inter::DOUBLE / (sa.sz + sb.sz - i.inter), 6) AS jaccard
FROM inter i JOIN sizes sa ON i.a = sa.id JOIN sizes sb ON i.b = sb.id
WHERE i.inter::DOUBLE / (sa.sz + sb.sz - i.inter) >= {JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------
@_q(
    "dedup_exact",
    """
    SELECT md5(text) AS digest, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup pairs
# ---------------------------------------------------------------------------
@_q("dedup_ngram_jaccard", "WITH " + SQL_SHINGLES[1:] + ", " + SQL_JACCARD_TAIL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(_docs(spark, sf_dir), JACCARD_THRESHOLD)


# Adversarial skewed corpus for the EXACT Jaccard path: half the docs
# share a boilerplate header, so its shingles each have d/2 carriers —
# the d² pair explosion VERDICT r5 flagged. salt_threshold=100 forces
# the hot shingles (250 carriers at sf0.01) through the salted pair
# path; the oracle replays the identical corpus transform + arithmetic.
_SKEW_BOILER = "terms of service apply to this document"


@_q(
    "dedup_ngram_jaccard_skew",
    "WITH docs_skew AS (\n"
    f"    SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN '{_SKEW_BOILER} ' || text "
    "ELSE text END AS text FROM documents\n), "
    + SQL_SHINGLES[1:].replace("FROM documents", "FROM docs_skew")
    + ", "
    + SQL_JACCARD_TAIL,
)
def dedup_ngram_jaccard_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit(_SKEW_BOILER + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return D.ngram_jaccard_pairs(
        docs, JACCARD_THRESHOLD, salt_threshold=100, n_salts=16
    )


# Sampled variant of the skew gate (r15): identical corpus transform
# and pair arithmetic over the deterministic 1/4 document stratum
# (doc_id % 4 = 0). Pair work is quadratic in documents, so the stratum
# cuts BOTH engines' cost 16× — this is the sf1-gate-sustainable truth
# side (the full gate's DuckDB oracle ran 267.5 s at sf1, 9× the 30 s
# budget). Sampling bound: the stratum keeps the adversarial shape
# exactly (doc_id % 2 = 0 boilerplate docs are half of every %4
# stratum), and the check is EXACT on the stratum — no estimate error,
# just 1/16 of the pair evidence per gate run.
@_q(
    "dedup_ngram_jaccard_skew_sampled",
    "WITH docs_skew AS (\n"
    f"    SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN '{_SKEW_BOILER} ' || text "
    "ELSE text END AS text FROM documents WHERE doc_id % 4 = 0\n), "
    + SQL_SHINGLES[1:].replace("FROM documents", "FROM docs_skew")
    + ", "
    + SQL_JACCARD_TAIL,
)
def dedup_ngram_jaccard_skew_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") % 4 == 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit(_SKEW_BOILER + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return D.ngram_jaccard_pairs(
        docs, JACCARD_THRESHOLD, salt_threshold=100, n_salts=16
    )


# ---------------------------------------------------------------------------
# MinHash signatures + LSH-verified pairs
# ---------------------------------------------------------------------------
def _sql_minhash_sig() -> str:
    mins = ", ".join(
        f"MIN(({a} * x + {b}) % {MOD})::BIGINT AS h{i}" for i, (a, b) in enumerate(MINHASH_PARAMS)
    )
    return f"""
sig AS (SELECT id, {mins} FROM sh GROUP BY id)
"""


@_q(
    "dedup_minhash_signatures",
    "WITH "
    + SQL_SHINGLE_HASHES[1:]
    + ", "
    + _sql_minhash_sig()[1:]
    + "SELECT id, h0, h1, h2, h3, h4, h5, h6, h7 FROM sig",
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_signatures(_docs(spark, sf_dir))


def _sql_lsh_ctes() -> str:
    """bands/cand/sizes/inter CTEs + a ``pairs`` CTE holding the
    verified pair set (shared by the pair query and the clustering
    oracle)."""
    k = len(MINHASH_PARAMS)
    bands = " UNION ALL ".join(
        f"SELECT id, {bi} AS band, h{bi*2}::VARCHAR || '_' || h{bi*2+1}::VARCHAR AS bucket FROM sig"
        for bi in range(k // D.BAND_SIZE)
    )
    return f"""
bands AS ({bands}),
cand AS (
    SELECT DISTINCT x.id AS a, y.id AS b
    FROM bands x JOIN bands y ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id
),
sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
inter AS (
    SELECT c.a, c.b, COUNT(*) AS inter
    FROM cand c JOIN sh sx ON sx.id = c.a JOIN sh sy ON sy.id = c.b AND sx.x = sy.x
    GROUP BY c.a, c.b
),
pairs AS (
    SELECT i.a, i.b, ROUND(i.inter::DOUBLE / (sa.sz + sb.sz - i.inter), 6) AS jaccard
    FROM inter i JOIN sizes sa ON i.a = sa.id JOIN sizes sb ON i.b = sb.id
    WHERE i.inter::DOUBLE / (sa.sz + sb.sz - i.inter) >= {JACCARD_THRESHOLD}
)
"""


def _sql_lsh_pairs() -> str:
    return _sql_lsh_ctes() + "SELECT a, b, jaccard FROM pairs"


# ---------------------------------------------------------------------------
# Near-dup cluster resolution: LSH pairs -> connected components ->
# min-id survivor per cluster. The oracle closes the pair graph with a
# recursive min-label fixpoint over the same pairs CTE the LSH oracle
# verifies.
# ---------------------------------------------------------------------------
def _sql_cluster() -> str:
    return _sql_lsh_ctes() + """,
sym AS (
    SELECT a AS src, b AS dst FROM pairs
    UNION SELECT b, a FROM pairs
),
verts AS (SELECT DISTINCT src AS id FROM sym),
reach(id, r) AS (
    SELECT id, id FROM verts
    UNION
    SELECT reach.id, sym.dst FROM reach JOIN sym ON reach.r = sym.src
)
SELECT id AS doc_id, MIN(r) AS keep_id FROM reach GROUP BY id
"""


@_q(
    "dedup_cluster_survivors",
    "WITH RECURSIVE "
    + SQL_SHINGLE_HASHES[1:]
    + ", "
    + _sql_minhash_sig()[1:]
    + ", "
    + _sql_cluster()[1:],
)
def dedup_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.near_dup_clusters(_docs(spark, sf_dir), JACCARD_THRESHOLD)


@_q(
    "dedup_minhash_lsh",
    "WITH " + SQL_SHINGLE_HASHES[1:] + ", " + _sql_minhash_sig()[1:] + ", " + _sql_lsh_pairs()[1:],
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs(_docs(spark, sf_dir), JACCARD_THRESHOLD)


# ---------------------------------------------------------------------------
# SimHash signatures
# ---------------------------------------------------------------------------
@_q(
    "dedup_simhash",
    "WITH "
    + SQL_SHINGLE_HASHES[1:]
    + """,
hx AS (SELECT id, x % 65536 AS x FROM sh),
bits AS (
    SELECT id, g.j,
           SUM(CASE WHEN (x // (1::BIGINT << g.j)) % 2 = 1 THEN 1 ELSE -1 END)::BIGINT AS v
    FROM hx, generate_series(0, 15) g(j)
    GROUP BY id, g.j
)
SELECT id, SUM(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS simhash
FROM bits GROUP BY id
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_signatures(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
@_q(
    "text_token_count",
    # \s+ tokenization matching operators.text.tokens() (single-space
    # split counted empty tokens / never split tabs or newlines)
    r"SELECT doc_id, len(CASE WHEN len(trim(text)) = 0 THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END)::BIGINT AS n_tokens FROM documents",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = X.token_count(_docs(spark, sf_dir))
    return out.select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"))


@_q(
    "text_bigram_lm_score",
    r"""
    WITH t AS (
        SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []
               ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        FROM documents
    ),
    big AS (
        SELECT doc_id, list_extract(toks, i) AS w1, list_extract(toks, i + 1) AS w2
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, len(toks) - 1)) AS i FROM t)
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2),
    c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
    vv AS (SELECT count(DISTINCT w) AS v FROM (SELECT unnest(toks) AS w FROM t)),
    sc AS (
        SELECT b.doc_id,
               round(ln((c12.c12 + 0.5) / (c1.c1 + 0.5 * vv.v)), 9)::DECIMAL(28,9) AS logp
        FROM big b JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vv
    ),
    pd AS (
        SELECT doc_id, count(*)::BIGINT AS n_bigrams,
               floor(sum(logp)::DOUBLE / count(*) * 1000000 + 0.5) / 1000000 AS lm_score
        FROM sc GROUP BY 1
    )
    SELECT d.doc_id AS id, coalesce(pd.n_bigrams, 0)::BIGINT AS n_bigrams, pd.lm_score
    FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
    """,
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained add-k bigram LM scoring (perplexity-proxy quality
    filter — CCNet/RefinedWeb shape); per-bigram ln(P) rounded to 9
    decimals then summed as DECIMAL so both engines agree exactly."""
    out = X.bigram_lm_scores(_docs(spark, sf_dir))
    return out.select("id", F.col("n_bigrams").cast("long").alias("n_bigrams"), "lm_score")


_BPE_SQL = X.BPE_PATTERN.replace("'", "''")


@_q(
    "text_bpe_token_count",
    f"SELECT doc_id, len(regexp_extract_all(text, '{_BPE_SQL}'))::INT AS n_bpe_tokens "
    "FROM documents",
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer count (operators/text.py BPE_PATTERN —
    constructs chosen for identical Java-regex/RE2 semantics; the
    DuckDB oracle runs the same pattern through RE2)."""
    return X.bpe_token_count(_docs(spark, sf_dir))


_STOP_SQL = ", ".join(f"'{w}'" for w in X.EN_STOPWORDS)


@_q(
    "text_quality",
    rf"""
    WITH t AS (SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END AS toks FROM documents),
    m AS (
        SELECT doc_id,
               len(toks)::BIGINT AS n,
               list_sum(list_transform(toks, x -> strlen(x)))::BIGINT AS total_chars,
               len(list_filter(toks, x -> lower(x) IN ({_STOP_SQL})))::BIGINT AS stop
        FROM t
    )
    SELECT doc_id, n AS n_tokens,
           ROUND(total_chars::DOUBLE / n, 6) AS mean_token_len,
           ROUND(stop::DOUBLE / n, 6) AS stopword_ratio,
           CASE WHEN n >= 20 AND stop::DOUBLE / n >= 0.02 THEN 1 ELSE 0 END AS quality_pass
    FROM m
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = X.quality_score(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "mean_token_len",
        "stopword_ratio",
        "quality_pass",
    )


@_q(
    "text_lang_id",
    rf"""
    WITH t AS (SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END AS toks FROM documents)
    SELECT doc_id,
           CASE WHEN len(list_filter(toks, x -> lower(x) IN ({_STOP_SQL})))::DOUBLE / len(toks) >= 0.05
                THEN 'en' ELSE 'unknown' END AS lang_pred
    FROM t
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.lang_id(_docs(spark, sf_dir))


@_q(
    "text_fingerprint",
    "SELECT doc_id, md5(lower(trim(text))) AS fingerprint FROM documents",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.fingerprint(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------
_SQL_DOT = (
    "list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len({a})),"
    " i -> {a}[i] * {b}[i])), (acc, v) -> acc + v)"
)
_SQL_NORM = (
    "sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform({a}, x -> x * x)),"
    " (acc, v) -> acc + v))"
)


def _sql_cosine_topk(query_pred: str, k: int) -> str:
    dot = _SQL_DOT.format(a="q.qv", b="e.v")
    nq = _SQL_NORM.format(a="q.qv")
    ne = _SQL_NORM.format(a="e.v")
    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE {query_pred}),
    scored AS (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               ROUND({dot} / ({nq} * {ne}), 6) AS sim
        FROM q, e WHERE e.vec_id != q.q_id
    )
    SELECT q_id, neighbor_id, sim, rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id ASC) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


QUERY_IDS = [0, 1, 2]


@_q("sim_cosine_topk", _sql_cosine_topk("vec_id IN (0, 1, 2)", 5))
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = S.brute_force_topk(_emb(spark, sf_dir), QUERY_IDS, k=5)
    return out.select("q_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank"))


def _sql_cosine_near_dup(threshold: float, n_bands: int, band_bits: int) -> str:
    """Same banded-hyperplane candidate generation + exact-cosine verify
    as operators.similarity.cosine_near_dup_pairs: planes = first
    n_bands*band_bits vectors, band b uses planes [b*bits, (b+1)*bits),
    bit weight 1 << (pid % bits)."""
    n_planes = n_bands * band_bits
    dot_vp = _SQL_DOT.format(a="e.v", b="p.pv")
    dot = _SQL_DOT.format(a="ea.v", b="eb.v")
    na = _SQL_NORM.format(a="ea.v")
    nb = _SQL_NORM.format(a="eb.v")
    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
    planes AS (SELECT vec_id AS pid, v AS pv FROM e WHERE vec_id < {n_planes}),
    buckets AS (
        SELECT e.vec_id, (p.pid // {band_bits})::BIGINT AS band,
               SUM(CASE WHEN {dot_vp} > 0.0 THEN (1::BIGINT << (p.pid % {band_bits})::INT) ELSE 0 END)::BIGINT AS bucket
        FROM e, planes p GROUP BY e.vec_id, p.pid // {band_bits}
    ),
    cand AS (
        SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
        FROM buckets x JOIN buckets y ON x.band = y.band AND x.bucket = y.bucket
        WHERE x.vec_id < y.vec_id
    )
    SELECT c.a, c.b, ROUND({dot} / ({na} * {nb}), 6) AS sim
    FROM cand c JOIN e ea ON ea.vec_id = c.a JOIN e eb ON eb.vec_id = c.b
    WHERE ROUND({dot} / ({na} * {nb}), 6) >= {threshold}
    """


@_q("dedup_embedding_cosine", _sql_cosine_near_dup(0.4, 4, 3))
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.cosine_near_dup_pairs(_emb(spark, sf_dir), threshold=0.4, n_bands=4, band_bits=3)


@_q(
    "dedup_exact_substring",
    r"""
    WITH toks AS (
        SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []
               ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        FROM documents
    ),
    spans AS (
        SELECT doc_id, md5(array_to_string(t[i : i + 7], ' ')) AS h
        FROM toks, UNNEST(generate_series(1, greatest(len(t) - 7, 0))) AS u(i)
    ),
    dupk AS (
        SELECT h FROM (
            SELECT h, COUNT(DISTINCT doc_id) AS nd FROM spans GROUP BY h
        ) WHERE nd >= 2
    ),
    per AS (
        SELECT s.doc_id, COUNT(*) AS n_spans, COUNT(d.h) AS n_dup_spans
        FROM spans s LEFT JOIN dupk d ON d.h = s.h
        GROUP BY s.doc_id
    )
    SELECT doc.doc_id,
           COALESCE(per.n_spans, 0) AS n_spans,
           COALESCE(per.n_dup_spans, 0) AS n_dup_spans,
           COALESCE(ROUND(per.n_dup_spans::DOUBLE / per.n_spans, 6), -1.0)
               AS dup_ratio
    FROM documents doc LEFT JOIN per ON per.doc_id = doc.doc_id
    ORDER BY doc.doc_id
    """,
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring duplication (Lee et al. 2022): per
    document, how many of its 8-token windows appear verbatim in some
    OTHER document (operators/dedup.py:duplicate_spans — md5 span keys,
    two partial-agg groupBys, linear in corpus tokens)."""
    return D.duplicate_spans(_docs(spark, sf_dir), window=8)


def _sql_lloyd_cents(n_centroids: int, iters: int) -> str:
    """CTE chain ending in ``cents(cid, cv)`` — the coarse quantizer.
    iters=0: the first ``n_centroids`` corpus vectors (seed-only, the
    flat quantizer every r11 oracle used). iters>0 unrolls Lloyd
    rounds exactly as operators.similarity.train_centroids: argmax-
    cosine assignment (ties to the lowest cid), per-cell element-wise
    mean via the exact decimal-sum contract (order-independent), and
    a cell with no members keeps its previous centroid. Every round's
    CTEs are MATERIALIZED (each feeds two references; DuckDB inlines
    plain CTEs)."""
    cos_ac = f"{_SQL_DOT.format(a='e.v', b='c.cv')} / ({_SQL_NORM.format(a='e.v')} * {_SQL_NORM.format(a='c.cv')})"
    parts = [
        f"cents0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {n_centroids})"
    ]
    for r in range(1, iters + 1):
        parts.append(f"""a{r} AS MATERIALIZED (
        SELECT vec_id, cid AS cell, v FROM (
            SELECT e.vec_id, c.cid, e.v,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {cos_ac} DESC, c.cid ASC
                   ) AS rn
            FROM e, cents{r-1} c
        ) WHERE rn = 1
    )""")
        parts.append(f"""cents{r} AS MATERIALIZED (
        SELECT c0.cid, COALESCE(m.cv, c0.cv) AS cv
        FROM cents{r-1} c0 LEFT JOIN (
            SELECT cell AS cid, list(m ORDER BY pos) AS cv FROM (
                SELECT a.cell, t.pos,
                       SUM(a.v[t.pos]::DECIMAL(28,12))::DOUBLE / COUNT(*) AS m
                FROM a{r} a, UNNEST(generate_series(1, len(a.v))) AS t(pos)
                GROUP BY a.cell, t.pos
            ) GROUP BY cell
        ) m ON m.cid = c0.cid
    )""")
    parts.append(f"cents AS (SELECT cid, cv FROM cents{iters})")
    return ",\n    ".join(parts)


def _sql_semantic_dedup(
    n_centroids: int, threshold: float, n_probe: int = 1, iters: int = 0
) -> str:
    """SemDeDup oracle: same coarse quantizer as the IVF oracle
    (seed-only or Lloyd-TRAINED via ``iters`` — see _sql_lloyd_cents),
    then the greedy prune — a vector's representative is the smallest
    lower-id candidate at rounded cosine >= threshold. ``n_probe`` > 1
    mirrors the engine's multi-probe candidate generation: every
    vector pairs through its n_probe nearest cells (DISTINCT pairs),
    while the reported cell stays the primary one. ``ranked`` is
    MATERIALIZED — it feeds two CTEs and DuckDB inlines CTEs by
    default (re-evaluating the scoring cross join per reference)."""
    cos_vc = f"{_SQL_DOT.format(a='e.v', b='c.cv')} / ({_SQL_NORM.format(a='e.v')} * {_SQL_NORM.format(a='c.cv')})"
    cos_ab = f"{_SQL_DOT.format(a='ea.v', b='eb.v')} / ({_SQL_NORM.format(a='ea.v')} * {_SQL_NORM.format(a='eb.v')})"
    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
    {_sql_lloyd_cents(n_centroids, iters)},
    ranked AS MATERIALIZED (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
        FROM (SELECT e.vec_id, c.cid, {cos_vc} AS sim FROM e, cents c)
    ),
    cells AS (SELECT vec_id, cid AS cell FROM ranked WHERE rn <= {n_probe}),
    prim AS (SELECT vec_id, cid AS cell FROM ranked WHERE rn = 1),
    cand AS (
        SELECT DISTINCT ca.vec_id AS ida, cb.vec_id AS idb
        FROM cells ca JOIN cells cb ON cb.cell = ca.cell AND cb.vec_id < ca.vec_id
    ),
    dups AS (
        SELECT p.ida AS id, MIN(p.idb) AS dup_of
        FROM cand p
        JOIN e ea ON ea.vec_id = p.ida
        JOIN e eb ON eb.vec_id = p.idb
        WHERE ROUND({cos_ab}, 6) >= {threshold}
        GROUP BY p.ida
    )
    SELECT cl.vec_id, cl.cell, (d.dup_of IS NULL) AS keep,
           COALESCE(d.dup_of, -1) AS dup_of
    FROM prim cl LEFT JOIN dups d ON d.id = cl.vec_id
    ORDER BY cl.vec_id
    """


@_q("dedup_semantic_cells", _sql_semantic_dedup(8, 0.4, iters=2))
def dedup_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-then-prune): IVF-cell assignment + greedy
    within-cell cosine prune, one verdict row per vector. The cell
    column is the IVF index's partition key, so at scale the quadratic
    work is partition-local (operators/similarity.py:semantic_dedup).

    r15: the PRIMARY gate now runs the Lloyd-TRAINED coarse quantizer
    (train_iters=2) — the recommended 100 TB configuration (measured
    recall 45/53 trained vs 41/53 seeded-multiprobe, HISTORY.md) — so the
    headline measures the recommended path. The seeded quantizer stays
    covered by dedup_semantic_multiprobe; the multiprobe axis of the
    trained config by dedup_semantic_trained (an exact trained+p2
    duplicate gate would be padding, so this gate keeps n_probe=1)."""
    out = S.semantic_dedup(
        _emb(spark, sf_dir), n_centroids=8, threshold=0.4, train_iters=2
    )
    # survivors' NULL dup_of hashes as a -1 sentinel: a nullable int64
    # column degrades to float in DuckDB's client fetch (35 -> '35.0')
    return out.select(
        "vec_id",
        F.col("cell").cast("long").alias("cell"),
        "keep",
        F.coalesce("dup_of", F.lit(-1).cast("long")).alias("dup_of"),
    )


@_q(
    "dedup_semantic_multiprobe",
    _sql_semantic_dedup(8, 0.4, n_probe=2),
)
def dedup_semantic_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with multi-probe candidate generation (n_probe=2): the
    r12 recall upgrade — vectors pair through their two nearest cells,
    recovering boundary-straddling near-dups, with the reported cell
    and the survivorship rule unchanged
    (operators/similarity.py:semantic_dedup)."""
    out = S.semantic_dedup(_emb(spark, sf_dir), n_centroids=8, threshold=0.4, n_probe=2)
    return out.select(
        "vec_id",
        F.col("cell").cast("long").alias("cell"),
        "keep",
        F.coalesce("dup_of", F.lit(-1).cast("long")).alias("dup_of"),
    )


@_q(
    "dedup_semantic_trained",
    _sql_semantic_dedup(8, 0.4, n_probe=2, iters=2),
)
def dedup_semantic_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup under a Lloyd-TRAINED coarse quantizer (2 refinement
    rounds) + multi-probe — the full 100 TB posture HISTORY.md's
    flat-quantizer analysis prescribes, oracle-checked end to end: the
    DuckDB side replays the identical training (argmax-cosine
    assignment, exact decimal-sum element means, empty-cell carry-
    over) before the same cell-partitioned prune
    (operators/similarity.py:train_centroids/semantic_dedup)."""
    out = S.semantic_dedup(
        _emb(spark, sf_dir), n_centroids=8, threshold=0.4,
        train_iters=2, n_probe=2,
    )
    return out.select(
        "vec_id",
        F.col("cell").cast("long").alias("cell"),
        "keep",
        F.coalesce("dup_of", F.lit(-1).cast("long")).alias("dup_of"),
    )


@_q(
    "dedup_semantic_recall",
    f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
    truth AS MATERIALIZED (
        SELECT DISTINCT eb.vec_id AS id
        FROM e ea JOIN e eb ON ea.vec_id < eb.vec_id
        WHERE ROUND({_SQL_DOT.format(a='ea.v', b='eb.v')} /
              ({_SQL_NORM.format(a='ea.v')} * {_SQL_NORM.format(a='eb.v')}), 6) >= 0.4
    ),
    sd AS MATERIALIZED ({{semdedup}}),
    sd2 AS MATERIALIZED ({{semdedup2}})
    SELECT (SELECT COUNT(*) FROM e) AS n_vectors,
           (SELECT COUNT(*) FROM truth) AS n_dup_global,
           (SELECT COUNT(*) FROM sd WHERE NOT keep) AS n_dup_cells,
           (SELECT COUNT(*) FROM sd JOIN truth ON truth.id = sd.vec_id
            WHERE NOT sd.keep) AS n_agree,
           (SELECT COUNT(*) FROM sd2 WHERE NOT keep) AS n_dup_p2,
           (SELECT COUNT(*) FROM sd2 JOIN truth ON truth.id = sd2.vec_id
            WHERE NOT sd2.keep) AS n_agree_p2
    """.replace("{semdedup}", _sql_semantic_dedup(8, 0.4))
    .replace("{semdedup2}", _sql_semantic_dedup(8, 0.4, n_probe=2)),
)
def dedup_semantic_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured SemDeDup recall IN the gate: the exact all-pairs greedy
    prune (a vector is a duplicate when ANY lower-id vector anywhere
    matches it at cosine >= threshold) vs the cell-local verdicts, at
    BOTH probe levels (n_probe=1 and the r12 multi-probe n_probe=2 —
    the p2 columns quantify the recall recovered by probing the second
    cell). All counts are deterministic, exact oracle-checked values —
    the cross-cell misses (n_dup_global - n_agree) are the quantified
    recall tradeoff, not a bound. The
    all-pairs truth side is deliberately quadratic (the baseline
    class, like the exact n-gram Jaccard proofs) — gate-only, never in
    scale subsets."""
    emb = _emb(spark, sf_dir)
    base = emb.select(
        F.col("vec_id").alias("id"),
        S.as_double(F.col("embedding")).alias("v"),
    ).withColumn("n", S.norm(F.col("v")))
    ea = base.select(F.col("id").alias("a"), F.col("v").alias("va"), F.col("n").alias("na"))
    eb = base.select(F.col("id").alias("b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    truth = (
        ea.join(eb, F.col("a") < F.col("b"))
        .filter(
            F.round(S.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
            >= 0.4
        )
        .select(F.col("b").alias("id"))
        .distinct()
    )
    sd = S.semantic_dedup(emb, n_centroids=8, threshold=0.4)
    dup_cells = sd.filter(~F.col("keep")).select("vec_id")
    sd2 = S.semantic_dedup(emb, n_centroids=8, threshold=0.4, n_probe=2)
    dup_p2 = sd2.filter(~F.col("keep")).select("vec_id")
    return local_df(spark, 
        [
            (
                emb.count(),
                truth.count(),
                dup_cells.count(),
                dup_cells.join(truth, dup_cells.vec_id == truth.id).count(),
                dup_p2.count(),
                dup_p2.join(truth, dup_p2.vec_id == truth.id).count(),
            )
        ],
        "n_vectors long, n_dup_global long, n_dup_cells long, n_agree long, "
        "n_dup_p2 long, n_agree_p2 long",
    )


# Sampled variant of the recall gate (r15): the all-pairs truth side is
# restricted to duplicates in the deterministic 1/8 stratum
# (eb.vec_id % 8 = 0 — the DUPLICATE side of each ordered pair; the
# candidate side stays ALL vectors, so the stratum's truth is the full
# global-prune semantics, just for 1/8 of the verdicts). Truth cost
# drops n²→n²/8 on both engines — the sf1-sustainable form of the
# deliberately-quadratic baseline (417.6 s Spark / 92.2 s DuckDB at sf1
# for the full gate). The check is EXACT on the stratum; recall ratios
# estimate the global ones with a 1/8-sample binomial error bar
# (±~4 pp at the sf1 stratum size n_s=1000), while the full gate stays
# registered for the scales that can afford it.
_SQL_RECALL_SAMPLED_TRUTH = f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
    truth AS MATERIALIZED (
        SELECT DISTINCT eb.vec_id AS id
        FROM e ea JOIN e eb ON ea.vec_id < eb.vec_id AND eb.vec_id % 8 = 0
        WHERE ROUND({_SQL_DOT.format(a='ea.v', b='eb.v')} /
              ({_SQL_NORM.format(a='ea.v')} * {_SQL_NORM.format(a='eb.v')}), 6) >= 0.4
    ),
    sd AS MATERIALIZED ({{semdedup}}),
    sd2 AS MATERIALIZED ({{semdedup2}})
    SELECT (SELECT COUNT(*) FROM e) AS n_vectors,
           (SELECT COUNT(*) FROM e WHERE vec_id % 8 = 0) AS n_stratum,
           (SELECT COUNT(*) FROM truth) AS n_dup_truth_s,
           (SELECT COUNT(*) FROM sd WHERE NOT keep AND vec_id % 8 = 0) AS n_dup_cells_s,
           (SELECT COUNT(*) FROM sd JOIN truth ON truth.id = sd.vec_id
            WHERE NOT sd.keep) AS n_agree_s,
           (SELECT COUNT(*) FROM sd2 WHERE NOT keep AND vec_id % 8 = 0) AS n_dup_p2_s,
           (SELECT COUNT(*) FROM sd2 JOIN truth ON truth.id = sd2.vec_id
            WHERE NOT sd2.keep) AS n_agree_p2_s
    """


@_q(
    "dedup_semantic_recall_sampled",
    _SQL_RECALL_SAMPLED_TRUTH.replace("{semdedup}", _sql_semantic_dedup(8, 0.4))
    .replace("{semdedup2}", _sql_semantic_dedup(8, 0.4, n_probe=2)),
)
def dedup_semantic_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratum-exact SemDeDup recall (see the SQL comment above for the
    sampling bound): identical prune verdicts, truth side restricted to
    duplicate-side vec_id % 8 = 0."""
    emb = _emb(spark, sf_dir)
    base = emb.select(
        F.col("vec_id").alias("id"),
        S.as_double(F.col("embedding")).alias("v"),
    ).withColumn("n", S.norm(F.col("v")))
    ea = base.select(F.col("id").alias("a"), F.col("v").alias("va"), F.col("n").alias("na"))
    eb = base.filter(F.col("id") % 8 == 0).select(
        F.col("id").alias("b"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    truth = (
        ea.join(eb, F.col("a") < F.col("b"))
        .filter(
            F.round(S.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
            >= 0.4
        )
        .select(F.col("b").alias("id"))
        .distinct()
    )
    sd = S.semantic_dedup(emb, n_centroids=8, threshold=0.4)
    dup_s = sd.filter(~F.col("keep") & (F.col("vec_id") % 8 == 0)).select("vec_id")
    sd2 = S.semantic_dedup(emb, n_centroids=8, threshold=0.4, n_probe=2)
    dup_p2_s = sd2.filter(~F.col("keep") & (F.col("vec_id") % 8 == 0)).select("vec_id")
    return local_df(spark, 
        [
            (
                emb.count(),
                emb.filter(F.col("vec_id") % 8 == 0).count(),
                truth.count(),
                dup_s.count(),
                dup_s.join(truth, dup_s.vec_id == truth.id).count(),
                dup_p2_s.count(),
                dup_p2_s.join(truth, dup_p2_s.vec_id == truth.id).count(),
            )
        ],
        "n_vectors long, n_stratum long, n_dup_truth_s long, n_dup_cells_s long, "
        "n_agree_s long, n_dup_p2_s long, n_agree_p2_s long",
    )


def _sql_lsh_topk(k: int) -> str:
    dot_vp = _SQL_DOT.format(a="e.v", b="p.pv")
    dot = _SQL_DOT.format(a="q.qv", b="e.v")
    nq = _SQL_NORM.format(a="q.qv")
    ne = _SQL_NORM.format(a="e.v")
    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
    planes AS (SELECT vec_id AS pid, v AS pv FROM e WHERE vec_id < 4),
    buckets AS (
        SELECT e.vec_id, SUM(CASE WHEN {dot_vp} > 0.0 THEN (1::BIGINT << p.pid::INT) ELSE 0 END)::BIGINT AS bucket
        FROM e, planes p GROUP BY e.vec_id
    ),
    q AS (
        SELECT e.vec_id AS q_id, e.v AS qv, b.bucket
        FROM e JOIN buckets b ON e.vec_id = b.vec_id WHERE e.vec_id IN (0, 1, 2)
    ),
    scored AS (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               ROUND({dot} / ({nq} * {ne}), 6) AS sim
        FROM q JOIN buckets b ON q.bucket = b.bucket JOIN e ON e.vec_id = b.vec_id
        WHERE e.vec_id != q.q_id
    )
    SELECT q_id, neighbor_id, sim, rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id ASC) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


@_q("sim_ann_lsh_topk", _sql_lsh_topk(5))
def sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = S.lsh_topk(_emb(spark, sf_dir), QUERY_IDS, n_planes=4, k=5)
    return out.select("q_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank"))


def _sql_ivf_topk(n_centroids: int, n_probe: int, k: int, iters: int = 0) -> str:
    """IVF oracle: same coarse quantizer (first n vectors as centroids,
    optionally Lloyd-refined ``iters`` rounds — _sql_lloyd_cents),
    argmax-cosine cell assignment with lowest-cid ties, n_probe nearest
    cells per query, exact rank within probed cells."""
    cos_vc = f"{_SQL_DOT.format(a='e.v', b='c.cv')} / ({_SQL_NORM.format(a='e.v')} * {_SQL_NORM.format(a='c.cv')})"
    cos_qn = f"{_SQL_DOT.format(a='q.qv', b='e2.v')} / ({_SQL_NORM.format(a='q.qv')} * {_SQL_NORM.format(a='e2.v')})"
    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
    {_sql_lloyd_cents(n_centroids, iters)},
    scored_cells AS (
        SELECT e.vec_id, c.cid, {cos_vc} AS sim FROM e, cents c
    ),
    cells AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
            FROM scored_cells
        ) WHERE rn = 1
    ),
    qprobe AS (
        SELECT vec_id AS q_id, cid AS cell FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
            FROM scored_cells WHERE vec_id IN (0, 1, 2)
        ) WHERE rn <= {n_probe}
    ),
    q AS (SELECT qp.q_id, e.v AS qv, qp.cell FROM qprobe qp JOIN e ON e.vec_id = qp.q_id),
    scored AS (
        SELECT q.q_id, e2.vec_id AS neighbor_id,
               ROUND({cos_qn}, 6) AS sim
        FROM q JOIN cells cl ON cl.cell = q.cell JOIN e e2 ON e2.vec_id = cl.vec_id
        WHERE e2.vec_id != q.q_id
    )
    SELECT q_id, neighbor_id, sim, rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id ASC) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


@_q("sim_ann_ivf_topk", _sql_ivf_topk(8, 2, 5))
def sim_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-list ANN (coarse quantizer = first 8 corpus vectors,
    2 probed cells) — the documented scale path past LSH bucketing."""
    out = S.ivf_topk(_emb(spark, sf_dir), QUERY_IDS, n_centroids=8, n_probe=2, k=5)
    return out.select("q_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank"))


#: one persisted IVF index per (sf_dir) per session — index construction
#: is a LOAD-phase step (like building the bucketed graph), not part of
#: the indexed-read path this query measures; bench.py pre-builds it
#: untimed, and repeated gate runs reuse it.
_IVF_INDEX_CACHE: dict[str, str] = {}


def ivf_index_path(spark: SparkSession, sf_dir: str, train_iters: int = 0) -> str:
    """Build (once per session per quantizer) and return the persisted
    IVF index for ``sf_dir``'s embeddings table (8 centroids; seed-only
    or Lloyd-trained via ``train_iters`` — the same parameters the
    indexed queries and their oracles use)."""
    key = f"{sf_dir}#it{train_iters}"
    path = _IVF_INDEX_CACHE.get(key)
    if path is None:
        import tempfile

        path = tempfile.mkdtemp(prefix="ivf_idx_")
        S.ivf_write_index(
            _emb(spark, sf_dir), path, n_centroids=8, train_iters=train_iters
        )
        _IVF_INDEX_CACHE[key] = path
    return path


@_q("sim_ann_ivf_indexed", _sql_ivf_topk(8, 2, 5))
def sim_ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED cell-partitioned IVF index must return exactly the
    in-memory ivf_topk results for the same corpus/centroids/params —
    the oracle is the identical SQL. Probes read only the probed cell
    partitions (partition pruning, asserted in tests/test_plans.py)."""
    emb = _emb(spark, sf_dir)
    path = ivf_index_path(spark, sf_dir)
    qvecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(QUERY_IDS))
        .select("vec_id", "embedding")
        .collect()
    }
    out = S.ivf_topk_indexed(spark, path, qvecs, n_probe=2, k=5)
    return out.select("q_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank"))


@_q("sim_ann_ivf_indexed_trained", _sql_ivf_topk(8, 2, 5, iters=2))
def sim_ann_ivf_indexed_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted IVF index under a Lloyd-TRAINED coarse quantizer
    (2 refinement rounds) — the r13 unification of train_centroids with
    the write-time index path: ivf_write_index trains, persists the
    refined centroids alongside the cell-partitioned vectors, and
    ivf_topk_indexed probes them with the same partition pruning. The
    oracle replays the identical training (_sql_lloyd_cents) before the
    same probe/rank (operators/similarity.py:ivf_write_index)."""
    emb = _emb(spark, sf_dir)
    path = ivf_index_path(spark, sf_dir, train_iters=2)
    qvecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(QUERY_IDS))
        .select("vec_id", "embedding")
        .collect()
    }
    out = S.ivf_topk_indexed(spark, path, qvecs, n_probe=2, k=5)
    return out.select("q_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank"))


# ---------------------------------------------------------------------------
# Count-Min sketch: deterministic hash family -> the oracle restates the
# identical arithmetic; estimates are exact-match comparable.
# ---------------------------------------------------------------------------
@_q(
    "sketch_count_min_estimates",
    """
    WITH params(j, a, b) AS (VALUES (0,3,1), (1,5,7), (2,7,13), (3,11,19)),
    keys(user_id) AS (VALUES (1), (2), (3), (4), (5)),
    sketch AS (
        SELECT p.j, ((p.a * e.user_id + p.b) % 1000000007) % 64 AS bucket, COUNT(*) AS cnt
        FROM events e CROSS JOIN params p GROUP BY 1, 2
    ),
    probes AS (
        SELECT k.user_id, p.j, ((p.a * k.user_id + p.b) % 1000000007) % 64 AS bucket
        FROM keys k CROSS JOIN params p
    )
    SELECT pr.user_id::BIGINT AS user_id, MIN(COALESCE(s.cnt, 0))::BIGINT AS est
    FROM probes pr LEFT JOIN sketch s ON pr.j = s.j AND pr.bucket = s.bucket
    GROUP BY 1
    """,
)
def sketch_count_min_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimates for user ids 1..5 over the events
    stream — d x width counters regardless of input size; estimates are
    upper bounds (collisions inflate, never deflate)."""
    from dd_graphdb_spark.graph import read_events
    from dd_graphdb_spark.operators.sketches import cms_build, cms_estimate

    ev = read_events(spark, sf_dir)
    sk = cms_build(ev, "user_id", width=64)
    keys = local_df(spark, [(i,) for i in range(1, 6)], "user_id long")
    return cms_estimate(sk, keys, "user_id", width=64)


# ---------------------------------------------------------------------------
# Multimodal binary plumbing (Arrow mapInPandas; text bytes as payload)
# ---------------------------------------------------------------------------
@_q(
    "multimodal_binary_meta",
    """
    SELECT doc_id AS id, strlen(text)::BIGINT AS n_bytes,
           'application/octet-stream' AS content_type, md5(text) AS digest
    FROM documents
    """,
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    payload = M.to_binary_column(_docs(spark, sf_dir), "text", "doc_id")
    return M.extract_metadata(payload)


@_q(
    "multimodal_decode_dims",
    """
    SELECT doc_id AS id,
           (1 + (strlen(text) * 7) % 64)::INT AS height,
           (1 + (strlen(text) * 13) % 64)::INT AS width,
           3::INT AS channels
    FROM documents
    """,
)
def multimodal_decode_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode stage end-to-end through the Arrow mapInPandas plumbing;
    the container has no codec libs so the deterministic fake kernel runs
    (dims derived from byte length — the oracle restates the formula)."""
    payload = M.to_binary_column(_docs(spark, sf_dir), "text", "doc_id")
    return M.decode_image(payload)


@_q(
    "multimodal_feature_extract",
    """
    SELECT doc_id AS id,
           strlen(text)::BIGINT AS n_bytes,
           len(list_distinct(list_transform(generate_series(1, strlen(text)), i -> text[i])))::BIGINT AS distinct_bytes,
           CASE WHEN strlen(text) = 0 THEN 0.0 ELSE FLOOR(
               list_reduce(list_prepend(0.0, list_transform(generate_series(1, strlen(text)),
                           i -> ascii(text[i])::DOUBLE)), (a, b) -> a + b) / strlen(text) * 1000000 + 0.5) / 1000000
           END AS mean_byte
    FROM documents
    """,
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-statistics feature extraction through the Arrow
    mapInPandas plumbing — a REAL kernel (no codec needed): byte sums are
    integer-valued so numpy's pairwise mean and the oracle's sequential
    fold agree exactly (text is ASCII, bytes == chars)."""
    payload = M.to_binary_column(_docs(spark, sf_dir), "text", "doc_id")
    return M.extract_features(payload)


@_q(
    "multimodal_frame_sample",
    """
    SELECT doc_id AS id, idx::INT AS frame_idx,
           md5(substr(text, idx * 128 + 1, 128)) AS frame_digest
    FROM (
        SELECT doc_id, text,
               unnest(range(0, CAST(ceil(strlen(text) / 128.0) AS BIGINT))) AS idx
        FROM documents
    )
    WHERE idx % 2 = 0
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out (1 doc → n frame rows) with every-2nd-frame
    selection; document text is ASCII so the byte-framed digests equal
    the oracle's character substrings."""
    payload = M.to_binary_column(_docs(spark, sf_dir), "text", "doc_id")
    return M.sample_frames(payload, every_n=2, frame_bytes=128)


# ---------------------------------------------------------------------------
# Embedding covariance (operators/embedding.py): second-order statistics
# in one scan — decimal-exact Σx, Σxy partials, fixed final double
# expression. The oracle restates the identical arithmetic per pair.
# The full-width gram/PCA path (Arrow partials + driver eigh) is gated
# by the SQL invariants of `_pca_invariant_oracle` below plus numpy
# model checks in tests/test_embedding.py.
# ---------------------------------------------------------------------------
_COV_DIMS = [1, 2, 3, 4]


def _cov_oracle() -> str:
    xs = ", ".join(
        f"CAST(CAST(embedding[{i}] AS DOUBLE) AS DECIMAL(18,6)) AS x{i}"
        for i in _COV_DIMS
    )
    sums = ", ".join(f"SUM(x{i}) AS s{i}" for i in _COV_DIMS)
    prods = ", ".join(
        f"SUM(x{i} * x{j}) AS p{i}_{j}"
        for a, i in enumerate(_COV_DIMS)
        for j in _COV_DIMS[a:]
    )
    rows = " UNION ALL ".join(
        f"SELECT {i} AS i, {j} AS j, "
        f"ROUND((CAST(p{i}_{j} AS DOUBLE) - CAST(s{i} AS DOUBLE) * CAST(s{j} AS DOUBLE) / n) / n, 6) AS cov "
        f"FROM s"
        for a, i in enumerate(_COV_DIMS)
        for j in _COV_DIMS[a:]
    )
    return f"""
    WITH t AS (SELECT {xs} FROM embeddings),
    s AS (SELECT COUNT(*) AS n, {sums}, {prods} FROM t)
    {rows}
    """


@_q("embedding_covariance", _cov_oracle())
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dd_graphdb_spark.operators.embedding import covariance_pairs

    return covariance_pairs(_emb(spark, sf_dir), "embedding", _COV_DIMS)


_PCA_D = 8


def _pca_invariant_oracle() -> str:
    """Eigendecomposition is not SQL-expressible, but a full-width PCA
    (k = d) is fully *pinnable* by SQL invariants on the raw table:

    - row_sqnorm: Σ_i pc_i² per row == ‖x − mean‖² — holds iff the
      component matrix is orthonormal and spans the subspace and the
      centering mean is right;
    - spectrum_p1: Σ_i var(pc_i) == trace(C) (C = population covariance
      of the 8 dims);
    - spectrum_p2: Σ_i var(pc_i)² == trace(C²) = ‖C‖²_F. Given p1, the
      diagonal of VᵀCV is majorized by C's spectrum (Schur–Horn), so
      Σdiag² ≤ ‖C‖²_F with equality iff VᵀCV is exactly diagonal with
      the eigenvalues on it — i.e. the axes ARE principal axes with the
      right spectrum. (Eigenvalue ORDER and signs are convention,
      checked in tests/test_embedding.py.)

    Spark computes the left-hand sides from the actually-projected
    columns; DuckDB computes the right-hand sides from the raw
    embeddings — no eigen machinery crosses the comparison."""
    dims = list(range(1, _PCA_D + 1))
    xs = ", ".join(f"CAST(embedding[{i}] AS DOUBLE) AS x{i}" for i in dims)
    avgs = ", ".join(f"AVG(x{i}) AS a{i}" for i in dims)
    covs = ", ".join(
        f"COVAR_POP(x{i}, x{j}) AS c{i}_{j}" for i in dims for j in dims if i <= j
    )
    sqnorm = " + ".join(f"(t.x{i} - m.a{i}) * (t.x{i} - m.a{i})" for i in dims)
    tr1 = " + ".join(f"c{i}_{i}" for i in dims)
    tr2 = " + ".join(
        (f"c{i}_{j} * c{i}_{j}" if i == j else f"2.0 * c{i}_{j} * c{i}_{j}")
        for i in dims
        for j in dims
        if i <= j
    )
    return f"""
    WITH t AS (SELECT vec_id, {xs} FROM embeddings),
    m AS (SELECT {avgs} FROM t),
    c AS (SELECT {covs} FROM t)
    SELECT 'row_sqnorm' AS metric, t.vec_id::BIGINT AS k, ROUND({sqnorm}, 6) AS value
    FROM t CROSS JOIN m
    UNION ALL
    SELECT 'spectrum_p1', 0, ROUND({tr1}, 6) FROM c
    UNION ALL
    SELECT 'spectrum_p2', 0, ROUND({tr2}, 6) FROM c
    """


@_q("embedding_pca_project", _pca_invariant_oracle())
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-width PCA of an 8-dim embedding subspace (gram partials via
    Arrow mapInPandas + driver eigh + literal-matrix projection), gated
    by the SQL invariants of `_pca_invariant_oracle`: every output row
    is a function of the real projected columns, hash-compared against
    DuckDB's independent restatement over the raw table."""
    from dd_graphdb_spark.operators.embedding import pca_project

    d = _PCA_D
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.slice(F.col("embedding"), 1, d).alias("sub")
    )
    proj = pca_project(emb, "sub", d, k=d)
    pcs = [F.col(f"pc{i}") for i in range(d)]
    sq = pcs[0] * pcs[0]
    for c in pcs[1:]:
        sq = sq + c * c
    rows = proj.select(
        F.lit("row_sqnorm").alias("metric"),
        F.col("vec_id").cast("long").alias("k"),
        F.round(sq, 6).alias("value"),
    )
    variances = proj.agg(*[F.var_pop(f"pc{i}").alias(f"v{i}") for i in range(d)])
    p1 = F.col("v0")
    p2 = F.col("v0") * F.col("v0")
    for i in range(1, d):
        p1 = p1 + F.col(f"v{i}")
        p2 = p2 + F.col(f"v{i}") * F.col(f"v{i}")
    spectrum = variances.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("spectrum_p1").alias("metric"),
                    F.lit(0).cast("long").alias("k"),
                    F.round(p1, 6).alias("value"),
                ),
                F.struct(
                    F.lit("spectrum_p2").alias("metric"),
                    F.lit(0).cast("long").alias("k"),
                    F.round(p2, 6).alias("value"),
                ),
            )
        ).alias("r")
    ).select("r.metric", "r.k", "r.value")
    return rows.unionByName(spectrum)


# ---------------------------------------------------------------------------
# Curation family (operators/curation.py): contamination, packing,
# repetition — the checks between raw corpus and training shards. All
# three restate the token-hash-fold shingle arithmetic in SQL.
# ---------------------------------------------------------------------------
# non-distinct shingle list per doc (repetition needs multiplicity)
_SQL_SH_ALL = rf"""
sha AS (
    SELECT id, CASE WHEN len(th) >= 3
                THEN list_transform(generate_series(1, len(th)-2),
                     i -> list_reduce(list_prepend(0::BIGINT, th[i:i+2]),
                                      (h, v) -> (h * {D.MIX} + v) % {MOD}))
                ELSE [list_reduce(list_prepend(0::BIGINT, th),
                                  (h, v) -> (h * {D.MIX} + v) % {MOD})]
           END AS xs
    FROM (
        SELECT doc_id AS id,
               list_transform((CASE WHEN len(trim(text)) = 0 THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END),
                              tok -> {_sql_ph('tok')}) AS th
        FROM documents
    )
)
"""


@_q(
    "curation_contamination",
    "WITH "
    + SQL_SHINGLE_HASHES[1:]
    + """,
    probes AS (SELECT id, x FROM sh WHERE id % 97 = 0)
    SELECT d.id AS doc_id, p.id AS probe_id, COUNT(*) AS n_shared
    FROM sh d JOIN probes p ON d.x = p.x
    GROUP BY d.id, p.id
    HAVING COUNT(*) >= 3
    """,
)
def curation_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: corpus docs sharing >= 3 distinct
    3-gram hashes with the probe set (docs with doc_id % 97 == 0 stand
    in for an eval benchmark). Probe side broadcast; no corpus
    self-join."""
    from dd_graphdb_spark.operators.curation import ngram_contamination

    docs = _docs(spark, sf_dir)
    probes = docs.filter(F.col("doc_id") % 97 == 0)
    return ngram_contamination(docs, probes, n=3, min_overlap=3)


@_q(
    "curation_pack_sequences",
    r"""
    WITH d AS (
        SELECT doc_id,
               len((CASE WHEN len(trim(text)) = 0 THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END)) AS n_tokens,
               CAST(('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8
                    AS INT) AS bucket
        FROM documents
    ),
    o AS (
        SELECT doc_id, bucket, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                             0) AS BIGINT) AS "offset"
        FROM d
    )
    SELECT doc_id, bucket, n_tokens, "offset",
           CAST(FLOOR("offset" / 512.0) AS BIGINT) AS chunk
    FROM o
    """,
)
def curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: md5-bucketed concat-and-chunk into 512-token
    windows; chunk = exclusive-prefix-sum div window. One shuffle,
    per-task rows bounded by bucket population."""
    from dd_graphdb_spark.operators.curation import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), window_tokens=512, n_buckets=8)


@_q(
    "curation_repetition",
    "WITH "
    + _SQL_SH_ALL[1:]
    + """
    SELECT id AS doc_id,
           len(xs) AS n_shingles,
           len(list_distinct(xs)) AS n_distinct,
           ROUND(1.0 - len(list_distinct(xs))::DOUBLE / len(xs), 6) AS dup_ratio
    FROM sha
    """,
)
def curation_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-doc repetition ratio over 3-gram hashes — pure projection,
    zero shuffles."""
    from dd_graphdb_spark.operators.curation import repetition_scores

    return repetition_scores(_docs(spark, sf_dir), n=3)


@_q(
    "curation_mixture_sample",
    r"""
    WITH d AS (
        SELECT doc_id, source,
               len((CASE WHEN len(trim(text)) = 0 THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END)) AS n_tokens
        FROM documents
    ),
    tot AS (
        SELECT source, SUM(n_tokens)::DOUBLE AS tot FROM d GROUP BY source
    ),
    r AS (
        SELECT source,
               least(1.0::DOUBLE,
                     3000.0::DOUBLE *
                     CASE source
                         WHEN 'src0' THEN 0.4::DOUBLE
                         WHEN 'src1' THEN 0.3::DOUBLE
                         WHEN 'src2' THEN 0.2::DOUBLE
                         WHEN 'src3' THEN 1.2::DOUBLE
                         ELSE 0.0::DOUBLE
                     END / tot) AS rate
        FROM tot
    )
    SELECT d.doc_id, d.source, d.n_tokens, ROUND(r.rate, 6) AS rate
    FROM d JOIN r ON d.source = r.source
    WHERE ('0x' || substring(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
          < CAST(FLOOR(r.rate * 4294967296.0::DOUBLE) AS BIGINT)
    """,
)
def curation_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling: data-derived per-source rates hit a
    token budget per mixture weight (src3 over-weighted to exercise the
    rate-capped-at-1 branch); selection is content-hash deterministic,
    so DuckDB re-derives the identical sample."""
    from dd_graphdb_spark.operators.curation import mixture_sample

    return mixture_sample(
        _docs(spark, sf_dir),
        weights={"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 1.2},
        token_budget=3000,
    )


@_q(
    "curation_chunk_docs",
    r"""
    WITH d AS (
        SELECT doc_id, (CASE WHEN len(trim(text)) = 0 THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END) AS t,
               len((CASE WHEN len(trim(text)) = 0 THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END)) AS n
        FROM documents
    ),
    s AS (
        SELECT doc_id, t, n,
               unnest(generate_series(0, greatest(n - 16 - 1, 0), 48)) AS start
        FROM d
    )
    SELECT doc_id,
           CAST(start / 48 AS BIGINT) AS chunk_id,
           CAST(start AS BIGINT) AS start_token,
           CAST(least(64, n - start) AS BIGINT) AS n_tokens,
           array_to_string(t[start + 1 : start + 64], ' ') AS chunk_text
    FROM s
    """,
)
def curation_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking into 64-token chunks with 16-token
    overlap (stride 48) — context-window preparation. Zero-shuffle
    explode; the oracle re-derives every chunk string."""
    from dd_graphdb_spark.operators.curation import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), chunk_tokens=64, overlap=16)


# Deterministic PII-bearing text derived from customer keys (the
# trimmed testdata customer table has no phone/comment columns); the
# SAME arithmetic renders in Spark and DuckDB, so the redaction oracle
# hash-compares real match work, not a no-op passthrough.
_PII_SQL_TEXT = """
        SELECT c_custkey AS doc_id,
               'call ' || CASE WHEN c_custkey % 3 = 0 THEN '+1-' ELSE '' END
                   || (100 + (c_custkey * 7) % 900)::VARCHAR
                   || '-' || (100 + (c_custkey * 13) % 900)::VARCHAR
                   || '-' || (1000 + (c_custkey * 31) % 9000)::VARCHAR ||
               CASE WHEN c_custkey % 10 = 0
                    THEN ' mail user' || c_custkey::VARCHAR || '@example.com'
                    ELSE '' END ||
               CASE WHEN c_custkey % 7 = 0
                    THEN ' ssn ' || (100 + c_custkey % 900)::VARCHAR
                        || '-' || (10 + c_custkey % 90)::VARCHAR
                        || '-' || (1000 + c_custkey % 9000)::VARCHAR
                    ELSE '' END ||
               ' ip ' || (c_custkey % 256)::VARCHAR
                   || '.' || ((c_custkey * 3) % 256)::VARCHAR
                   || '.' || ((c_custkey * 5) % 256)::VARCHAR
                   || '.' || ((c_custkey * 7) % 256)::VARCHAR ||
               ' note: ' || c_name AS text
        FROM customer
"""


@_q(
    "text_redact_pii",
    r"""
    WITH b AS (
"""
    + _PII_SQL_TEXT
    + r"""
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '(?:\+\d{1,2}[-. ]\(?|\(|\b)\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g'),
               '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(text, '(?:\+\d{1,2}[-. ]\(?|\(|\b)\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b')) AS n_phone,
           len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn,
           len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4
    FROM b
    """,
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over synthesized customer contact text: the
    trimmed customer table has NO phone column, so phone/SSN/IP/email
    shapes are derived arithmetically from c_custkey — deterministic
    and identical on both engines. Redacted strings and match counts
    are hash-compared against DuckDB running the same RE2/Java-common
    regexes — an engine-parity check of the regex subset the scrubber
    is allowed to use."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")

    def s(expr):
        return expr.cast("string")

    base = cust.select(
        k.alias("doc_id"),
        F.concat(
            F.lit("call "),
            F.when(k % 3 == 0, F.lit("+1-")).otherwise(F.lit("")),
            s((k * 7) % 900 + 100), F.lit("-"),
            s((k * 13) % 900 + 100), F.lit("-"),
            s((k * 31) % 9000 + 1000),
            F.when(
                k % 10 == 0,
                F.concat(F.lit(" mail user"), s(k), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                k % 7 == 0,
                F.concat(
                    F.lit(" ssn "),
                    s(k % 900 + 100), F.lit("-"),
                    s(k % 90 + 10), F.lit("-"),
                    s(k % 9000 + 1000),
                ),
            ).otherwise(F.lit("")),
            F.lit(" ip "),
            s(k % 256), F.lit("."),
            s((k * 3) % 256), F.lit("."),
            s((k * 5) % 256), F.lit("."),
            s((k * 7) % 256),
            F.lit(" note: "),
            F.col("c_name"),
        ).alias("text"),
    )
    return X.redact_pii(base, "text", "doc_id")


@_q(
    "text_tfidf_topk",
    r"""
    WITH toks AS (
        SELECT doc_id, unnest(CASE WHEN len(trim(text)) = 0 THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*)::DOUBLE AS n FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
               ROUND(tf.tf * ln(n.n / dfreq.df), 6) AS score
        FROM tf JOIN dfreq USING (term), n
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term ASC
        ) AS "rank"
        FROM scored
    )
    SELECT doc_id, term, tf, df, score, "rank" FROM r WHERE "rank" <= 3
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (tf · ln(N/df), raw counts,
    term-string tie-break) — the standard keyword-extraction pass;
    score arithmetic restates identically in SQL."""
    return X.tfidf_top_terms(_docs(spark, sf_dir), k=3)


@_q(
    "embedding_group_centroids",
    """
    WITH e AS (
        SELECT label, unnest(list_transform(generate_series(1, len(embedding)),
                     i -> {'dim': i,
                           'x': CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,6))})) AS u
        FROM embeddings
    )
    SELECT label, u.dim AS dim,
           FLOOR(CAST(SUM(u.x) AS DOUBLE) / COUNT(*) * 1000000 + 0.5) / 1000000 AS centroid
    FROM e GROUP BY 1, 2
    """,
)
def embedding_group_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors (decimal-exact per-dim means) — the
    k-means/IVF training-stats primitive, shuffle width n_groups x d."""
    from dd_graphdb_spark.operators.embedding import group_centroids

    return group_centroids(_emb(spark, sf_dir), "embedding", "label")


@_q(
    "sim_ann_recall",
    f"""
    WITH ivf AS ({_sql_ivf_topk(8, 2, 5)}),
    ex AS ({_sql_cosine_topk("vec_id IN (0, 1, 2)", 5)})
    SELECT ex.q_id, COUNT(ivf.neighbor_id) AS n_overlap
    FROM ex LEFT JOIN ivf
      ON ex.q_id = ivf.q_id AND ex.neighbor_id = ivf.neighbor_id
    GROUP BY ex.q_id
    """,
)
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured ANN quality IN the gate: per query, how many of the
    exact top-5 the IVF (8 cells, 2 probed) recovers. Both sides are
    deterministic, so the recall numbers are exact oracle-checked
    values, not a bound."""
    emb = _emb(spark, sf_dir)
    ivf = S.ivf_topk(emb, QUERY_IDS, n_centroids=8, n_probe=2, k=5).select(
        "q_id", "neighbor_id"
    )
    ex = S.brute_force_topk(emb, QUERY_IDS, k=5).select("q_id", "neighbor_id")
    return (
        ex.join(ivf.withColumnRenamed("neighbor_id", "hit"),
                (ex.q_id == ivf.q_id) & (F.col("neighbor_id") == F.col("hit")),
                "left")
        .groupBy(ex.q_id.alias("q_id"))
        .agg(F.count("hit").alias("n_overlap"))
    )


@_q(
    "sim_ann_recall_trained",
    f"""
    WITH ivf0 AS ({_sql_ivf_topk(8, 2, 5)}),
    ivf2 AS ({_sql_ivf_topk(8, 2, 5, iters=2)}),
    ex AS ({_sql_cosine_topk("vec_id IN (0, 1, 2)", 5)})
    SELECT ex.q_id,
           COUNT(ivf0.neighbor_id) AS n_overlap_seed,
           COUNT(ivf2.neighbor_id) AS n_overlap_trained
    FROM ex
    LEFT JOIN ivf0
      ON ex.q_id = ivf0.q_id AND ex.neighbor_id = ivf0.neighbor_id
    LEFT JOIN ivf2
      ON ex.q_id = ivf2.q_id AND ex.neighbor_id = ivf2.neighbor_id
    GROUP BY ex.q_id
    """,
)
def sim_ann_recall_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured trained-vs-seeded IVF recall at EQUAL n_probe, per
    query: how many of the exact top-5 the seed-only quantizer recovers
    vs the Lloyd-trained one (2 rounds, same 8 cells, 2 probes). Both
    sides deterministic — the oracle replays both quantizers — so the
    trained >= seeded claim is an exact recorded value, not a bound
    (operators/similarity.py:train_centroids)."""
    emb = _emb(spark, sf_dir)
    ex = S.brute_force_topk(emb, QUERY_IDS, k=5).select("q_id", "neighbor_id")
    overlaps = []
    for iters, col in ((0, "n_overlap_seed"), (2, "n_overlap_trained")):
        ivf = S.ivf_topk(
            emb, QUERY_IDS, n_centroids=8, n_probe=2, k=5, train_iters=iters
        ).select("q_id", F.col("neighbor_id").alias("hit"))
        overlaps.append(
            ex.join(
                ivf,
                (ex.q_id == ivf.q_id) & (F.col("neighbor_id") == F.col("hit")),
                "left",
            )
            .groupBy(ex.q_id.alias("q_id"))
            .agg(F.count("hit").alias(col))
        )
    return overlaps[0].join(overlaps[1], "q_id")


@_q(
    "sim_lsh_recall",
    f"""
    WITH lsh AS ({_sql_lsh_topk(5)}),
    ex AS ({_sql_cosine_topk("vec_id IN (0, 1, 2)", 5)})
    SELECT ex.q_id, COUNT(lsh.neighbor_id) AS n_overlap
    FROM ex LEFT JOIN lsh
      ON ex.q_id = lsh.q_id AND ex.neighbor_id = lsh.neighbor_id
    GROUP BY ex.q_id
    """,
)
def sim_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucket ANN recall vs exact top-5, per query — the companion
    of sim_ann_recall for the hyperplane-LSH path."""
    emb = _emb(spark, sf_dir)
    lsh = S.lsh_topk(emb, QUERY_IDS, n_planes=4, k=5).select("q_id", "neighbor_id")
    ex = S.brute_force_topk(emb, QUERY_IDS, k=5).select("q_id", "neighbor_id")
    return (
        ex.join(lsh.withColumnRenamed("neighbor_id", "hit"),
                (ex.q_id == lsh.q_id) & (F.col("neighbor_id") == F.col("hit")),
                "left")
        .groupBy(ex.q_id.alias("q_id"))
        .agg(F.count("hit").alias("n_overlap"))
    )


# ---------------------------------------------------------------------------
# Product quantization (r9): compressed-domain ANN — the memory-bound
# complement to IVF's partition pruning. Deterministic codebooks (the
# subspace slices of the first n_codewords corpus vectors, same seeding
# convention as IVF/LSH) make encode + ADC exact oracle-checked values.
# ---------------------------------------------------------------------------
def _sql_l2sq(a: str, b: str, off: str, n: int) -> str:
    """0.0-seeded left-fold squared L2 over ``n`` dims at 1-based offset
    expression ``off`` — same term form and fold order as the Spark side
    (operators.similarity._pq_l2sq), so doubles match bit-for-bit."""
    t = f"({a}[{off}+i] - {b}[{off}+i]) * ({a}[{off}+i] - {b}[{off}+i])"
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(generate_series(1, {n}), i -> {t})), "
        f"(acc, x) -> acc + x)"
    )


def _sql_pq_topk(m: int, kw: int, k: int, dims: int = 64) -> str:
    dsub = dims // m
    adist_sum = "0.0" + "".join(
        f" + max(CASE WHEN qd.s = {s} THEN qd.d2 END)" for s in range(m)
    )
    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
    cw AS (SELECT vec_id AS j, v AS w FROM e WHERE vec_id < {kw}),
    subs AS (SELECT s FROM generate_series(0, {m - 1}) t(s)),
    dist AS (
        SELECT e.vec_id, subs.s, cw.j,
               {_sql_l2sq("e.v", "cw.w", f"subs.s*{dsub}", dsub)} AS d2
        FROM e, subs, cw
    ),
    codes AS (
        SELECT vec_id, s, j AS code FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id, s ORDER BY d2 ASC, j ASC) AS rn
            FROM dist
        ) WHERE rn = 1
    ),
    adist AS (
        -- ROUND before the ROW_NUMBER window: the engine (pq_topk)
        -- rounds adist to 6 decimals BEFORE ranking and tie-breaks by
        -- neighbor_id on the ROUNDED value — ranking the unrounded
        -- value here would flip rank/membership whenever two adists
        -- differ only past 6 decimals (same convention as
        -- _sql_cosine_topk/_sql_l2_exact_topk).
        SELECT qd.vec_id AS q_id, c.vec_id AS neighbor_id,
               ROUND({adist_sum}, 6) AS adist
        FROM dist qd
        JOIN codes c ON c.s = qd.s AND c.code = qd.j
        WHERE qd.vec_id IN (0, 1, 2) AND c.vec_id != qd.vec_id
        GROUP BY qd.vec_id, c.vec_id
    )
    SELECT q_id, neighbor_id, adist, rank FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY q_id ORDER BY adist ASC, neighbor_id ASC) AS rank
        FROM adist
    ) WHERE rank <= {k}
    """


def _sql_l2_exact_topk(k: int, dims: int = 64) -> str:
    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
    scored AS (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               ROUND({_sql_l2sq("q.qv", "e.v", "0", dims)}, 6) AS adist
        FROM q, e WHERE e.vec_id != q.q_id
    )
    SELECT q_id, neighbor_id, adist, rank FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY q_id ORDER BY adist ASC, neighbor_id ASC) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


@_q("sim_pq_topk", _sql_pq_topk(8, 16, 5))
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN by asymmetric distance computation: 64-dim vectors encode
    to 8 codeword indices (32x smaller scan); a query's distance to a
    neighbor is 8 LUT lookups. Every adist value is oracle-checked."""
    out = S.pq_topk(_emb(spark, sf_dir), QUERY_IDS, m=8, n_codewords=16, k=5)
    return out.select(
        "q_id", "neighbor_id", "adist", F.col("rank").cast("long").alias("rank")
    )


@_q(
    "sim_pq_recall",
    f"""
    WITH pq AS ({_sql_pq_topk(8, 16, 5)}),
    ex AS ({_sql_l2_exact_topk(5)})
    SELECT ex.q_id, COUNT(pq.neighbor_id) AS n_overlap
    FROM ex LEFT JOIN pq
      ON ex.q_id = pq.q_id AND ex.neighbor_id = pq.neighbor_id
    GROUP BY ex.q_id
    """,
)
def sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured PQ quality IN the gate: per query, how many of the exact
    squared-L2 top-5 the 8x16 product quantizer recovers. Both sides
    deterministic — exact oracle-checked values, not a bound."""
    emb = _emb(spark, sf_dir)
    pq = S.pq_topk(emb, QUERY_IDS, m=8, n_codewords=16, k=5).select(
        "q_id", "neighbor_id"
    )
    ex = S.brute_force_l2_topk(emb, QUERY_IDS, k=5).select("q_id", "neighbor_id")
    return (
        ex.join(
            pq.withColumnRenamed("neighbor_id", "hit"),
            (ex.q_id == pq.q_id) & (F.col("neighbor_id") == F.col("hit")),
            "left",
        )
        .groupBy(ex.q_id.alias("q_id"))
        .agg(F.count("hit").alias("n_overlap"))
    )


def _sql_ivf_pq_topk(
    n_centroids: int, n_probe: int, m: int, kw: int, k: int, dims: int = 64
) -> str:
    """IVF-PQ oracle: the IVF cell/probe CTEs composed with the PQ
    code/distance CTEs — ADC sum over the probed cells only."""
    dsub = dims // m
    cos_vc = f"{_SQL_DOT.format(a='e.v', b='c.cv')} / ({_SQL_NORM.format(a='e.v')} * {_SQL_NORM.format(a='c.cv')})"
    adist_sum = "0.0" + "".join(
        f" + max(CASE WHEN qd.s = {s} THEN qd.d2 END)" for s in range(m)
    )
    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
    cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {n_centroids}),
    scored_cells AS (
        SELECT e.vec_id, c.cid, {cos_vc} AS sim FROM e, cents c
    ),
    cells AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
            FROM scored_cells
        ) WHERE rn = 1
    ),
    qprobe AS (
        SELECT vec_id AS q_id, cid AS cell FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
            FROM scored_cells WHERE vec_id IN (0, 1, 2)
        ) WHERE rn <= {n_probe}
    ),
    cw AS (SELECT vec_id AS j, v AS w FROM e WHERE vec_id < {kw}),
    subs AS (SELECT s FROM generate_series(0, {m - 1}) t(s)),
    dist AS (
        SELECT e.vec_id, subs.s, cw.j,
               {_sql_l2sq("e.v", "cw.w", f"subs.s*{dsub}", dsub)} AS d2
        FROM e, subs, cw
    ),
    codes AS (
        SELECT vec_id, s, j AS code FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id, s ORDER BY d2 ASC, j ASC) AS rn
            FROM dist
        ) WHERE rn = 1
    ),
    adist AS (
        -- ROUND before ranking — matches the engine's round-then-rank
        -- convention (see _sql_pq_topk)
        SELECT qd.vec_id AS q_id, c.vec_id AS neighbor_id,
               ROUND({adist_sum}, 6) AS adist
        FROM dist qd
        JOIN codes c ON c.s = qd.s AND c.code = qd.j
        JOIN cells cl ON cl.vec_id = c.vec_id
        JOIN qprobe qp ON qp.q_id = qd.vec_id AND qp.cell = cl.cell
        WHERE qd.vec_id IN (0, 1, 2) AND c.vec_id != qd.vec_id
        GROUP BY qd.vec_id, c.vec_id
    )
    SELECT q_id, neighbor_id, adist, rank FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY q_id ORDER BY adist ASC, neighbor_id ASC) AS rank
        FROM adist
    ) WHERE rank <= {k}
    """


@_q("sim_ann_ivf_pq", _sql_ivf_pq_topk(8, 2, 8, 16, 5))
def sim_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (FAISS-style composition): each query probes its 2 nearest
    of 8 coarse cells, then ADC-scans only those cells' 8-byte PQ codes
    — cell pruning x compressed reads, every adist oracle-checked."""
    out = S.ivf_pq_topk(
        _emb(spark, sf_dir), QUERY_IDS,
        n_centroids=8, n_probe=2, m=8, n_codewords=16, k=5,
    )
    return out.select(
        "q_id", "neighbor_id", "adist", F.col("rank").cast("long").alias("rank")
    )


# Uniform events-precision handling (no-op for ts-free oracles; see
# graph.rewrite_events_oracles).
from dd_graphdb_spark.graph import rewrite_events_oracles as _rw  # noqa: E402

_rw(ORACLES)
