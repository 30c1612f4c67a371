"""LLM-training-data pipeline queries: dedup, similarity search, text
analysis over the documents/embeddings tables.

These extend the reference's capability surface (SURVEY.md §7.2 step 9);
each is a first-class engine operator with an exact SQL oracle where the
semantics are engine-independent, rows-only where they are hash-function
or sketch specific (MinHash/SimHash/sign-LSH — deterministic, but defined
by xxhash64 seeds no SQL oracle can restate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ghcn_d_etl_project_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from ghcn_d_etl_project_spark.operators.similarity import (
    ann_lsh_topk,
    cosine_topk,
    neardup_pairs,
)
from ghcn_d_etl_project_spark.operators.textops import (
    STOPWORDS,
    fingerprint,
    lang_id,
    punct_ratio,
    text_quality_score,
    token_count,
)
from ghcn_d_etl_project_spark.plans._util import t
from ghcn_d_etl_project_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Dedup: exact + fuzzy-exact (fingerprint)
# ---------------------------------------------------------------------------

_GROUPS_ORACLE = r"""
SELECT 'exact' AS strategy, md5(text) AS content_hash,
       MIN(doc_id) AS canonical_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY 2
UNION ALL
SELECT 'fingerprint' AS strategy,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                               '\s+', ' ', 'g'))) AS content_hash,
       MIN(doc_id) AS canonical_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY 2
"""


@register("dedup_groups", oracle=_GROUPS_ORACLE, tags=("llm", "dedup"),
          late=True)  # r12 rotation: 7-round green, demoted to sim coverage
def dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-groupBy dedup under both exact strategies, labeled: 'exact'
    (md5 of raw text) and 'fingerprint' (md5 of normalized text —
    lowercase, strip punctuation, collapse whitespace — catching
    formatting-only duplicates). One shuffle per strategy on the 128-bit
    content hash; md5 is engine-independent so both are fully
    oracle-checkable. (Was the separate dedup_exact / dedup_fingerprint
    queries in round 1 — merged to keep the driver's correctness window
    covering every oracle query.)"""
    d = t(spark, sf_dir, "documents")
    exact = exact_dedup(d, "doc_id", "text").select(
        F.lit("exact").alias("strategy"), "content_hash", "canonical_id", "n_copies"
    )
    fp = exact_dedup(d, "doc_id", "text", normalized=True).select(
        F.lit("fingerprint").alias("strategy"),
        "content_hash",
        "canonical_id",
        "n_copies",
    )
    return exact.unionByName(fp)


# ---------------------------------------------------------------------------
# Dedup: exact n-gram Jaccard (inverted index) — oracle-checkable
# ---------------------------------------------------------------------------

_JACCARD_ORACLE = """
WITH docs AS (SELECT doc_id, lower(text) AS txt FROM documents),
sh AS (
  SELECT DISTINCT doc_id, substr(txt, CAST(i AS INTEGER), 4) AS shingle
  FROM docs, UNNEST(generate_series(1, greatest(length(txt) - 3, 0))) AS u(i)
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS set_size FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc1, i.doc2, i.n_inter,
       s1.set_size AS size1, s2.set_size AS size2,
       round(CAST(i.n_inter AS DOUBLE) / (s1.set_size + s2.set_size - i.n_inter), 6)
         AS jaccard
FROM inter i
JOIN sizes s1 ON i.doc1 = s1.doc_id
JOIN sizes s2 ON i.doc2 = s2.doc_id
WHERE CAST(i.n_inter AS DOUBLE) / (s1.set_size + s2.set_size - i.n_inter) >= 0.5
"""


@register(
    "ngram_jaccard_pairs",
    oracle=_JACCARD_ORACLE,
    tags=("llm", "dedup"),
    late=True,  # r11 rotation: 7 rounds green in the hard window
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact char-4-gram Jaccard near-dup pairs (threshold 0.5) via a
    shingle inverted-index self-join — the exact verifier; at 100 TB this
    runs only on LSH candidates (see minhash_lsh_dedup)."""
    return ngram_jaccard_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", n=4, threshold=0.5
    )


# ---------------------------------------------------------------------------
# Dedup: MinHash+LSH and SimHash — deterministic but hash-defined => rows-only
# ---------------------------------------------------------------------------


@register("minhash_lsh_dedup", oracle=None, tags=("llm", "dedup", "persists"), bench=True)
def minhash_lsh_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64 hashes)+LSH(16 bands x 4 rows, ~0.5 Jaccard knee)
    near-dup pipeline: shingle -> signature -> band-bucket join ->
    exact-Jaccard verify of candidates only. The linear-ish scale path for
    corpus dedup; xxhash64-seeded so rows-only checked. Its verified
    output is validated against ngram_jaccard_pairs in tests/."""
    return minhash_lsh_dedup(
        t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n_hashes=64,
        bands=16,
        n=4,
        threshold=0.5,
    )


@register("simhash_dedup", oracle=None, tags=("llm", "dedup", "persists"))
def simhash_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup pairs within Hamming distance 7, candidates
    via 8x8-bit chunk banding (pigeonhole guarantees recall exactly for
    d<=7, which is why 7 is also the operator's ceiling) then exact
    bit_count verification. Tagged ``persists`` since r14: the operator
    persists its signature table (the banded candidate join is a
    self-join; unpersisted, both sides re-derived the 64-sign-sum
    aggregate — the dominant cost, paid twice), so the bench clears the
    cache between runs exactly like minhash's substrates."""
    return simhash_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=7
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_COSINE_TOPK_ORACLE = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
pairs AS (
  SELECT a.vec_id AS qid, b.vec_id AS nid,
         round(list_cosine_similarity(a.vec, b.vec), 6) AS cos_sim
  FROM v a, v b
  WHERE a.vec_id <> b.vec_id
)
SELECT qid, nid, cos_sim,
       CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS BIGINT)
         AS rank
FROM pairs
QUALIFY rank <= 5
"""


@register("cosine_topk", oracle=_COSINE_TOPK_ORACLE, tags=("llm", "similarity"),
          bench=True, late=True)  # r12 rotation: 7-round green, demoted
def cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 neighbors per embedding. The byte
    budget picks the broadcast-GEMM arm (corpus broadcast as a dense
    matrix, one BLAS GEMM + tie-aware top-k select per Arrow batch of
    queries — N x k output rows, zero N^2 row materialization); the
    crossJoin + JVM-fold + window form is the arm past the budget,
    pinned exactly equal in tests. The exact baseline the ANN paths are
    measured against."""
    return cosine_topk(t(spark, sf_dir, "embeddings"), "vec_id", "embedding", k=5)


_NEARDUP_ORACLE = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings)
SELECT a.vec_id AS id1, b.vec_id AS id2,
       round(list_cosine_similarity(a.vec, b.vec), 6) AS cos_sim
FROM v a, v b
WHERE a.vec_id < b.vec_id
  AND round(list_cosine_similarity(a.vec, b.vec), 6) >= 0.4
"""


@register("embedding_neardup", oracle=_NEARDUP_ORACLE, tags=("llm", "similarity"),
          late=True)  # r12 rotation: 7-round green, demoted to sim coverage
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos >= 0.4 on this synthetic
    corpus; the threshold is data-calibrated, the operator generic)."""
    return neardup_pairs(
        t(spark, sf_dir, "embeddings"), "vec_id", "embedding", threshold=0.4
    )


_CLUSTERS_ORACLE = """
WITH RECURSIVE
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
pairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM v a, v b
  WHERE a.vec_id < b.vec_id
    AND round(list_cosine_similarity(a.vec, b.vec), 6) >= 0.4
),
edges AS (
  SELECT src, dst FROM pairs
  UNION
  SELECT dst AS src, src AS dst FROM pairs
),
reach(node, lbl) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node)
SELECT c.node AS vec_id, c.component,
       CAST(s.n AS BIGINT) AS component_size
FROM comp c
JOIN (SELECT component, COUNT(*) AS n FROM comp GROUP BY component) s
  ON c.component = s.component
"""


@register("dedup_clusters", oracle=_CLUSTERS_ORACLE, tags=("llm", "dedup", "graph"),
          late=True)  # r12 rotation: 7-round green, demoted to sim coverage
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS -> dedup CLUSTERS: distributed connected components
    (min-label propagation + pointer jumping, ``operators/graph.py``)
    over the embedding-cosine near-dup pair graph, singletons included,
    with per-component sizes. This is the step that turns pairwise
    similarity output into keep-one-per-group dedup decisions; the
    oracle is a DuckDB recursive-CTE reachability closure over the same
    pairs."""
    from ghcn_d_etl_project_spark.operators.graph import (
        component_stats,
        connected_components,
    )

    emb = t(spark, sf_dir, "embeddings")
    pairs = neardup_pairs(emb, "vec_id", "embedding", threshold=0.4).select(
        F.col("id1").alias("src"), F.col("id2").alias("dst")
    )
    comp = connected_components(
        pairs, nodes=emb.select(F.col("vec_id").alias("node"))
    )
    return component_stats(comp).select(
        F.col("node").alias("vec_id"), "component", "component_size"
    )


@register("ann_lsh_topk", oracle=None, tags=("llm", "similarity"))
def ann_lsh_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via multi-table random-hyperplane sign-LSH (16
    tables x 4 planes + 64-bit Hamming estimator pre-filter, ~0.89 recall
    on this corpus) + exact re-rank of survivors. Recall measured vs
    cosine_topk in tests/.

    Bench note (measured at sf0.1, local[32]): this synthetic corpus has
    WEAK neighbor structure — exact top-5 sits at cos~0.37 (theta~66deg)
    vs ~90deg noise, so banding keeps ~64% of all pairs. The r11 rework
    (one Arrow-batched matmul for all 64 sign bits, scalar-only candidate
    join, pair dedup BEFORE scoring, batched-einsum exact re-rank) took
    the query 11.5s -> ~3s warm at unchanged recall (0.888) — see
    ``operators/similarity.py:ann_lsh_topk`` for the per-stage
    measurements. On clustered real embedding corpora (neighbors
    theta<45deg) the same construction prunes to <5% of pairs and is the
    only shape that survives 100 TB."""
    return ann_lsh_topk(
        t(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        dim=64,
        k=5,
        n_planes=4,
        n_tables=16,
    )


@register("ann_ivf_topk", oracle=None, tags=("llm", "similarity", "persists"), bench=True)
def ann_ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via IVF cells (``operators/ivf.py``): a
    DataFrame-native k-means coarse quantizer (deterministic — decimal
    accumulation), nearest-cell indexing, 4-of-16-cell probing, exact
    cosine re-rank of cell members only (~25% of the corpus scored per
    query vs 100% for the crossJoin). Centroid-defined output =>
    rows-only; recall vs cosine_topk pinned in tests.

    Benched (bench=True) alongside the exact ``cosine_topk`` anchor so
    the plan shape that actually survives 100 TB has its own
    round-over-round trendline — the exact N-squared crossJoin is the
    recall baseline, not the scale path."""
    from ghcn_d_etl_project_spark.operators.ivf import ivf_topk

    return ivf_topk(
        t(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        k=5,
        n_centroids=16,
        n_probe=4,
    )


_CONTAM_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(t[CAST(i AS INTEGER) : CAST(i AS INTEGER) + 7], ' ') AS gram
  FROM toks, UNNEST(generate_series(1, greatest(len(t) - 7, 0))) AS u(i)
),
ev AS (SELECT doc_id AS eval_id, gram FROM grams WHERE doc_id % 10 = 0)
SELECT g.doc_id, e.eval_id, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
FROM grams g JOIN ev e ON g.gram = e.gram AND g.doc_id <> e.eval_id
GROUP BY g.doc_id, e.eval_id
"""


@register("contamination_check", oracle=_CONTAM_ORACLE, tags=("llm", "decontam"),
          late=True)  # r12 rotation: 7-round green, demoted to sim coverage
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (``operators/contamination.py``):
    corpus docs sharing any 8-word n-gram with the simulated eval set
    (every 10th doc), counted per colliding pair. Inverted-index
    equi-join with the (small) eval side broadcast — the corpus side
    never shuffles; cost scales with collisions, not corpus x eval."""
    from ghcn_d_etl_project_spark.operators.contamination import ngram_overlap

    d = t(spark, sf_dir, "documents")
    ev = d.filter(F.col("doc_id") % 10 == 0)
    return ngram_overlap(
        d, ev, "doc_id", "text", "doc_id", "text", n=8
    ).filter(F.col("doc_id") != F.col("eval_id"))


_REPETITION_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         string_split(text, chr(10)) AS ls,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         array_to_string(t[CAST(i AS INTEGER) : CAST(i AS INTEGER) + 1], ' ') AS gram
  FROM toks, UNNEST(generate_series(1, greatest(len(t) - 1, 0))) AS u(i)
),
gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, gram),
agg AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_2grams,
         CAST(MAX(c) AS BIGINT) AS top_2gram_count
  FROM gc GROUP BY doc_id
)
SELECT k.doc_id,
       CAST(len(ls) AS BIGINT) AS n_lines,
       CAST(len(list_distinct(ls)) AS BIGINT) AS n_distinct_lines,
       round(CASE WHEN len(ls) > 0
                  THEN 1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / len(ls)
                  ELSE 0.0 END, 6) AS dup_line_frac,
       coalesce(a.n_2grams, 0) AS n_2grams,
       coalesce(a.top_2gram_count, 0) AS top_2gram_count,
       round(CASE WHEN coalesce(a.n_2grams, 0) > 0
                  THEN CAST(a.top_2gram_count AS DOUBLE) / a.n_2grams
                  ELSE 0.0 END, 6) AS top_2gram_frac
FROM toks k LEFT JOIN agg a ON k.doc_id = a.doc_id
"""


@register(
    "repetition_profile",
    oracle=_REPETITION_ORACLE,
    tags=("llm", "text"),
    late=True,  # r11 rotation: 7 rounds green in the hard window
)
def repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, table
    A1): duplicate-line fraction (pure per-row array exprs, no shuffle)
    and top word-2-gram fraction (explode -> per-doc gram counts ->
    max/total — two partial-aggregated shuffles on the doc key; the
    scale-safe shape, since a per-row O(grams^2) mode search would blow
    up on long documents). High values flag boilerplate/spam for the
    corpus filter."""
    from ghcn_d_etl_project_spark.operators.contamination import word_ngrams

    d = t(spark, sf_dir, "documents")
    lines = F.split(F.col("text"), "\n")
    prof = d.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(F.array_distinct(lines)).cast("long").alias("n_distinct_lines"),
    ).withColumn(
        "dup_line_frac",
        F.round(
            F.when(
                F.col("n_lines") > 0,
                1.0 - F.col("n_distinct_lines").cast("double") / F.col("n_lines"),
            ).otherwise(F.lit(0.0)),
            6,
        ),
    )
    grams = d.select(
        "doc_id", F.explode(word_ngrams("text", 2, distinct=False)).alias("gram")
    )
    agg = (
        grams.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_2grams"),
            F.max("c").cast("long").alias("top_2gram_count"),
        )
    )
    return (
        prof.join(agg, "doc_id", "left")
        .withColumn("n_2grams", F.coalesce(F.col("n_2grams"), F.lit(0)))
        .withColumn(
            "top_2gram_count", F.coalesce(F.col("top_2gram_count"), F.lit(0))
        )
        .withColumn(
            "top_2gram_frac",
            F.round(
                F.when(
                    F.col("n_2grams") > 0,
                    F.col("top_2gram_count").cast("double") / F.col("n_2grams"),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
    )


@register("corpus_prep_chunks", oracle=None, tags=("llm", "pipeline"), bench=True)
def corpus_prep_chunks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus prep (``pipelines/corpus.py``): one
    fused profile+filter+PII scan, exact dedup on the normalized
    fingerprint, MinHash-LSH near-dup pairs closed into components with
    keep-min-per-component, then sliding-window chunking of survivors.
    MinHash stage is hash-defined => rows-only; stage funnel invariants
    pinned in tests/test_corpus_pipeline.py."""
    from ghcn_d_etl_project_spark.pipelines.corpus import corpus_prep

    return corpus_prep(spark, sf_dir)["chunks"]


# ---------------------------------------------------------------------------
# Text analysis: language-ID, quality score, token counts
# ---------------------------------------------------------------------------


def _hits_sql(code: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[code])
    return (
        "len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), "
        f"w -> list_contains([{words}], w)))"
    )


def _langid_case_sql() -> str:
    codes = sorted(STOPWORDS)
    branches = []
    for code in codes:
        conds = [f"h_{code} > 0"] + [
            f"h_{code} >= h_{other}" for other in codes if other != code
        ]
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{code}'")
    return "CASE " + " ".join(branches) + " ELSE 'und' END"


_PROFILE_ORACLE = rf"""
WITH base AS (
  SELECT doc_id, lang AS labeled_lang, text,
         CAST(length(text) AS DOUBLE) AS n_chars_d,
         CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''))
              AS DOUBLE) AS n_toks,
         CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
              AS DOUBLE) AS n_punct,
         {", ".join(f"CAST({_hits_sql(c)} AS BIGINT) AS h_{c}" for c in sorted(STOPWORDS))}
  FROM documents
), feat AS (
  SELECT *,
         CASE WHEN n_chars_d > 0 THEN n_punct / n_chars_d ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_toks > 0 THEN n_chars_d / n_toks ELSE 0.0 END AS mean_tok_len,
         least(n_chars_d / 200.0, 1.0) AS len_score
  FROM base
)
SELECT doc_id, labeled_lang, {_langid_case_sql()} AS pred_lang,
       h_de, h_en, h_es, h_fr, h_zh,
       CAST(n_chars_d AS BIGINT) AS n_chars,
       CAST(n_toks AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
            AS BIGINT) AS n_bpe_ish_tokens,
       round(punct_ratio, 6) AS punct_ratio,
       round(mean_tok_len, 6) AS mean_tok_len,
       len_score * 0.4
         + (CASE WHEN punct_ratio < 0.1 THEN 1.0 ELSE 0.5 END) * 0.3
         + (CASE WHEN mean_tok_len >= 3.0 AND mean_tok_len <= 10.0 THEN 1.0 ELSE 0.5 END)
           * 0.3 AS quality_score,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                               '\s+', ' ', 'g'))) AS fp,
       substring(text, 1, 16) AS prefix
FROM feat
"""


@register("text_profile", oracle=_PROFILE_ORACLE, tags=("llm", "text"),
          late=True)  # r12 rotation: 7-round green, demoted to sim coverage
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass per-document text profile — the four analysis families
    (language ID, quality scoring, token counting, fingerprinting) fused
    into ONE scan of the corpus, which is how a 100 TB profiling job
    should run: every column is a pure JVM Column expression, so the
    whole row fuses into one WholeStageCodegen projection with no
    shuffle at all.

    Columns: stopword-argmax language ID (alphabetical tie-break, 'und'
    on zero hits) + per-language hit counts; length/punctuation/
    token-shape quality features and score; whitespace + BPE-ish token
    counts; md5 normalized-content fingerprint + prefix. (Was the
    separate lang_id / text_quality / token_counts / doc_fingerprint
    queries in round 1 — merged so the driver's correctness budget
    covers all four families in one row.)"""
    from ghcn_d_etl_project_spark.operators.textops import stopword_hits

    d = t(spark, sf_dir, "documents")
    n_chars = F.length("text").cast("double")
    n_toks = token_count("text").cast("double")
    cols = [
        F.col("doc_id"),
        F.col("lang").alias("labeled_lang"),
        lang_id("text").alias("pred_lang"),
        *[stopword_hits("text", c).alias(f"h_{c}") for c in sorted(STOPWORDS)],
        F.length("text").cast("long").alias("n_chars"),
        token_count("text").alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all(
                F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0)
            )
        )
        .cast("long")
        .alias("n_bpe_ish_tokens"),
        F.round(punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(
            F.when(n_toks > 0, n_chars / n_toks).otherwise(F.lit(0.0)), 6
        ).alias("mean_tok_len"),
        text_quality_score("text").alias("quality_score"),
        fingerprint("text").alias("fp"),
        F.substring("text", 1, 16).alias("prefix"),
    ]
    return d.select(*cols)


# ---------------------------------------------------------------------------
# TF-IDF (tokenize -> term stats -> ranked terms per doc)
# ---------------------------------------------------------------------------

_TFIDF_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, t.term
  FROM documents,
       UNNEST(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                          x -> x <> '')) AS t(term)
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         round(tf.tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0), 6) AS tfidf
  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
)
SELECT doc_id, term, tf, tfidf,
       CAST(row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= 3
"""


@register("tfidf_top_terms", oracle=_TFIDF_ORACLE, tags=("llm", "text"),
          late=True)  # r12 rotation: 7-round green, demoted to sim coverage
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf = ln((N+1)/(df+1))+1).

    Shuffle shape at scale: one explode + (doc,term) hash agg for tf, a
    term-keyed agg for document frequency (broadcast back — |vocab| <<
    |corpus|), a broadcast scalar for N, and a per-doc window for the
    top-k. No UDFs; ranking breaks ties by term for determinism."""
    from ghcn_d_etl_project_spark.operators.textops import tokens
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count_distinct("doc_id").alias("n"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf") * (F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= 3
    )


# ---------------------------------------------------------------------------
# Text pipeline ops: PII redaction + sliding-window chunking
# ---------------------------------------------------------------------------

_PII_ORACLE = r"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
           '\d{3}[-.]\d{3}[-.]\d{4}', '[PHONE]', 'g'),
         '\d{3}-\d{2}-\d{4}', '[SSN]', 'g') AS clean_text
FROM documents
"""


@register("pii_redact", oracle=_PII_ORACLE, tags=("llm", "text"),
          late=True)  # r12 rotation: 7-round green, demoted to sim coverage
def pii_redact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: email/phone/SSN shapes replaced with typed
    placeholder tokens via chained JVM-side regexp_replace. Patterns sit
    in the Java-regex ∩ RE2 subset so the DuckDB oracle runs the literal
    same regexes; planted-PII behavior is pinned in tests/."""
    from ghcn_d_etl_project_spark.operators.textops import pii_redact

    return t(spark, sf_dir, "documents").select(
        "doc_id", pii_redact("text").alias("clean_text")
    )


_CHUNK_ORACLE = r"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')
           AS toks
  FROM documents
),
starts AS (
  SELECT doc_id, toks,
         CAST(u.i AS INTEGER) AS start,
         (CAST(u.i AS BIGINT) - 1) // 24 AS chunk_id
  FROM d, UNNEST(generate_series(1, greatest(len(toks), 1), 24)) AS u(i)
)
SELECT doc_id, chunk_id,
       array_to_string(toks[start : start + 31], ' ') AS chunk_text,
       CAST(len(toks[start : start + 31]) AS BIGINT) AS n_tokens
FROM starts
WHERE len(toks[start : start + 31]) > 0
"""


@register(
    "doc_chunks",
    oracle=_CHUNK_ORACLE,
    tags=("llm", "text"),
    late=True,  # r11 rotation: 7 rounds green in the hard window
)
def doc_chunks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (32-token chunks, stride 24 =
    8-token overlap) — the context-window prep step of a training
    pipeline. sequence+posexplode+slice, all codegen; chunk count is
    ceil(n_tokens/stride) so output scales linearly with corpus size."""
    from ghcn_d_etl_project_spark.operators.textops import tokens

    d = t(spark, sf_dir, "documents")
    toked = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    starts = toked.select(
        "doc_id",
        "toks",
        F.posexplode(
            F.sequence(F.lit(1), F.greatest(F.size("toks"), F.lit(1)), F.lit(24))
        ).alias("chunk_id", "start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start"), F.lit(32))
    return (
        starts.select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).cast("long").alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
    )


# ---------------------------------------------------------------------------
# Training-shard packing: distributed global prefix sum
# ---------------------------------------------------------------------------

_TOKEN_SHARDS_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS cum_tokens
  FROM toks
)
SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST((cum_tokens - n_tokens) // 65536 AS BIGINT) AS shard_id
FROM c
"""


@register("token_shards", oracle=_TOKEN_SHARDS_ORACLE, tags=("llm", "shard"), late=True, bench=True)
def token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack the corpus into fixed-token-budget training shards: each doc
    is assigned the shard containing its starting token offset (a global
    running total of whitespace token counts, 64Ki tokens per shard).

    The running total is ``operators/prefix.py:global_cumsum`` in its
    value-bucketed 1-shuffle shape (dense doc ids) — NOT the naive
    ``Window.orderBy`` global window, whose Exchange SinglePartition
    funnels the whole corpus through one task. The oracle states the
    same semantics with SQL's single-threaded running-total window —
    identical answers, scalable plan."""
    from ghcn_d_etl_project_spark.operators.prefix import global_cumsum

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    cum = global_cumsum(
        docs, "doc_id", "n_tokens", out_col="cum_tokens", bucket_width=4096
    )
    return cum.select(
        "doc_id",
        "n_tokens",
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
        F.expr("(cum_tokens - n_tokens) div 65536").cast("long").alias("shard_id"),
    )


# ---------------------------------------------------------------------------
# Embedding compression: Johnson-Lindenstrauss random projection
# ---------------------------------------------------------------------------

_RP_IN_DIM = 64  # embeddings width — shared by the Spark matrix AND the oracle
_RP_OUT_DIM = 16
_RP_SEED = 17


def _rp_oracle() -> str:
    """The oracle restates the SAME seeded ±1 matrix as SQL list
    literals — projection is exact dot-product arithmetic, so the two
    engines agree to the digit. Output formatting: micro-unit BIGINTs
    joined into ONE string per row — array-valued result columns hash by
    their engine-specific repr in the driver's comparator (numpy vs
    list), so the oracle contract uses the same format-to-string
    convention as timestamps."""
    from ghcn_d_etl_project_spark.operators.similarity import rademacher_matrix

    rows = rademacher_matrix(_RP_IN_DIM, _RP_OUT_DIM, _RP_SEED)
    scale = 1.0 / (_RP_OUT_DIM ** 0.5)
    dims = ", ".join(
        f"CAST(round(list_dot_product(embedding::DOUBLE[], {row}) * {scale!r} "
        f"* 1000000) AS BIGINT)"
        for row in rows
    )
    return (
        f"SELECT vec_id AS id, array_to_string([{dims}], ',') AS vec_micro "
        f"FROM embeddings"
    )


@register("embedding_project", oracle=_rp_oracle(), tags=("llm", "similarity"), late=True, bench=True)
def embedding_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection 64 -> 16 dims (seeded Rademacher matrix as a
    plan literal, shuffle-free per-row fold): the standard pre-ANN
    compression step — pairwise geometry preserved within (1 ± eps) while
    downstream index/scan/shuffle cost shrinks 4x. Distortion bound
    pinned in tests; the DuckDB oracle restates the identical matrix via
    list_dot_product. Components emitted as comma-joined micro-units
    (round(x*1e6) as long) so the comparator sees one canonical string
    per row instead of an engine-specific array repr."""
    from ghcn_d_etl_project_spark.operators.similarity import random_projection

    emb = t(spark, sf_dir, "embeddings")
    proj = random_projection(
        emb, "vec_id", "embedding", out_dim=_RP_OUT_DIM, seed=_RP_SEED,
        in_dim=_RP_IN_DIM,
    )
    micro = F.transform(
        F.col("vec"),
        lambda x: F.round(x * 1_000_000).cast("long").cast("string"),
    )
    return proj.select("id", F.concat_ws(",", micro).alias("vec_micro"))


_CHARLM_ORACLE = """
WITH docs AS (
  SELECT doc_id, lower(text) AS txt FROM documents
  WHERE text IS NOT NULL AND length(text) >= 2
), bg AS (
  SELECT doc_id, substr(txt, CAST(i AS INT), 2) AS b
  FROM docs, UNNEST(generate_series(1, length(txt) - 1)) AS g(i)
), vocab AS (
  SELECT b, COUNT(*) AS c FROM bg GROUP BY b
), tot AS (
  SELECT SUM(c) AS t FROM vocab
), vl AS (
  SELECT b,
         CAST(ROUND(LN(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS logq
  FROM vocab, tot
), per AS (
  SELECT g.doc_id, COUNT(*) AS n_bigrams, SUM(v.logq) AS s
  FROM bg g JOIN vl v ON g.b = v.b
  GROUP BY g.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_bigrams AS BIGINT) AS n_bigrams,
       ROUND(CAST(s AS DOUBLE) / n_bigrams, 6) AS avg_logp
FROM per
"""


@register(
    "charlm_quality_docs",
    oracle=_CHARLM_ORACLE,
    # "persists" since r15: the self-trained bigram substrate is
    # persist-marked inside charlm_surprisal (it feeds the vocabulary
    # aggregate AND the scoring join)
    tags=("llm", "text", "quality", "persists"),
    late=True,
)
def charlm_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram LM quality score for every document, trained on
    the corpus itself (``operators/textops.py:charlm_surprisal``): the
    cheap perplexity proxy corpus filters rank by. Model bounded by the
    alphabet (broadcasts), scoring is explode -> broadcast-join ->
    per-doc aggregate, no UDF. Parity via log-prob quantization to
    DECIMAL at the vocabulary table, so per-doc sums are exact in both
    engines regardless of accumulation order."""
    from ghcn_d_etl_project_spark.operators.textops import charlm_surprisal

    return charlm_surprisal(t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Word co-occurrence PMI (extension, r9): collocation mining
# ---------------------------------------------------------------------------

_PMI_ORACLE = """
WITH tok AS (
  SELECT DISTINCT doc_id, w FROM (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
    FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
  ) WHERE length(w) >= 3
),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok),
dfc AS (SELECT w, COUNT(*) AS df FROM tok GROUP BY 1),
vocab AS (SELECT w, df FROM dfc, nd WHERE df >= 5 AND df <= 0.9 * n_docs),
pt AS (SELECT t.doc_id, t.w FROM tok t JOIN vocab v USING (w)),
pairs AS (
  SELECT a.w AS w1, b.w AS w2, COUNT(*) AS n_pair
  FROM pt a JOIN pt b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY 1, 2 HAVING COUNT(*) >= 5
)
SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
       CAST(v1.df AS BIGINT) AS df1, CAST(v2.df AS BIGINT) AS df2,
       round(ln(CAST(n_pair AS DOUBLE) * CAST(n_docs AS DOUBLE)
                / (CAST(v1.df AS DOUBLE) * CAST(v2.df AS DOUBLE))), 6) AS pmi,
       CASE WHEN n_pair <> n_docs THEN
         round(ln(CAST(n_pair AS DOUBLE) * CAST(n_docs AS DOUBLE)
                  / (CAST(v1.df AS DOUBLE) * CAST(v2.df AS DOUBLE)))
               / (ln(CAST(n_docs AS DOUBLE)) - ln(CAST(n_pair AS DOUBLE))), 6)
       END AS npmi
FROM pairs
JOIN vocab v1 ON pairs.w1 = v1.w
JOIN vocab v2 ON pairs.w2 = v2.w, nd
"""


@register(
    "pmi_cooccurrence_docs",
    oracle=_PMI_ORACLE,
    tags=("llm", "text", "mining", "persists"),
)
def pmi_cooccurrence_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI + NPMI collocation scores for word pairs co-occurring in the
    same document (``operators/textops.py:word_cooccurrence_pmi``).
    The vocabulary is pruned BEFORE any pair exists (min-df floor,
    max-df stopword ceiling), the candidate join is a doc-id
    EQUI-join whose fan-out is per-doc-quadratic only after pruning,
    and the scoring joins broadcast the tiny (word, df) table — no
    corpus-quadratic stage anywhere. Counts are BIGINT; pmi/npmi are
    one double expression over identical integers, so the oracle
    hash-matches bit-for-bit."""
    from ghcn_d_etl_project_spark.operators.textops import (
        word_cooccurrence_pmi,
    )

    return word_cooccurrence_pmi(
        t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        min_word_len=3,
        min_df=5,
        max_df_ratio=0.9,
        min_pair=5,
    )


# ---------------------------------------------------------------------------
# Label centroids + deterministic k-means (extension, r9)
# ---------------------------------------------------------------------------

_CENTROIDS_ORACLE = """
WITH e AS (
  SELECT label, embedding FROM embeddings
  WHERE label IS NOT NULL AND embedding IS NOT NULL
),
x AS (
  SELECT label, i - 1 AS dim,
         CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS fp
  FROM e, UNNEST(generate_series(1, 64)) AS s(i)
),
g AS (SELECT label, dim, COUNT(*) AS n, SUM(fp) AS fpsum FROM x GROUP BY 1, 2)
SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
       CAST(n AS BIGINT) AS n,
       CAST(fpsum AS DOUBLE) / (1000000.0 * CAST(n AS DOUBLE)) AS centroid
FROM g
"""


@register(
    "label_centroids_embeddings",
    oracle=_CENTROIDS_ORACLE,
    tags=("llm", "ml", "embeddings"),
)
def label_centroids_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label exact centroid of the 64-dim embedding column
    (``operators/clustering.py:label_centroids``): ONE groupBy(label)
    with 65 aggregate expressions — map-side combine collapses each
    partition to one row per label before the shuffle; the
    explode-then-group alternative would shuffle n x 64 rows. The
    FIXED-POINT recipe (floor(v*1e6) BIGINT sums, mean = one double
    division) makes a float-embedding aggregate value-hash bit-for-bit
    against the oracle, which deliberately states the opposite
    (explode) formulation so the two shapes cross-check."""
    from ghcn_d_etl_project_spark.operators.clustering import label_centroids

    out = label_centroids(t(spark, sf_dir, "embeddings"), "label", "embedding")
    return out.select(
        F.col("label").cast("long").alias("label"), "dim", "n", "centroid"
    )


@register(
    "kmeans_embeddings",
    oracle=None,  # iterative float clustering: deterministic (fixed-point
    # updates, lowest-id init, lowest-index tie-break) but 3 unrolled
    # Lloyd iterations with GEMM assignment are not practically
    # SQL-expressible; semantics pinned by numpy-parity pytest instead
    tags=("llm", "ml", "embeddings", "persists"),
    late=True,
)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means (k=8, 3 iterations) over the
    embeddings table (``operators/clustering.py:kmeans_lloyd``):
    shuffle-free GEMM assignment via broadcast centroids +
    ``mapInPandas``, per-iteration update = ONE k-row fixed-point
    aggregate (map-side combined), lowest-vec_id init — bit-identical
    output under any partitioning (pinned by the partitioning-
    invariance and numpy-parity tests in ``test_clustering.py``)."""
    from ghcn_d_etl_project_spark.operators.clustering import kmeans_lloyd

    return kmeans_lloyd(
        t(spark, sf_dir, "embeddings"), "vec_id", "embedding", k=8, iters=3
    )


@register(
    "pca_project_embeddings",
    oracle=None,  # exact fixed-point moments make the fit deterministic,
    # but the eigendecomposition of the 64x64 covariance is a numeric
    # routine no SQL engine restates; semantics pinned by the numpy
    # reference-parity pytest suite instead (test_pca.py)
    tags=("llm", "ml", "embeddings"),
    late=True,
)
def pca_project_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA compression 64 -> 8 dims of the embeddings table
    (``operators/pca.py``): ONE mapInPandas moment pass emits exact
    FIXED-POINT partials (n, floored sums, floored Gram) as (slot,
    value) pairs folded by a map-side-combining groupBy — shuffle
    volume is (d^2+d+1) x partitions longs regardless of row count —
    then the driver eigendecomposes the 64x64 covariance
    (deterministic sign convention) and the projection rides the plan
    as a LITERAL matrix: shuffle-free, UDF-free per-row folds, the
    ``random_projection`` pattern with a data-fitted matrix."""
    from ghcn_d_etl_project_spark.operators.pca import pca_project

    return pca_project(
        t(spark, sf_dir, "embeddings"), "vec_id", "embedding", out_dim=8
    )


# Greedy-MMR replay oracle (r12, VERDICT directive #5): per qid the
# recursive state carries the pool's sorted cand list, its rounded-6
# rel list, and the FULL pool-local cosine matrix as a list-of-lists;
# each step evaluates mmr_i = 0.7*rel_i - 0.3*max_{j picked} S[i][j]
# for every candidate with indexed list lambdas (picked masked to
# -1e308) and picks list_position(.., list_max(..)) — first occurrence
# of the max == lowest index == smallest cand id, which is exactly
# numpy argmax over the cand-sorted frame. The same per-group-sequential
# algorithm the Spark side runs, replayed by a second engine.
_MMR_ORACLE = """
WITH RECURSIVE v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
pool AS (
  SELECT qid, nid, cos_sim FROM (
    SELECT a.vec_id AS qid, b.vec_id AS nid,
           round(list_cosine_similarity(a.vec, b.vec), 6) AS cos_sim,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY round(list_cosine_similarity(a.vec, b.vec), 6) DESC,
                      b.vec_id) AS rk
    FROM v a, v b WHERE a.vec_id <> b.vec_id
  ) WHERE rk <= 20
),
pools AS (
  SELECT qid, list(nid ORDER BY nid) AS cands,
         list(cos_sim ORDER BY nid) AS rels
  FROM pool GROUP BY qid
),
simrows AS (
  SELECT p1.qid, p1.nid AS c1,
         list(list_cosine_similarity(v1.vec, v2.vec) ORDER BY p2.nid)
           AS srow
  FROM pool p1
  JOIN pool p2 ON p1.qid = p2.qid
  JOIN v v1 ON p1.nid = v1.vec_id
  JOIN v v2 ON p2.nid = v2.vec_id
  GROUP BY p1.qid, p1.nid
),
simm AS (
  SELECT qid, list(srow ORDER BY c1) AS m FROM simrows GROUP BY qid
),
mmr AS (
  SELECT p.qid, 0::BIGINT AS k, p.cands, p.rels, s.m,
         CAST([] AS BIGINT[]) AS picked,
         CAST([] AS BIGINT[]) AS out_cands,
         CAST([] AS DOUBLE[]) AS out_scores
  FROM pools p JOIN simm s USING (qid)
  UNION ALL
  SELECT qid, k + 1, cands, rels, m,
         list_append(picked, best_i),
         list_append(out_cands, cands[best_i]),
         list_append(out_scores, round(mmrs[best_i], 6))
  FROM (
    SELECT *, list_position(mmrs, list_max(mmrs)) AS best_i
    FROM (
      SELECT *,
        list_transform(cands, (c, i) -> CASE
          WHEN list_contains(picked, i) THEN -1e308
          ELSE 0.7 * rels[i] - 0.3 * (CASE WHEN len(picked) = 0 THEN 0
               ELSE list_max(list_transform(picked, j -> m[i][j])) END)
          END) AS mmrs
      FROM mmr WHERE k < 5 AND len(cands) > k
    )
  )
),
final AS (
  SELECT qid, out_cands, out_scores
  FROM (SELECT *, MAX(k) OVER (PARTITION BY qid) AS mx FROM mmr)
  WHERE k = mx
)
SELECT CAST(qid AS BIGINT) AS qid,
       CAST(unnest(out_cands) AS BIGINT) AS cand,
       CAST(unnest(list_transform(out_cands, (c, i) -> i)) AS BIGINT)
         AS mmr_rank,
       unnest(out_scores) AS mmr_score
FROM final
"""


@register(
    "mmr_rerank_embeddings",
    oracle=_MMR_ORACLE,  # r12: the greedy selection REPLAYS in a DuckDB
    # recursive CTE (the packing-FFD list-state idiom): per qid the
    # pool's cand ids / rounded rels / full unrounded sim matrix ride in
    # LIST state, each step computes every candidate's
    # 0.7*rel - 0.3*max(sim to picked) with indexed list lambdas, masks
    # picked to -inf, and argmaxes via list_position(list_max) — first
    # occurrence == lowest index == smallest cand id, numpy's exact tie
    # rule. Cross-engine float caveat: the redundancy cosines are
    # UNROUNDED float64 from two different accumulation orders (numpy
    # GEMM vs sequential list_cosine_similarity); a selection flip or a
    # round-to-6 boundary hit needs a ~1e-14 coincidence — none at the
    # oracle SF, and the seeded fixture makes the check deterministic.
    tags=("llm", "ml", "embeddings", "persists"),
    # promoted to the 50-slot hard window in the r13 rotation
)
def mmr_rerank_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: exact cosine top-20 per vector as the
    first-stage pool (block-matmul arm), then Maximal Marginal
    Relevance (lam=0.7) greedily re-ranks each pool to 5 diverse
    results (``operators/similarity.py:mmr_rerank``). The greedy step
    is the honest ``applyInPandas`` (sequential per query, pool-sized
    state only — the caller's pool bound IS the scale contract); the
    candidate-vector join back to embeddings is a plain equi-join."""
    from ghcn_d_etl_project_spark.operators.similarity import (
        cosine_topk,
        mmr_rerank,
    )

    emb = t(spark, sf_dir, "embeddings")
    pool = cosine_topk(emb, "vec_id", "embedding", k=20)
    cand = pool.join(
        emb.select(
            F.col("vec_id").alias("nid"), F.col("embedding").alias("nvec")
        ),
        "nid",
    )
    out = mmr_rerank(
        cand, "qid", "nid", "cos_sim", "nvec", k=5, lam=0.7
    )
    return out.select(
        F.col("qid").cast("long").alias("qid"),
        F.col("cand").cast("long").alias("cand"),
        "mmr_rank",
        "mmr_score",
    )


# ---------------------------------------------------------------------------
# Sequence packing (r10): fixed-budget training sequences, FFD per bucket
# ---------------------------------------------------------------------------


# Per-DOC assignment oracle (r11): the packing_stats recursive CTE
# extended to emit which sequence each step's doc entered — the state
# at step rn knows it exactly (found index - 1, or len(rooms) for a new
# / overlong sequence) — so even the full sequential FFD ASSIGNMENT now
# carries a value-hash oracle, not just its summary. Same list-state
# replay; see _PACKSTATS_ORACLE's notes (list_position returns 0 on
# no-match, iterations bounded by docs/bucket at oracle SF).
_PACK_ASSIGN_ORACLE = r"""
WITH RECURSIVE base AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens,
         CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
                                             ':pack')), 1, 8))
              AS BIGINT) % 8 AS bucket
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
pos AS (
  SELECT b.*, ROW_NUMBER() OVER (PARTITION BY bucket
                                 ORDER BY n_tokens DESC, id) AS rn
  FROM base b WHERE n_tokens > 0
),
ffd AS (
  SELECT bucket, 0::BIGINT AS rn, CAST([] AS BIGINT[]) AS rooms,
         CAST(NULL AS BIGINT) AS seq, 0::BIGINT AS trunc
  FROM (SELECT DISTINCT bucket FROM pos)
  UNION ALL
  SELECT f.bucket, d.rn,
    CASE
      WHEN d.n_tokens > 256 THEN list_append(f.rooms, 0)
      WHEN list_position(list_transform(f.rooms,
                                        r -> r >= d.n_tokens), true) = 0
        THEN list_append(f.rooms, 256 - d.n_tokens)
      ELSE list_transform(f.rooms, (r, i) ->
        CASE WHEN i = list_position(list_transform(f.rooms,
                                        r2 -> r2 >= d.n_tokens), true)
             THEN r - d.n_tokens ELSE r END)
    END AS rooms,
    CASE
      WHEN d.n_tokens > 256 THEN len(f.rooms)
      WHEN list_position(list_transform(f.rooms,
                                        r -> r >= d.n_tokens), true) = 0
        THEN len(f.rooms)
      ELSE list_position(list_transform(f.rooms,
                                        r -> r >= d.n_tokens), true) - 1
    END AS seq,
    CASE WHEN d.n_tokens > 256 THEN 1 ELSE 0 END AS trunc
  FROM ffd f JOIN pos d ON d.bucket = f.bucket AND d.rn = f.rn + 1
)
SELECT p.id AS doc_id, p.n_tokens, p.bucket,
       CAST(a.seq AS BIGINT) AS seq,
       CAST(p.bucket * 4294967296 + a.seq AS BIGINT) AS seq_id,
       CAST(a.trunc AS BIGINT) AS truncate
FROM ffd a JOIN pos p ON a.bucket = p.bucket AND a.rn = p.rn
"""


@register(
    "pack_sequences_docs",
    oracle=_PACK_ASSIGN_ORACLE,
    tags=("llm", "shard", "packing"),
    # promoted to the 50-slot hard window in the r12 rotation
)
def pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into 256-token training sequences
    (``operators/packing.py:pack_sequences``): md5-bucketed first-fit-
    decreasing — the anti-padding batch-prep step after chunking, where
    ``token_shards`` answers "which contiguous shard" and this answers
    "which packed context window". One shuffle on the bucket key;
    sequential FFD bounded by docs/bucket; deterministic under any
    partitioning, so epoch shuffles can key on seq_id."""
    from ghcn_d_etl_project_spark.operators.packing import pack_sequences
    from ghcn_d_etl_project_spark.operators.textops import token_count

    d = t(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    out = pack_sequences(d, "doc_id", "n_tokens", budget=256, n_buckets=8)
    return out.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "bucket",
        "seq",
        "seq_id",
        "truncate",
    )


# Full value-hash oracle for the packing summary (r11, VERDICT directive
# #6): DuckDB REPLAYS the per-bucket first-fit-decreasing loop with a
# recursive CTE whose state is the open-sequence room LIST — placement i
# finds the first room >= n_tokens via
# list_position(list_transform(rooms, r -> r >= n), true) (DuckDB's
# list_position returns 0, not NULL, on no-match) and decrements it with
# an indexed-lambda list_transform. The final rooms list per bucket IS
# the packing summary: len = n_sequences, list_sum = total_padding
# (overlong singletons append room 0, matching the Spark side's
# greatest(0, budget - tokens)). Iteration count = max docs per bucket —
# bounded at oracle SF, and the point is independent verification of the
# SEQUENTIAL algorithm, not oracle scalability.
_PACKSTATS_ORACLE = r"""
WITH RECURSIVE base AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens,
         CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
                                             ':pack')), 1, 8))
              AS BIGINT) % 8 AS bucket
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
pos AS (
  SELECT b.*, ROW_NUMBER() OVER (PARTITION BY bucket
                                 ORDER BY n_tokens DESC, id) AS rn
  FROM base b WHERE n_tokens > 0
),
ffd AS (
  SELECT bucket, 0::BIGINT AS rn, CAST([] AS BIGINT[]) AS rooms
  FROM (SELECT DISTINCT bucket FROM pos)
  UNION ALL
  SELECT f.bucket, d.rn,
    CASE
      WHEN d.n_tokens > 256 THEN list_append(f.rooms, 0)
      WHEN list_position(list_transform(f.rooms,
                                        r -> r >= d.n_tokens), true) = 0
        THEN list_append(f.rooms, 256 - d.n_tokens)
      ELSE list_transform(f.rooms, (r, i) ->
        CASE WHEN i = list_position(list_transform(f.rooms,
                                        r2 -> r2 >= d.n_tokens), true)
             THEN r - d.n_tokens ELSE r END)
    END AS rooms
  FROM ffd f JOIN pos d ON d.bucket = f.bucket AND d.rn = f.rn + 1
),
final AS (
  SELECT bucket, rooms
  FROM (SELECT bucket, rooms, rn,
               MAX(rn) OVER (PARTITION BY bucket) AS mx FROM ffd)
  WHERE rn = mx
),
docstats AS (
  SELECT bucket, COUNT(*) AS n_docs, SUM(n_tokens) AS total_tokens,
         SUM(CASE WHEN n_tokens > 256 THEN 1 ELSE 0 END) AS n_truncated
  FROM pos GROUP BY bucket
)
SELECT CAST(d.bucket AS BIGINT) AS bucket,
       CAST(d.n_docs AS BIGINT) AS n_docs,
       CAST(len(f.rooms) AS BIGINT) AS n_sequences,
       CAST(d.n_truncated AS BIGINT) AS n_truncated,
       CAST(d.total_tokens AS BIGINT) AS total_tokens,
       CAST(COALESCE(list_sum(f.rooms), 0) AS BIGINT) AS total_padding
FROM docstats d JOIN final f USING (bucket)
"""


@register(
    "packing_stats",
    oracle=_PACKSTATS_ORACLE,
    tags=("llm", "shard", "packing"),
    # promoted to the 50-slot hard window in the r12 rotation
)
def packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket packing summary of ``pack_sequences_docs``: documents,
    sequences, truncated overlongs, token total, and padding total —
    the efficiency readout (padding = unused context-window tokens) a
    pre-training batch-prep job reports. Unlike the per-doc assignment
    (rows-only), this aggregate carries a FULL value-hash oracle: the
    per-bucket FFD is deterministic, so DuckDB replays it exactly with
    a recursive CTE over the open-rooms list (see _PACKSTATS_ORACLE).
    ONE applyInPandas pass feeds ONE aggregation chain — per-sequence
    rollup then per-bucket rollup — no second scan of the packed
    output."""
    from ghcn_d_etl_project_spark.operators.packing import pack_sequences
    from ghcn_d_etl_project_spark.operators.textops import token_count

    d = t(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    out = pack_sequences(d, "doc_id", "n_tokens", budget=256, n_buckets=8)
    per_seq = out.groupBy("bucket", "seq").agg(
        F.count(F.lit(1)).alias("__docs"),
        F.sum("n_tokens").alias("__toks"),
        F.max("truncate").alias("__trunc"),
    )
    return per_seq.groupBy("bucket").agg(
        F.sum("__docs").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_sequences"),
        F.sum("__trunc").cast("long").alias("n_truncated"),
        F.sum("__toks").cast("long").alias("total_tokens"),
        F.sum(
            F.when(
                F.col("__trunc") == 0, F.lit(256) - F.col("__toks")
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("total_padding"),
    )


# ---------------------------------------------------------------------------
# Nearest-centroid confusion matrix (r10): the prototype-classifier readout
# ---------------------------------------------------------------------------

_NEAREST_ORACLE = """
WITH e AS (
  SELECT vec_id, label, embedding FROM embeddings
  WHERE label IS NOT NULL AND embedding IS NOT NULL AND vec_id IS NOT NULL
),
x AS (
  SELECT label, i - 1 AS dim,
         CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS fp
  FROM e, UNNEST(generate_series(1, 64)) AS s(i)
),
cent AS (
  SELECT CAST(label AS BIGINT) AS clabel, dim,
         CAST(SUM(fp) AS DOUBLE) / (1000000.0 * CAST(COUNT(*) AS DOUBLE))
           AS c
  FROM x GROUP BY 1, 2
),
d AS (
  SELECT v.vec_id, CAST(v.label AS BIGINT) AS true_label, ct.clabel,
         SUM(CAST((CAST(v.embedding[ct.dim + 1] AS DOUBLE) - ct.c)
                  * (CAST(v.embedding[ct.dim + 1] AS DOUBLE) - ct.c)
                  AS DECIMAL(28,12))) AS d2
  FROM e v, cent ct
  GROUP BY 1, 2, 3
),
best AS (
  SELECT vec_id, true_label, clabel AS pred_label,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY d2 ASC, clabel ASC) AS rn
  FROM d
)
SELECT true_label, pred_label, CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM best WHERE rn = 1 GROUP BY 1, 2
"""


@register(
    "nearest_centroid_confusion",
    oracle=_NEAREST_ORACLE,
    tags=("llm", "ml", "embeddings"),
)
def nearest_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid confusion matrix over the embeddings table
    (``operators/clustering.py:nearest_centroid`` on
    ``label_centroids`` prototypes) — the class-separability readout:
    how often a vector's nearest class prototype IS its own class.
    The k x d centroid table is a bounded collect embedded as plan
    literals, so assignment is a shuffle-free UDF-free projection (one
    DECIMAL-quantized zip_with fold per label); the argmin is a struct
    array_max with smallest-label tie-break — exact arithmetic end to
    end, which is what lets an argmin-valued query hash-match the
    oracle's opposite (explode + ROW_NUMBER) formulation."""
    from ghcn_d_etl_project_spark.operators.clustering import (
        label_centroids,
        nearest_centroid,
    )

    emb = t(spark, sf_dir, "embeddings").filter(F.col("label").isNotNull())
    cents = label_centroids(emb, "label", "embedding")
    assigned = nearest_centroid(emb, "vec_id", "embedding", cents, dim=64)
    return assigned.groupBy(
        F.col("label").cast("long").alias("true_label"), "pred_label"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))


# Cohen's kappa over the same confusion construction: replace the
# matrix-emitting tail of the nearest-centroid oracle with the
# chance-corrected agreement arithmetic (po, pe from exact integer
# marginals; the three divisions and the (po-pe)/(1-pe) fold are the
# only doubles — one IEEE op sequence, identical both engines).
_KAPPA_ORACLE = _NEAREST_ORACLE.replace(
    """SELECT true_label, pred_label, CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM best WHERE rn = 1 GROUP BY 1, 2""",
    """, conf AS (
  SELECT true_label, pred_label, COUNT(*) AS n
  FROM best WHERE rn = 1 GROUP BY 1, 2
),
tot AS (
  SELECT SUM(n) AS nn,
         SUM(CASE WHEN true_label = pred_label THEN n ELSE 0 END) AS agree
  FROM conf
),
rowm AS (SELECT true_label AS lbl, SUM(n) AS rsum FROM conf GROUP BY 1),
colm AS (SELECT pred_label AS lbl, SUM(n) AS csum FROM conf GROUP BY 1),
pen AS (
  SELECT SUM(r.rsum * c.csum) AS penum
  FROM rowm r JOIN colm c USING (lbl)
)
SELECT CAST(t.nn AS BIGINT) AS n_vecs,
       round(CAST(t.agree AS DOUBLE) / CAST(t.nn AS DOUBLE), 6) AS po,
       round(CAST(p.penum AS DOUBLE)
             / (CAST(t.nn AS DOUBLE) * CAST(t.nn AS DOUBLE)), 6) AS pe,
       CASE WHEN CAST(p.penum AS DOUBLE)
                 / (CAST(t.nn AS DOUBLE) * CAST(t.nn AS DOUBLE)) < 1.0
            THEN round(
              (CAST(t.agree AS DOUBLE) / CAST(t.nn AS DOUBLE)
               - CAST(p.penum AS DOUBLE)
                 / (CAST(t.nn AS DOUBLE) * CAST(t.nn AS DOUBLE)))
              / (1.0 - CAST(p.penum AS DOUBLE)
                 / (CAST(t.nn AS DOUBLE) * CAST(t.nn AS DOUBLE))), 6)
       END AS kappa
FROM tot t, pen p""",
)


@register(
    "kappa_nearest_centroid",
    oracle=_KAPPA_ORACLE,
    tags=("llm", "ml", "embeddings", "stats", "persists"),
    # promoted to the 50-slot hard window in the r13 rotation
)
def kappa_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa of the nearest-centroid classifier against the
    true labels — the chance-corrected agreement readout on top of
    ``nearest_centroid_confusion`` (raw accuracy over-credits a
    classifier on skewed label mixes; kappa subtracts the agreement
    the marginals alone would produce). po and pe come from EXACT
    integer confusion counts and marginal products; the divisions and
    the (po - pe) / (1 - pe) fold are the only doubles, in the same
    IEEE op order as the oracle. Degenerate pe == 1 (single class on
    both sides) yields NULL kappa. The tiny confusion matrix is
    persist-marked (it feeds the totals, row-marginal, and
    column-marginal aggregates)."""
    from ghcn_d_etl_project_spark.operators.clustering import (
        label_centroids,
        nearest_centroid,
    )

    emb = t(spark, sf_dir, "embeddings").filter(F.col("label").isNotNull())
    cents = label_centroids(emb, "label", "embedding")
    assigned = nearest_centroid(emb, "vec_id", "embedding", cents, dim=64)
    conf = (
        assigned.groupBy(
            F.col("label").cast("long").alias("t"), F.col("pred_label").alias("p")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    tot = conf.agg(
        F.sum("n").alias("__nn"),
        F.sum(F.when(F.col("t") == F.col("p"), F.col("n")).otherwise(F.lit(0)))
        .alias("__agree"),
    )
    rowm = conf.groupBy(F.col("t").alias("__lbl")).agg(
        F.sum("n").alias("__rsum")
    )
    colm = conf.groupBy(F.col("p").alias("__lbl")).agg(
        F.sum("n").alias("__csum")
    )
    pen = (
        rowm.join(colm, "__lbl")
        .agg(F.sum(F.col("__rsum") * F.col("__csum")).alias("__pen"))
    )
    nn = F.col("__nn").cast("double")
    po = F.col("__agree").cast("double") / nn
    pe = F.col("__pen").cast("double") / (nn * nn)
    return tot.crossJoin(F.broadcast(pen)).select(
        F.col("__nn").cast("long").alias("n_vecs"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.when(pe < 1.0, F.round((po - pe) / (F.lit(1.0) - pe), 6)).alias(
            "kappa"
        ),
    )


# ---------------------------------------------------------------------------
# Embedding batch drift (r12): incoming batch vs corpus geometry monitor
# ---------------------------------------------------------------------------

# Generated 64-dim restatement of the fixed-point drift aggregate: the
# per-split quantized component sums and squared-component sums are
# exact BIGINT, so the only doubles are the final cos / mean-sqnorm
# expressions — one IEEE op sequence, identical both engines.
_DRIFT_ORACLE = """
WITH f AS (
  SELECT vec_id % 10 = 7 AS nw,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * 1000.0) AS BIGINT)) AS q
  FROM embeddings WHERE embedding IS NOT NULL
),
agg AS (
  SELECT nw, COUNT(*) AS n,
         SUM(q[1]) AS s0,
         SUM(q[2]) AS s1,
         SUM(q[3]) AS s2,
         SUM(q[4]) AS s3,
         SUM(q[5]) AS s4,
         SUM(q[6]) AS s5,
         SUM(q[7]) AS s6,
         SUM(q[8]) AS s7,
         SUM(q[9]) AS s8,
         SUM(q[10]) AS s9,
         SUM(q[11]) AS s10,
         SUM(q[12]) AS s11,
         SUM(q[13]) AS s12,
         SUM(q[14]) AS s13,
         SUM(q[15]) AS s14,
         SUM(q[16]) AS s15,
         SUM(q[17]) AS s16,
         SUM(q[18]) AS s17,
         SUM(q[19]) AS s18,
         SUM(q[20]) AS s19,
         SUM(q[21]) AS s20,
         SUM(q[22]) AS s21,
         SUM(q[23]) AS s22,
         SUM(q[24]) AS s23,
         SUM(q[25]) AS s24,
         SUM(q[26]) AS s25,
         SUM(q[27]) AS s26,
         SUM(q[28]) AS s27,
         SUM(q[29]) AS s28,
         SUM(q[30]) AS s29,
         SUM(q[31]) AS s30,
         SUM(q[32]) AS s31,
         SUM(q[33]) AS s32,
         SUM(q[34]) AS s33,
         SUM(q[35]) AS s34,
         SUM(q[36]) AS s35,
         SUM(q[37]) AS s36,
         SUM(q[38]) AS s37,
         SUM(q[39]) AS s38,
         SUM(q[40]) AS s39,
         SUM(q[41]) AS s40,
         SUM(q[42]) AS s41,
         SUM(q[43]) AS s42,
         SUM(q[44]) AS s43,
         SUM(q[45]) AS s44,
         SUM(q[46]) AS s45,
         SUM(q[47]) AS s46,
         SUM(q[48]) AS s47,
         SUM(q[49]) AS s48,
         SUM(q[50]) AS s49,
         SUM(q[51]) AS s50,
         SUM(q[52]) AS s51,
         SUM(q[53]) AS s52,
         SUM(q[54]) AS s53,
         SUM(q[55]) AS s54,
         SUM(q[56]) AS s55,
         SUM(q[57]) AS s56,
         SUM(q[58]) AS s57,
         SUM(q[59]) AS s58,
         SUM(q[60]) AS s59,
         SUM(q[61]) AS s60,
         SUM(q[62]) AS s61,
         SUM(q[63]) AS s62,
         SUM(q[64]) AS s63,
         SUM(q[1] * q[1] + q[2] * q[2] + q[3] * q[3] + q[4] * q[4] + q[5] * q[5] + q[6] * q[6] + q[7] * q[7] + q[8] * q[8] + q[9] * q[9] + q[10] * q[10] + q[11] * q[11] + q[12] * q[12] + q[13] * q[13] + q[14] * q[14] + q[15] * q[15] + q[16] * q[16] + q[17] * q[17] + q[18] * q[18] + q[19] * q[19] + q[20] * q[20] + q[21] * q[21] + q[22] * q[22] + q[23] * q[23] + q[24] * q[24] + q[25] * q[25] + q[26] * q[26] + q[27] * q[27] + q[28] * q[28] + q[29] * q[29] + q[30] * q[30] + q[31] * q[31] + q[32] * q[32] + q[33] * q[33] + q[34] * q[34] + q[35] * q[35] + q[36] * q[36] + q[37] * q[37] + q[38] * q[38] + q[39] * q[39] + q[40] * q[40] + q[41] * q[41] + q[42] * q[42] + q[43] * q[43] + q[44] * q[44] + q[45] * q[45] + q[46] * q[46] + q[47] * q[47] + q[48] * q[48] + q[49] * q[49] + q[50] * q[50] + q[51] * q[51] + q[52] * q[52] + q[53] * q[53] + q[54] * q[54] + q[55] * q[55] + q[56] * q[56] + q[57] * q[57] + q[58] * q[58] + q[59] * q[59] + q[60] * q[60] + q[61] * q[61] + q[62] * q[62] + q[63] * q[63] + q[64] * q[64]) AS ssq
  FROM f GROUP BY nw
)
SELECT CAST(r.n AS BIGINT) AS n_ref, CAST(w.n AS BIGINT) AS n_new,
       round(CAST(r.s0 * w.s0 + r.s1 * w.s1 + r.s2 * w.s2 + r.s3 * w.s3 + r.s4 * w.s4 + r.s5 * w.s5 + r.s6 * w.s6 + r.s7 * w.s7 + r.s8 * w.s8 + r.s9 * w.s9 + r.s10 * w.s10 + r.s11 * w.s11 + r.s12 * w.s12 + r.s13 * w.s13 + r.s14 * w.s14 + r.s15 * w.s15 + r.s16 * w.s16 + r.s17 * w.s17 + r.s18 * w.s18 + r.s19 * w.s19 + r.s20 * w.s20 + r.s21 * w.s21 + r.s22 * w.s22 + r.s23 * w.s23 + r.s24 * w.s24 + r.s25 * w.s25 + r.s26 * w.s26 + r.s27 * w.s27 + r.s28 * w.s28 + r.s29 * w.s29 + r.s30 * w.s30 + r.s31 * w.s31 + r.s32 * w.s32 + r.s33 * w.s33 + r.s34 * w.s34 + r.s35 * w.s35 + r.s36 * w.s36 + r.s37 * w.s37 + r.s38 * w.s38 + r.s39 * w.s39 + r.s40 * w.s40 + r.s41 * w.s41 + r.s42 * w.s42 + r.s43 * w.s43 + r.s44 * w.s44 + r.s45 * w.s45 + r.s46 * w.s46 + r.s47 * w.s47 + r.s48 * w.s48 + r.s49 * w.s49 + r.s50 * w.s50 + r.s51 * w.s51 + r.s52 * w.s52 + r.s53 * w.s53 + r.s54 * w.s54 + r.s55 * w.s55 + r.s56 * w.s56 + r.s57 * w.s57 + r.s58 * w.s58 + r.s59 * w.s59 + r.s60 * w.s60 + r.s61 * w.s61 + r.s62 * w.s62 + r.s63 * w.s63 AS DOUBLE)
             / sqrt(CAST(r.s0 * r.s0 + r.s1 * r.s1 + r.s2 * r.s2 + r.s3 * r.s3 + r.s4 * r.s4 + r.s5 * r.s5 + r.s6 * r.s6 + r.s7 * r.s7 + r.s8 * r.s8 + r.s9 * r.s9 + r.s10 * r.s10 + r.s11 * r.s11 + r.s12 * r.s12 + r.s13 * r.s13 + r.s14 * r.s14 + r.s15 * r.s15 + r.s16 * r.s16 + r.s17 * r.s17 + r.s18 * r.s18 + r.s19 * r.s19 + r.s20 * r.s20 + r.s21 * r.s21 + r.s22 * r.s22 + r.s23 * r.s23 + r.s24 * r.s24 + r.s25 * r.s25 + r.s26 * r.s26 + r.s27 * r.s27 + r.s28 * r.s28 + r.s29 * r.s29 + r.s30 * r.s30 + r.s31 * r.s31 + r.s32 * r.s32 + r.s33 * r.s33 + r.s34 * r.s34 + r.s35 * r.s35 + r.s36 * r.s36 + r.s37 * r.s37 + r.s38 * r.s38 + r.s39 * r.s39 + r.s40 * r.s40 + r.s41 * r.s41 + r.s42 * r.s42 + r.s43 * r.s43 + r.s44 * r.s44 + r.s45 * r.s45 + r.s46 * r.s46 + r.s47 * r.s47 + r.s48 * r.s48 + r.s49 * r.s49 + r.s50 * r.s50 + r.s51 * r.s51 + r.s52 * r.s52 + r.s53 * r.s53 + r.s54 * r.s54 + r.s55 * r.s55 + r.s56 * r.s56 + r.s57 * r.s57 + r.s58 * r.s58 + r.s59 * r.s59 + r.s60 * r.s60 + r.s61 * r.s61 + r.s62 * r.s62 + r.s63 * r.s63 AS DOUBLE) * CAST(w.s0 * w.s0 + w.s1 * w.s1 + w.s2 * w.s2 + w.s3 * w.s3 + w.s4 * w.s4 + w.s5 * w.s5 + w.s6 * w.s6 + w.s7 * w.s7 + w.s8 * w.s8 + w.s9 * w.s9 + w.s10 * w.s10 + w.s11 * w.s11 + w.s12 * w.s12 + w.s13 * w.s13 + w.s14 * w.s14 + w.s15 * w.s15 + w.s16 * w.s16 + w.s17 * w.s17 + w.s18 * w.s18 + w.s19 * w.s19 + w.s20 * w.s20 + w.s21 * w.s21 + w.s22 * w.s22 + w.s23 * w.s23 + w.s24 * w.s24 + w.s25 * w.s25 + w.s26 * w.s26 + w.s27 * w.s27 + w.s28 * w.s28 + w.s29 * w.s29 + w.s30 * w.s30 + w.s31 * w.s31 + w.s32 * w.s32 + w.s33 * w.s33 + w.s34 * w.s34 + w.s35 * w.s35 + w.s36 * w.s36 + w.s37 * w.s37 + w.s38 * w.s38 + w.s39 * w.s39 + w.s40 * w.s40 + w.s41 * w.s41 + w.s42 * w.s42 + w.s43 * w.s43 + w.s44 * w.s44 + w.s45 * w.s45 + w.s46 * w.s46 + w.s47 * w.s47 + w.s48 * w.s48 + w.s49 * w.s49 + w.s50 * w.s50 + w.s51 * w.s51 + w.s52 * w.s52 + w.s53 * w.s53 + w.s54 * w.s54 + w.s55 * w.s55 + w.s56 * w.s56 + w.s57 * w.s57 + w.s58 * w.s58 + w.s59 * w.s59 + w.s60 * w.s60 + w.s61 * w.s61 + w.s62 * w.s62 + w.s63 * w.s63 AS DOUBLE)), 6)
         AS centroid_cos,
       round(CAST(r.ssq AS DOUBLE) / (1000000.0 * r.n), 6)
         AS mean_sqnorm_ref,
       round(CAST(w.ssq AS DOUBLE) / (1000000.0 * w.n), 6)
         AS mean_sqnorm_new
FROM (SELECT * FROM agg WHERE NOT nw) r, (SELECT * FROM agg WHERE nw) w
"""


@register(
    "embedding_batch_drift",
    oracle=_DRIFT_ORACLE,
    tags=("llm", "ml", "embeddings", "incremental"),
    # promoted to the 50-slot hard window in the r13 rotation
)
def embedding_batch_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift between the incoming batch
    (``vec_id % 10 == 7``) and the reference corpus
    (``operators/clustering.py:embedding_split_drift``): cross-split
    centroid cosine + per-split mean squared norm, from ONE
    groupBy(split) pass of exact fixed-point integer aggregates (the
    label_centroids convention at scale 1e3 — every intermediate exact
    in BIGINT and DOUBLE, so the readout value-hash matches across
    engines). The geometry monitor of the incremental-ingestion gate
    family: a rotated centroid or a norm shift (new encoder version,
    normalization bug) fails here BEFORE it poisons dedup thresholds
    and ANN indexes tuned on the old geometry."""
    from ghcn_d_etl_project_spark.operators.clustering import (
        embedding_split_drift,
    )

    return embedding_split_drift(
        t(spark, sf_dir, "embeddings"),
        F.col("vec_id") % 10 == 7,
        "embedding",
        dim=64,
    )


# ---------------------------------------------------------------------------
# Word-bigram LM perplexity filter (r11): the CCNet-style quality score
# ---------------------------------------------------------------------------

_WORDLM_ORACLE = """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t
  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
),
bg AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS s(i)
  WHERE len(t) >= 2
),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
v AS (SELECT COUNT(DISTINCT w2) AS v FROM c2),
model AS (
  SELECT c2.w1, c2.w2,
         CAST(round(ln(CAST(c2.c2 + 1 AS DOUBLE)
                       / CAST(c1.c1 + v.v AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS logp
  FROM c2 JOIN c1 USING (w1), v
),
scored AS (
  SELECT bg.doc_id, COUNT(*) AS n_bigrams, SUM(m.logp) AS s
  FROM bg JOIN model m ON bg.w1 = m.w1 AND bg.w2 = m.w2
  GROUP BY 1
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_bigrams AS BIGINT) AS n_bigrams,
       round(CAST(s AS DOUBLE) / n_bigrams, 6) AS avg_logp,
       round(exp(-(CAST(s AS DOUBLE) / n_bigrams)), 4) AS ppl
FROM scored
"""


@register(
    "bigram_perplexity_docs",
    oracle=_WORDLM_ORACLE,
    tags=("llm", "text", "quality", "persists"),
    late=True,  # new in r11
)
def bigram_perplexity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram LM surprisal per document, self-trained with add-one
    smoothing (``operators/textops.py:word_bigram_surprisal``) — the
    CCNet-style perplexity filter one level above the character model:
    boilerplate and shuffled/mixed text score high even when every
    word is common. The word-bigram model grows with the corpus, so
    scoring is a shuffle EQUI-join on the bigram key (never a
    broadcast); the bigram substrate is persist-marked against the
    train+score double scan. Parity is the charlm recipe: log-probs
    quantized once at the model table, per-doc sums exact DECIMAL."""
    from ghcn_d_etl_project_spark.operators.textops import (
        word_bigram_surprisal,
    )

    out = word_bigram_surprisal(t(spark, sf_dir, "documents"))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_bigrams",
        "avg_logp",
        "ppl",
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence (r12): batch-vs-corpus lexical distance
# ---------------------------------------------------------------------------

_JS_ORACLE = """
WITH pw AS (
  SELECT w, COUNT(*) AS np FROM (
    SELECT UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS w
    FROM documents WHERE text IS NOT NULL AND doc_id % 10 = 7
  ) GROUP BY w
),
qw AS (
  SELECT w, COUNT(*) AS nq FROM (
    SELECT UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS w
    FROM documents WHERE text IS NOT NULL AND doc_id % 10 <> 7
  ) GROUP BY w
),
tp AS (SELECT SUM(np) AS npt, COUNT(*) AS wp FROM pw),
tq AS (SELECT SUM(nq) AS nqt, COUNT(*) AS wq FROM qw),
j AS (
  SELECT COALESCE(np, 0) AS np, COALESCE(nq, 0) AS nq
  FROM pw FULL OUTER JOIN qw USING (w)
),
agg AS (
  SELECT MAX(t1.npt) AS npt, MAX(t2.nqt) AS nqt,
         MAX(t1.wp) AS wp, MAX(t2.wq) AS wq,
         COUNT(*) AS wu,
         SUM(CASE WHEN j.np > 0 THEN j.np * CAST(round(ln(
               CAST(j.np AS DOUBLE) / CAST(t1.npt AS DOUBLE)), 6)
               AS DECIMAL(18,6)) END) AS sp,
         SUM(CASE WHEN j.nq > 0 THEN j.nq * CAST(round(ln(
               CAST(j.nq AS DOUBLE) / CAST(t2.nqt AS DOUBLE)), 6)
               AS DECIMAL(18,6)) END) AS sq,
         SUM((j.np * t2.nqt + j.nq * t1.npt) * CAST(round(ln(
               CAST(j.np * t2.nqt + j.nq * t1.npt AS DOUBLE)
               / (2.0 * CAST(t1.npt AS DOUBLE) * CAST(t2.nqt AS DOUBLE))),
               6) AS DECIMAL(18,6))) AS sm
  FROM j, tp t1, tq t2
)
SELECT CAST(npt AS BIGINT) AS n_tokens_p,
       CAST(nqt AS BIGINT) AS n_tokens_q,
       CAST(wp AS BIGINT) AS n_words_p,
       CAST(wq AS BIGINT) AS n_words_q,
       CAST(wu AS BIGINT) AS n_words_union,
       round(-(CAST(sp AS DOUBLE)) / CAST(npt AS DOUBLE), 6) AS h_p,
       round(-(CAST(sq AS DOUBLE)) / CAST(nqt AS DOUBLE), 6) AS h_q,
       round(-(CAST(sm AS DOUBLE))
             / (2.0 * CAST(npt AS DOUBLE) * CAST(nqt AS DOUBLE)), 6)
         AS h_mix,
       round(-(CAST(sm AS DOUBLE))
             / (2.0 * CAST(npt AS DOUBLE) * CAST(nqt AS DOUBLE))
             - (-(CAST(sp AS DOUBLE)) / CAST(npt AS DOUBLE)
                + -(CAST(sq AS DOUBLE)) / CAST(nqt AS DOUBLE)) / 2.0, 6)
         AS js_nats
FROM agg
"""


@register(
    "js_divergence_docs",
    oracle=_JS_ORACLE,
    tags=("llm", "text", "mixing", "incremental"),
    # promoted to the 50-slot hard window in the r13 rotation
)
def js_divergence_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the incoming batch's
    (``doc_id % 10 == 7``) and the corpus's word distributions
    (``operators/textops.py:js_divergence_words``) — the lexical half
    of the batch-gate family (``embedding_batch_drift`` watches the
    geometry, this watches the vocabulary): 0 = same word mix, ln 2 =
    disjoint. Entropy form H(M) - (H(P)+H(Q))/2 over the vocabulary
    union; every per-word contribution is an exact INTEGER weight
    times ONE quantized DECIMAL log (the mixture weight is the
    common-denominator numerator n_p*N_q + n_q*N_p, so no per-word
    float probability ever sums). One full-outer equi-join on the
    Zipf-bounded vocab key, two one-row total broadcasts."""
    from ghcn_d_etl_project_spark.operators.textops import (
        js_divergence_words,
    )

    d = t(spark, sf_dir, "documents")
    return js_divergence_words(
        d.filter(F.col("doc_id") % 10 == 7),
        d.filter(F.col("doc_id") % 10 != 7),
    )


# ---------------------------------------------------------------------------
# BPE merge statistics (r12): the first tokenizer-training iteration
# ---------------------------------------------------------------------------

_BPE_ORACLE = """
WITH words AS (
  SELECT w, COUNT(*) AS wc FROM (
    SELECT UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS w
    FROM documents WHERE text IS NOT NULL
  ) GROUP BY w
),
pairs AS (
  SELECT substr(w, CAST(i AS INTEGER), 1) AS left_sym,
         substr(w, CAST(i AS INTEGER) + 1, 1) AS right_sym,
         wc
  FROM words, UNNEST(generate_series(1, length(w) - 1)) AS g(i)
  WHERE length(w) >= 2
),
counts AS (
  SELECT left_sym, right_sym, CAST(SUM(wc) AS BIGINT) AS pair_count
  FROM pairs GROUP BY 1, 2
)
SELECT left_sym, right_sym, pair_count,
       CAST(row_number() OVER (
         ORDER BY pair_count DESC, left_sym, right_sym) AS BIGINT) AS rank
FROM counts
QUALIFY rank <= 50
"""


@register(
    "bpe_pair_stats_docs",
    oracle=_BPE_ORACLE,
    tags=("llm", "text", "tokenizer"),
    # promoted to the 50-slot hard window in the r13 rotation
)
def bpe_pair_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge iteration over the corpus
    (``operators/textops.py:bpe_pair_counts``): adjacent-symbol pair
    counts weighted by WORD frequency — the statistic a distributed
    tokenizer-training job computes per merge round, and its dominant
    cost. The corpus collapses to the (word, count) vocabulary before
    any pair exists (Zipf: millions of vocab rows for trillions of
    tokens), pairs explode from the vocabulary only, and the ranking
    window runs over the alphabet^2-bounded pair table. rank 1 = the
    pair the first merge fuses."""
    from ghcn_d_etl_project_spark.operators.textops import bpe_pair_counts

    return bpe_pair_counts(t(spark, sf_dir, "documents"), top_k=50)


# ---------------------------------------------------------------------------
# Cross-corpus perplexity gate (r12): score the incoming batch under
# the EXISTING corpus's LM — the quality half of incremental ingestion
# ---------------------------------------------------------------------------

_CROSS_PPL_ORACLE = """
WITH tr AS (
  SELECT regexp_extract_all(lower(text), '[a-z]+') AS t
  FROM documents
  WHERE text IS NOT NULL AND doc_id IS NOT NULL AND doc_id % 10 <> 7
),
sc AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t
  FROM documents
  WHERE text IS NOT NULL AND doc_id IS NOT NULL AND doc_id % 10 = 7
),
bgt AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM tr, UNNEST(generate_series(1, len(t) - 1)) AS s(i)
  WHERE len(t) >= 2
),
bgs AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM sc, UNNEST(generate_series(1, len(t) - 1)) AS s(i)
  WHERE len(t) >= 2
),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bgt GROUP BY 1, 2),
c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
v AS (SELECT COUNT(DISTINCT w2) AS v FROM c2),
model AS (
  SELECT c2.w1, c2.w2,
         CAST(round(ln(CAST(c2.c2 + 1 AS DOUBLE)
                       / CAST(c1.c1 + v.v AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS logp
  FROM c2 JOIN c1 USING (w1), v
),
floors AS (
  SELECT c1.w1,
         CAST(round(ln(1.0 / CAST(c1.c1 + v.v AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS flogp
  FROM c1, v
),
uni AS (
  SELECT CAST(round(ln(1.0 / CAST(v AS DOUBLE)), 6) AS DECIMAL(18,6))
           AS ulogp
  FROM v
),
scored AS (
  SELECT b.doc_id, COUNT(*) AS n_bigrams,
         SUM(CASE WHEN m.logp IS NULL THEN 1 ELSE 0 END) AS n_oov_pairs,
         SUM(CASE WHEN f.flogp IS NULL THEN 1 ELSE 0 END) AS n_oov_contexts,
         SUM(COALESCE(m.logp, f.flogp, u.ulogp)) AS s
  FROM bgs b
  LEFT JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
  LEFT JOIN floors f ON b.w1 = f.w1
  CROSS JOIN uni u
  GROUP BY 1
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST(n_oov_pairs AS BIGINT) AS n_oov_pairs,
       CAST(n_oov_contexts AS BIGINT) AS n_oov_contexts,
       round(CAST(s AS DOUBLE) / n_bigrams, 6) AS avg_logp,
       round(exp(-(CAST(s AS DOUBLE) / n_bigrams)), 4) AS ppl
FROM scored
"""


@register(
    "cross_perplexity_docs",
    oracle=_CROSS_PPL_ORACLE,
    tags=("llm", "text", "quality", "incremental", "persists"),
    # promoted to the 50-slot hard window in the r13 rotation
)
def cross_perplexity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus perplexity gate
    (``operators/textops.py:word_bigram_cross_surprisal``): each doc of
    the incoming batch (``doc_id % 10 == 7``) scored under the add-one
    word-bigram LM trained on the EXISTING corpus (the rest) — the
    quality half of incremental ingestion (``incremental_dedup_docs``
    answers "seen before?", this answers "looks like our corpus?"),
    with an explicit OOV backoff ladder (model pair -> seen-context
    add-one mass -> uniform 1/V floor) and OOV counts in the output.
    Model and floor tables are corpus-sized: scoring is shuffle
    equi-joins on the bigram / context keys, never a driver broadcast;
    only the 1-row vocabulary size rides broadcast. Log-probs quantized
    once per table (DECIMAL) so per-doc sums are order-exact."""
    from ghcn_d_etl_project_spark.operators.textops import (
        word_bigram_cross_surprisal,
    )

    d = t(spark, sf_dir, "documents")
    out = word_bigram_cross_surprisal(
        d.filter(F.col("doc_id") % 10 != 7),
        d.filter(F.col("doc_id") % 10 == 7),
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_bigrams",
        "n_oov_pairs",
        "n_oov_contexts",
        "avg_logp",
        "ppl",
    )


# ---------------------------------------------------------------------------
# Per-document contamination fraction (r11): the decontam policy number
# ---------------------------------------------------------------------------

_CONTAM_FRAC_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
cg AS (
  SELECT DISTINCT doc_id,
         array_to_string(t[CAST(i AS INTEGER) : CAST(i AS INTEGER) + 7], ' ')
           AS gram
  FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS s(i)
  WHERE len(t) >= 8 AND doc_id % 10 <> 0
),
eg AS (
  SELECT DISTINCT
         array_to_string(t[CAST(i AS INTEGER) : CAST(i AS INTEGER) + 7], ' ')
           AS gram
  FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS s(i)
  WHERE len(t) >= 8 AND doc_id % 10 = 0
),
per AS (
  SELECT c.doc_id, COUNT(*) AS n_grams,
         SUM(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END)
           AS n_contaminated
  FROM cg c LEFT JOIN eg e USING (gram)
  GROUP BY 1
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_contaminated AS BIGINT) AS n_contaminated,
       round(CAST(n_contaminated AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
         AS contaminated_frac,
       CAST(CASE WHEN round(CAST(n_contaminated AS DOUBLE)
                            / CAST(n_grams AS DOUBLE), 6) >= 0.05
                 THEN 1 ELSE 0 END AS BIGINT) AS flagged
FROM per
"""


@register(
    "contamination_fraction_docs",
    oracle=_CONTAM_FRAC_ORACLE,
    tags=("llm", "decontam"),
    late=True,  # new in r11
)
def contamination_fraction_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document contamination rate against the simulated eval set
    (every 10th doc): the fraction of each NON-eval document's distinct
    8-grams that appear anywhere in the eval set, with the >= 5%
    decontamination flag (``operators/contamination.py:
    contamination_fraction``). ``contamination_check`` names the
    colliding PAIRS; this is the number the drop/keep policy actually
    thresholds — a quoted sentence vs a wholesale copy. Eval n-grams
    collapse to a distinct broadcast set; the corpus side is one
    explode + one broadcast left join + one per-doc aggregate (hit
    count and total in the same pass)."""
    from ghcn_d_etl_project_spark.operators.contamination import (
        contamination_fraction,
    )

    d = t(spark, sf_dir, "documents")
    out = contamination_fraction(
        d.filter(F.col("doc_id") % 10 != 0),
        d.filter(F.col("doc_id") % 10 == 0),
        "doc_id",
        "text",
        "text",
        n=8,
        flag_threshold=0.05,
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_grams",
        "n_contaminated",
        "contaminated_frac",
        "flagged",
    )


# ---------------------------------------------------------------------------
# Skip-gram window co-occurrence (extension, r11): embedding training pairs
# ---------------------------------------------------------------------------

_SKIPGRAM_ORACLE = """
WITH d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
),
tok AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, ws[CAST(i AS INTEGER)] AS w
  FROM d, UNNEST(generate_series(1, len(ws))) s(i)
),
probe AS (
  SELECT doc_id, w AS wa, pos + CAST(j AS BIGINT) AS pos
  FROM tok, UNNEST(generate_series(1, 4)) t(j)
)
SELECT least(p.wa, b.w) AS w1, greatest(p.wa, b.w) AS w2,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM probe p JOIN tok b ON p.doc_id = b.doc_id AND p.pos = b.pos
GROUP BY 1, 2 HAVING COUNT(*) >= 5
"""


@register(
    "skipgram_pairs_docs",
    oracle=_SKIPGRAM_ORACLE,
    tags=("llm", "text", "mining"),
    late=True,
)
def skipgram_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence counts (window 4, min count 5) — the
    positional word-pair substrate word2vec/GloVe training consumes
    (``operators/textops.py:skipgram_counts``). The context join is a
    pure (doc, position) EQUI-join with fan-out exactly ``window`` per
    token (each token explodes its next-4 positions), never the
    per-doc-quadratic doc-id-only hash join a naive BETWEEN range
    formulation plans; pair counts aggregate map-side on the (w1, w2)
    key. All-BIGINT output, bit-exact against the oracle."""
    from ghcn_d_etl_project_spark.operators.textops import skipgram_counts

    return skipgram_counts(
        t(spark, sf_dir, "documents"), "doc_id", "text", window=4, min_count=5
    )


# ---------------------------------------------------------------------------
# Vocabulary construction + OOV audit (extension, r11)
# ---------------------------------------------------------------------------

_VOCAB_OOV_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
),
counts AS (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY 1),
vocab AS (
  SELECT w, 1 AS in_vocab FROM (
    SELECT w, row_number() OVER (ORDER BY cnt DESC, w) AS rk FROM counts
  ) WHERE rk <= 20
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
       CAST(SUM(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       round(CAST(SUM(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS oov_rate
FROM tok LEFT JOIN vocab v USING (w)
GROUP BY doc_id
"""


@register(
    "vocab_oov_docs",
    oracle=_VOCAB_OOV_ORACLE,
    tags=("llm", "text", "quality"),
    late=True,
)
def vocab_oov_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 frequency-cut vocabulary + per-document OOV rate
    (``operators/textops.py:vocab_oov``) — the tokenizer-coverage audit
    run before committing to a vocabulary. The top-V window runs over
    the word-grain AGGREGATE (vocabulary-bounded, not corpus-bounded);
    scoring is one broadcast left join + per-doc aggregate. (vocab_size
    20 < the synthetic corpus's 31 distinct words, so the OOV tail is
    non-degenerate at every SF.)"""
    from ghcn_d_etl_project_spark.operators.textops import vocab_oov

    return vocab_oov(
        t(spark, sf_dir, "documents"), "doc_id", "text", vocab_size=20
    )


# ---------------------------------------------------------------------------
# Containment near-dup (extension, r11): the asymmetric Jaccard twin
# ---------------------------------------------------------------------------

_CONTAINMENT_ORACLE = """
WITH docs AS (SELECT doc_id, lower(text) AS txt FROM documents),
sh AS (
  SELECT DISTINCT doc_id, substr(txt, CAST(i AS INTEGER), 4) AS shingle
  FROM docs, UNNEST(generate_series(1, greatest(length(txt) - 3, 0))) AS u(i)
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS set_size FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc1, i.doc2, i.n_inter,
       s1.set_size AS size1, s2.set_size AS size2,
       round(CAST(i.n_inter AS DOUBLE) / least(s1.set_size, s2.set_size), 6)
         AS containment
FROM inter i
JOIN sizes s1 ON i.doc1 = s1.doc_id
JOIN sizes s2 ON i.doc2 = s2.doc_id
WHERE CAST(i.n_inter AS DOUBLE) / least(s1.set_size, s2.set_size) >= 0.8
"""


@register(
    "containment_neardup_docs",
    oracle=_CONTAINMENT_ORACLE,
    tags=("llm", "dedup"),
    late=True,
)
def containment_neardup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-4-gram Jaccard-CONTAINMENT pairs at >= 0.8
    (``operators/dedup.py:containment_pairs``): |A ∩ B| / min(|A|,|B|)
    catches short-doc-quoted-inside-long-doc duplication that symmetric
    Jaccard structurally caps below threshold (union-normalized). Same
    inverted-index substrate as ngram_jaccard_pairs — exact verifier on
    bounded data, LSH re-ranker at 100 TB."""
    from ghcn_d_etl_project_spark.operators.dedup import containment_pairs

    return containment_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", n=4, threshold=0.8
    )


# ---------------------------------------------------------------------------
# Cross-source duplication audit (extension, r11): corpus governance
# ---------------------------------------------------------------------------

_CROSS_SOURCE_ORACLE = """
WITH docs AS (SELECT doc_id, lower(text) AS txt, source FROM documents),
sh AS (
  SELECT DISTINCT doc_id, substr(txt, CAST(i AS INTEGER), 4) AS shingle
  FROM docs, UNNEST(generate_series(1, greatest(length(txt) - 3, 0))) AS u(i)
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS set_size FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT i.doc1, i.doc2
  FROM inter i
  JOIN sizes s1 ON i.doc1 = s1.doc_id
  JOIN sizes s2 ON i.doc2 = s2.doc_id
  WHERE CAST(i.n_inter AS DOUBLE) / (s1.set_size + s2.set_size - i.n_inter)
        >= 0.5
),
part AS (
  SELECT doc, MAX(is_cross) AS is_cross FROM (
    SELECT p.doc1 AS doc,
           CASE WHEN d1.source <> d2.source THEN 1 ELSE 0 END AS is_cross
    FROM pairs p JOIN docs d1 ON p.doc1 = d1.doc_id
                 JOIN docs d2 ON p.doc2 = d2.doc_id
    UNION ALL
    SELECT p.doc2 AS doc,
           CASE WHEN d1.source <> d2.source THEN 1 ELSE 0 END AS is_cross
    FROM pairs p JOIN docs d1 ON p.doc1 = d1.doc_id
                 JOIN docs d2 ON p.doc2 = d2.doc_id
  ) GROUP BY doc
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN part.is_cross IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_neardup_docs,
       CAST(SUM(COALESCE(part.is_cross, 0)) AS BIGINT) AS n_cross_docs,
       round(CAST(SUM(CASE WHEN part.is_cross IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS neardup_rate,
       round(CAST(SUM(COALESCE(part.is_cross, 0)) AS DOUBLE) / COUNT(*), 6)
         AS cross_rate
FROM docs d LEFT JOIN part ON d.doc_id = part.doc
GROUP BY d.source
"""


@register(
    "cross_source_dup_audit",
    oracle=_CROSS_SOURCE_ORACLE,
    tags=("llm", "dedup", "governance", "persists"),
    late=True,
)
def cross_source_dup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source near-dup participation audit
    (``operators/dedup.py:cross_source_neardup_audit``): how many of
    each source's docs near-dup at all, and how many near-dup ACROSS
    sources — the governance number corpus mixing needs (two sources
    that mirror each other silently double their weight in any
    per-source mix like temperature_mix). Built on the exact Jaccard
    verifier here; identical rollup applies to the banded LSH pair list
    at 100 TB."""
    from ghcn_d_etl_project_spark.operators.dedup import (
        cross_source_neardup_audit,
    )

    return cross_source_neardup_audit(
        t(spark, sf_dir, "documents"), "doc_id", "text", "source",
        n=4, threshold=0.5,
    )


# ---------------------------------------------------------------------------
# Quantile normalization across sources (extension, r11): batch correction
# ---------------------------------------------------------------------------

_QNORM_ORACLE = """
WITH d AS (
  SELECT doc_id, source, n_chars FROM documents
  WHERE doc_id IS NOT NULL AND source IS NOT NULL AND n_chars IS NOT NULL
),
tot AS (SELECT COUNT(*) AS n FROM d),
s AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
           AS r,
         COUNT(*) OVER (PARTITION BY source) AS ng
  FROM d
),
pooled AS (
  SELECT n_chars AS qnorm,
         row_number() OVER (ORDER BY n_chars, doc_id) AS idx
  FROM d
)
SELECT s.doc_id, s.source, s.n_chars,
       CAST(p.qnorm AS BIGINT) AS qnorm_chars
FROM s CROSS JOIN tot
JOIN pooled p
  ON p.idx = CAST((CAST(s.r AS HUGEINT) * tot.n + s.ng - 1) // s.ng
                  AS BIGINT)
"""


@register(
    "quantile_normalize_docs",
    oracle=_QNORM_ORACLE,
    tags=("llm", "features", "governance"),
    late=True,
)
def quantile_normalize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize doc length across sources
    (``operators/encoding.py:quantile_normalize``, Bolstad et al. 2003):
    each doc's n_chars maps to the POOLED order statistic at its
    within-source quantile position (exact ceil(r*N/ng) BIGINT index —
    no float quantiles), making one global length/quality threshold
    meaningful across heterogeneous sources. Pooled order statistics
    come from value-grain counts + the distributed prefix-sum
    (prefix.global_cumsum) + a rank-range explode — no single-partition
    sort of the fact table anywhere; the final mapping is an equi-join
    on the rank index."""
    from ghcn_d_etl_project_spark.operators.encoding import quantile_normalize

    out = quantile_normalize(
        t(spark, sf_dir, "documents"),
        "doc_id", "n_chars", "source",
        bucket_width=64.0,
    )
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("group").alias("source"),
        F.col("value").alias("n_chars"),
        F.col("qnorm").cast("long").alias("qnorm_chars"),
    )


# ---------------------------------------------------------------------------
# Curriculum bucketing (extension, r11): training-data ordering
# ---------------------------------------------------------------------------

_CURRICULUM_ORACLE = """
WITH d AS (
  SELECT doc_id, source, n_chars FROM documents
  WHERE doc_id IS NOT NULL AND source IS NOT NULL AND n_chars IS NOT NULL
),
s AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
           AS r,
         COUNT(*) OVER (PARTITION BY source) AS ng
  FROM d
)
SELECT doc_id, source, n_chars,
       CAST(r AS BIGINT) AS within_rank,
       CAST((10 * (r - 1)) // ng AS BIGINT) AS bucket
FROM s
"""


@register(
    "curriculum_docs",
    oracle=_CURRICULUM_ORACLE,
    tags=("llm", "sampling", "ordering"),
    late=True,
)
def curriculum_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-depth curriculum buckets per source
    (``operators/encoding.py:curriculum_buckets``, Bengio et al. 2009):
    rank docs within each source by a difficulty proxy (length), cut
    into 10 buckets — bucket b holds the b-th difficulty slice of EVERY
    source, so bucket-ascending training is an easy-to-hard curriculum
    that stays source-balanced. The bucket id is the whole curriculum
    coordinate: shards are written bucket-partitioned and read in
    bucket order — a total training order with NO global sort at any
    scale."""
    from ghcn_d_etl_project_spark.operators.encoding import curriculum_buckets

    out = curriculum_buckets(
        t(spark, sf_dir, "documents"),
        "doc_id", "n_chars", "source",
        n_buckets=10,
    )
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("group").alias("source"),
        F.col("difficulty").alias("n_chars"),
        "within_rank",
        "bucket",
    )


# ---------------------------------------------------------------------------
# Repeated-span dedup profile (extension, r11): Lee et al. 2021
# ---------------------------------------------------------------------------

_SPAN_DEDUP_ORACLE = """
WITH base AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
pos AS (
  SELECT doc_id, substr(text, CAST(i AS INTEGER), 40) AS gram
  FROM base, UNNEST(generate_series(1, greatest(length(text) - 39, 0))) s(i)
),
dfreq AS (SELECT gram, COUNT(DISTINCT doc_id) AS dfn FROM pos GROUP BY gram),
agg AS (
  SELECT b.doc_id,
         COUNT(p.gram) AS n_spans,
         SUM(CASE WHEN f.dfn >= 2 THEN 1 ELSE 0 END) AS n_rep
  FROM base b
  LEFT JOIN pos p ON b.doc_id = p.doc_id
  LEFT JOIN dfreq f ON p.gram = f.gram
  GROUP BY b.doc_id
)
SELECT doc_id,
       CAST(n_spans AS BIGINT) AS n_spans,
       CAST(COALESCE(n_rep, 0) AS BIGINT) AS n_repeated,
       CASE WHEN n_spans > 0
            THEN round(CAST(n_rep AS DOUBLE) / n_spans, 6) END
         AS repeated_frac,
       CASE WHEN n_spans > 0
            THEN CAST(n_rep AS DOUBLE) / n_spans >= 0.5 END AS flagged
FROM agg
"""


@register(
    "span_dedup_profile_docs",
    oracle=_SPAN_DEDUP_ORACLE,
    tags=("llm", "dedup", "quality"),
    # promoted to the 50-slot hard window in the r12 rotation
)
def span_dedup_profile_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repeated-span coverage at char-40-gram grain
    (``operators/dedup.py:span_dedup_profile``, Lee et al. 2021 exact-
    substring dedup): fraction of a doc's span POSITIONS whose span
    appears in >= 2 docs, with the >= 50% removal flag. The paper's
    suffix array is single-machine; the distributed restatement is
    position-grams + one distinct-doc df aggregate + one equi-join —
    linear, no pair term (the df table replaces pairwise comparison).
    At 100 TB the gram key is xxhash64(span); at oracle scale the raw
    string keeps it engine-portable."""
    from ghcn_d_etl_project_spark.operators.dedup import span_dedup_profile

    return span_dedup_profile(
        t(spark, sf_dir, "documents"), "doc_id", "text", k=40,
        flag_threshold=0.5,
    )


# ---------------------------------------------------------------------------
# Per-source datasheet rollup (extension, r11): the dataset card numbers
# ---------------------------------------------------------------------------

_DATASHEET_ORACLE = r"""
WITH by_lang AS (
  SELECT source, lang, COUNT(*) AS cnt FROM documents
  WHERE source IS NOT NULL AND lang IS NOT NULL
  GROUP BY source, lang
),
top_lang AS (
  SELECT source, lang AS top_lang FROM (
    SELECT source, lang,
           row_number() OVER (PARTITION BY source
                              ORDER BY cnt DESC, lang DESC) AS rk
    FROM by_lang
  ) WHERE rk = 1
),
base AS (
  SELECT source,
         COUNT(*) AS n_docs,
         SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS n_null_text,
         SUM(n_chars) AS total_chars,
         COUNT(n_chars) AS n_chars_obs,
         COUNT(DISTINCT lang) AS n_langs,
         SUM(CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                  x -> x <> '')) AS BIGINT)) AS total_ws_tokens
  FROM documents WHERE source IS NOT NULL
  GROUP BY source
)
SELECT b.source,
       CAST(b.n_docs AS BIGINT) AS n_docs,
       CAST(b.n_null_text AS BIGINT) AS n_null_text,
       CAST(b.total_chars AS BIGINT) AS total_chars,
       CASE WHEN b.n_chars_obs > 0
            THEN round(CAST(b.total_chars AS DOUBLE) / b.n_chars_obs, 6)
       END AS mean_chars,
       CAST(b.n_langs AS BIGINT) AS n_langs,
       t.top_lang,
       CAST(b.total_ws_tokens AS BIGINT) AS total_ws_tokens
FROM base b LEFT JOIN top_lang t ON b.source = t.source
"""


@register(
    "source_datasheet_docs",
    oracle=_DATASHEET_ORACLE,
    tags=("llm", "governance", "profile"),
    late=True,
)
def source_datasheet_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset-card rollup (Gebru et al. 2021 "Datasheets
    for Datasets" — the release-gate numbers): doc/null counts, char
    totals and means, language count, dominant language, whitespace
    token totals. ONE map-side-combined groupBy(source) over the corpus
    plus one (source, lang)-grain aggregate for the dominant language —
    argmax via max(struct(cnt, lang)) with the deterministic
    bigger-count-then-lexicographically-last tie-break the oracle
    restates as ROW_NUMBER. The fact table shuffles once, on source."""
    from ghcn_d_etl_project_spark.operators.textops import token_count

    d = t(spark, sf_dir, "documents").filter(F.col("source").isNotNull())
    by_lang = (
        d.filter(F.col("lang").isNotNull())
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = by_lang.groupBy("source").agg(
        F.max(F.struct(F.col("cnt"), F.col("lang"))).alias("__m")
    ).select("source", F.col("__m.lang").alias("top_lang"))
    base = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_text"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.count("n_chars").alias("__n_chars_obs"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        F.sum(token_count("text")).cast("long").alias("total_ws_tokens"),
    )
    return base.join(F.broadcast(top), "source", "left").select(
        "source",
        "n_docs",
        "n_null_text",
        "total_chars",
        F.when(
            F.col("__n_chars_obs") > 0,
            F.round(
                F.col("total_chars").cast("double") / F.col("__n_chars_obs"),
                6,
            ),
        ).alias("mean_chars"),
        "n_langs",
        "top_lang",
        "total_ws_tokens",
    )


# ---------------------------------------------------------------------------
# Retrieval evaluation: NDCG@10 / MRR / P@10 of the embedding space
# (extension, r11) — label-relevance eval over the exact cosine ranking
# ---------------------------------------------------------------------------

# DCG position discounts 1/log2(rank+1) and their prefix sums (ideal
# DCG@10), pre-rounded to 12 decimals and FOLDED TO LITERALS shared by
# the Spark expression and the oracle — no cross-engine log2 in either
# plan (the bh_fdr z-constant pattern), and DECIMAL sums make the
# per-query accumulation order-independent.
_NDCG_DISC = [
    "1.0", "0.630929753571", "0.5", "0.430676558073", "0.386852807235",
    "0.356207187108", "0.333333333333", "0.315464876786",
    "0.301029995664", "0.289064826318",
]
_NDCG_IDCG = [
    "1.0", "1.630929753571", "2.130929753571", "2.561606311644",
    "2.948459118879", "3.304666305987", "3.637999639320",
    "3.953464516106", "4.254494511770", "4.543559338088",
]

_DISC_CASE_SQL = "CASE rank " + " ".join(
    f"WHEN {i + 1} THEN CAST({d} AS DECIMAL(18,12))"
    for i, d in enumerate(_NDCG_DISC)
) + " END"
_IDCG_CASE_SQL = "CASE least(n_rel, 10) " + " ".join(
    f"WHEN {i + 1} THEN CAST({p} AS DECIMAL(18,12))"
    for i, p in enumerate(_NDCG_IDCG)
) + " END"

_NDCG_ORACLE = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec, label
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS qid, b.vec_id AS nid,
         round(list_cosine_similarity(a.vec, b.vec), 6) AS cos_sim
  FROM v a, v b WHERE a.vec_id <> b.vec_id
),
topk AS (
  SELECT qid, nid,
         CAST(row_number() OVER (PARTITION BY qid
                                 ORDER BY cos_sim DESC, nid) AS BIGINT)
           AS rank
  FROM pairs QUALIFY rank <= 10
),
lab AS (SELECT vec_id, label FROM v WHERE label IS NOT NULL),
rel AS (
  SELECT t.qid, ql.label AS qlabel, t.rank,
         CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END AS is_rel
  FROM topk t
  JOIN lab ql ON t.qid = ql.vec_id
  JOIN lab nl ON t.nid = nl.vec_id
),
per_q AS (
  SELECT qid, qlabel,
         SUM(CASE WHEN is_rel = 1 THEN {_DISC_CASE_SQL}
                  ELSE CAST(0 AS DECIMAL(18,12)) END) AS dcg_dec,
         MIN(CASE WHEN is_rel = 1 THEN rank END) AS first_rel_rank,
         SUM(is_rel) AS n_rel_top10
  FROM rel GROUP BY qid, qlabel
),
cnts AS (SELECT label, COUNT(*) AS cnt FROM lab GROUP BY label)
SELECT p.qid,
       CAST(c.cnt - 1 AS BIGINT) AS n_rel,
       CAST(p.n_rel_top10 AS BIGINT) AS n_rel_top10,
       CAST(p.first_rel_rank AS BIGINT) AS first_rel_rank,
       round(CAST(p.dcg_dec AS DOUBLE), 6) AS dcg10,
       CASE WHEN c.cnt - 1 > 0 THEN
         round(CAST(p.dcg_dec AS DOUBLE)
               / CAST((SELECT {_IDCG_CASE_SQL}
                       FROM (SELECT c.cnt - 1 AS n_rel)) AS DOUBLE), 6)
       END AS ndcg10,
       CASE WHEN p.first_rel_rank IS NOT NULL
            THEN round(1.0 / p.first_rel_rank, 6) END AS mrr10,
       round(CAST(p.n_rel_top10 AS DOUBLE) / 10.0, 6) AS p_at_10
FROM per_q p JOIN cnts c ON p.qlabel = c.label
"""


@register(
    "ndcg_label_topk",
    oracle=_NDCG_ORACLE,
    tags=("llm", "similarity", "eval"),
    late=True,
)
def ndcg_label_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space retrieval quality per query vector: NDCG@10, MRR
    and precision@10 over the EXACT cosine top-10 ranking with same-
    label relevance — the eval-harness readout (Järvelin & Kekäläinen
    2002) that turns the ANN/cosine stack into a measurable retrieval
    system. Reuses the cosine_topk operator (rounded-score ranking with
    nid tie-break = engine-reproducible order); DCG discounts and ideal
    prefix sums are pre-rounded LITERALS shared with the oracle (no
    cross-engine log2), summed as DECIMAL so the <= 10-term accumulation
    is order-free; IDCG truncates at min(corpus_relevant, 10), label
    counts broadcast back. NULL ndcg when a query's label is unique
    (no relevant neighbor exists), NULL mrr when none retrieved."""
    from ghcn_d_etl_project_spark.operators.similarity import cosine_topk

    emb = t(spark, sf_dir, "embeddings")
    topk = cosine_topk(emb, "vec_id", "embedding", k=10)
    lab = emb.filter(
        F.col("label").isNotNull() & F.col("vec_id").isNotNull()
    ).select("vec_id", "label")
    qlab = lab.select(F.col("vec_id").alias("qid"), F.col("label").alias("qlabel"))
    nlab = lab.select(F.col("vec_id").alias("nid"), F.col("label").alias("nlabel"))
    disc = "CASE rank " + " ".join(
        f"WHEN {i + 1} THEN CAST({d} AS DECIMAL(18,12))"
        for i, d in enumerate(_NDCG_DISC)
    ) + " END"
    j = (
        topk.join(qlab, "qid")
        .join(nlab, "nid")
        .withColumn("is_rel", (F.col("qlabel") == F.col("nlabel")).cast("int"))
        .withColumn("__disc", F.expr(disc))
    )
    per_q = j.groupBy("qid", "qlabel").agg(
        F.sum(
            F.when(F.col("is_rel") == 1, F.col("__disc")).otherwise(
                F.lit(0).cast("decimal(18,12)")
            )
        ).alias("dcg_dec"),
        F.min(F.when(F.col("is_rel") == 1, F.col("rank"))).alias(
            "first_rel_rank"
        ),
        F.sum("is_rel").cast("long").alias("n_rel_top10"),
    )
    cnts = lab.groupBy("label").agg(F.count(F.lit(1)).alias("cnt"))
    idcg = "CASE least(n_rel, 10) " + " ".join(
        f"WHEN {i + 1} THEN CAST({p} AS DECIMAL(18,12))"
        for i, p in enumerate(_NDCG_IDCG)
    ) + " END"
    out = (
        per_q.join(
            F.broadcast(cnts.select(F.col("label").alias("qlabel"), "cnt")),
            "qlabel",
        )
        .withColumn("n_rel", (F.col("cnt") - 1).cast("long"))
        .withColumn("__idcg", F.expr(idcg))
    )
    return out.select(
        "qid",
        "n_rel",
        "n_rel_top10",
        F.col("first_rel_rank").cast("long").alias("first_rel_rank"),
        F.round(F.col("dcg_dec").cast("double"), 6).alias("dcg10"),
        F.when(
            F.col("n_rel") > 0,
            F.round(
                F.col("dcg_dec").cast("double") / F.col("__idcg").cast("double"),
                6,
            ),
        ).alias("ndcg10"),
        F.when(
            F.col("first_rel_rank").isNotNull(),
            F.round(F.lit(1.0) / F.col("first_rel_rank"), 6),
        ).alias("mrr10"),
        F.round(F.col("n_rel_top10").cast("double") / F.lit(10.0), 6).alias(
            "p_at_10"
        ),
    )


# ---------------------------------------------------------------------------
# Holdout calibration / reliability table (extension, r11)
# ---------------------------------------------------------------------------

_CALIB_ORACLE = """
WITH u AS (
  SELECT user_id,
         SUM(CASE WHEN event_type IN ('view', 'click') THEN 1 ELSE 0 END)
           AS score,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
),
armed AS (
  SELECT score, conv,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR) || ':calib'),
                                  1, 4)) AS INTEGER) % 2 AS half
  FROM u
),
s AS (
  SELECT score,
         SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n_fit,
         SUM(CASE WHEN half = 0 THEN conv ELSE 0 END) AS c_fit,
         SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n_eval,
         SUM(CASE WHEN half = 1 THEN conv ELSE 0 END) AS c_eval
  FROM armed GROUP BY score
)
SELECT CAST(score AS BIGINT) AS score,
       CAST(n_fit AS BIGINT) AS n_fit,
       CAST(c_fit AS BIGINT) AS conv_fit,
       CAST(n_eval AS BIGINT) AS n_eval,
       CAST(c_eval AS BIGINT) AS conv_eval,
       CASE WHEN n_fit > 0
            THEN round(CAST(c_fit AS DOUBLE) / n_fit, 6) END AS pred_rate,
       CASE WHEN n_eval > 0
            THEN round(CAST(c_eval AS DOUBLE) / n_eval, 6) END AS acc_rate,
       CASE WHEN n_fit > 0 AND n_eval > 0
            THEN round(abs(CAST(c_fit AS DOUBLE) / n_fit
                           - CAST(c_eval AS DOUBLE) / n_eval), 6)
       END AS abs_gap
FROM s
"""


@register(
    "calibration_holdout_events",
    oracle=_CALIB_ORACLE,
    tags=("curation", "experiment", "eval"),
    late=True,
)
def calibration_holdout_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table with a REAL holdout (the reliability-diagram
    substrate behind ECE, Guo et al. 2017): users md5-split into a FIT
    half (whose per-score conversion rate is the 'model prediction')
    and an EVAL half (whose realized rate it is scored against) —
    without the holdout, prediction and outcome are the same number by
    construction and every gap is zero. One per-user collapse, one
    per-score conditional aggregate; ECE = SUM(n_eval*abs_gap)/
    SUM(n_eval) over the rows. NULL verdicts where a half is empty at
    a score (nothing fitted / nothing to score)."""
    e = t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    u = e.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type").isin("view", "click"), 1).otherwise(0)
        )
        .cast("long")
        .alias("score"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    half = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":calib"))),
                1,
                4,
            ),
            16,
            10,
        ).cast("int")
        % 2
    )
    armed = u.select("score", "conv", half.alias("half"))
    s = armed.groupBy("score").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("long").alias("n_fit"),
        F.sum(F.when(F.col("half") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_fit"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("long").alias("n_eval"),
        F.sum(F.when(F.col("half") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_eval"),
    )
    pred = F.col("conv_fit").cast("double") / F.col("n_fit")
    acc = F.col("conv_eval").cast("double") / F.col("n_eval")
    return s.select(
        F.col("score").cast("long").alias("score"),
        "n_fit",
        "conv_fit",
        "n_eval",
        "conv_eval",
        F.when(F.col("n_fit") > 0, F.round(pred, 6)).alias("pred_rate"),
        F.when(F.col("n_eval") > 0, F.round(acc, 6)).alias("acc_rate"),
        F.when(
            (F.col("n_fit") > 0) & (F.col("n_eval") > 0),
            F.round(F.abs(pred - acc), 6),
        ).alias("abs_gap"),
    )


# ---------------------------------------------------------------------------
# Incremental-ingestion dedup (extension, r11): new batch vs reference
# ---------------------------------------------------------------------------

_INCR_DEDUP_ORACLE = r"""
WITH newb AS (
  SELECT doc_id AS doc, text AS txt FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND doc_id % 10 = 7
),
refb AS (
  SELECT doc_id AS ref, text AS txt FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND doc_id % 10 <> 7
),
fpx AS (
  SELECT n.doc, MIN(r.ref) AS exact_ref
  FROM (SELECT doc, md5(trim(regexp_replace(regexp_replace(lower(txt),
              '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fp
        FROM newb) n
  JOIN (SELECT ref, md5(trim(regexp_replace(regexp_replace(lower(txt),
              '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fp
        FROM refb) r
    USING (fp)
  GROUP BY n.doc
),
shn AS (
  SELECT DISTINCT doc, substr(lower(txt), CAST(i AS INTEGER), 4) AS shingle
  FROM newb, UNNEST(generate_series(1, greatest(length(txt) - 3, 0))) u(i)
),
shr AS (
  SELECT DISTINCT ref, substr(lower(txt), CAST(i AS INTEGER), 4) AS shingle
  FROM refb, UNNEST(generate_series(1, greatest(length(txt) - 3, 0))) u(i)
),
szn AS (SELECT doc, COUNT(*) AS s1 FROM shn GROUP BY doc),
szr AS (SELECT ref, COUNT(*) AS s2 FROM shr GROUP BY ref),
inter AS (
  SELECT a.doc, b.ref, COUNT(*) AS ni
  FROM shn a JOIN shr b ON a.shingle = b.shingle
  GROUP BY a.doc, b.ref
),
scored AS (
  SELECT i.doc, i.ref,
         round(CAST(i.ni AS DOUBLE) / (szn.s1 + szr.s2 - i.ni), 6) AS jac
  FROM inter i JOIN szn ON i.doc = szn.doc JOIN szr ON i.ref = szr.ref
),
near AS (
  SELECT doc, ref AS near_ref, jac AS near_jac FROM (
    SELECT doc, ref, jac,
           row_number() OVER (PARTITION BY doc
                              ORDER BY jac DESC, ref) AS rk
    FROM scored WHERE jac >= 0.5
  ) WHERE rk = 1
)
SELECT n.doc AS doc_id,
       CASE WHEN f.exact_ref IS NOT NULL THEN 'exact_dup'
            WHEN nr.near_ref IS NOT NULL THEN 'near_dup'
            ELSE 'clean' END AS verdict,
       COALESCE(f.exact_ref, nr.near_ref) AS dup_of,
       CASE WHEN f.exact_ref IS NULL AND nr.near_ref IS NOT NULL
            THEN nr.near_jac END AS jaccard
FROM newb n
LEFT JOIN fpx f ON n.doc = f.doc
LEFT JOIN near nr ON n.doc = nr.doc
"""


@register(
    "incremental_dedup_docs",
    oracle=_INCR_DEDUP_ORACLE,
    tags=("llm", "dedup", "incremental"),
    # promoted to the 50-slot hard window in the r12 rotation
)
def incremental_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion dedup verdicts
    (``operators/dedup.py:dedup_against_reference``): every doc of the
    incoming batch (``doc_id % 10 == 7``) judged against the existing
    corpus (the rest) — exact_dup by normalized fingerprint (one hash
    equi-join), near_dup by char-4-gram Jaccard >= 0.5 against the
    best reference match, clean otherwise. Runs the BANDED near arm
    (the 100 TB shape): MinHash band buckets on both sides, exact
    hashed-shingle Jaccard on same-bucket cross candidates only — no
    shingle-level join of the reference side exists in the plan (the
    reference contributes |ref| x 32 bucket keys, so a hot shingle
    can't fan out). The exact all-pairs oracle still hash-matches:
    with r=2/32 bands a true >= 0.5 pair is missed w.p. ~1e-4, and the
    seeded construction is deterministic — equality vs the exact arm
    is pinned in ``tests/test_corpus_curation.py`` (sf0.001) and was
    verified at sf0.01 and sf0.1 when the arm landed (SCALE.md r12).
    The production dedup shape: a crawl batch lands against the
    corpus; nobody re-dedupes the world."""
    from ghcn_d_etl_project_spark.operators.dedup import (
        dedup_against_reference,
    )

    d = t(spark, sf_dir, "documents")
    return dedup_against_reference(
        d.filter(F.col("doc_id") % 10 == 7),
        d.filter(F.col("doc_id") % 10 != 7),
        "doc_id",
        "text",
        n=4,
        threshold=0.5,
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003) — r13
# ---------------------------------------------------------------------------

_WINNOW_K = 3
_WINNOW_W = 4
_WINNOW_MAXDF = 100

_WINNOW_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS tk
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
), stats AS (
  SELECT doc_id,
         CAST(CASE WHEN len(tk) >= {_WINNOW_K}
                   THEN len(tk) - {_WINNOW_K} + 1 ELSE 0 END AS BIGINT)
           AS n_grams
  FROM toks
), stats2 AS (
  SELECT doc_id, n_grams,
         CAST(CASE WHEN n_grams >= {_WINNOW_W}
                   THEN n_grams - {_WINNOW_W} + 1 ELSE 0 END AS BIGINT)
           AS n_windows
  FROM stats
), grams AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         CAST(concat('0x',
              substr(md5(array_to_string(
                  list_slice(tk, i, i + {_WINNOW_K} - 1), ' ')), 1, 8))
              AS BIGINT) AS h
  FROM toks,
       UNNEST(CASE WHEN len(tk) >= {_WINNOW_K}
                   THEN range(1, len(tk) - {_WINNOW_K} + 2)
                   ELSE [] END) AS r(i)
), wmins AS (
  SELECT doc_id, pos,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW
                      AND {_WINNOW_W - 1} FOLLOWING) AS fp,
         count(*) OVER (PARTITION BY doc_id) AS ng
  FROM grams
), fps AS (
  SELECT DISTINCT doc_id, fp FROM wmins WHERE pos + {_WINNOW_W} <= ng
), dfreq AS (
  SELECT fp, CAST(COUNT(*) AS BIGINT) AS df FROM fps GROUP BY fp
), fstats AS (
  SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp,
         CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared_fp
  FROM fps f JOIN dfreq d USING (fp) GROUP BY f.doc_id
), pairs AS (
  SELECT a.doc_id AS doc, b.doc_id AS partner,
         CAST(COUNT(*) AS BIGINT) AS shared
  FROM fps a
  JOIN dfreq d ON a.fp = d.fp
  JOIN fps b ON a.fp = b.fp
  WHERE d.df BETWEEN 2 AND {_WINNOW_MAXDF} AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
), best AS (
  SELECT doc, partner AS best_partner, shared AS best_shared,
         ROW_NUMBER() OVER (PARTITION BY doc
                            ORDER BY shared DESC, partner) AS rn
  FROM pairs
)
SELECT s.doc_id, s.n_grams, s.n_windows,
       COALESCE(f.n_fp, 0) AS n_fp,
       COALESCE(f.n_shared_fp, 0) AS n_shared_fp,
       CASE WHEN s.n_windows > 0
            THEN round(COALESCE(f.n_fp, 0) / CAST(s.n_windows AS DOUBLE), 6)
       END AS fp_density,
       b.best_partner,
       COALESCE(b.best_shared, 0) AS best_shared
FROM stats2 s
LEFT JOIN fstats f USING (doc_id)
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON s.doc_id = b.doc
"""


@register("winnow_fingerprint_docs", oracle=_WINNOW_ORACLE,
          tags=("llm", "dedup", "text", "persists"))  # promoted to hard window r14
def winnow_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint profile
    (``operators/dedup.py:winnow_profile``, Schleimer et al. 2003 /
    MOSS): word 3-gram hashes, window-4 minima as the fingerprint set,
    per-doc counts + share-with-corpus + strongest partner. The LOCAL
    member of the fingerprinting ladder — whole-doc md5
    (``text_profile``.fp) only catches identical docs; winnowing
    catches partial overlap with a guaranteed hit on any shared run of
    >= w + k - 1 = 6 tokens at ~2/(w+1) storage density. Hash is
    md5-hex-prefix BIGINT so the ENTIRE construction (grams -> window
    minima -> df table -> df-capped partner join) is replayed by the
    DuckDB oracle — the first fingerprint-selection operator here to
    carry a full value-hash oracle through its selection stage."""
    from ghcn_d_etl_project_spark.operators.dedup import winnow_profile

    return winnow_profile(
        t(spark, sf_dir, "documents"), "doc_id", "text",
        k=_WINNOW_K, w=_WINNOW_W, max_df=_WINNOW_MAXDF,
    )


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, published rule set) — r13
# ---------------------------------------------------------------------------

from ghcn_d_etl_project_spark.operators.textops import (  # noqa: E402
    GOPHER_STOPWORDS as _GOPHER_STOPWORDS,
)

_GOPHER_ORACLE = rf"""
WITH base AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS tk,
         lower(text) AS lt
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
), feat AS (
  SELECT doc_id, source,
         CAST(len(tk) AS BIGINT) AS n_words,
         CASE WHEN len(tk) > 0
              THEN CAST(length(array_to_string(tk, '')) AS DOUBLE) / len(tk)
         END AS mean_word_len,
         CASE WHEN len(tk) > 0
              THEN (CAST(length(lt) - length(replace(lt, '#', ''))
                         AS DOUBLE)
                    + (length(lt) - length(replace(lt, '...', ''))) / 3)
                   / len(tk)
         END AS symbol_word_ratio,
         CASE WHEN len(tk) > 0
              THEN CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-z]')))
                        AS DOUBLE) / len(tk)
         END AS frac_alpha_words,
         CAST(len(list_filter(tk, x -> list_contains(
                  [{", ".join(f"'{s}'" for s in _GOPHER_STOPWORDS)}], x)))
              AS BIGINT) AS n_stop_hits
  FROM base
), flags AS (
  SELECT *,
         n_words BETWEEN 50 AND 100000 AS r_wordcount,
         COALESCE(mean_word_len BETWEEN 3.0 AND 10.0, FALSE) AS r_meanlen,
         COALESCE(symbol_word_ratio < 0.1, FALSE) AS r_symbol,
         COALESCE(frac_alpha_words >= 0.8, FALSE) AS r_alpha,
         n_stop_hits >= 2 AS r_stop
  FROM feat
)
SELECT doc_id, source, n_words,
       round(mean_word_len, 6) AS mean_word_len,
       round(symbol_word_ratio, 6) AS symbol_word_ratio,
       round(frac_alpha_words, 6) AS frac_alpha_words,
       n_stop_hits,
       r_wordcount, r_meanlen, r_symbol, r_alpha, r_stop,
       (r_wordcount AND r_meanlen AND r_symbol AND r_alpha AND r_stop)
         AS keep
FROM flags
"""


@register("gopher_rules_docs", oracle=_GOPHER_ORACLE,
          tags=("llm", "quality", "text"))  # promoted to hard window r14
def gopher_rules_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule gate (Rae et al. 2021 §A1.1, the published
    MassiveWeb repetition-free rule set): per-doc feature columns +
    one boolean per rule + the conjunction ``keep``. Rules restated on
    this corpus: 50 <= word count <= 100k, 3 <= mean word length <= 10,
    (# '#' + # '...') / words < 0.1, >= 80% of words contain an
    alphabetic char, >= 2 hits from the 8-word Gopher stopword list.
    The line-level rules (bullet/ellipsis line ratios) don't apply to
    single-line documents and are deliberately absent. Distinct from
    ``text_profile``'s score: this is the RULE-GATE readout (which rule
    killed a doc), the shape a curation pipeline filters and audits on.
    Pure single-pass projection — every column is a JVM expression in
    one WholeStageCodegen stage, no shuffle, no UDF; at 100 TB this is
    scan-bound, exactly as a quality gate should be."""
    from ghcn_d_etl_project_spark.operators.textops import gopher_rules

    return gopher_rules(
        t(spark, sf_dir, "documents"), extra_cols=("source",)
    )


# ---------------------------------------------------------------------------
# MinHash banding with a FULL value-hash oracle (md5 hash family) — r13
# ---------------------------------------------------------------------------

_LSH_MD5_CORE = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id AS doc,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS tk
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
), sh AS (
  SELECT DISTINCT doc, array_to_string(list_slice(tk, i, i + 2), ' ') AS s
  FROM toks,
       UNNEST(CASE WHEN len(tk) >= 3 THEN range(1, len(tk) - 1)
                   ELSE [] END) AS r(i)
), hashes AS (
  SELECT doc, p,
         min(CAST(concat('0x',
             substr(md5(concat(CAST(p AS VARCHAR), ':', s)), 1, 8))
             AS BIGINT)) AS m
  FROM sh, UNNEST(range(0, 32)) AS pr(p)
  GROUP BY doc, p
), sig AS (
  SELECT doc, p // 2 AS band,
         min(CASE WHEN p % 2 = 0 THEN m END) AS k0,
         min(CASE WHEN p % 2 = 1 THEN m END) AS k1
  FROM hashes GROUP BY doc, p // 2
), cand AS (
  SELECT DISTINCT a.doc AS doc1, b.doc AS doc2
  FROM sig a JOIN sig b
    ON a.band = b.band AND a.k0 = b.k0 AND a.k1 = b.k1 AND a.doc < b.doc
), sz AS (SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc),
inter AS (
  SELECT c.doc1, c.doc2, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc = c.doc1
  JOIN sh b ON b.doc = c.doc2 AND b.s = a.s
  GROUP BY c.doc1, c.doc2
)
"""

_LSH_MD5_PAIRS_ORACLE = _LSH_MD5_CORE + r"""
SELECT i.doc1, i.doc2, CAST(i.n_inter AS BIGINT) AS n_inter,
       CAST(s1.n AS BIGINT) AS size1, CAST(s2.n AS BIGINT) AS size2,
       round(i.n_inter / CAST(s1.n + s2.n - i.n_inter AS DOUBLE), 6)
         AS jaccard
FROM inter i JOIN sz s1 ON i.doc1 = s1.doc JOIN sz s2 ON i.doc2 = s2.doc
WHERE i.n_inter / CAST(s1.n + s2.n - i.n_inter AS DOUBLE) >= 0.5
"""


@register("lsh_banded_pairs_oracle", oracle=_LSH_MD5_PAIRS_ORACLE,
          tags=("llm", "dedup", "persists"))  # promoted to hard window r14
def lsh_banded_pairs_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL MinHash-LSH construction under a value-hash oracle
    (``operators/dedup.py:minhash_banded_pairs_md5``): word-3-gram
    shingles -> 32 MinHash permutations -> 16 bands x 2 rows -> same-
    (band, minima) candidate pairs -> exact-Jaccard verify of
    candidates only, threshold 0.5. The xxhash64 production path
    (``minhash_lsh_dedup``, bench-pinned) is rows-only because no SQL
    engine can restate its seeded hash family; this twin swaps in the
    engine-portable md5-prefix family so DuckDB replays signature
    minima, band keys, candidate generation AND verification bit-for-
    bit — banding itself is now oracle-certified, not just its
    invariants. Same plan shape as production: explode -> 32 map-side-
    combined min aggregates -> band-key equi-join -> candidate-bounded
    intersection join; no pair term outside band buckets."""
    from ghcn_d_etl_project_spark.operators.dedup import (
        minhash_banded_pairs_md5,
    )

    return minhash_banded_pairs_md5(
        t(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, unit="word", n_hashes=32, bands=16, threshold=0.5,
    )


_NEARDUP_CC_ORACLE = _LSH_MD5_CORE + r""",
pairs AS (
  SELECT i.doc1, i.doc2
  FROM inter i JOIN sz s1 ON i.doc1 = s1.doc JOIN sz s2 ON i.doc2 = s2.doc
  WHERE i.n_inter / CAST(s1.n + s2.n - i.n_inter AS DOUBLE) >= 0.5
), edges AS (
  SELECT doc1 AS a, doc2 AS b FROM pairs
  UNION ALL SELECT doc2, doc1 FROM pairs
), nodes AS (SELECT doc FROM toks),
cc AS (
  SELECT doc, doc AS lbl FROM nodes
  UNION
  SELECT e.b AS doc, c.lbl FROM cc c JOIN edges e ON e.a = c.doc
), lab AS (
  SELECT doc, min(lbl) AS component FROM cc GROUP BY doc
)
SELECT l.doc AS doc_id, CAST(l.component AS BIGINT) AS component,
       CAST(sz2.cs AS BIGINT) AS component_size
FROM lab l
JOIN (SELECT component, COUNT(*) AS cs FROM lab GROUP BY component) sz2
  USING (component)
"""


@register("neardup_components_docs", oracle=_NEARDUP_CC_ORACLE,
          tags=("llm", "dedup", "graph", "persists"))  # promoted to hard window r14
def neardup_components_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the oracle-certified
    banded near-dup pairs (``lsh_banded_pairs_oracle``'s edge set),
    every document labeled with the min doc_id reachable through
    jaccard >= 0.5 edges, singletons included. This is the keep-one-
    per-cluster substrate of corpus dedup (``dedup_clusters`` does it
    for EXACT dups; this is the near-dup analogue). Spark side:
    ``operators/graph.py:connected_components`` (pointer-jumping with
    lineage truncation; bounded edge sets take the driver union-find
    fast path). Oracle side: recursive-CTE min-label propagation to a
    fixed point — the same replay pattern as the FFD packing and MMR
    oracles. At 100 TB the near-dup graph is orders sparser than the
    corpus (edges only where jaccard >= t), so the iterative loop runs
    on the edge set, never the corpus."""
    from ghcn_d_etl_project_spark.operators.dedup import (
        minhash_banded_pairs_md5,
    )
    from ghcn_d_etl_project_spark.operators.graph import (
        connected_components,
    )

    d = t(spark, sf_dir, "documents")
    pairs = minhash_banded_pairs_md5(
        d, "doc_id", "text", n=3, unit="word",
        n_hashes=32, bands=16, threshold=0.5,
    )
    nodes = d.filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    ).select(F.col("doc_id").alias("node"))
    comps = connected_components(
        pairs.select("doc1", "doc2"), src="doc1", dst="doc2",
        nodes=nodes, node_col="node",
    )
    sizes = comps.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("component_size")
    )
    return comps.join(sizes, "component").select(
        F.col("node").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
        "component_size",
    )


@register("semdedup_embeddings", oracle=None,
          tags=("llm", "similarity", "dedup", "persists"), late=True)
def semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (``operators/clustering.py:semdedup``, Abbas et al.
    2023): k-means the embedding space (deterministic fixed-point
    Lloyd, k=16), then find semantic duplicates WITHIN clusters only
    (cosine >= 0.95) and keep one representative per duplicate relation
    — the paper's keep-the-farthest-from-centroid rule, exact ties to
    the smaller id. The embedding-space member of the dedup ladder:
    exact (hash), lexical (MinHash/winnowing), semantic (this).
    Clustering bounds the pair term to within-cluster — pick k ~ N so
    expected cluster size is constant and total pair work is linear-
    ish; the paper runs k=50k on LAION. Since r14 the k ∝ N rule is
    ENFORCED in the operator, not just documented: ``k="auto"`` sets
    k = N / target_cluster_size, and the realized within-cluster pair
    budget is measured from the assignment and refused loudly past
    ``max_pair_budget`` before any self-join launches (the GEMM
    byte-budget posture). Rows-only by the kmeans rule
    (iterative float numerics; deterministic, but no SQL engine
    restates 4 Lloyd iterations) — keep/tie/neighbor semantics pinned
    in tests/test_clustering.py, and the within-cluster pair stage
    reuses the oracle-certified cosine algebra of cosine_topk."""
    from ghcn_d_etl_project_spark.operators.clustering import semdedup

    return semdedup(
        t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        k=16, iters=4, threshold=0.95,
    )


# ---------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023) — r13
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 512
_DSIR_TARGET_SQL = "source IN ('src0', 'src1')"

_DSIR_ORACLE = rf"""
WITH base AS (
  SELECT doc_id, source, ({_DSIR_TARGET_SQL}) AS is_target,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS tk
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
), featarr AS (
  SELECT doc_id, source, is_target,
         list_concat(
           tk,
           CASE WHEN len(tk) >= 2
                THEN list_transform(range(1, len(tk)),
                                    i -> tk[i] || ' ' || tk[i + 1])
                ELSE [] END
         ) AS fs
  FROM base
), feats AS (
  SELECT doc_id, is_target,
         CAST(concat('0x', substr(md5(f.f), 1, 8)) AS BIGINT)
           % {_DSIR_BUCKETS} AS b
  FROM featarr, UNNEST(fs) AS f(f)
), counts AS (
  SELECT b,
         SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct,
         SUM(CASE WHEN NOT is_target THEN 1 ELSE 0 END) AS cr
  FROM feats GROUP BY b
), totals AS (
  SELECT SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS nt,
         SUM(CASE WHEN NOT is_target THEN 1 ELSE 0 END) AS nr
  FROM feats
), lr AS (
  SELECT b,
         CAST(ROUND(LN(((ct + 1.0) / (nt + {_DSIR_BUCKETS}.0))
                       / ((cr + 1.0) / (nr + {_DSIR_BUCKETS}.0))), 6)
              AS DECIMAL(18,6)) AS lrv
  FROM counts, totals
), scored AS (
  SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
         SUM(l.lrv) AS s
  FROM feats f JOIN lr l ON f.b = l.b
  GROUP BY f.doc_id
)
SELECT b.doc_id, b.source, b.is_target,
       COALESCE(s.n_feats, 0) AS n_feats,
       ROUND(CAST(s.s AS DOUBLE), 6) AS log_weight
FROM base b LEFT JOIN scored s USING (doc_id)
"""


@register("dsir_weights_docs", oracle=_DSIR_ORACLE,
          tags=("llm", "curation", "persists"))  # promoted to hard window r14
def dsir_weights_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights
    (``operators/textops.py:dsir_importance_weights``, Xie et al. 2023):
    every document scored by how target-domain-like its hashed-n-gram
    profile is — log w = sum over unigram+bigram occurrences of
    ln(p_target(bucket)/p_raw(bucket)), add-one smoothing over 512 md5
    buckets, target = sources src0/src1. The published data-selection
    recipe for matching a pretraining mix to a domain; selection
    downstream is shard-local top-k or thresholding on the weight (no
    Gumbel resampling here — nondeterminism belongs to the caller, and
    a global sort is exactly what the 100 TB shape avoids). ONE explode
    + one <= 512-row bucket aggregate + the quantized-DECIMAL log-ratio
    table broadcast back + one per-doc sum: nothing but the bucket
    table crosses rows, so the scorer is corpus-size-free. Full oracle
    via the md5-bucket + quantized-log recipe (charlm convention)."""
    from ghcn_d_etl_project_spark.operators.textops import (
        dsir_importance_weights,
    )

    return dsir_importance_weights(
        t(spark, sf_dir, "documents"),
        target=F.col("source").isin("src0", "src1"),
        n_buckets=_DSIR_BUCKETS,
        extra_cols=("source",),
    )


_CCNET_ORACLE = r"""
WITH docs AS (
  SELECT doc_id, lang, lower(text) AS txt FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
), train AS (
  SELECT doc_id, txt FROM docs WHERE length(txt) >= 2
), bg AS (
  SELECT doc_id, substr(txt, CAST(i AS INT), 2) AS b
  FROM train, UNNEST(generate_series(1, length(txt) - 1)) AS g(i)
), vocab AS (
  SELECT b, COUNT(*) AS c FROM bg GROUP BY b
), tot AS (SELECT SUM(c) AS t FROM vocab),
vl AS (
  SELECT b,
         CAST(ROUND(LN(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS logq
  FROM vocab, tot
), per AS (
  SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         ROUND(CAST(SUM(v.logq) AS DOUBLE) / COUNT(*), 6) AS avg_logp
  FROM bg g JOIN vl v ON g.b = v.b
  GROUP BY g.doc_id
), tiered AS (
  SELECT d.doc_id, d.lang, p.n_bigrams, p.avg_logp,
         CAST(NTILE(3) OVER (PARTITION BY d.lang
                             ORDER BY p.avg_logp DESC, d.doc_id)
              AS BIGINT) AS tier
  FROM docs d JOIN per p USING (doc_id)
)
SELECT doc_id, lang, n_bigrams, avg_logp, tier,
       CASE WHEN tier = 1 THEN 'head'
            WHEN tier = 3 THEN 'tail'
            ELSE 'middle' END AS tier_label
FROM tiered
UNION ALL
SELECT d.doc_id, d.lang, NULL, NULL, NULL, NULL
FROM docs d LEFT JOIN per p USING (doc_id)
WHERE p.doc_id IS NULL
"""


@register("ccnet_buckets_docs", oracle=_CCNET_ORACLE,
          tags=("llm", "quality", "curation", "persists"))  # promoted to hard window r14
def ccnet_buckets_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail quality tiers
    (``operators/textops.py:ccnet_buckets``, Wenzek et al. 2020):
    corpus-trained char-bigram LM score per doc, then NTILE(3) WITHIN
    each language over (score DESC, doc_id) — the published per-language
    perplexity bucketing that curation pipelines sample from (head =
    most fluent third). Per-language tiling because absolute LM scores
    aren't comparable across languages. LM model is alphabet-bounded
    (broadcasts); the tier window is the pipeline's own per-language
    sort, distributed by Spark; unscorable docs (< 2 chars) keep NULL
    tiers. Oracle replays model, quantized scores, and tiling."""
    from ghcn_d_etl_project_spark.operators.textops import ccnet_buckets

    return ccnet_buckets(t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Token-budget greedy selection (quality-ordered budget fill) — r13
# ---------------------------------------------------------------------------

_BUDGET_TOKENS = 16384

_BUDGET_ORACLE = rf"""
WITH base AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens,
         CAST(length(text) AS DOUBLE) AS n_chars_d,
         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                              x -> x <> '')) AS DOUBLE) AS n_toks,
         CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
              AS DOUBLE) AS n_punct
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
), feat AS (
  SELECT doc_id, n_tokens,
         least(n_chars_d / 200.0, 1.0) * 0.4
           + (CASE WHEN (CASE WHEN n_chars_d > 0 THEN n_punct / n_chars_d
                              ELSE 0.0 END) < 0.1 THEN 1.0 ELSE 0.5 END) * 0.3
           + (CASE WHEN (CASE WHEN n_toks > 0 THEN n_chars_d / n_toks
                              ELSE 0.0 END) BETWEEN 3.0 AND 10.0
                   THEN 1.0 ELSE 0.5 END) * 0.3 AS q
  FROM base
), keyed AS (
  SELECT doc_id, n_tokens, q,
         -CAST(ROUND(q * 1000000) AS BIGINT) * 10000000 + doc_id AS k
  FROM feat
), c AS (
  SELECT doc_id, n_tokens, q, k,
         SUM(n_tokens) OVER (ORDER BY k
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS cum_tokens
  FROM keyed
)
SELECT doc_id, n_tokens, round(q, 6) AS quality_score,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       cum_tokens <= {_BUDGET_TOKENS} AS selected
FROM c
"""


@register("token_budget_select_docs", oracle=_BUDGET_ORACLE,
          tags=("llm", "curation", "shard"))  # promoted to hard window r14
def token_budget_select_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered token-budget fill: rank the corpus best-first by
    the heuristic quality score (ties by doc_id), take documents while
    the running token total stays within a 16 Ki-token budget — "fill
    the training budget with the best data", the greedy selection every
    budgeted curation run ends with. Selection = cum_tokens <= budget
    (only fully fitting docs; the first overshooting doc and everything
    after it is out).

    The global running total is ``operators/prefix.py:global_cumsum``
    in its value-bucketed shape — NOT a naive Window.orderBy global
    window (whose Exchange SinglePartition funnels the corpus through
    one task; the token_shards rule). The order key packs (quality
    DESC, doc_id ASC) into ONE BIGINT — ``-round(q*1e6)*1e7 + doc_id``
    — so the cumsum's order is total and engine-identical; the packing
    needs doc_id < 1e7, which the driver tables satisfy (callers with
    wider ids widen the multiplier). The quality expression is
    ``text_profile``'s quality_score, restated identically here and in
    the oracle."""
    from ghcn_d_etl_project_spark.operators.prefix import global_cumsum

    d = t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    q = text_quality_score("text")
    keyed = d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        q.alias("q"),
        (
            -F.round(q * 1e6).cast("long") * F.lit(10000000).cast("long")
            + F.col("doc_id")
        ).alias("k"),
    )
    cum = global_cumsum(
        keyed, "k", "n_tokens", out_col="cum_tokens", bucket_width=1e10
    )
    return cum.select(
        "doc_id",
        "n_tokens",
        F.round("q", 6).alias("quality_score"),
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
        (F.col("cum_tokens") <= _BUDGET_TOKENS).alias("selected"),
    )


_ZIPF_ORACLE = r"""
WITH toks AS (
  SELECT t.term
  FROM documents,
       UNNEST(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                          x -> x <> '')) AS t(term)
  WHERE text IS NOT NULL
), vocab AS (
  SELECT term, COUNT(*) AS c FROM toks GROUP BY term
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
         CAST(SUM(c) AS BIGINT) AS total_tokens
  FROM vocab
), top AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS r
  FROM vocab ORDER BY c DESC, term LIMIT 100
), ranked AS (
  SELECT CAST(ROUND(LN(CAST(r AS DOUBLE)), 9) AS DECIMAL(18,9)) AS lx,
         CAST(ROUND(LN(CAST(c AS DOUBLE)), 9) AS DECIMAL(18,9)) AS ly
  FROM top
), mom AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(lx) AS DOUBLE) AS sx, CAST(SUM(ly) AS DOUBLE) AS sy,
         CAST(SUM(lx * ly) AS DOUBLE) AS sxy,
         CAST(SUM(lx * lx) AS DOUBLE) AS sxx,
         CAST(SUM(ly * ly) AS DOUBLE) AS syy
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_terms, vocab_size, total_tokens,
       ROUND(-(n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS alpha,
       CASE WHEN (n * syy - sy * sy) > 0
            THEN ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                       / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
       END AS r2
FROM mom, stats
"""


@register("zipf_fit_docs", oracle=_ZIPF_ORACLE,
          tags=("llm", "text", "profile"))  # promoted to hard window r14
def zipf_fit_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus vocabulary
    (``operators/textops.py:zipf_fit``): OLS of ln(count) on ln(rank)
    over the top-100 terms — alpha (the decay exponent) and r2, plus
    vocab size and token total; the frequency-decay line of a dataset
    datasheet (natural text ~ alpha 1; uniform synthetic vocab ~ 0;
    boilerplate-heavy ~ steep). Corpus collapses to the Zipf-bounded
    (term, count) vocab with map-side combine; top-100 is a
    TakeOrderedAndProject (never a global vocab sort); logs quantized
    once per term to DECIMAL so the five moment sums are exact and the
    one-row slope division is the only float step."""
    from ghcn_d_etl_project_spark.operators.textops import zipf_fit

    return zipf_fit(t(spark, sf_dir, "documents"), top_n=100)


def _bpe_train_oracle_sql(n_merges: int) -> str:
    """Bounded-iteration replay of the full BPE merge loop in plain
    (non-recursive) SQL: the merge count is a query-time constant, so
    the loop UNROLLS into ``n_merges`` chained CTE triples — per round
    a pair aggregate, an ``ORDER BY c DESC, l, r LIMIT 1`` argmax, and
    a vocabulary rewrite. Leftmost-nonoverlapping fusion rides a
    wrapped-symbol string encoding: each symbol is stored as
    ``|sym|``, so SQL ``replace(seg, '|l||r|', '|lr|')`` — which scans
    left-to-right and resumes AFTER each replacement — is exactly the
    greedy-left BPE convention ("aaa" under (a,a) -> [aa, a]), and the
    double ``||`` boundary makes suffix/prefix false matches
    impossible. Empty argmax (no pairs left) degrades identically on
    both sides: the round emits no row and the vocabulary passes
    through unchanged (LEFT JOIN ON TRUE + CASE)."""
    parts = [
        r"""
WITH v1 AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS wc,
         regexp_replace(w, '(.)', '|\1|', 'g') AS seg
  FROM (
    SELECT UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS w
    FROM documents WHERE text IS NOT NULL
  ) GROUP BY w HAVING length(w) >= 2
)
"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f"""
, p{i} AS (
  SELECT s[j] AS l, s[j + 1] AS r, CAST(SUM(wc) AS BIGINT) AS c
  FROM (SELECT wc, list_filter(string_split(seg, '|'), x -> x <> '') AS s
        FROM v{i}),
       UNNEST(range(1, len(s))) AS u(j)
  GROUP BY 1, 2
), b{i} AS (
  SELECT l, r, c FROM p{i} ORDER BY c DESC, l, r LIMIT 1
), v{i + 1} AS (
  SELECT w, wc,
         CASE WHEN b.l IS NULL THEN seg
              ELSE replace(seg, '|' || b.l || '||' || b.r || '|',
                           '|' || b.l || b.r || '|') END AS seg
  FROM v{i} LEFT JOIN b{i} b ON TRUE
)"""
        )
    rounds = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS BIGINT) AS round, l AS left_sym, "
        f"r AS right_sym, l || r AS merged, c AS pair_count FROM b{i}"
        for i in range(1, n_merges + 1)
    )
    parts.append("\n" + rounds)
    return "".join(parts)


_BPE_TRAIN_ORACLE = _bpe_train_oracle_sql(8)


@register("bpe_train_docs", oracle=_BPE_TRAIN_ORACLE,
          tags=("llm", "text", "persists"), late=True)  # oracle NEW r14
def bpe_train_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full iterative BPE training loop
    (``operators/textops.py:bpe_train``, Sennrich et al. 2016): 8 merge
    rounds over the corpus vocabulary — each round one vocab-bounded
    pair aggregate, ONE argmax row to the driver (count DESC, pair ASC
    — deterministic), one JVM fold rewriting symbol sequences. Extends
    ``bpe_pair_stats_docs`` (the single-round statistic) into the
    actual tokenizer-training algorithm; iteration runs on the
    Zipf-bounded (word, count) table, never the corpus, the kmeans
    model-state discipline. Carries a FULL value-hash oracle since r14:
    the bounded merge loop unrolls into 8 chained CTE triples (pair
    aggregate / LIMIT-1 argmax / wrapped-symbol ``replace`` rewrite —
    see :func:`_bpe_train_oracle_sql`), the fifth "inherently
    iterative" query converted by the bounded-replay pattern
    (FFD packing, MMR, KM survival, k-core before it). Exact
    python-trainer parity additionally pinned in
    tests/test_llm_ops.py."""
    from ghcn_d_etl_project_spark.operators.textops import bpe_train

    return bpe_train(t(spark, sf_dir, "documents"), n_merges=8)


# ---------------------------------------------------------------------------
# Rare-token privacy scrub + per-doc token entropy — r13
# ---------------------------------------------------------------------------

_SCRUB_ORACLE = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS tk
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
), toks AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, tk[i] AS term
  FROM base, UNNEST(CASE WHEN len(tk) > 0 THEN range(1, len(tk) + 1)
                         ELSE [] END) AS r(i)
), dfreq AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term
), marked AS (
  SELECT t.doc_id, t.pos, d.df < 2 AS rare,
         CASE WHEN d.df < 2 THEN '<unk>' ELSE t.term END AS outt
  FROM toks t JOIN dfreq d USING (term)
), per AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN rare THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
         string_agg(outt, ' ' ORDER BY pos) AS scrubbed
  FROM marked GROUP BY doc_id
)
SELECT b.doc_id,
       COALESCE(p.n_tokens, 0) AS n_tokens,
       COALESCE(p.n_rare, 0) AS n_rare,
       CASE WHEN p.n_tokens > 0
            THEN round(p.n_rare / CAST(p.n_tokens AS DOUBLE), 6) END
         AS rare_frac,
       p.scrubbed
FROM base b LEFT JOIN per p USING (doc_id)
"""


@register("rare_token_scrub_docs", oracle=_SCRUB_ORACLE,
          tags=("llm", "quality", "pii", "persists"))  # promoted to hard window r14
def rare_token_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token privacy scrub
    (``operators/textops.py:rare_token_scrub``): tokens appearing in
    fewer than 2 distinct documents are masked as '<unk>' and each doc
    is rebuilt in token order, with per-doc exposure counts — the
    k-anonymity-flavored memorization gate (names/ids/keys live in the
    df-1 tail; PII regexes catch SHAPES, this catches singletons). One
    posexplode + one distinct-doc df aggregate + join-back + ordered
    rebuild, no pair term (the df table replaces pairwise comparison,
    the span_dedup argument). Full oracle incl. the rebuilt string."""
    from ghcn_d_etl_project_spark.operators.textops import rare_token_scrub

    return rare_token_scrub(
        t(spark, sf_dir, "documents"), min_df=2
    )


_ENTROPY_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, t.term
  FROM documents,
       UNNEST(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                          x -> x <> '')) AS t(term)
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
), tf AS (
  SELECT doc_id, term, COUNT(*) AS c FROM toks GROUP BY doc_id, term
), n_per AS (
  SELECT doc_id, SUM(c) AS n, COUNT(*) AS nd FROM tf GROUP BY doc_id
), contrib AS (
  -- integer quantization end to end: floor(ln * 1e9) has no
  -- repr-vs-binary tie surface (see operators/textops.py)
  SELECT tf.doc_id, np.n, np.nd,
         tf.c * CAST(FLOOR(LN(CAST(tf.c AS DOUBLE) / np.n) * 1e9)
                     AS BIGINT) AS h
  FROM tf JOIN n_per np USING (doc_id)
), agg AS (
  SELECT doc_id, n, nd, CAST(SUM(h) AS BIGINT) AS s
  FROM contrib GROUP BY doc_id, n, nd
), scaled AS (
  SELECT doc_id, n, nd, -s AS p, CAST(n * 1000 AS BIGINT) AS den
  FROM agg
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, CAST(nd AS BIGINT) AS n_distinct,
       CAST((2 * p + den) // (2 * den) AS DOUBLE) / 1000000.0 AS entropy,
       CASE WHEN nd > 1
            THEN ROUND((CAST((2 * p + den) // (2 * den) AS DOUBLE) / 1000000.0)
                       / LN(CAST(nd AS DOUBLE)), 6)
       END AS norm_entropy
FROM scaled
"""


@register("token_entropy_docs", oracle=_ENTROPY_ORACLE,
          tags=("llm", "quality", "text"))  # promoted to hard window r14
def token_entropy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution Shannon entropy
    (``operators/textops.py:token_entropy``): the lexical-diversity /
    repetition quality signal — low entropy flags template spam and
    keyword stuffing, ``norm_entropy`` (H / ln(distinct)) is
    length-comparable in [0,1], NULL for single-term docs. Per-term
    logs quantized to DECIMAL so the c-weighted per-doc sums are
    exact; one explode + two aggregates, zero cross-doc state."""
    from ghcn_d_etl_project_spark.operators.textops import token_entropy

    return token_entropy(t(spark, sf_dir, "documents"))


_HARDNEG_ORACLE = """
WITH v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND label IS NOT NULL
    AND list_dot_product(CAST(embedding AS DOUBLE[]),
                         CAST(embedding AS DOUBLE[])) > 0
), pairs AS (
  SELECT a.vec_id AS qid, a.label AS q_label,
         b.vec_id AS nid, b.label AS n_label,
         round(list_cosine_similarity(a.vec, b.vec), 6) AS cos_sim
  FROM v a JOIN v b ON a.label <> b.label
)
SELECT qid, q_label, nid, n_label, cos_sim,
       CAST(row_number() OVER (PARTITION BY qid
                               ORDER BY cos_sim DESC, nid) AS BIGINT) AS rank
FROM pairs
QUALIFY rank <= 3
"""


@register("hard_negatives_embeddings", oracle=_HARDNEG_ORACLE,
          tags=("llm", "similarity"))  # promoted to hard window r14
def hard_negatives_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training
    (``operators/similarity.py:hard_negative_topk``): each vector's
    top-3 most cosine-similar OTHER-label neighbors — the negatives
    that actually move a contrastive loss (random negatives,
    `negative_sample_docs`, are trivially separable; the informative
    ones sit just across the class boundary). The exact operator is the
    oracle-carrying anchor; at 100 TB mine within ANN candidates
    (IVF/sign-LSH top-m, then the different-label filter + re-rank) and
    validate against this, as the ANN paths are against cosine_topk."""
    from ghcn_d_etl_project_spark.operators.similarity import (
        hard_negative_topk,
    )

    return hard_negative_topk(
        t(spark, sf_dir, "embeddings"), "vec_id", "embedding", "label", k=3
    )


_DISTINCT_NGRAMS_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
), c AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
         CAST(greatest(len(toks) - 1, 0) AS BIGINT) AS n_bigrams,
         CAST(CASE WHEN len(toks) >= 2 THEN len(list_distinct(
             list_transform(range(1, len(toks)),
                            i -> toks[i] || ' ' || toks[i + 1])))
             ELSE 0 END AS BIGINT) AS n_distinct_bigrams
  FROM t
)
SELECT doc_id, n_tokens, n_distinct_tokens, n_bigrams, n_distinct_bigrams,
       CASE WHEN n_tokens > 0 THEN
         CAST((2 * n_distinct_tokens * 1000000 + n_tokens)
              // (2 * n_tokens) AS BIGINT) / 1e6
       END AS distinct_1,
       CASE WHEN n_bigrams > 0 THEN
         CAST((2 * n_distinct_bigrams * 1000000 + n_bigrams)
              // (2 * n_bigrams) AS BIGINT) / 1e6
       END AS distinct_2
FROM c
"""


@register("distinct_ngrams_docs", oracle=_DISTINCT_NGRAMS_ORACLE,
          tags=("llm", "text"))  # promoted to hard window r14
def distinct_ngrams_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n lexical diversity per document
    (``operators/textops.py:distinct_ngrams``, Zhu et al. 2018
    Texygen): distinct-1/distinct-2 = unique/total unigram and bigram
    ratios — the set-size repetition readout next to
    ``token_entropy_docs``' distributional one. Pure scan-bound
    projection: no shuffle, no explode; ratios use the integer
    half-up recipe so both engines round identically."""
    from ghcn_d_etl_project_spark.operators.textops import distinct_ngrams

    return distinct_ngrams(t(spark, sf_dir, "documents"))


_NOVEL_NGRAMS_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
), b AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS g
  FROM t
  WHERE len(toks) >= 2
), d AS (
  SELECT g, COUNT(*) AS df FROM b GROUP BY g
)
SELECT b.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST((2 * SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) * 1000000
             + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) / 1e6 AS novel_frac
FROM b JOIN d USING (g)
GROUP BY b.doc_id
"""


@register("novel_ngrams_docs", oracle=_NOVEL_NGRAMS_ORACLE,
          tags=("llm", "text"))  # promoted to hard window r14
def novel_ngrams_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase-level novelty per document
    (``operators/textops.py:ngram_novelty``): fraction of each doc's
    distinct word-bigrams with corpus document-frequency 1 — the
    GPT-2-appendix overlap readout; low = boilerplate/near-dup tissue.
    One explode + one df aggregate + one equi-join back: linear, no
    pair term — the span-dedup scale argument."""
    from ghcn_d_etl_project_spark.operators.textops import ngram_novelty

    return ngram_novelty(t(spark, sf_dir, "documents"))
