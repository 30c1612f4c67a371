"""Deduplication operators: exact, fuzzy-exact, n-gram Jaccard,
MinHash+LSH, and SimHash — the training-data-pipeline dedup ladder.

All pure DataFrame ops (hash/groupBy/explode/self-join); no UDFs. The
scale story per variant:

  * exact / fingerprint: one shuffle on the 128-bit content hash —
    embarrassingly scalable.
  * n-gram Jaccard via inverted index: explode distinct shingles, self-join
    on shingle, count co-occurrences. Exact, but pair generation is
    quadratic in the worst case (a shingle shared by k docs emits k^2/2
    pairs) — use on bounded corpora or AFTER LSH candidate filtering.
  * MinHash+LSH: shingles hashed once, signature = n_hashes codegen'd
    min-aggregates (map-side partials collapse per doc pre-shuffle);
    band hashes bucket the corpus so only same-bucket docs pair up —
    the linear-ish 100 TB path (the standard shingle->minhash->band->
    bucket-join construction from Broder/MMDS).
  * SimHash: 64-bit signed-bit aggregate of token hashes; near-dups =
    pairs within Hamming distance k, found by banding the 64 bits into
    chunks (pigeonhole: d <= k implies an identical chunk).

Perf note (measured, sf0.1 warm JVM): the per-doc ``transform`` lambdas in
``hashed_shingle_sets`` look like the interpreted-HOF antipattern but are
NOT a bottleneck at ~300-char docs — a full rewrite to
posexplode-chars + window-lead n-gram reassembly (pure codegen, one extra
shuffle) measured 5.5-6.5s vs 4.0s for this form on the registered
minhash query. The HOF cost only dominates when the per-row loop count is
large relative to row count (64 signature mins — fixed — or 64-fold
simhash votes); per-doc shingling is ~300 iterations on ~5000 rows and
the extra exchange outweighs interpretation. Don't "fix" this again
without a warm A/B.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ghcn_d_etl_project_spark.operators.common import ensure_parallelism
from ghcn_d_etl_project_spark.operators.textops import (
    char_shingles,
    fingerprint,
    tokens,
    word_shingles,
)


def exact_dedup(
    df: DataFrame, id_col: str, text_col: str, normalized: bool = False
) -> DataFrame:
    """Exact (or fuzzy-exact when ``normalized``) dedup groups: one row
    per distinct content hash with the canonical (min) id and copy count.
    """
    key = fingerprint(text_col) if normalized else F.md5(F.col(text_col))
    return (
        df.select(F.col(id_col), key.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_index(
    df: DataFrame, id_col: str, text_col: str, n: int = 4
) -> DataFrame:
    """Inverted index: one row per (doc, distinct char n-gram)."""
    return df.select(
        F.col(id_col).alias("doc"),
        F.explode(char_shingles(text_col, n=n)).alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >= 1 shingle.

    jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|), computed from an inverted
    index self-join (intersection counts) plus per-doc set sizes — the
    exact verifier used standalone on bounded data or as the LSH
    re-ranker at scale.
    """
    idx = shingle_index(df, id_col, text_col, n=n)
    sizes = idx.groupBy("doc").agg(F.count(F.lit(1)).alias("set_size"))
    a = idx.alias("a")
    b = idx.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc1"), F.col("b.doc").alias("doc2"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sz1 = sizes.select(F.col("doc").alias("doc1"), F.col("set_size").alias("size1"))
    sz2 = sizes.select(F.col("doc").alias("doc2"), F.col("set_size").alias("size2"))
    out = (
        inter.join(sz1, "doc1")
        .join(sz2, "doc2")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("size1") + F.col("size2") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select(
        "doc1", "doc2", "n_inter", "size1", "size2", F.round("jaccard", 6).alias("jaccard")
    )


def hashed_shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int = 4, unit: str = "char"
) -> DataFrame:
    """(doc, sh: array<long>) — each doc's distinct shingles hashed to
    64-bit longs (one xxhash64 per shingle). The shared substrate for
    signatures AND exact verification: hash once, reuse everywhere.

    ``unit`` picks the shingle granularity — the main LSH cost knob:

    * ``"char"`` (default): character n-grams. ~|text| shingles per doc;
      robust to whitespace/markup noise, the right default for short or
      messy documents.
    * ``"word"``: n-word shingles (w-shingling, Broder's construction).
      5-10x fewer shingles per doc — the signature explode, the minhash
      aggregation, and the exact-verify set intersections all shrink by
      that factor, which at corpus scale is the difference between the
      LSH stage dominating the pipeline and not. Jaccard is measured on
      word-shingle sets, the standard near-dup semantics for templated
      or boilerplate-heavy text (char n-grams of shared boilerplate look
      similar even when the content differs).

    Same ``unit`` must be used for signatures and verification — callers
    go through ``minhash_lsh_dedup(unit=...)`` which threads it.

    Word-path physical form (round 8): instead of materializing each
    k-word shingle as a STRING (slice + array_join per position — the
    measured bottleneck of the whole LSH stage: ~4s of the sf0.1 corpus
    run was this string building) the tokens are hashed ONCE and each
    shingle's 64-bit id is a fixed-arity ``xxhash64(h_i, .., h_{i+k-1})``
    over the k token hashes — no per-position string allocation, and
    ``array_distinct`` runs over longs. Measured 11x on the shingle
    stage (4.2s -> 0.35s) with identical per-doc set cardinalities. The
    hash VALUES differ from hashing the joined string, but every
    downstream consumer treats them as opaque set elements, so Jaccard,
    signatures, banding, and the verified pair set are statistically
    identical (equal-funnel pinned in the corpus tests). Collision
    regime unchanged: a 64-bit hash of the k-tuple of 64-bit token
    hashes collides with ~2^-64, same as hashing the string.
    """
    dfp = ensure_parallelism(df)
    if unit == "char":
        sh = char_shingles(F.col(text_col), n=n)
        return dfp.select(
            F.col(id_col).alias("doc"),
            F.transform(sh, lambda s: F.xxhash64(s)).alias("sh"),
        )
    if unit != "word":
        raise ValueError(f"unknown shingle unit {unit!r} (char|word)")
    # two-step select so __th is a bound attribute (computed once per
    # row), not an expression tree repeated k times inside the lambda
    hashed = dfp.select(
        F.col(id_col).alias("doc"),
        F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t)).alias(
            "__th"
        ),
    )
    idx = F.sequence(F.lit(1), F.size("__th") - (n - 1))
    sh = F.when(
        F.size("__th") >= n,
        F.array_distinct(
            F.transform(
                idx,
                lambda i: F.xxhash64(
                    *[F.element_at(F.col("__th"), i + j) for j in range(n)]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<long>"))
    return hashed.select("doc", sh.alias("sh"))


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 64,
    n: int = 4,
    shingles: DataFrame | None = None,
    unit: str = "char",
) -> DataFrame:
    """MinHash signatures: one row per doc, signature as ``array<long>``.

    Pipeline: shingle set → ONE xxhash64 string hash per shingle →
    explode → n_hashes min-aggregates of cheap 16-byte rehashes
    (xxhash64 over the long + function index). The 64 mins run inside
    whole-stage codegen (higher-order array folds would run interpreted,
    ~10x slower); partial aggregation collapses each doc's shingles
    map-side — they are co-located with their doc — so the shuffle
    carries ~|docs| signature rows, not |shingles| rows.
    """
    sets = shingles if shingles is not None else hashed_shingle_sets(
        df, id_col, text_col, n=n, unit=unit
    )
    hashed = sets.select("doc", F.explode("sh").alias("h"))
    # r14: the n_hashes aggregates are built as ONE SQL string parsed
    # JVM-side instead of n_hashes x ~3 py4j Column calls — identical
    # expressions (xxhash64 over (h, int-literal i), same literal
    # types), but DataFrame CONSTRUCTION cost was a measured ~40% of
    # this query's wall at sf0.1 (the bench times fn() construction +
    # execution, and a 64-agg tree costs hundreds of driver round
    # trips). Same change as simhash/band_buckets below.
    aggs = [F.expr(f"min(xxhash64(h, {i}))").alias(f"mh_{i}") for i in range(n_hashes)]
    wide = hashed.groupBy("doc").agg(*aggs)
    sig = F.expr(
        "array(" + ", ".join(f"mh_{i}" for i in range(n_hashes)) + ")"
    )
    return wide.select("doc", sig.alias("sig"))


def band_buckets(
    signatures: DataFrame, n_hashes: int = 64, bands: int = 16
) -> DataFrame:
    """LSH band table (doc, band, bucket): xxhash64 over each signature
    slice (an array hash), exploded to one row per (doc, band). The
    shared candidate substrate for the symmetric dedup
    (:func:`minhash_lsh_candidates`) and the incremental NEW-vs-REF
    gate (:func:`dedup_against_reference`)."""
    rows = n_hashes // bands
    # one parsed SQL string instead of bands x 4 py4j calls (see
    # minhash_signatures) — identical struct array
    band_structs = F.expr(
        "array("
        + ", ".join(
            f"struct({b} AS band, "
            f"xxhash64(slice(sig, {b * rows + 1}, {rows})) AS bucket)"
            for b in range(bands)
        )
        + ")"
    )
    return signatures.select(
        F.col("doc"), F.explode(band_structs).alias("bb")
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_candidates(
    signatures: DataFrame, n_hashes: int = 64, bands: int = 16
) -> DataFrame:
    """Band the signature and bucket-join: docs agreeing on ALL rows of
    any band become candidate pairs. bands=16 over 64 hashes -> r=4 rows
    per band; threshold ≈ (1/bands)^(1/r) ≈ 0.5 Jaccard."""
    banded = band_buckets(signatures, n_hashes=n_hashes, bands=bands)
    x = banded.alias("x")
    y = banded.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(F.col("x.doc").alias("doc1"), F.col("y.doc").alias("doc2"))
        .distinct()
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 64,
    bands: int = 16,
    n: int = 4,
    threshold: float = 0.5,
    est_margin: float = 0.15,
    release_into: list[DataFrame] | None = None,
    unit: str = "char",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures -> banded candidate
    pairs -> signature-estimate pre-filter -> exact-Jaccard verification.
    Output: (doc1, doc2, jaccard >= threshold). Deterministic (seeded
    xxhash64) but hash-function-specific, hence rows-only checked vs SQL.

    Cost shape at 100 TB: the text is shingled and hashed ONCE
    (hashed_shingle_sets, persisted — feeds signatures and verification);
    LSH banding bounds the candidate count; the signature estimator
    (fraction of agreeing minhash components ≈ Jaccard, 64 cheap long
    compares) discards the moderately-similar mass banding lets through;
    only survivors pay the exact set intersection. The estimate threshold
    sits ``est_margin`` BELOW ``threshold`` so a true >= threshold pair
    is rejected only on a >~2.6-sigma estimator deviation (p < 1%) —
    verification stays exact for everything kept. Intersections run on
    hashed shingles (8-byte longs): same cardinalities as the string
    sets up to a ~2^-64 collision.

    ``unit`` threads through to ``hashed_shingle_sets`` (see its
    docstring): ``"word"`` shingles shrink every downstream stage 5-10x
    and are the standard semantics for templated/boilerplate-heavy
    corpora; the default stays ``"char"``.

    Cache lifetime: TWO intermediates are persisted (the hashed shingle
    sets and the signatures — each feeds two branches). Pass
    ``release_into`` (a list) to receive them and ``unpersist()`` once
    the result has materialized — the same caller-owned-lifetime
    contract as ``ivf_topk`` / ``CorpusStages.release()``; without it,
    repeated invocations in one session accumulate cached blocks.
    """
    shingle_sets = hashed_shingle_sets(
        df, id_col, text_col, n=n, unit=unit
    ).persist()
    sigs = minhash_signatures(
        df, id_col, text_col, n_hashes=n_hashes, n=n, shingles=shingle_sets
    ).persist()
    if release_into is not None:
        release_into.extend([shingle_sets, sigs])
    cands = minhash_lsh_candidates(sigs, n_hashes=n_hashes, bands=bands)
    sg1 = sigs.select(F.col("doc").alias("doc1"), F.col("sig").alias("sig1"))
    sg2 = sigs.select(F.col("doc").alias("doc2"), F.col("sig").alias("sig2"))
    min_matches = max(int((threshold - est_margin) * n_hashes), 0)
    # Estimator form deliberately kept as a higher-order fold: the
    # "obvious" codegen-friendly rewrite (unrolled sum of 64
    # sig1[i]==sig2[i] compares) measured 4-5x SLOWER at 640k candidates
    # x 64 elements (3.3s vs 0.7s, sf0.1 A/B in one JVM) — a 64-term
    # expression tree over two array columns defeats codegen (deep
    # generated method, repeated array bound checks), while the
    # interpreted zip_with walks both arrays once.
    estimated = (
        cands.join(sg1, "doc1")
        .join(sg2, "doc2")
        .withColumn(
            "est_matches",
            F.aggregate(
                F.zip_with("sig1", "sig2", lambda a, b: (a == b).cast("int")),
                F.lit(0),
                lambda acc, v: acc + v,
            ),
        )
        .filter(F.col("est_matches") >= min_matches)
        .select("doc1", "doc2")
    )
    s1 = shingle_sets.select(F.col("doc").alias("doc1"), F.col("sh").alias("sh1"))
    s2 = shingle_sets.select(F.col("doc").alias("doc2"), F.col("sh").alias("sh2"))
    return (
        estimated.join(s1, "doc1")
        .join(s2, "doc2")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh1", "sh2")).cast("double")
                / F.size(F.array_union("sh1", "sh2")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", "jaccard")
    )


def _bit_mask(b: int) -> int:
    """Python-side mask for bit ``b`` of a 64-bit long (bit 63 is the
    sign bit, so its literal must be the negative two's-complement
    value — ``1 << 63`` would overflow Spark's LONG under ANSI)."""
    return 1 << b if b < 63 else -(2**63)


def simhash64(text_col: Column | str) -> Column:
    """Per-row 64-bit SimHash of the whitespace tokens as a BIGINT.

    Per token: xxhash64; per bit position: majority vote (+1/-1).
    NOTE: this is the *expression* form (higher-order array folds run
    INTERPRETED, ~10x slower per element) — kept for per-row use on
    small arrays and as the semantic spec. The pipeline path is
    ``simhash_signatures`` below, which computes the identical value
    with codegen'd aggregates.
    """
    toks = tokens(text_col)
    hashes = F.transform(toks, lambda w: F.xxhash64(w))

    def bit_sum(b: int) -> Column:
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.lit(_bit_mask(b))) != 0, 1).otherwise(-1),
        )

    out = F.lit(0).cast("long")
    for b in range(64):
        bit = F.when(bit_sum(b) > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        out = out.bitwiseOR(F.shiftleft(bit, b))
    return out


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, sim) SimHash signatures via explode + 64 codegen'd sign-sum
    aggregates — the scale path (same rewrite that took MinHash off
    interpreted HOFs: hash each token once, explode, and let partial
    aggregation collapse per-doc sums map-side so the shuffle carries
    one 64-sum row per doc, not one row per token).

    Bit-for-bit identical to ``simhash64``: the per-bit sum of +1/-1
    votes over the same token multiset, tie (sum <= 0) -> bit 0; docs
    with no tokens (empty/null text) keep signature 0 via
    ``explode_outer`` + a zero vote for the null placeholder row.
    """
    toked = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"),
        F.explode_outer(tokens(text_col)).alias("w"),
    )
    hashed = toked.select(
        "doc",
        F.when(F.col("w").isNull(), None).otherwise(F.xxhash64(F.col("w"))).alias("h"),
    )
    # r14: both the 64 vote-sum aggregates and the 64-term bit
    # reconstruction are built as parsed SQL strings — ONE driver round
    # trip each instead of ~600 py4j Column calls, which were a measured
    # ~2.4s of pure plan-construction time per invocation at sf0.1
    # (construction exceeded execution for this query). The bit test
    # ``(shiftrightunsigned(h, b) & 1) = 1`` is exactly the old
    # ``h & mask(b) != 0`` for every b including the sign bit, and the
    # CASE arms reproduce the null-placeholder zero vote.
    aggs = [
        F.expr(
            "sum(CASE WHEN h IS NULL THEN 0 "
            f"WHEN (shiftrightunsigned(h, {b}) & 1) = 1 THEN 1 "
            "ELSE -1 END)"
        ).alias(f"s_{b}")
        for b in range(64)
    ]
    wide = hashed.groupBy("doc").agg(*aggs)
    sim = F.expr(
        " | ".join(
            f"shiftleft(CAST(s_{b} > 0 AS BIGINT), {b})" for b in range(64)
        )
    )
    return wide.select("doc", sim.alias("sim"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 7,
    release_into: list[DataFrame] | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= ``max_hamming``,
    found via 8x8-bit banding; pairs are then verified with the true
    bit_count distance.

    Recall contract: pigeonhole over 8 bands guarantees every pair at
    distance <= 7 shares at least one identical band; at distance 8 the
    differing bits can land one per band and the pair is silently
    missed — so ``max_hamming`` must stay below the band count.

    The signature table is persisted (r14): the banded candidate join is
    a SELF-join, and without the persist mark BOTH sides re-derive the
    full explode + 64-sign-sum aggregate pipeline — the query's dominant
    cost, paid twice (measured at sf0.1: ~4.5s steady-state -> ~1.9s
    with the one-sided compute; the signature stage alone is ~1.1s).
    Same caller-owned lifetime contract as ``minhash_lsh_dedup``: pass
    ``release_into`` (a list) to receive the persisted frame and
    ``unpersist()`` it once the result has materialized. WITHOUT
    ``release_into`` each invocation leaves one cached frame marked for
    the session's lifetime (ADVICE r14) — fine for run-once pipelines
    and the bench (whose per-run cache clear covers it via the
    ``persists`` tag), but library callers invoking this repeatedly in
    one session must pass the list.
    """
    if max_hamming >= 8:
        raise ValueError(
            "max_hamming must be <= 7: 8-band LSH only guarantees recall "
            "for Hamming distance < number of bands"
        )
    sh = simhash_signatures(df, id_col, text_col).persist()
    if release_into is not None:
        release_into.append(sh)
    chunks = F.expr(
        "array("
        + ", ".join(
            f"struct({i} AS chunk, "
            f"(shiftrightunsigned(sim, {i * 8}) & 255) AS val)"
            for i in range(8)
        )
        + ")"
    )
    banded = sh.select("doc", "sim", F.explode(chunks).alias("c")).select(
        "doc", "sim", F.col("c.chunk").alias("chunk"), F.col("c.val").alias("val")
    )
    x = banded.alias("x")
    y = banded.alias("y")
    # Verify BEFORE the pair dedup (r14): ``hamming`` is a pure function
    # of the pair, so filter-then-distinct equals distinct-then-filter —
    # but the bit_count is a codegen intrinsic evaluated map-side, while
    # the distinct is the stage's big shuffle. Filtering first shrinks
    # that shuffle from EVERY banded candidate occurrence (up to 8 per
    # pair, dominated by the moderately-similar mass banding lets
    # through) to verified near-dup pairs only, and drops the two
    # 8-byte signatures from the shuffled row.
    return (
        x.join(
            y,
            (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.val") == F.col("y.val"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(
            F.col("x.doc").alias("doc1"),
            F.col("y.doc").alias("doc2"),
            F.bit_count(F.col("x.sim").bitwiseXOR(F.col("y.sim")))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    threshold: float = 0.8,
    round_digits: int = 6,
) -> DataFrame:
    """Jaccard-CONTAINMENT near-dup pairs: ``|A ∩ B| / min(|A|, |B|)``
    over char n-gram sets — the asymmetric twin of
    :func:`ngram_jaccard_pairs`. Containment catches the pair Jaccard
    misses by construction: a short document quoted or embedded inside
    a much longer one (Jaccard divides by the UNION, so a 10:1 length
    ratio caps it at ~0.1 even for a verbatim inclusion; containment
    divides by the smaller set, so verbatim inclusion scores 1.0
    regardless of the ratio). Broder's (1997) resemblance/containment
    distinction; Dolma/RefinedWeb-style pipelines run both.

    Same inverted-index substrate and scale posture as the Jaccard
    verifier (``shingle_index`` equi-self-join — exact verifier on
    bounded data, re-ranker behind MinHash-LSH blocking at scale).

    Output: (doc1, doc2, n_inter, size1, size2, containment) with
    doc1 < doc2 and containment >= ``threshold``.
    """
    idx = shingle_index(df, id_col, text_col, n=n)
    sizes = idx.groupBy("doc").agg(F.count(F.lit(1)).alias("set_size"))
    a = idx.alias("a")
    b = idx.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc1"), F.col("b.doc").alias("doc2"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sz1 = sizes.select(F.col("doc").alias("doc1"), F.col("set_size").alias("size1"))
    sz2 = sizes.select(F.col("doc").alias("doc2"), F.col("set_size").alias("size2"))
    return (
        inter.join(sz1, "doc1")
        .join(sz2, "doc2")
        .withColumn(
            "containment",
            F.col("n_inter").cast("double") / F.least("size1", "size2"),
        )
        .filter(F.col("containment") >= threshold)
        .select(
            "doc1",
            "doc2",
            "n_inter",
            "size1",
            "size2",
            F.round("containment", round_digits).alias("containment"),
        )
    )


def cross_source_neardup_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    n: int = 4,
    threshold: float = 0.5,
    round_digits: int = 6,
    release_into: list[DataFrame] | None = None,
) -> DataFrame:
    """Per-source duplication audit over exact near-dup pairs: for each
    source, how many of its documents participate in a near-dup pair at
    all, and how many are near-dupped ACROSS sources. Cross-source
    duplication is the governance signal corpus mixing decisions need —
    two "independent" sources that are largely mirrors of each other
    silently double their weight in any per-source mixing recipe
    (``temperature_mix``), and deduping within sources only leaves that
    bias intact.

    Built on the exact n-gram Jaccard verifier (same substrate as
    :func:`ngram_jaccard_pairs`; at scale the pair list comes from the
    banded MinHash-LSH path instead — the audit aggregation is
    identical either way). The doc->source enrichment joins the
    pair list (bounded by the threshold) back to the corpus slice on
    the doc id — an equi-join on a unique key; the per-source rollup is
    one map-side-combined groupBy.

    Output: (source, n_docs, n_neardup_docs, n_cross_docs,
    neardup_rate, cross_rate), counts BIGINT, rates one double
    division rounded — hash-exact cross-engine.

    Pass ``release_into`` (a list) to receive the two persisted
    intermediates (pair list, doc->source slice) and ``unpersist()``
    them after the result materializes — the caller-owned-lifetime
    contract of :func:`minhash_lsh_dedup` / ``ivf_topk``.
    """
    # persist-once substrates: the pair list feeds both sides of the
    # participation union, and the (doc, source) slice is read three
    # times (two pair enrichments + the per-source denominator) —
    # without the marks the corpus re-scans ~13x in one action (caught
    # by the plan-snapshot cold-scan ceiling when this query landed)
    pairs = ngram_jaccard_pairs(
        df, id_col, text_col, n=n, threshold=threshold
    ).persist()
    src = df.select(
        F.col(id_col).alias("doc"), F.col(source_col).alias("source")
    ).persist()
    if release_into is not None:
        release_into.extend([pairs, src])
    enriched = (
        pairs.join(
            src.select(F.col("doc").alias("doc1"), F.col("source").alias("src1")),
            "doc1",
        )
        .join(
            src.select(F.col("doc").alias("doc2"), F.col("source").alias("src2")),
            "doc2",
        )
    )
    # doc-grain participation: one row per (doc, side) then distinct
    # per doc with a cross-source flag OR-ed over its pairs
    part = (
        enriched.select(
            F.col("doc1").alias("doc"),
            # null-safe: a NULL source partner counts as NOT cross (the
            # oracle's CASE ... ELSE 0), never as NULL — a NULL here
            # would erase the doc's participation in the max() rollup
            F.when(F.col("src1") != F.col("src2"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_cross"),
        )
        .unionByName(
            enriched.select(
                F.col("doc2").alias("doc"),
                # null-safe: a NULL source partner counts as NOT cross (the
            # oracle's CASE ... ELSE 0), never as NULL — a NULL here
            # would erase the doc's participation in the max() rollup
            F.when(F.col("src1") != F.col("src2"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_cross"),
            )
        )
        .groupBy("doc")
        .agg(F.max("is_cross").alias("is_cross"))
    )
    audit = src.join(part, "doc", "left").groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("is_cross").isNotNull(), F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_neardup_docs"),
        F.sum(F.coalesce(F.col("is_cross"), F.lit(0)))
        .cast("long")
        .alias("n_cross_docs"),
    )
    return audit.select(
        "source",
        "n_docs",
        "n_neardup_docs",
        "n_cross_docs",
        F.round(
            F.col("n_neardup_docs").cast("double") / F.col("n_docs"),
            round_digits,
        ).alias("neardup_rate"),
        F.round(
            F.col("n_cross_docs").cast("double") / F.col("n_docs"),
            round_digits,
        ).alias("cross_rate"),
    )


def span_dedup_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 40,
    flag_threshold: float = 0.5,
    round_digits: int = 6,
) -> DataFrame:
    """Per-document repeated-SPAN profile — the exact-substring dedup
    signal of Lee et al. 2021 ("Deduplicating Training Data Makes
    Language Models Better"): what fraction of a document's char
    ``k``-gram positions are covered by spans that also appear in at
    least one OTHER document. Memorization risk concentrates in long
    verbatim repeats that document-level near-dup measures dilute away
    (a 10% quoted block in an otherwise unique doc moves Jaccard
    barely, but every token of it is a cross-doc repeat).

    The suffix-array construction of the paper is inherently
    single-machine; the distributed restatement is position-grams +
    a document-frequency join: explode every k-gram POSITION (not the
    distinct set — coverage is positional), compute distinct-doc df
    per gram (one distinct + one count aggregate), join back on the
    gram and aggregate per doc. All equi-joins/aggregates on the gram
    key — linear in corpus size, no pair term anywhere (the df table
    replaces the pairwise comparison). At 100 TB the gram key is the
    64-bit xxhash of the span instead of the raw string (same plan
    shape, collision odds ~n^2/2^64); at oracle scale the raw string
    keeps it engine-portable.

    Output: (doc_id, n_spans, n_repeated, repeated_frac, flagged) —
    counts BIGINT, fraction one rounded double; docs shorter than
    ``k`` chars emit n_spans = 0 with NULL fraction (nothing to
    profile, distinct from a 0.0 'all unique' verdict).
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    base = df.filter(F.col(id_col).isNotNull() & F.col(text_col).isNotNull())
    pos = base.select(
        F.col(id_col).alias("doc"),
        F.explode_outer(
            F.when(
                F.length(text_col) >= k,
                F.transform(
                    F.sequence(F.lit(1), F.length(text_col) - (k - 1)),
                    lambda i: F.col(text_col).substr(i, F.lit(k)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    )
    dfreq = (
        pos.filter(F.col("gram").isNotNull())
        .select("doc", "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    joined = pos.join(dfreq, "gram", "left")
    out = joined.groupBy(F.col("doc").alias("doc_id")).agg(
        F.count(F.col("gram")).cast("long").alias("n_spans"),
        F.sum(
            F.when(F.col("__df") >= 2, F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_repeated"),
    )
    frac = F.col("n_repeated").cast("double") / F.col("n_spans")
    return out.select(
        "doc_id",
        "n_spans",
        "n_repeated",
        F.when(
            F.col("n_spans") > 0, F.round(frac, round_digits)
        ).alias("repeated_frac"),
        F.when(F.col("n_spans") > 0, frac >= flag_threshold).alias(
            "flagged"
        ),
    )


def reference_dedup_index(
    ref_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    n_hashes: int = 64,
    bands: int = 32,
    release_into: list[DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Compute-ONCE substrate for ``dedup_against_reference``'s banded
    near arm: the reference corpus's ``(ref, sh)`` hashed shingle sets
    and its ``(ref, band, bucket)`` MinHash band table, both
    persist-marked. Production shape: build this when the corpus is
    published (or refresh it on compaction), keep it cached/stored, and
    judge every ingest batch against it — the reference text is
    shingled, hashed, and banded exactly once, never per batch.

    Pass ``release_into`` (a list) to receive the two persisted frames
    and ``unpersist()`` them when the last batch has been judged — the
    caller-owned-lifetime contract of :func:`minhash_lsh_dedup`.
    """
    refb = ref_df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(F.col(id_col).alias("doc"), F.col(text_col).alias("__txt"))
    sets = hashed_shingle_sets(refb, "doc", "__txt", n=n).persist()
    sigs = minhash_signatures(
        refb, "doc", "__txt", n_hashes=n_hashes, n=n, shingles=sets
    )
    bandtab = band_buckets(sigs, n_hashes=n_hashes, bands=bands).persist()
    if release_into is not None:
        release_into.extend([sets, bandtab])
    return (
        sets.withColumnRenamed("doc", "ref"),
        bandtab.withColumnRenamed("doc", "ref"),
    )


def reference_fingerprints(
    ref_df: DataFrame,
    id_col: str,
    text_col: str,
    release_into: list[DataFrame] | None = None,
) -> DataFrame:
    """Compute-once substrate for the EXACT arm of
    :func:`dedup_against_reference`: the reference corpus's
    (ref, __fp) normalized-fingerprint table, persist-marked. Without
    it every batch judgment re-reads and re-hashes the whole corpus
    for the fingerprint equi-join — cheap per row but O(corpus) per
    BATCH, which breaks the "per-batch work scales with the batch"
    contract the banded near arm already honors (the scaling
    measurement is in the commit history)."""
    fps = (
        ref_df.filter(F.col(id_col).isNotNull() & F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("ref"),
            fingerprint(F.col(text_col)).alias("__fp"),
        )
        .persist()
    )
    if release_into is not None:
        release_into.append(fps)
    return fps


def save_reference_index(
    ref_df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    n: int = 4,
    n_hashes: int = 64,
    bands: int = 32,
) -> None:
    """Materialize the reference dedup index to storage —
    ``<path>/shingle_sets`` (ref, sh), ``<path>/band_buckets``
    (ref, band, bucket), and ``<path>/fingerprints`` (ref, __fp)
    parquet — so the compute-once amortization of
    :func:`reference_dedup_index` survives across JOBS, not just
    micro-batches: build when the corpus is published (or on
    compaction), and every subsequent ingest job
    :func:`load_reference_index`\\ s three parquet scans instead of
    re-shingling and re-hashing a trillion tokens. Deterministic
    (seeded xxhash64 / md5), so a rebuild from the same corpus is
    byte-equivalent."""
    held: list[DataFrame] = []
    sets, bandtab = reference_dedup_index(
        ref_df, id_col, text_col,
        n=n, n_hashes=n_hashes, bands=bands, release_into=held,
    )
    fps = reference_fingerprints(ref_df, id_col, text_col, release_into=held)
    sets.write.mode("overwrite").parquet(f"{path}/shingle_sets")
    bandtab.write.mode("overwrite").parquet(f"{path}/band_buckets")
    fps.write.mode("overwrite").parquet(f"{path}/fingerprints")
    for f in held:
        f.unpersist()


def load_reference_index(
    spark,
    path: str,
    release_into: list[DataFrame] | None = None,
    with_fingerprints: bool = False,
) -> tuple[DataFrame, ...]:
    """Load a :func:`save_reference_index` artifact as the
    ``ref_index`` tuple for :func:`dedup_against_reference` /
    ``streaming.dedup.neardup_gate_stream``. All frames come back
    persist-marked (every batch probes them); pass ``release_into``
    to receive them for the usual caller-owned ``unpersist()``.
    With ``with_fingerprints=True`` a third frame — the exact arm's
    (ref, __fp) table, pass it as ``ref_fingerprints`` — is loaded
    from an index written by an r13+ ``save_reference_index``."""
    sets = spark.read.parquet(f"{path}/shingle_sets").persist()
    bandtab = spark.read.parquet(f"{path}/band_buckets").persist()
    frames = [sets, bandtab]
    if with_fingerprints:
        frames.append(spark.read.parquet(f"{path}/fingerprints").persist())
    if release_into is not None:
        release_into.extend(frames)
    return tuple(frames)


def _banded_cross_scores(
    newb: DataFrame,
    ref_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    n_hashes: int,
    bands: int,
    ref_index: tuple[DataFrame, DataFrame] | None,
    release_into: list[DataFrame] | None,
    round_digits: int,
) -> DataFrame:
    """(doc, ref, __jac) for same-band-bucket NEW x REF candidates only
    — the banded near arm of :func:`dedup_against_reference`. ``newb``
    is the pre-projected (doc, __txt) batch; the reference substrate
    comes from ``ref_index`` (compute-once production path) or is built
    inline via :func:`reference_dedup_index`."""
    if ref_index is None:
        ref_index = reference_dedup_index(
            ref_df, id_col, text_col,
            n=n, n_hashes=n_hashes, bands=bands, release_into=release_into,
        )
    sets_ref, bands_ref = ref_index
    sets_new = hashed_shingle_sets(newb, "doc", "__txt", n=n).persist()
    if release_into is not None:
        release_into.append(sets_new)
    sigs_new = minhash_signatures(
        newb, "doc", "__txt", n_hashes=n_hashes, n=n, shingles=sets_new
    )
    bands_new = band_buckets(sigs_new, n_hashes=n_hashes, bands=bands)
    cands = (
        bands_new.join(bands_ref, ["band", "bucket"])
        .select("doc", "ref")
        .distinct()
    )
    s1 = sets_new.select("doc", F.col("sh").alias("__sh1"))
    s2 = sets_ref.select("ref", F.col("sh").alias("__sh2"))
    jac = F.size(F.array_intersect("__sh1", "__sh2")).cast("double") / F.size(
        F.array_union("__sh1", "__sh2")
    )
    return (
        cands.join(s1, "doc")
        .join(s2, "ref")
        .withColumn("__jac", F.round(jac, round_digits))
        .select("doc", "ref", "__jac")
    )


def dedup_against_reference(
    new_df: DataFrame,
    ref_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    threshold: float = 0.5,
    round_digits: int = 6,
    banded: bool = True,
    n_hashes: int = 64,
    bands: int = 32,
    ref_index: tuple[DataFrame, DataFrame] | None = None,
    ref_fingerprints: DataFrame | None = None,
    release_into: list[DataFrame] | None = None,
) -> DataFrame:
    """Incremental-ingestion dedup: verdict every NEW document against
    an existing REFERENCE corpus — the shape production pipelines
    actually run (a crawl batch lands against a trillion-token corpus;
    nobody re-dedupes the world). Three-way verdict per new doc:

      * ``exact_dup`` — normalized fingerprint (md5 of
        lowercase/stripped text) matches a reference doc; ``dup_of`` =
        the smallest matching reference id.
      * ``near_dup`` — char n-gram Jaccard >= ``threshold`` against
        some reference doc; ``dup_of`` = the best match (highest
        rounded Jaccard, smallest reference id on ties — the
        deterministic struct-max argmax recipe).
      * ``clean`` — neither.

    Exact-dup wins over near-dup (a formatting-identical copy should
    be attributed to its fingerprint twin, not a coincidental shingle
    neighbor). The exact arm is one hash equi-join on the 128-bit
    fingerprint; pass ``ref_fingerprints`` (from
    :func:`reference_fingerprints` or
    ``load_reference_index(..., with_fingerprints=True)``) to amortize
    the corpus-side hashing the same way ``ref_index`` amortizes the
    shingling — otherwise every batch re-reads and re-hashes the whole
    reference for this one join (r13).

    The near arm is BANDED by default — the 100 TB shape: MinHash band
    buckets on both sides (``reference_dedup_index`` precomputes and
    persists the reference side ONCE; pass it as ``ref_index`` to
    amortize across batches), candidates = same-(band, bucket) cross
    pairs only, then exact hashed-shingle Jaccard verification of just
    those candidates. No shingle-level join of the reference corpus
    ever happens — the reference contributes |ref| x bands bucket rows
    (an equi-join key, not a posting list), so a hot shingle can't fan
    out, and per-batch work scales with the batch, not the corpus.
    Bucket-key skew only arises from genuinely identical content
    (identical docs share all buckets), which the fingerprint arm has
    already attributed — the residual candidate fan-out is the
    standard LSH bound. Recall: a true pair at Jaccard j is missed
    with probability (1 - j^r)^bands, r = n_hashes/bands; the default
    r=2, bands=32 puts that at ~1e-4 AT the 0.5 threshold and ~6e-7 by
    j=0.6 — and the seeded xxhash64 construction makes any given miss
    deterministic, not flaky. ``banded=False`` selects the exact
    NEW x REF shingle inverted-index verifier instead (zero recall
    loss; only cross pairs exist so the batch side drives pair
    fan-out, but a hot shingle's reference posting list is O(corpus) —
    reserve it for bounded corpora where exactness is contractual).

    Output: one row per new doc — (doc_id, verdict, dup_of, jaccard);
    ``jaccard`` is NULL unless the verdict is ``near_dup``.
    """
    newb = new_df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(F.col(id_col).alias("doc"), F.col(text_col).alias("__txt"))
    refb = ref_df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(F.col(id_col).alias("ref"), F.col(text_col).alias("__txt"))

    ref_fps = (
        ref_fingerprints
        if ref_fingerprints is not None
        else refb.select("ref", fingerprint("__txt").alias("__fp"))
    )
    exact = (
        newb.select("doc", fingerprint("__txt").alias("__fp"))
        .join(ref_fps, "__fp")
        .groupBy("doc")
        .agg(F.min("ref").alias("__exact_ref"))
    )

    if banded:
        scored = _banded_cross_scores(
            newb, ref_df, id_col, text_col,
            n=n, n_hashes=n_hashes, bands=bands,
            ref_index=ref_index, release_into=release_into,
            round_digits=round_digits,
        )
    else:
        idx_new = shingle_index(newb, "doc", "__txt", n=n)
        idx_ref = shingle_index(
            refb.withColumnRenamed("ref", "doc"), "doc", "__txt", n=n
        ).withColumnRenamed("doc", "ref")
        sz_new = idx_new.groupBy("doc").agg(F.count(F.lit(1)).alias("__sz1"))
        sz_ref = idx_ref.groupBy("ref").agg(F.count(F.lit(1)).alias("__sz2"))
        inter = (
            idx_new.join(idx_ref, "shingle")
            .groupBy("doc", "ref")
            .agg(F.count(F.lit(1)).alias("__ni"))
        )
        jac = F.col("__ni").cast("double") / (
            F.col("__sz1") + F.col("__sz2") - F.col("__ni")
        )
        scored = (
            inter.join(sz_new, "doc")
            .join(sz_ref, "ref")
            .withColumn("__jac", F.round(jac, round_digits))
        )
    near = (
        scored.filter(F.col("__jac") >= threshold)
        .groupBy("doc")
        .agg(
            F.max(F.struct(F.col("__jac"), (-F.col("ref")).alias("__nr"))).alias(
                "__best"
            )
        )
        .select(
            "doc",
            (-F.col("__best.__nr")).alias("__near_ref"),
            F.col("__best.__jac").alias("__near_jac"),
        )
    )
    out = (
        newb.select("doc")
        .join(exact, "doc", "left")
        .join(near, "doc", "left")
    )
    return out.select(
        F.col("doc").alias("doc_id"),
        F.when(F.col("__exact_ref").isNotNull(), F.lit("exact_dup"))
        .when(F.col("__near_ref").isNotNull(), F.lit("near_dup"))
        .otherwise(F.lit("clean"))
        .alias("verdict"),
        F.coalesce(F.col("__exact_ref"), F.col("__near_ref")).alias("dup_of"),
        F.when(
            F.col("__exact_ref").isNull() & F.col("__near_ref").isNotNull(),
            F.col("__near_jac"),
        ).alias("jaccard"),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): hash every word ``k``-gram in document order,
    slide a window of ``w`` consecutive hashes, and keep each window's
    MINIMUM as a fingerprint. Guarantee: any shared token run of length
    >= ``w + k - 1`` contributes at least one common fingerprint to both
    documents, while only ~2/(w+1) of all grams are retained — a
    LOCAL fingerprinting scheme (whole-doc md5 catches only identical
    docs; winnowing catches partial overlap) with a tunable
    density/guarantee trade-off.

    Returns the selected-fingerprint set: (doc, fp) — DISTINCT
    window-min hash values per document. Positions are dropped after
    selection: multiplicity doesn't change the match guarantee and the
    distinct set is what the cross-doc join consumes.

    Engine-portable hash: BIGINT from the first 8 md5 hex chars (same
    recipe as the packing bucket hash), so a DuckDB oracle can replay
    the whole construction. At 100 TB swap in xxhash64 for one fewer
    string pass — identical plan shape.

    Plan shape: one posexplode (grams carry positions — winnowing is
    positional, unlike ``word_shingles``' distinct sets), one window
    min per doc (partitioned by doc, bounded ROWS frame, no skew term
    beyond doc length), one distinct. Linear in corpus size; no pair
    term exists until the caller joins fingerprints.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if w < 1:
        raise ValueError(f"w must be >= 1, got {w}")
    from pyspark.sql import Window

    toks = tokens(F.lower(F.col(text_col)))
    base = df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        F.col(id_col).alias("doc"),
        F.when(
            F.size(toks) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (k - 1)),
                lambda i: F.array_join(F.slice(toks, i, k), " "),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("__grams"),
    )
    grams = base.select(
        "doc", F.posexplode("__grams").alias("pos", "gram")
    ).select(
        "doc",
        "pos",
        F.conv(F.substring(F.md5(F.col("gram")), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )
    sel = Window.partitionBy("doc").orderBy("pos").rowsBetween(0, w - 1)
    full = Window.partitionBy("doc")
    wmins = grams.select(
        "doc",
        "pos",
        F.min("h").over(sel).alias("fp"),
        F.count(F.lit(1)).over(full).alias("__ng"),
    )
    return wmins.filter(F.col("pos") + w <= F.col("__ng")).select(
        "doc", "fp"
    ).distinct()


def winnow_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
    max_df: int = 100,
    round_digits: int = 6,
    release_into: list[DataFrame] | None = None,
) -> DataFrame:
    """Per-document winnowing readout over ``winnow_fingerprints``:
    how much of each doc is fingerprinted, how much of that is shared
    with ANY other doc, and the single strongest partner.

    Columns: (doc_id, n_grams, n_windows, n_fp, n_shared_fp,
    fp_density, best_partner, best_shared). ``n_shared_fp`` comes from
    a fingerprint document-frequency table (groupBy fp + join back) —
    LINEAR, no pair term, same trick as ``span_dedup_profile``. The
    pairwise stage (best partner) joins only fingerprints with df in
    [2, ``max_df``]: a fingerprint shared by thousands of docs is
    boilerplate, not evidence of a specific pair, and capping df bounds
    the self-join fan-out at ``max_df``² per fingerprint — the stop-
    shingle guard every inverted-index pairer here uses. Docs with no
    complete window (< w + k - 1 tokens) emit zeros with NULL density
    and NULL partner — "nothing to fingerprint" is distinct from
    "fingerprinted and unique".

    The selected-fingerprint frame (one explode + one window per doc)
    feeds FOUR downstream references (df table, per-doc stats, both
    sides of the partner join) — it is persist-marked, along with the
    small df table, so the heavy selection runs once, not per
    reference (the PMI-rescan class the plan gate exists for). Pass
    ``release_into`` (a list) to receive both persisted frames and
    ``unpersist()`` them when done — the caller-owned-lifetime
    contract of :func:`minhash_lsh_dedup`.
    """
    fps = winnow_fingerprints(df, id_col, text_col, k=k, w=w).persist()
    toks = tokens(F.lower(F.col(text_col)))
    n_grams = F.when(F.size(toks) >= k, F.size(toks) - (k - 1)).otherwise(
        F.lit(0)
    )
    stats = df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        F.col(id_col).alias("doc"),
        n_grams.cast("long").alias("n_grams"),
        F.when(n_grams >= w, (n_grams - (w - 1)).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        .alias("n_windows"),
    )
    dfreq = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("__df")).persist()
    if release_into is not None:
        release_into.extend([fps, dfreq])
    fstats = (
        fps.join(dfreq, "fp")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fp"),
            F.sum(F.when(F.col("__df") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_shared_fp"),
        )
    )
    rare = fps.join(
        dfreq.filter((F.col("__df") >= 2) & (F.col("__df") <= max_df)), "fp"
    )
    pairs = (
        rare.alias("a")
        .join(
            rare.select(
                F.col("doc").alias("partner"), F.col("fp").alias("fp")
            ).alias("b"),
            "fp",
        )
        .filter(F.col("a.doc") != F.col("partner"))
        .groupBy(F.col("a.doc").alias("doc"), F.col("partner"))
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    best = (
        pairs.groupBy("doc")
        .agg(
            F.max(
                F.struct(
                    F.col("shared"), (-F.col("partner")).alias("__np")
                )
            ).alias("__b")
        )
        .select(
            "doc",
            (-F.col("__b.__np")).alias("best_partner"),
            F.col("__b.shared").alias("best_shared"),
        )
    )
    out = stats.join(fstats, "doc", "left").join(best, "doc", "left")
    return out.select(
        F.col("doc").alias("doc_id"),
        "n_grams",
        "n_windows",
        F.coalesce(F.col("n_fp"), F.lit(0).cast("long")).alias("n_fp"),
        F.coalesce(F.col("n_shared_fp"), F.lit(0).cast("long")).alias(
            "n_shared_fp"
        ),
        F.when(
            F.col("n_windows") > 0,
            F.round(
                F.coalesce(F.col("n_fp"), F.lit(0)).cast("double")
                / F.col("n_windows"),
                round_digits,
            ),
        ).alias("fp_density"),
        F.col("best_partner"),
        F.coalesce(F.col("best_shared"), F.lit(0).cast("long")).alias(
            "best_shared"
        ),
    )


def minhash_banded_pairs_md5(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    unit: str = "word",
    n_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
    round_digits: int = 6,
    release_into: list[DataFrame] | None = None,
    hash_dim_bytes: int = 64 * 1024 * 1024,
) -> DataFrame:
    """Shingle -> MinHash -> band -> bucket-join -> exact-Jaccard-verify
    with an ENGINE-PORTABLE hash family: h_p(s) = BIGINT from the first
    8 md5 hex chars of ``p || ':' || shingle``. ``hash_dim_bytes``
    bounds the broadcast hash-dimension fast path for the signature
    stage (see the inline note; 0 disables it). The xxhash64 production
    path (``minhash_lsh_dedup`` / ``dedup_against_reference``) is
    faster per byte but seeded-hash-defined, so its oracle checks are
    rows-only; THIS twin replays bit-for-bit in any engine with md5 —
    the full banding construction (signature minima, band keys,
    candidate generation, exact verification) carries a value-hash
    oracle. Use it to certify the construction; use the xxhash64 path
    to run it at 100 TB (identical plan shape, one cheaper hash).

    Banding: ``n_hashes`` permutations split into ``bands`` bands of
    r = n_hashes/bands rows (default 16 x 2: a true j=0.5 pair is
    missed w.p. (1 - 0.25)^16 ~ 1%; j=0.7 w.p. ~2e-5). Candidates =
    distinct same-(band, minima-tuple) pairs; verification computes
    exact char-``n``-gram Jaccard on candidates ONLY (the inverted-
    index intersection join is candidate-bounded, never all-pairs).

    Output: (doc1, doc2, n_inter, size1, size2, jaccard) for verified
    pairs with jaccard >= ``threshold``, doc1 < doc2. ``unit`` picks the
    shingle family: "word" (lowercased ``n``-token grams — 1/5-1/10 the
    rows of char grams on prose, the default) or "char" (``n``-char
    grams, robust to tokenization).

    The shingle index feeds the signature build, both per-doc size
    aggregates and both sides of the candidate intersection join — it
    is persist-marked so the explode + md5 pass runs once (the
    minhash_lsh_dedup substrate rule). Pass ``release_into`` to receive
    it for caller-owned ``unpersist()``.
    """
    if n_hashes % bands != 0:
        raise ValueError(f"bands must divide n_hashes: {n_hashes} % {bands}")
    if unit not in ("word", "char"):
        raise ValueError(f"unit must be 'word' or 'char', got {unit!r}")
    r = n_hashes // bands
    base = df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    )
    gram = (
        word_shingles(F.lower(F.col(text_col)), k=n)
        if unit == "word"
        else char_shingles(text_col, n=n)
    )
    sh = base.select(
        F.col(id_col).alias("doc"), F.explode(gram).alias("shingle")
    ).persist()
    if release_into is not None:
        release_into.append(sh)

    def h(p: int) -> Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{p}:"), F.col("shingle"))), 1, 8
                ),
                16,
                10,
            )
            .cast("long")
        )

    # r15: when the corpus's DISTINCT shingle vocabulary fits a bounded
    # broadcast, the n_hashes md5-prefix hashes are computed once per
    # distinct shingle (a broadcast hash-dimension table joined back on
    # the shingle key) instead of once per (occurrence, p). Shingled
    # prose is Zipf-duplicated — the bench corpus carries 260k
    # occurrences over 27k distinct shingles — so the md5/conv work
    # drops ~10x while the broadcast join stays narrow and the per-doc
    # min aggregates keep their map-side partial combine (measured
    # 7.6s -> 3.2s at sf0.1; an UNHINTED dimension join was tried first
    # and REGRESSED to 9.8s — the planner picked a shuffle join, whose
    # mid-plan exchange of occurrences x 32 longs costs more than the
    # duplicate hashing it saves). Values are identical either way (h_p
    # is a pure function of the shingle string). The gate is a bounded
    # probe (limit(cap+1) over the distinct keys, the
    # ``_matmul_corpus_fits`` recipe): past ``hash_dim_bytes`` of
    # broadcast the operator falls back to hashing per occurrence —
    # the 100 TB vocabulary never broadcasts. ``hash_dim_bytes <= 0``
    # goes straight to the per-occurrence path (no probe job).
    hash_row_bytes = 8 * n_hashes + 24  # n_hashes BIGINTs + avg key
    cap = hash_dim_bytes // hash_row_bytes
    vocab = sh.select("shingle").distinct()
    if cap > 0 and vocab.limit(cap + 1).count() <= cap:
        hashes = F.broadcast(
            vocab.select(
                "shingle",
                *[h(p).alias(f"__h{p}") for p in range(n_hashes)],
            )
        )
        sig = (
            sh.join(hashes, "shingle")
            .groupBy("doc")
            .agg(*[F.min(f"__h{p}").alias(f"m{p}") for p in range(n_hashes)])
        )
    else:
        sig = sh.groupBy("doc").agg(
            *[F.min(h(p)).alias(f"m{p}") for p in range(n_hashes)]
        )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            *[
                F.col(f"m{b * r + j}").alias(f"k{j}")
                for j in range(r)
            ],
        )
        for b in range(bands)
    ]
    keys = sig.select(
        "doc", F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc", "bk.*")
    a, b_ = keys.alias("a"), keys.alias("b")
    join_cond = (F.col("a.band") == F.col("b.band")) & (
        F.col("a.doc") < F.col("b.doc")
    )
    for j in range(r):
        join_cond = join_cond & (F.col(f"a.k{j}") == F.col(f"b.k{j}"))
    cand = (
        a.join(b_, join_cond)
        .select(
            F.col("a.doc").alias("doc1"), F.col("b.doc").alias("doc2")
        )
        .distinct()
    )
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    sa, sb = sh.alias("sa"), sh.alias("sb")
    inter = (
        cand.join(sa, F.col("sa.doc") == F.col("doc1"))
        .join(
            sb,
            (F.col("sb.doc") == F.col("doc2"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("size1") + F.col("size2") - F.col("n_inter")
    )
    return (
        inter.join(
            sizes.select(
                F.col("doc").alias("doc1"),
                F.col("n").cast("long").alias("size1"),
            ),
            "doc1",
        )
        .join(
            sizes.select(
                F.col("doc").alias("doc2"),
                F.col("n").cast("long").alias("size2"),
            ),
            "doc2",
        )
        .filter(jac >= threshold)
        .select(
            "doc1",
            "doc2",
            "n_inter",
            "size1",
            "size2",
            F.round(jac, round_digits).alias("jaccard"),
        )
    )
