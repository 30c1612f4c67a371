"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference's surface (SURVEY.md §7.2 step 9 extensions): token
counting, character/word shingling, document fingerprinting, a stopword
language-ID heuristic, and a text quality score. Everything is built-in
Column expressions (split/transform/sequence/aggregate/regexp) — no
Python UDFs, so the hot path stays inside whole-stage codegen and scales
to 100 TB of documents exactly like any other projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small: the operator's shape (argmax over
# per-language token-overlap scores) is what matters; lists are swappable.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es": ("el", "la", "de", "y", "que", "en", "un", "una", "es", "por"),
    "fr": ("le", "la", "de", "et", "que", "en", "un", "une", "est", "pour"),
    "de": ("der", "die", "das", "und", "zu", "in", "ist", "ein", "eine", "von"),
    "zh": ("的", "了", "是", "在", "我", "有", "和", "就", "不", "人"),
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization -> array<string> with empties removed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda x: x != "")


def token_count(col: Column | str) -> Column:
    """Whitespace token count (BIGINT)."""
    return F.size(tokens(col)).cast("long")


def char_shingles(col: Column | str, n: int = 4, lowercase: bool = True) -> Column:
    """Distinct character n-grams as array<string> — pure Catalyst
    (sequence + transform + substring), no UDF, no explode needed until
    the caller wants one row per shingle. Texts shorter than ``n`` yield
    an EMPTY array: ``sequence(1, 0)`` infers a negative step and emits
    [1, 0], whose lenient substr(0, n) would otherwise smuggle in a
    duplicated truncated shingle (and diverge from the SQL oracles,
    which generate none)."""
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    idx = F.sequence(F.lit(1), F.length(c) - (n - 1))
    return F.when(
        F.length(c) >= n,
        F.array_distinct(F.transform(idx, lambda i: c.substr(i, F.lit(n)))),
    ).otherwise(F.array().cast("array<string>"))


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles (space-joined) as array<string>. The
    short-document gate mirrors char_shingles — here the descending
    [1, 0] sequence would CRASH slice() outright (start 0 illegal).

    r15 physical form, same strings: the token array is BOUND ONCE via
    a single-element transform lambda (the old tree repeated the
    ``tokens()`` regex split three times — when-condition, sequence
    bound, transform source — and regex tokenization was the dominant
    evaluation cost), and each shingle is ``concat_ws`` over k
    ``element_at`` reads instead of ``array_join(slice(...))``, which
    allocated a k-element subarray per position. Measured 10x on the
    bench corpus (explode of 260k shingles: 4.2s -> 0.43s) with the
    per-doc shingle multisets pinned identical."""

    def build(tk: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(tk) - (k - 1))
        return F.when(
            F.size(tk) >= k,
            F.array_distinct(
                F.transform(
                    idx,
                    lambda i: F.concat_ws(
                        " ", *[F.element_at(tk, i + j) for j in range(k)]
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    # single-element transform = let-binding for the token array: the
    # lambda argument is evaluated once per row however many times the
    # body references it
    return F.element_at(F.transform(F.array(tokens(col)), build), 1)


def normalize_text(col: Column | str) -> Column:
    """Canonical form for fuzzy-exact dedup: lowercase, strip
    non-alphanumerics to spaces, collapse whitespace, trim."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def fingerprint(col: Column | str) -> Column:
    """Deterministic 128-bit content fingerprint: md5 of the normalized
    text. md5 is identical across engines (standard algorithm over UTF-8),
    so fingerprints are oracle-checkable."""
    return F.md5(normalize_text(col))


def rolling_hash(col: Column | str, base: int = 31, mod: int = 2**31 - 1) -> Column:
    """Polynomial rolling hash over the normalized text's characters —
    h = sum(code(c_i) * base^i) mod m, computed with a JVM-side aggregate
    fold (deterministic left-to-right order)."""
    c = normalize_text(col)
    chars = F.split(c, "")
    return F.aggregate(
        chars,
        F.struct(F.lit(0).cast("long").alias("h"), F.lit(1).cast("long").alias("p")),
        lambda acc, ch: F.struct(
            ((acc["h"] + F.ascii(ch) * acc["p"]) % mod).alias("h"),
            ((acc["p"] * base) % mod).alias("p"),
        ),
        lambda acc: acc["h"],
    )


def stopword_hits(col: Column | str, lang: str) -> Column:
    """# tokens that are stopwords of ``lang`` (BIGINT)."""
    toks = tokens(F.lower(F.col(col) if isinstance(col, str) else col))
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast("long")


def lang_id(col: Column | str) -> Column:
    """Stopword-overlap language ID: argmax over per-language hit counts,
    ties broken by alphabetical code order (first max wins), 'und' when no
    stopword matches.

    Physically an ``array_max`` over one ``(hits, rank, code)`` struct
    per language — structs compare field-by-field, so max hits wins,
    then the higher ``rank`` (= earlier alphabetical code) breaks ties;
    the ``'und'`` fallback rides along as a zero-hit candidate whose
    rank beats every real language, so it wins exactly the all-zero
    case. This shape evaluates each language's tokenize+filter hits
    expression ONCE in the plan. The original when-ladder of pairwise
    comparisons (equivalent, and what the SQL oracle still states as a
    CASE) textually repeated each hits expression ~45x per row; measured
    honestly the rewrite buys ~15% (1.37s -> 1.18s on the sf0.1
    documents scan) — Catalyst's subexpression elimination was already
    sharing most of the duplicated trees, and the residual cost is the
    five intrinsic filter passes over the token array. A
    stopword->bitmask map literal with one lookup per token was also
    A/B-tested and measured SLOWER (1.0s vs 0.7s steady-state): Spark
    evaluates a ``create_map`` literal lookup as a linear scan over all
    ~50 entries, and the per-row mask-array allocation loses to five
    codegen'd filter passes — so the filter form stands. Equivalence to
    the ladder is pinned by ``test_lang_id_argmax_matches_when_ladder``."""
    codes = sorted(STOPWORDS)
    candidates = [
        F.struct(
            F.lit(0).cast("long").alias("hits"),
            F.lit(1).alias("rank"),
            F.lit("und").alias("code"),
        )
    ] + [
        F.struct(
            stopword_hits(col, code).alias("hits"),
            F.lit(-i).alias("rank"),
            F.lit(code).alias("code"),
        )
        for i, code in enumerate(codes)
    ]
    return F.array_max(F.array(*candidates))["code"]


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are .,!?;: punctuation."""
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[.,!?;:]", ""))
    return F.when(F.length(c) > 0, n_punct.cast("double") / F.length(c)).otherwise(
        F.lit(0.0)
    )


def text_quality_score(col: Column | str) -> Column:
    """Heuristic document quality in [0,1]: rewards reasonable length,
    moderate punctuation, and a healthy mean token length — the classic
    pretraining-corpus filter shape (length/punct/stopword ratios)."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c).cast("double")
    n_toks = token_count(c).cast("double")
    mean_tok_len = F.when(n_toks > 0, n_chars / n_toks).otherwise(F.lit(0.0))
    len_score = F.least(n_chars / 200.0, F.lit(1.0))
    punct_score = F.when(punct_ratio(c) < 0.1, 1.0).otherwise(0.5)
    tok_len_score = F.when(
        (mean_tok_len >= 3.0) & (mean_tok_len <= 10.0), 1.0
    ).otherwise(0.5)
    return (len_score * 0.4 + punct_score * 0.3 + tok_len_score * 0.3)


# PII patterns chosen from the Java-regex ∩ RE2 common subset so the same
# literal pattern runs identically in Spark (java.util.regex) and DuckDB
# (RE2) — keeps the op fully oracle-checkable.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\d{3}[-.]\d{3}[-.]\d{4}", "[PHONE]"),
    (r"\d{3}-\d{2}-\d{4}", "[SSN]"),
)


def pii_redact(col: Column | str) -> Column:
    """Replace common PII shapes (email, NANP phone, SSN) with typed
    placeholder tokens — the standard pre-training scrub pass. Chained
    ``regexp_replace`` stays JVM-side; order matters (SSN after phone
    would also match phone middles, so phone runs first)."""
    c = F.col(col) if isinstance(col, str) else col
    for pattern, token in PII_PATTERNS:
        c = F.regexp_replace(c, pattern, token)
    return c


def chunk_spans(col: Column | str, stride: int) -> Column:
    """Sliding-window chunk start positions (1-indexed into the token
    array): 1, 1+stride, ... up to the last start that begins a non-empty
    chunk; empty/whitespace-only documents yield an EMPTY array (no
    phantom ``[1]`` start). Any start <= n_tokens begins a non-empty
    chunk regardless of chunk width, so only the stride parameterizes
    the starts (the former ``chunk_tokens`` parameter was dead weight)."""
    toks = tokens(col)
    return F.when(
        F.size(toks) > 0, F.sequence(F.lit(1), F.size(toks), F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))


def bm25_scores(
    df,
    text_col: str,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    round_digits: int = 6,
):
    """Okapi BM25 relevance of every document against a fixed query
    term set — the ranked-retrieval primitive behind corpus search and
    hard-negative mining (Lucene's idf variant:
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``, so scores are never
    negative).

    Scale shape — NO explode, NO join on the token stream: per-term
    ``tf`` is a row-local higher-order ``filter`` over the whitespace
    token array (k fixed terms = k counters per row, JVM-side), so the
    only corpus-wide work is ONE single-row stats aggregate (N, Σdl,
    per-term df) broadcast back for the scoring projection. Both passes
    scan the text column; nothing shuffles by key. The per-document
    score sums the k per-term contributions in DECLARED term order (a
    fixed left-associative chain — deterministic and engine-portable,
    unlike aggregating exploded term rows whose float sum order floats).

    Output: the input columns plus ``dl`` (token count) and ``score``
    (rounded). Duplicate or empty terms raise — a duplicate would
    silently double-count its contribution.
    """
    if not terms:
        raise ValueError("bm25_scores: empty term list")
    if len(set(terms)) != len(terms):
        raise ValueError("bm25_scores: duplicate terms double-count")
    if any(not t for t in terms):
        raise ValueError("bm25_scores: empty term")
    toks = tokens(text_col)
    feat = df.withColumn("__dl", F.size(toks).cast("long"))

    # one-arg lambda factory: a 2-arg lambda with a default would be
    # read by F.filter as its (element, index) form
    def _eq(term: str):
        return lambda x: x == F.lit(term)

    for i, term in enumerate(terms):
        feat = feat.withColumn(
            f"__tf{i}", F.size(F.filter(toks, _eq(term))).cast("long")
        )
    stats = feat.agg(
        F.count(F.lit(1)).alias("__N"),
        F.sum("__dl").alias("__sumdl"),
        *[
            F.sum((F.col(f"__tf{i}") > 0).cast("long")).alias(f"__df{i}")
            for i in range(len(terms))
        ],
    )
    j = feat.crossJoin(F.broadcast(stats))
    n = F.col("__N")
    avgdl = F.col("__sumdl").cast("double") / n
    score = F.lit(0.0)
    for i in range(len(terms)):
        tf = F.col(f"__tf{i}")
        dfc = F.col(f"__df{i}")
        idf = F.log(1 + (n - dfc + 0.5) / (dfc + 0.5))
        tfn = (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * F.col("__dl") / avgdl))
        score = score + idf * tfn
    return j.select(
        *df.columns,
        F.col("__dl").alias("dl"),
        F.round(score, round_digits).alias("score"),
    )


def charlm_surprisal(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    train=None,
    round_digits: int = 6,
    oov_pseudo: float = 0.5,
    release_into: list | None = None,
):
    """Corpus-trained character-bigram language-model quality score: the
    mean log-probability of a document's character bigrams under the
    empirical bigram distribution of ``train`` (default: the scored
    corpus itself). The classic cheap perplexity proxy for corpus
    filtering — gibberish, encoding damage, and boilerplate-free random
    strings land far below the corpus's own typical range, with NO
    hand-tuned heuristics: the corpus itself defines "normal".

    Scale design (100 TB posture):
      * the MODEL is bounded by the alphabet, not the data: bigram
        counts aggregate with map-side partials into a vocabulary of at
        most |alphabet|^2 rows, which then broadcasts;
      * scoring is explode -> broadcast-join -> per-doc aggregate: two
        data-sized passes (train, score), two shuffles total, both
        carrying only map-side-collapsed partials;
      * no UDFs anywhere — bigram extraction is
        ``transform(sequence(...), i -> substring(...))`` inside
        whole-stage codegen.

    Engine-parity recipe (the corr_matrix convention, adapted to logs):
    irrational per-bigram log-probs are QUANTIZED ONCE at the tiny
    vocabulary table — ``round(ln(c/t), round_digits)`` cast to
    ``DECIMAL(18, round_digits)`` — so each document's sum is exact
    DECIMAL arithmetic, independent of accumulation order; only the
    final mean divides back into double. Out-of-vocabulary bigrams
    (scoring under a model trained elsewhere) get the floor
    ``ln(oov_pseudo / t)``, quantized the same way.

    Output: ``id_col, n_bigrams, avg_logp`` — one row per scored
    document with at least one bigram (length >= 2 after lowercasing).

    SELF-TRAINED persist (r15): when ``train`` is the scored corpus
    itself (the default), the exploded bigram frame feeds BOTH the
    vocabulary aggregate and the scoring join — without a persist mark
    the corpus is bigram-exploded twice per action (measured 1.4s per
    explode of 1.5M bigrams at sf0.1). The frame is persist-marked with
    the usual caller-owned lifetime: pass ``release_into`` (a list) to
    receive it and ``unpersist()`` when the scores have materialized
    (the ``minhash_lsh_dedup`` contract). Cross-trained scoring
    (``train`` a different frame) is unchanged — no shared substrate,
    no persist.
    """
    self_train = train is None or train is df
    train = df if train is None else train
    dec = f"decimal(18,{round_digits})"

    def _bigrams(frame):
        return (
            frame.filter(
                F.col(text_col).isNotNull() & (F.length(text_col) >= 2)
            )
            .select(F.col(id_col), F.lower(F.col(text_col)).alias("__txt"))
            .select(
                id_col,
                F.explode(
                    F.expr(
                        "transform(sequence(1, length(__txt)-1),"
                        " i -> substring(__txt, i, 2))"
                    )
                ).alias("__bg"),
            )
        )

    score_bg = _bigrams(df)
    if self_train:
        score_bg = score_bg.persist()
        if release_into is not None:
            release_into.append(score_bg)
        train_bg = score_bg
    else:
        train_bg = _bigrams(train)
    vocab = train_bg.groupBy("__bg").agg(
        F.count(F.lit(1)).alias("__c")
    )
    tot = vocab.agg(F.sum("__c").alias("__t"))
    vl = vocab.crossJoin(F.broadcast(tot)).select(
        "__bg",
        F.round(F.log(F.col("__c") / F.col("__t")), round_digits)
        .cast(dec)
        .alias("__logq"),
    )
    floor = tot.select(
        F.round(F.log(F.lit(float(oov_pseudo)) / F.col("__t")), round_digits)
        .cast(dec)
        .alias("__floor")
    )
    scored = (
        score_bg
        .join(F.broadcast(vl), "__bg", "left")
        .crossJoin(F.broadcast(floor))
        .select(id_col, F.coalesce("__logq", "__floor").alias("__lp"))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("__lp").alias("__s"),
        )
        .select(
            id_col,
            "n_bigrams",
            F.round(
                F.col("__s").cast("double") / F.col("n_bigrams"), round_digits
            ).alias("avg_logp"),
        )
    )


def word_bigram_surprisal(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
    release_into: list | None = None,
):
    """Word-bigram language-model quality score per document: the mean
    negative log-probability of its word bigrams under an add-one-
    smoothed conditional bigram model trained on the corpus itself —
    the CCNet-style "LM perplexity filter" one level up from
    :func:`charlm_surprisal`'s character model. Boilerplate and
    re-ordered/mixed-domain text score high-surprisal even when every
    individual word is common, which is exactly what the character
    model cannot see.

    Model: P(w2 | w1) = (c(w1 w2) + 1) / (c(w1 .) + V), V = the
    next-word vocabulary size. Every scored bigram exists in the
    self-trained model, so no OOV branch (scoring under a foreign
    model would add the charlm-style floor).

    Scale design: unlike the char model, the WORD-bigram vocabulary
    grows with the corpus — the model does NOT broadcast; scoring is a
    shuffle EQUI-join on the bigram key (hash-partitioned both sides),
    which is the honest 100 TB shape. The bigram substrate is
    persist-marked (scanned by training and scoring); the context
    counts and V derive from the model-sized count table, never from a
    second fact scan.

    Parity: the charlm convention — irrational log-probs quantized
    ONCE at the model table (round(ln(...), digits) cast DECIMAL), so
    per-doc sums are exact regardless of accumulation order;
    ``ppl = exp(-avg_logp)`` computed from the exact ratio (exp()'s
    cross-engine ulp absorbed by round-to-4).

    Output: ``id_col, n_bigrams, avg_logp, ppl`` — one row per document
    with at least one bigram (>= 2 alpha tokens).

    Pass ``release_into`` (a list) to receive the two persisted
    intermediates (the exploded bigram substrate and the count table)
    and ``unpersist()`` them once the result materializes — the
    caller-owned-lifetime contract of :func:`minhash_lsh_dedup`.
    """
    dec = f"decimal(18,{round_digits})"
    bigrams = _word_bigrams(df, id_col, text_col).persist()
    c2 = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__c2")).persist()
    if release_into is not None:
        release_into.extend([bigrams, c2])
    c1 = c2.groupBy("w1").agg(F.sum("__c2").alias("__c1"))
    vsize = c2.agg(F.countDistinct("w2").alias("__v"))
    model = (
        c2.join(c1, "w1")
        .crossJoin(F.broadcast(vsize))
        .select(
            "w1",
            "w2",
            F.round(
                F.log(
                    (F.col("__c2") + 1).cast("double")
                    / (F.col("__c1") + F.col("__v")).cast("double")
                ),
                round_digits,
            )
            .cast(dec)
            .alias("__logp"),
        )
    )
    scored = bigrams.join(model, ["w1", "w2"]).groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("__logp").alias("__s"),
    )
    avg = F.col("__s").cast("double") / F.col("n_bigrams")
    return scored.select(
        id_col,
        "n_bigrams",
        F.round(avg, round_digits).alias("avg_logp"),
        F.round(F.exp(-avg), 4).alias("ppl"),
    )


def _word_bigrams(df, id_col: str, text_col: str):
    """(id, w1, w2) — one row per adjacent lowercase-alpha word pair."""
    toks = F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)")
    return (
        df.filter(F.col(text_col).isNotNull() & F.col(id_col).isNotNull())
        .select(F.col(id_col), toks.alias("__t"))
        .filter(F.size("__t") >= 2)
        .select(
            id_col,
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__t) - 1),"
                    " i -> struct(element_at(__t, i) AS w1,"
                    " element_at(__t, i + 1) AS w2))"
                )
            ).alias("__bg"),
        )
        .select(id_col, F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2"))
    )


def word_bigram_cross_surprisal(
    train_df,
    score_df,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
    release_into: list | None = None,
):
    """Cross-corpus LM quality gate: score each document of an incoming
    batch under an add-one-smoothed word-bigram model trained on the
    EXISTING corpus — the perplexity-filter half of the incremental-
    ingestion gate (``dedup_against_reference`` answers "have we seen
    this text"; this answers "does this text look like our corpus").
    Unlike :func:`word_bigram_surprisal`'s self-trained model, scored
    bigrams can be OOV, so the model has an explicit backoff ladder:

      * (w1, w2) in model:  P = (c(w1 w2) + 1) / (c(w1 .) + V)
      * w1 seen, pair not:  P = 1 / (c(w1 .) + V)     (add-one mass)
      * w1 unseen:          P = 1 / V                 (uniform floor)

    with V = the training next-word vocabulary size. Scale shape: the
    model and the per-context floor table are corpus-sized — scoring is
    shuffle EQUI-joins on (w1, w2) and w1, never a driver broadcast;
    only the 1-row V rides as a broadcast. Parity recipe: every branch's
    log-prob is quantized ONCE at its table (round(ln(...)) cast
    DECIMAL — model grain, context grain, one uniform constant), so
    per-doc sums are exact regardless of accumulation order.

    Output: ``id_col, n_bigrams, n_oov_pairs, n_oov_contexts,
    avg_logp, ppl`` — one row per scored document with >= 1 bigram;
    ``n_oov_pairs`` counts bigrams outside the model (including unseen
    contexts), ``n_oov_contexts`` the subset whose w1 itself is novel.
    Training corpus must contain at least one bigram (V >= 1).

    ``release_into`` receives the two persisted substrates (training
    count table, scored bigram substrate) — the caller-owned-lifetime
    contract of :func:`word_bigram_surprisal`.
    """
    dec = f"decimal(18,{round_digits})"
    c2 = (
        _word_bigrams(train_df, id_col, text_col)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("__c2"))
        .persist()
    )
    sb = _word_bigrams(score_df, id_col, text_col).persist()
    if release_into is not None:
        release_into.extend([c2, sb])
    c1 = c2.groupBy("w1").agg(F.sum("__c2").alias("__c1"))
    vsize = c2.agg(F.countDistinct("w2").alias("__v"))
    model = (
        c2.join(c1, "w1")
        .crossJoin(F.broadcast(vsize))
        .select(
            "w1",
            "w2",
            F.round(
                F.log(
                    (F.col("__c2") + 1).cast("double")
                    / (F.col("__c1") + F.col("__v")).cast("double")
                ),
                round_digits,
            )
            .cast(dec)
            .alias("__logp"),
        )
    )
    floors = (
        c1.crossJoin(F.broadcast(vsize))
        .select(
            "w1",
            F.round(
                F.log(
                    F.lit(1.0) / (F.col("__c1") + F.col("__v")).cast("double")
                ),
                round_digits,
            )
            .cast(dec)
            .alias("__floor_logp"),
        )
    )
    uniform = vsize.select(
        F.round(F.log(F.lit(1.0) / F.col("__v").cast("double")), round_digits)
        .cast(dec)
        .alias("__uni_logp")
    )
    scored = (
        sb.join(model, ["w1", "w2"], "left")
        .join(floors, "w1", "left")
        .crossJoin(F.broadcast(uniform))
        .withColumn(
            "__lp",
            F.coalesce(
                F.col("__logp"), F.col("__floor_logp"), F.col("__uni_logp")
            ),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(
                F.when(F.col("__logp").isNull(), F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_oov_pairs"),
            F.sum(
                F.when(F.col("__floor_logp").isNull(), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("n_oov_contexts"),
            F.sum("__lp").alias("__s"),
        )
    )
    avg = F.col("__s").cast("double") / F.col("n_bigrams")
    return scored.select(
        id_col,
        "n_bigrams",
        "n_oov_pairs",
        "n_oov_contexts",
        F.round(avg, round_digits).alias("avg_logp"),
        F.round(F.exp(-avg), 4).alias("ppl"),
    )


def word_cooccurrence_pmi(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_word_len: int = 3,
    min_df: int = 5,
    max_df_ratio: float = 0.9,
    min_pair: int = 5,
    round_digits: int = 6,
    release_into: list | None = None,
) -> DataFrame:
    """Pointwise mutual information of word pairs co-occurring in the
    same document — the collocation/association primitive behind
    phrase mining and distributional-similarity features (Church &
    Hanks 1990), computed over document-level presence.

    PMI(x, y) = ln( P(x,y) / (P(x) P(y)) ) with document-frequency
    probabilities; NPMI normalizes to [-1, 1] by -ln P(x,y) (Bouma
    2009) so scores compare across corpus sizes.

    Scale design — prune the vocabulary BEFORE any pair ever exists:

      * tokenize to DISTINCT per-doc words (presence, not counts): one
        explode, map-side distinct;
      * document frequency is one groupBy; the vocabulary filter
        (``min_df`` floor — rare-word noise, ``max_df_ratio`` ceiling —
        stopword-class words that would dominate the pair fan-out)
        bounds both the join build side and the per-doc token list;
      * candidate pairs come from a self-EQUI-join on the doc id with
        ``w1 < w2`` inside the condition — fan-out is C(tokens_per_doc
        after pruning, 2) per doc, never corpus-quadratic, and the doc
        id is unskewed by construction;
      * the final PMI projection joins the tiny (word, df) table back
        twice — both joins broadcast — plus a one-row broadcast of
        n_docs (the plan's single scalar cross join; the vocab ceiling
        uses a scalar subquery instead, see inline note).

    ``release_into`` receives the two persisted substrates (the token
    table and the floor-filtered (word, df) table) for the caller-owned
    ``unpersist()`` contract.

    All counts are BIGINT; pmi/npmi are single double expressions over
    identical integers, bit-stable cross-engine. NPMI is NULL when
    n_pair == n_docs (the normalizer is zero). Output: (w1, w2,
    n_pair, df1, df2, pmi, npmi).
    """
    if not 0 < max_df_ratio <= 1:
        raise ValueError(f"max_df_ratio must be in (0, 1], got {max_df_ratio}")
    if min_df < 1 or min_pair < 1:
        raise ValueError("min_df and min_pair must be >= 1")
    base = docs.filter(
        F.col(text_col).isNotNull() & F.col(id_col).isNotNull()
    )
    words = F.array_distinct(
        F.filter(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), 0),
            lambda w: F.length(w) >= min_word_len,
        )
    )
    # persist-once substrate: tok feeds the n_docs aggregate, the df
    # counts, the prune join, AND both sides of the pair self-join —
    # without the mark the corpus tokenization re-executes ~11x in one
    # action (measured via plan_report: 11 scans of the source)
    tok = base.select(
        F.col(id_col).alias("__doc"), F.explode(words).alias("w")
    ).persist()
    nd = tok.agg(F.count_distinct("__doc").alias("__n_docs"))
    # the shared (w, df) table persists BNLJ-free (r13, the rfm_segments
    # recipe: never cache a subtree containing a one-row broadcast — the
    # cached plan text reprints it at every reference). The max-df
    # ceiling, which NEEDS the one-row n_docs scalar, is applied exactly
    # ONCE, on the prune join's build side; the df1/df2 score maps skip
    # it because every word that survives into a pair already passed the
    # prune, so joining them against the floor-only table matches the
    # identical rows. BNLJ occurrences: 2 (ceiling filter + final
    # n_docs attach) — down from 5 reprints.
    dff = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .filter(F.col("df") >= min_df)
        .persist()
    )
    if release_into is not None:
        release_into.extend([tok, dff])
    # the ceiling scalar is attached as a SCALAR SUBQUERY, not a one-row
    # cross join: the prune feeds BOTH sides of the pair self-join, so
    # its lineage prints twice in the plan — a BNLJ here would double in
    # the join census (and a constant-key hash join folds back into a
    # BNLJ once Catalyst eliminates the trivially-true equi-condition).
    # The subquery executes once, broadcasts one double, and the plan
    # self-evidently carries no pair-explosion risk.
    vocab_w = dff.sparkSession.sql(
        "SELECT w FROM {dff} WHERE CAST(df AS DOUBLE) <= "
        f"{float(max_df_ratio)!r} * "
        "(SELECT CAST(__n_docs AS DOUBLE) FROM {nd})",
        dff=dff,
        nd=nd,
    )
    pruned = tok.join(F.broadcast(vocab_w), "w").select("__doc", "w")
    a, b = pruned.alias("a"), pruned.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.__doc") == F.col("b.__doc"))
            & (F.col("a.w") < F.col("b.w")),
        )
        .groupBy(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .filter(F.col("n_pair") >= min_pair)
    )
    v1 = dff.select(F.col("w").alias("w1"), F.col("df").alias("df1"))
    v2 = dff.select(F.col("w").alias("w2"), F.col("df").alias("df2"))
    joined = (
        pairs.join(F.broadcast(v1), "w1")
        .join(F.broadcast(v2), "w2")
        .crossJoin(F.broadcast(nd))
    )
    ratio = (
        F.col("n_pair").cast("double")
        * F.col("__n_docs").cast("double")
        / (F.col("df1").cast("double") * F.col("df2").cast("double"))
    )
    pmi = F.log(ratio)
    norm = F.log(F.col("__n_docs").cast("double")) - F.log(
        F.col("n_pair").cast("double")
    )
    return joined.select(
        "w1",
        "w2",
        "n_pair",
        "df1",
        "df2",
        F.round(pmi, round_digits).alias("pmi"),
        F.when(F.col("n_pair") != F.col("__n_docs"), F.round(pmi / norm, round_digits)).alias(
            "npmi"
        ),
    )


def skipgram_counts(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 4,
    min_count: int = 5,
) -> DataFrame:
    """Skip-gram (windowed) co-occurrence counts — the training-pair
    substrate of word2vec/GloVe-style embedding pipelines (Mikolov et
    al. 2013): every unordered word pair whose positions in the same
    document are at most ``window`` apart, with the number of such
    position pairs as the count.

    This is the POSITIONAL twin of document-level PMI
    (:func:`word_cooccurrence_pmi`): PMI counts docs where two words
    BOTH appear; skip-grams count how often they appear NEAR each
    other, which is what an embedding objective actually consumes.

    Scale design — the context join is a pure EQUI-join with fan-out
    exactly ``window`` per token, never per-doc-quadratic: each token
    at position p emits probe rows for positions p+1..p+window
    (``explode(sequence(...))``), and the join matches (doc, position)
    exactly. The naive range-join formulation (``a.doc = b.doc AND
    b.pos BETWEEN a.pos+1 AND a.pos+window``) hash-joins on the doc id
    alone and materializes ALL token pairs of a doc before filtering —
    per-doc-quadratic, the shape that dies on long documents. Counts
    aggregate with map-side combine on the (w1, w2) pair key.

    Output: (w1, w2, n_pairs BIGINT) with ``n_pairs >= min_count``,
    pair key canonicalized ``w1 <= w2`` — all-integer, hash-exact
    against a SQL oracle.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    base = docs.filter(F.col(text_col).isNotNull() & F.col(id_col).isNotNull())
    toks = base.select(
        F.col(id_col).alias("__doc"),
        F.posexplode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), 0)
        ).alias("pos", "w"),
    )
    probe = toks.select(
        "__doc",
        F.col("w").alias("__wa"),
        F.explode(
            F.sequence(F.col("pos") + 1, F.col("pos") + window)
        ).alias("pos"),
    )
    pairs = probe.join(toks, ["__doc", "pos"]).select(
        F.least("__wa", "w").alias("w1"),
        F.greatest("__wa", "w").alias("w2"),
    )
    return (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .filter(F.col("n_pairs") >= min_count)
    )


def vocab_oov(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    vocab_size: int = 20,
    round_digits: int = 6,
) -> DataFrame:
    """Frequency-cut vocabulary construction + per-document OOV rate —
    the tokenizer-coverage audit every corpus runs before committing
    to a vocabulary: build the top-``vocab_size`` word list by corpus
    frequency (ties broken lexicographically, fully deterministic),
    then score every document by the fraction of its tokens that fall
    outside it. High-OOV documents are the ones a fixed vocabulary
    would shred into bytes/unknowns.

    Scale design: the corpus tokenization aggregates to WORD grain
    first (map-side combined groupBy — the only corpus-sized shuffle),
    so the top-V selection window runs over the VOCABULARY table, not
    the corpus; vocabulary tables are bounded by language, not data
    size (even web-scale corpora stay ~1e7 distinct alpha words — a
    single-partition window over that summary is the same bounded
    pattern as ``prefix.global_cumsum``'s bucket-offset window). The
    per-doc scoring join streams tokens against the broadcast top-V
    list; the fact side never shuffles on a word key.

    Output: (doc_id, n_tok, n_oov, oov_rate) — counts BIGINT, rate one
    double division rounded, hash-exact cross-engine.
    """
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    from pyspark.sql import Window

    base = docs.filter(F.col(text_col).isNotNull() & F.col(id_col).isNotNull())
    tok = base.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), 0)
        ).alias("w"),
    )
    counts = tok.groupBy("w").agg(F.count(F.lit(1)).alias("__cnt"))
    vocab = (
        counts.withColumn(
            "__rk",
            F.row_number().over(
                Window.orderBy(F.col("__cnt").desc(), F.col("w"))
            ),
        )
        .filter(F.col("__rk") <= vocab_size)
        .select("w", F.lit(1).alias("__in_vocab"))
    )
    scored = tok.join(F.broadcast(vocab), "w", "left")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok"),
        F.sum(
            F.when(F.col("__in_vocab").isNull(), F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_oov"),
        F.round(
            F.sum(
                F.when(F.col("__in_vocab").isNull(), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).cast("double")
            / F.count(F.lit(1)),
            round_digits,
        ).alias("oov_rate"),
    )


def bpe_pair_counts(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 50,
):
    """First BPE merge iteration over the corpus (Sennrich et al. 2016):
    treat every lowercase-alpha word as its character sequence (the
    initial BPE symbol state), count adjacent symbol pairs weighted by
    word frequency, and return the ``top_k`` merge candidates — the
    statistic a distributed tokenizer-training job computes once per
    merge round, and by far its dominant cost (the merge itself touches
    only words containing the winning pair).

    Scale shape: words collapse to a (word, count) vocabulary FIRST
    (one hash aggregate — Zipf makes this table millions of rows where
    the corpus is trillions of tokens), pairs explode from the
    vocabulary, and the pair rollup is a second map-side-combined
    aggregate; the corpus-sized explode never happens. The ranking
    window IS single-partition, and deliberately so: its input is the
    aggregated pair table, bounded by alphabet^2 (<= 676 rows for
    single chars) regardless of corpus size — bounded-by-construction,
    the same argument as global_cumsum's bucket-summary window.

    Output: ``(left_sym, right_sym, pair_count BIGINT, rank BIGINT)``,
    rank 1 = the pair the first merge would fuse.
    """
    from pyspark.sql import Window

    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    words = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.explode(
                F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)")
            ).alias("__w")
        )
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__wc"))
        .filter(F.length("__w") >= 2)
    )
    pair_idx = F.sequence(F.lit(1), F.length("__w") - 1)
    pairs = words.select(
        F.explode(
            F.transform(
                pair_idx,
                lambda i: F.struct(
                    F.col("__w").substr(i, F.lit(1)).alias("l"),
                    F.col("__w").substr(i + 1, F.lit(1)).alias("r"),
                ),
            )
        ).alias("__p"),
        F.col("__wc"),
    )
    counts = (
        pairs.groupBy(
            F.col("__p.l").alias("left_sym"), F.col("__p.r").alias("right_sym")
        )
        .agg(F.sum("__wc").cast("long").alias("pair_count"))
    )
    w = Window.orderBy(
        F.col("pair_count").desc(), F.col("left_sym"), F.col("right_sym")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
    )


def js_divergence_words(
    p_df,
    q_df,
    text_col: str = "text",
    round_digits: int = 6,
) -> DataFrame:
    """Jensen-Shannon divergence (nats) between two corpora's word
    distributions — the data-mix diagnostic that quantifies HOW
    differently two text populations use words (0 = identical
    distributions, ln 2 = disjoint vocabularies): the number that says
    whether an incoming batch can be folded into the corpus mix as-is,
    or whether two "independent" sources are lexical mirrors.

    JS(P, Q) = H(M) - (H(P) + H(Q)) / 2 with M = (P + Q) / 2 — the
    entropy form avoids any per-side 0*ln(0) branch: each H sums only
    its own support, and M's support is the vocabulary union.

    Exact-arithmetic recipe (the engine's quantized-log convention):
    every per-word entropy contribution is an exact INTEGER weight
    times ONE quantized log —

        H(P)  = -(1 / N_p)           * sum_w n_w  * round(ln(n_w / N_p), 6)
        H(M)  = -(1 / (2 N_p N_q))   * sum_w M_w  * round(ln(M_w / (2 N_p N_q)), 6)

    where M_w = n_w * N_q + m_w * N_p is the mixture numerator over the
    common denominator 2*N_p*N_q — integers throughout, so the DECIMAL
    sums are order-exact and the final divisions are a fixed IEEE op
    sequence identical on any engine. Shuffle story: one vocab-grain
    count per side, ONE full-outer equi-join on the word key (the
    vocabulary is Zipf-bounded), two one-row total broadcasts.

    Output: one row — ``n_tokens_p, n_tokens_q, n_words_p, n_words_q,
    n_words_union BIGINT; h_p, h_q, h_mix, js_nats DOUBLE``. A side
    with no alpha tokens yields NULL token totals and entropies (a
    divergence from nothing is undefined, not zero).
    """
    dec = f"decimal(18,{round_digits})"

    def counts(df, side: str):
        toks = F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)")
        return (
            df.filter(F.col(text_col).isNotNull())
            .select(F.explode(toks).alias("__w"))
            .groupBy("__w")
            .agg(F.count(F.lit(1)).alias(f"__n{side}"))
        )

    cp = counts(p_df, "p")
    cq = counts(q_df, "q")
    # totals ride in under FRESH aliases: the join and the totals share
    # the count-table lineage, and the crossJoin would otherwise
    # surface the same exprId twice (AMBIGUOUS_REFERENCE on Spark 4.1 —
    # the percentile_features trap)
    tp = cp.agg(
        F.sum("__np").alias("__tpn0"),
        F.count(F.lit(1)).alias("__tpw0"),
    ).select(F.col("__tpn0").alias("__tpn"), F.col("__tpw0").alias("__tpw"))
    tq = cq.agg(
        F.sum("__nq").alias("__tqn0"),
        F.count(F.lit(1)).alias("__tqw0"),
    ).select(F.col("__tqn0").alias("__tqn"), F.col("__tqw0").alias("__tqw"))
    j = (
        cp.join(cq, "__w", "full_outer")
        .select(
            F.coalesce(F.col("__np"), F.lit(0)).alias("__np"),
            F.coalesce(F.col("__nq"), F.lit(0)).alias("__nq"),
        )
        .crossJoin(F.broadcast(tp))
        .crossJoin(F.broadcast(tq))
    )
    mw = F.col("__np") * F.col("__tqn") + F.col("__nq") * F.col("__tpn")
    denom_m = F.lit(2.0) * F.col("__tpn").cast("double") * F.col("__tqn").cast("double")
    lt = lambda num, den: F.round(F.log(num.cast("double") / den), round_digits).cast(dec)  # noqa: E731
    agg = j.agg(
        F.max("__tpn").alias("__tpn"),
        F.max("__tqn").alias("__tqn"),
        F.max("__tpw").alias("__tpw"),
        F.max("__tqw").alias("__tqw"),
        F.count(F.lit(1)).alias("__wu"),
        # integer weight x one quantized DECIMAL log per word (the
        # charlm/bigram convention — BIGINT * DECIMAL(18,6) widens
        # identically in both engines, where DEC*DEC would overflow
        # DuckDB's 38-digit cap); sum() skips the absent-side NULLs
        F.sum(
            F.when(
                F.col("__np") > 0,
                F.col("__np") * lt(F.col("__np"), F.col("__tpn").cast("double")),
            )
        ).alias("__sp"),
        F.sum(
            F.when(
                F.col("__nq") > 0,
                F.col("__nq") * lt(F.col("__nq"), F.col("__tqn").cast("double")),
            )
        ).alias("__sq"),
        F.sum(mw * lt(mw, denom_m)).alias("__sm"),
    )
    np_d = F.col("__tpn").cast("double")
    nq_d = F.col("__tqn").cast("double")
    h_p = -(F.col("__sp").cast("double")) / np_d
    h_q = -(F.col("__sq").cast("double")) / nq_d
    h_m = -(F.col("__sm").cast("double")) / (F.lit(2.0) * np_d * nq_d)
    return agg.select(
        F.col("__tpn").cast("long").alias("n_tokens_p"),
        F.col("__tqn").cast("long").alias("n_tokens_q"),
        F.col("__tpw").cast("long").alias("n_words_p"),
        F.col("__tqw").cast("long").alias("n_words_q"),
        F.col("__wu").cast("long").alias("n_words_union"),
        F.round(h_p, round_digits).alias("h_p"),
        F.round(h_q, round_digits).alias("h_q"),
        F.round(h_m, round_digits).alias("h_mix"),
        F.round(h_m - (h_p + h_q) / F.lit(2.0), round_digits).alias("js_nats"),
    )


# The 8-word "must contain >= 2" stopword list from the Gopher
# quality-filter rules (Rae et al. 2021 appendix A1.1).
GOPHER_STOPWORDS = ("and", "be", "have", "of", "that", "the", "to", "with")


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cols: tuple[str, ...] = (),
    round_digits: int = 6,
) -> DataFrame:
    """Gopher quality-rule gate (Rae et al. 2021 §A1.1): the published
    MassiveWeb per-document filter restated as one codegen'd projection.

    Per-rule boolean columns plus the conjunction ``keep``:
      * r_wordcount — 50 <= whitespace words <= 100,000
      * r_meanlen   — 3.0 <= mean word length <= 10.0
      * r_symbol    — (count('#') + count('...')) / words < 0.1
      * r_alpha     — >= 80% of words contain an alphabetic character
      * r_stop      — >= 2 hits from ``GOPHER_STOPWORDS``

    Empty/whitespace-only texts get NULL features and fail every
    feature-dependent rule via the COALESCE(..., FALSE) wrapping —
    a doc the gate can't measure is a doc the gate drops. Line-level
    Gopher rules (bullet/ellipsis line ratios) are out of scope for
    single-line corpora; callers with real newlines should explode
    lines first. No UDF, no shuffle — scan-bound at any scale.
    """
    toks_l = tokens(F.lower(F.col(text_col)))
    lt = F.lower(F.col(text_col))
    n_words = F.size(toks_l).cast("long")
    nz = F.size(toks_l) > 0
    mean_word_len = F.when(
        nz, F.length(F.array_join(toks_l, "")).cast("double") / F.size(toks_l)
    )
    n_hash = F.length(lt) - F.length(F.replace(lt, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(lt) - F.length(F.replace(lt, F.lit("..."), F.lit("")))
    ) / 3
    symbol_word_ratio = F.when(
        nz, (n_hash.cast("double") + n_ellipsis) / F.size(toks_l)
    )
    frac_alpha = F.when(
        nz,
        F.size(F.filter(toks_l, lambda x: x.rlike("[a-z]"))).cast("double")
        / F.size(toks_l),
    )
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_stop = F.size(
        F.filter(toks_l, lambda x: F.array_contains(stop_arr, x))
    ).cast("long")
    feat = df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        id_col,
        *extra_cols,
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_word_ratio.alias("symbol_word_ratio"),
        frac_alpha.alias("frac_alpha_words"),
        n_stop.alias("n_stop_hits"),
    )
    r_wordcount = (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
    r_meanlen = F.coalesce(
        (F.col("mean_word_len") >= 3.0) & (F.col("mean_word_len") <= 10.0),
        F.lit(False),
    )
    r_symbol = F.coalesce(F.col("symbol_word_ratio") < 0.1, F.lit(False))
    r_alpha = F.coalesce(F.col("frac_alpha_words") >= 0.8, F.lit(False))
    r_stop = F.col("n_stop_hits") >= 2
    return feat.select(
        id_col,
        *extra_cols,
        "n_words",
        F.round("mean_word_len", round_digits).alias("mean_word_len"),
        F.round("symbol_word_ratio", round_digits).alias("symbol_word_ratio"),
        F.round("frac_alpha_words", round_digits).alias("frac_alpha_words"),
        "n_stop_hits",
        r_wordcount.alias("r_wordcount"),
        r_meanlen.alias("r_meanlen"),
        r_symbol.alias("r_symbol"),
        r_alpha.alias("r_alpha"),
        r_stop.alias("r_stop"),
        (r_wordcount & r_meanlen & r_symbol & r_alpha & r_stop).alias("keep"),
    )


def dsir_importance_weights(
    df: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 512,
    round_digits: int = 6,
    release_into: list[DataFrame] | None = None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by how target-like its hashed-n-gram profile is, log w(x) =
    sum over feature occurrences of ln(p_target(b) / p_raw(b)), where b
    is the feature's hash bucket and both bucket distributions carry
    add-one smoothing over ``n_buckets``. The published recipe selects
    pretraining data matching a target domain by resampling on these
    weights; the resampling step itself (Gumbel top-k) is deliberately
    NOT here — emit the weights and let selection be a shard-local
    top-k or threshold, which is the shape that needs no global sort.

    Features: word unigrams + word bigrams over lowercased whitespace
    tokens, WITH multiplicity (bag of hashed n-grams); bucket =
    md5-prefix BIGINT mod ``n_buckets`` — engine-portable, so the whole
    scorer (bucket counts, smoothing, quantized log-ratio, per-doc sum)
    replays under a SQL oracle. Parity recipe: each bucket's log-ratio
    is quantized ONCE (round(ln(...)) cast DECIMAL) so per-doc sums are
    exact integer arithmetic in any accumulation order.

    ``target`` is a boolean Column splitting the corpus (target domain
    vs raw); both halves fit from ONE pass via conditional aggregates.
    Scale shape: one explode -> one groupBy(bucket) (<= n_buckets rows,
    map-side combined) -> the <= n_buckets-row ratio table broadcasts
    back onto the exploded features -> one per-doc aggregate. The only
    cross-row state is the bucket table; nothing grows with the corpus.

    Output: (id_col, *extra_cols, is_target, n_feats, log_weight).
    Docs with zero features (empty text) keep NULL log_weight.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    toks = tokens(F.lower(F.col(text_col)))
    bgs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        F.col(id_col).alias("__id"),
        *extra_cols,
        target.alias("is_target"),
        F.concat(toks, bgs).alias("__feats"),
    )
    feats = base.select(
        "__id",
        "is_target",
        F.explode("__feats").alias("__f"),
    ).select(
        "__id",
        "is_target",
        (
            F.conv(F.substring(F.md5(F.col("__f")), 1, 8), 16, 10)
            .cast("long")
            % n_buckets
        ).alias("__b"),
    ).persist()
    if release_into is not None:
        release_into.append(feats)
    counts = feats.groupBy("__b").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("__ct"),
        F.sum(F.when(~F.col("is_target"), 1).otherwise(0)).alias("__cr"),
    )
    totals = feats.agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("__nt"),
        F.sum(F.when(~F.col("is_target"), 1).otherwise(0)).alias("__nr"),
    )
    m = float(n_buckets)
    lr_tab = counts.crossJoin(F.broadcast(totals)).select(
        "__b",
        F.round(
            F.log(
                ((F.col("__ct") + 1.0) / (F.col("__nt") + m))
                / ((F.col("__cr") + 1.0) / (F.col("__nr") + m))
            ),
            round_digits,
        )
        .cast(f"decimal(18,{round_digits})")
        .alias("__lr"),
    )
    scored = (
        feats.join(F.broadcast(lr_tab), "__b")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.sum("__lr").alias("__s"),
        )
    )
    keep_cols = [F.col("__id"), *[F.col(c) for c in extra_cols], "is_target"]
    return (
        base.select(*keep_cols)
        .join(scored, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            *extra_cols,
            "is_target",
            F.coalesce(F.col("n_feats"), F.lit(0).cast("long")).alias(
                "n_feats"
            ),
            F.round(F.col("__s").cast("double"), round_digits).alias(
                "log_weight"
            ),
        )
    )


def ccnet_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    n_buckets: int = 3,
    round_digits: int = 6,
    release_into: list[DataFrame] | None = None,
) -> DataFrame:
    """CCNet quality bucketing (Wenzek et al. 2020, "CCNet: Extracting
    high quality monolingual datasets from web crawl data"): score every
    document with a language-model perplexity proxy, then split EACH
    LANGUAGE into equal-count quality tiers — the published head /
    middle / tail labels a curation pipeline samples from (train on
    head+middle, keep tail for ablations). Per-language tiling is the
    point: absolute perplexity is not comparable across languages, rank
    within the language is.

    The LM is the corpus-trained char-bigram model
    (:func:`charlm_surprisal` — DECIMAL-quantized, deterministic);
    tiers are ``NTILE(n_buckets)`` over (avg_logp DESC, id) within each
    language — higher mean log-prob = more fluent = lower tier number,
    tier 1 = head. Docs the LM cannot score (under 2 chars) keep NULL
    score and NULL tier: "unmeasurable" stays distinct from "bad".

    Scale: scoring is the charlm shape (alphabet-bounded broadcast
    model); the tiling is one window sort PARTITIONED BY LANGUAGE —
    the published pipeline's own per-language shard sort, which Spark
    distributes; a language's tier boundaries could be approximated
    with quantile sketches to avoid the sort, but exact rank is what
    makes the operator oracle-checkable and CCNet itself sorts.

    Output: (id_col, lang, n_bigrams, avg_logp, tier, tier_label).
    The per-doc score frame feeds both the tier window and the
    unscorable-docs anti-join — it is persist-marked so the whole LM
    scoring pipeline runs once; pass ``release_into`` to receive it.
    """
    from pyspark.sql import Window

    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    base = df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(id_col, F.col(lang_col).alias("lang"))
    scores = charlm_surprisal(
        df, id_col, text_col, round_digits=round_digits,
        release_into=release_into,
    ).persist()
    if release_into is not None:
        release_into.append(scores)
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logp").desc(), F.col(id_col)
    )
    tiered = (
        base.join(scores, id_col)
        .withColumn("tier", F.ntile(n_buckets).over(w))
    )
    label = (
        F.when(F.col("tier") == 1, F.lit("head"))
        .when(F.col("tier") == n_buckets, F.lit("tail"))
        .otherwise(F.lit("middle"))
    )
    out = tiered.select(
        id_col,
        "lang",
        "n_bigrams",
        "avg_logp",
        F.col("tier").cast("long").alias("tier"),
        label.alias("tier_label"),
    )
    unscored = base.join(scores, id_col, "left_anti").select(
        id_col,
        "lang",
        F.lit(None).cast("long").alias("n_bigrams"),
        F.lit(None).cast("double").alias("avg_logp"),
        F.lit(None).cast("long").alias("tier"),
        F.lit(None).cast("string").alias("tier_label"),
    )
    return out.unionAll(unscored)


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 100,
    round_digits: int = 6,
) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS of ln(count) on
    ln(rank) for the ``top_n`` most frequent terms — the classic
    datasheet readout (alpha near 1 = natural-language-like frequency
    decay; alpha near 0 = synthetic/uniform vocab; very steep = heavy
    boilerplate). One row: (n_terms, vocab_size, total_tokens, alpha,
    r2), alpha = -slope, both rounded.

    Scale shape: the corpus collapses to (term, count) with map-side
    combine (the bpe_pair_counts argument: vocab is Zipf-bounded);
    top-``top_n`` is orderBy().limit() — a TakeOrderedAndProject, never
    a global sort of the vocabulary; ranking and the five OLS moment
    sums then run over <= ``top_n`` rows. Parity: ln(rank) and
    ln(count) are quantized ONCE per term (round -> DECIMAL), moment
    sums are exact DECIMAL arithmetic, the slope/r2 division is the
    only float step and happens on one row.
    """
    from pyspark.sql import Window

    if top_n < 2:
        raise ValueError(f"top_n must be >= 2, got {top_n}")
    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term")
    )
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    stats = vocab.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("c").alias("total_tokens"),
    )
    top = vocab.orderBy(F.col("c").desc(), F.col("term")).limit(top_n)
    w = Window.orderBy(F.col("c").desc(), F.col("term"))
    dec = f"decimal(18,{round_digits + 3})"
    ranked = top.select(
        F.row_number().over(w).alias("r"), F.col("c")
    ).select(
        F.round(F.log(F.col("r").cast("double")), round_digits + 3)
        .cast(dec)
        .alias("lx"),
        F.round(F.log(F.col("c").cast("double")), round_digits + 3)
        .cast(dec)
        .alias("ly"),
    )
    mom = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("ly") * F.col("ly")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    cov = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    return mom.crossJoin(F.broadcast(stats)).select(
        F.col("n").cast("long").alias("n_terms"),
        F.col("vocab_size").cast("long").alias("vocab_size"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.round(-cov / vx, round_digits).alias("alpha"),
        F.when(vy > 0, F.round(cov * cov / (vx * vy), round_digits)).alias(
            "r2"
        ),
    )


def _bpe_merge_expr(syms: Column, left: str, right: str) -> Column:
    """Leftmost-nonoverlapping merge of adjacent (left, right) symbol
    pairs inside one symbol array — a pure JVM fold (aggregate with a
    (out, pending) state struct), no UDF. "aaa" under (a,a) -> [aa, a],
    the standard BPE greedy-left convention."""
    merged = left + right

    def step(acc: Column, s: Column) -> Column:
        return (
            F.when(
                acc["pending"].isNull(),
                F.struct(acc["out"].alias("out"), s.alias("pending")),
            )
            .when(
                (acc["pending"] == left) & (s == right),
                F.struct(
                    F.concat(acc["out"], F.array(F.lit(merged))).alias("out"),
                    F.lit(None).cast("string").alias("pending"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(acc["pending"])).alias(
                        "out"
                    ),
                    s.alias("pending"),
                )
            )
        )

    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pending"),
    )
    return F.aggregate(
        syms,
        init,
        step,
        lambda acc: F.when(acc["pending"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pending"]))
        ),
    )


def bpe_train(
    df,
    text_col: str = "text",
    n_merges: int = 8,
    with_vocab: bool = False,
    release_into: list[DataFrame] | None = None,
):
    """Iterative BPE tokenizer training (Sennrich et al. 2016) — the
    full merge LOOP, not just the first iteration's statistic
    (:func:`bpe_pair_counts`): round t counts adjacent symbol pairs
    over the vocabulary's CURRENT symbol sequences weighted by word
    frequency, fuses the most frequent pair everywhere (leftmost-
    nonoverlapping), and repeats. Returns the learned merge table
    ``(round, left_sym, right_sym, merged, pair_count)`` — the entire
    tokenizer model; with ``with_vocab=True`` also the final
    ``(word, count, syms)`` segmentation for inspection.

    Scale design (the kmeans recipe applied to tokenizer training):
      * the corpus collapses ONCE to the Zipf-bounded (word, count)
        vocabulary — all iteration happens on that table, never the
        corpus;
      * per round: one map-side-combined pair aggregate, ONE argmax row
        collected to the driver (count DESC, pair ASC tie-break — fully
        deterministic), one JVM fold rewriting the symbol arrays;
        driver state is one pair per round, like kmeans' k x d floats;
      * each round's symbol table is persisted and the previous round's
        released — lineage stays one fold deep instead of n_merges
        folds deep.

    Deterministic end to end, but iterative + driver-mediated => the
    registered query is rows-only; exact parity with a pure-python BPE
    trainer is pinned in tests (the numpy-parity convention).
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    spark = df.sparkSession
    chars = F.transform(
        F.sequence(F.lit(1), F.length("__w")),
        lambda i: F.col("__w").substr(i, F.lit(1)),
    )
    cur = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.explode(
                F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)")
            ).alias("__w")
        )
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__wc"))
        .filter(F.length("__w") >= 2)
        .select("__w", "__wc", chars.alias("syms"))
        .persist()
    )
    held = [cur]
    merges: list[tuple] = []
    for rnd in range(1, n_merges + 1):
        pair_idx = F.sequence(F.lit(1), F.size("syms") - 1)
        best = (
            cur.filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.transform(
                        pair_idx,
                        lambda i: F.struct(
                            F.element_at("syms", i).alias("l"),
                            F.element_at("syms", i + 1).alias("r"),
                        ),
                    )
                ).alias("__p"),
                "__wc",
            )
            .groupBy(F.col("__p.l").alias("l"), F.col("__p.r").alias("r"))
            .agg(F.sum("__wc").cast("long").alias("c"))
            .orderBy(F.col("c").desc(), F.col("l"), F.col("r"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        # ``best``'s action just materialized ``cur``'s persist (one
        # fold over the grandparent's cached blocks), so the
        # grandparent can be released NOW — r15: the per-round
        # ``nxt.count()`` materialization job is gone (8 extra
        # vocabulary passes per training run); each round's symbol
        # table instead materializes as a side effect of the NEXT
        # round's argmax action, and lineage still stays one fold deep
        # because the parent is always cached by the time its child is
        # computed.
        if len(held) >= 2:
            held[-2].unpersist()
        l, r, c = best[0]["l"], best[0]["r"], int(best[0]["c"])
        merges.append((rnd, l, r, l + r, c))
        nxt = cur.withColumn(
            "syms", _bpe_merge_expr(F.col("syms"), l, r)
        ).persist()
        held.append(nxt)
        cur = nxt
    out = spark.createDataFrame(
        merges,
        "round long, left_sym string, right_sym string, "
        "merged string, pair_count long",
    )
    # the final table and its (still-cached) parent are both live:
    # the last round's ``nxt`` has not been materialized by any action
    # yet, so its parent must survive until the caller's first action
    live = held[-2:]
    if release_into is not None:
        release_into.extend(live)
    vocab = cur.select(
        F.col("__w").alias("word"),
        F.col("__wc").cast("long").alias("count"),
        "syms",
    )
    if with_vocab:
        return out, vocab
    if release_into is None:
        for f in live:
            f.unpersist()
    return out


def rare_token_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
    replacement: str = "<unk>",
    round_digits: int = 6,
    release_into: list[DataFrame] | None = None,
) -> DataFrame:
    """Rare-token privacy scrub: replace every token whose DOCUMENT
    frequency is below ``min_df`` with ``replacement`` and report the
    per-doc exposure. Memorization risk concentrates in strings unique
    (or nearly unique) to one document — names, ids, keys; a df
    threshold is the k-anonymity-flavored gate: a token is safe only if
    it appears in >= ``min_df`` distinct documents.

    Output: (id_col, n_tokens, n_rare, rare_frac, scrubbed) —
    ``scrubbed`` is the document rebuilt IN TOKEN ORDER with rare
    tokens masked (positions ride a posexplode; the rebuild is
    sort_array(collect_list(struct(pos, tok))) -> join, all JVM).
    Docs with zero tokens keep NULL scrubbed and rare_frac.

    Scale shape: one posexplode, one distinct-doc df aggregate on the
    term key (the span_dedup trick — the df table REPLACES any
    pairwise privacy comparison), one term equi-join back, one per-doc
    aggregate. Matching is on the LOWERCASED token; the mask is
    applied to the lowercased stream (deterministic, engine-portable).
    """
    if min_df < 1:
        raise ValueError(f"min_df must be >= 1, got {min_df}")
    base = df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
    toks = base.select(
        "__id",
        F.posexplode(tokens(F.lower(F.col("__t")))).alias("pos", "term"),
    ).persist()
    if release_into is not None:
        release_into.append(toks)
    dfreq = (
        toks.select("__id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    marked = toks.join(dfreq, "term").select(
        "__id",
        "pos",
        (F.col("__df") < min_df).alias("rare"),
        F.when(F.col("__df") < min_df, F.lit(replacement))
        .otherwise(F.col("term"))
        .alias("out"),
    )
    per = marked.groupBy("__id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("rare"), 1).otherwise(0))
        .cast("long")
        .alias("n_rare"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("out")))
                ),
                lambda x: x["out"],
            ),
            " ",
        ).alias("scrubbed"),
    )
    return (
        base.select("__id")
        .join(per, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("n_tokens"), F.lit(0).cast("long")).alias(
                "n_tokens"
            ),
            F.coalesce(F.col("n_rare"), F.lit(0).cast("long")).alias(
                "n_rare"
            ),
            F.when(
                F.col("n_tokens") > 0,
                F.round(
                    F.col("n_rare").cast("double") / F.col("n_tokens"),
                    round_digits,
                ),
            ).alias("rare_frac"),
            F.col("scrubbed"),
        )
    )


def token_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
) -> DataFrame:
    """Per-document Shannon entropy of the doc's OWN token distribution
    — the lexical-diversity / repetition signal: low entropy = the doc
    says the same words over and over (template spam, keyword stuffing),
    high normalized entropy = every token distinct.

    H = -sum_t (c_t/n) ln(c_t/n); ``norm_entropy`` = H / ln(n_distinct)
    in [0, 1] (NULL when n_distinct <= 1 — undefined, distinct from 0).

    Parity is INTEGER arithmetic end to end, a stricter recipe than the
    charlm round->DECIMAL convention, which this operator broke twice
    at sf0.001 before landing here: (1) rounding the final double
    quotient hits decimal-repr-vs-binary ties (Spark's BigDecimal-repr
    HALF_UP said 3.17704 where DuckDB's binary round said 3.177039 on
    the same exact sum), and (2) even round->DECIMAL per term diverges,
    because CASTING the rounded double to DECIMAL goes through the
    shortest decimal repr in Spark but binary scaling in DuckDB (the
    two sums differed by 8e-8 with every rounded DOUBLE equal).
    Repeated (c, n) profiles make such ties common, not theoretical.
    So: each term contributes the BIGINT floor(ln(c/n) * 1e9) — floor
    has no tie surface (divergence needs a 1-ulp libm disagreement
    landing within that ulp of an integer; exhaustively zero across
    all 34k (c, n) shapes up to n=600) — the per-doc sum is exact
    BIGINT arithmetic, and H's 6-digit rounding is integer half-up:
    (2S + 1000n) div (2000n). The norm_entropy division keeps one
    float step (an irrational ln(nd) denominator doesn't produce
    systematic ties). One explode + one (doc, term) aggregate + one
    per-doc aggregate; no cross-doc state at all.
    """
    toks = df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        F.col(id_col).alias("__id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy("__id", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    n_per = tf.groupBy("__id").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("nd")
    )
    contrib = tf.join(n_per, "__id").select(
        "__id",
        "n",
        "nd",
        (
            F.col("c")
            * F.floor(
                F.log(F.col("c").cast("double") / F.col("n")) * F.lit(1e9)
            ).cast("long")
        ).alias("__h"),
    )
    out = contrib.groupBy("__id", "n", "nd").agg(
        F.sum("__h").cast("long").alias("__s")
    )
    scaled = out.select(
        "__id",
        "n",
        "nd",
        (-F.col("__s")).alias("__p"),
        (F.col("n") * (10 ** (9 - round_digits))).cast("long").alias("__den"),
    )
    ent = (
        F.expr("CAST((2 * __p + __den) DIV (2 * __den) AS BIGINT)")
        .cast("double")
        / F.lit(float(10 ** round_digits))
    )
    return scaled.select(
        F.col("__id").alias(id_col),
        F.col("n").cast("long").alias("n_tokens"),
        F.col("nd").cast("long").alias("n_distinct"),
        ent.alias("entropy"),
        F.when(
            F.col("nd") > 1,
            F.round(ent / F.log(F.col("nd").cast("double")), round_digits),
        ).alias("norm_entropy"),
    )


def distinct_ngrams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
) -> DataFrame:
    """Distinct-n lexical diversity (Zhu et al. 2018, Texygen): per doc,
    ``distinct_1`` = |unique tokens| / |tokens| and ``distinct_2`` =
    |unique bigrams| / |bigrams| — the standard generation-diversity /
    self-repetition readout (distinct-2 is the sharper signal: template
    spam repeats PHRASES, so its bigram ratio collapses long before its
    unigram ratio does). Complements :func:`token_entropy`, which weighs
    the repetition distribution; this is the set-size view every
    generation paper reports.

    Scale shape: a pure scan-bound projection — tokens, bigrams, and
    both distinct sets are single-row array expressions inside
    whole-stage codegen; NO shuffle, NO explode, no cross-doc state, so
    at 100 TB this is exactly one pass over the text column.
    Bigram total is ``n_tokens - 1`` by construction (no second list
    needed); distinct bigrams reuse :func:`word_shingles`' space-joined
    slice construction (tokens are whitespace-split, so the join is
    unambiguous). Parity: ratios of two BIGINTs use the integer
    half-up recipe ((2*d*10^6 + t) DIV (2*t)) / 1e6 — no
    double-rounding repr-tie surface (the token_entropy lesson); NULL
    ratios where the denominator is 0 (empty doc / single token).
    """
    toks = tokens(F.col(text_col))
    counts = df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        F.col(id_col).alias("__id"),
        F.size(toks).cast("long").alias("u_t"),
        F.size(F.array_distinct(toks)).cast("long").alias("u_d"),
        F.greatest(F.size(toks).cast("long") - 1, F.lit(0).cast("long")).alias(
            "b_t"
        ),
        F.size(word_shingles(F.col(text_col), k=2)).cast("long").alias("b_d"),
    )
    scale = 10 ** round_digits

    def _ratio(d: str, t: str) -> Column:
        return F.when(
            F.col(t) > 0,
            F.expr(
                f"CAST((2 * {d} * {scale} + {t}) DIV (2 * {t}) AS BIGINT)"
            ).cast("double")
            / F.lit(float(scale)),
        )

    return counts.select(
        F.col("__id").alias(id_col),
        F.col("u_t").alias("n_tokens"),
        F.col("u_d").alias("n_distinct_tokens"),
        F.col("b_t").alias("n_bigrams"),
        F.col("b_d").alias("n_distinct_bigrams"),
        _ratio("u_d", "u_t").alias("distinct_1"),
        _ratio("b_d", "b_t").alias("distinct_2"),
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 2,
    round_digits: int = 6,
) -> DataFrame:
    """Per-document phrase novelty vs the rest of the corpus: the
    fraction of a doc's DISTINCT word-``k``-grams that appear in no
    other document (corpus document-frequency 1) — the GPT-2-appendix
    "how much of this text overlaps anything else" readout, measured
    intra-corpus. Low ``novel_frac`` = boilerplate / near-dup tissue;
    the df-1 tail here is the phrase-level sibling of what
    :func:`rare_token_scrub` masks at token level. Docs with fewer
    than ``k`` tokens have no k-grams and are absent from the output.

    Scale shape: per-doc distinct shingles (:func:`word_shingles`, a
    scan-side array expression) -> ONE explode -> a (gram) document-
    frequency aggregate with map-side combine -> equi-join back -> one
    per-doc aggregate. Linear in corpus size, no pair term anywhere —
    the span-dedup/df-aggregate argument. Ratio parity uses the
    integer half-up recipe ((2*novel*10^6 + total) DIV (2*total)) /
    1e6 — no repr-tie surface.
    """
    ex = df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        F.col(id_col).alias("__id"),
        F.explode(word_shingles(F.col(text_col), k=k)).alias("__g"),
    )
    dfreq = ex.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
    scale = 10 ** round_digits
    per_doc = (
        ex.join(dfreq, "__g")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("__df") == 1).cast("long"))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        F.col("__id").alias(id_col),
        "n_grams",
        "n_novel",
        (
            F.expr(
                f"CAST((2 * n_novel * {scale} + n_grams) "
                f"DIV (2 * n_grams) AS BIGINT)"
            ).cast("double")
            / F.lit(float(scale))
        ).alias("novel_frac"),
    )
