"""Training-corpus preparation pipeline — the LLM-side medallion.

The GHCN pipeline (``pipelines/ghcn.py``) is the reference-parity
medallion; this is its counterpart for the documents corpus, chaining
the engine's LLM-data operators into the standard pre-training prep
ladder:

  1. **profile + filter** — one scan computes language ID, quality
     score, and token counts (``text_profile`` columns); rows failing
     the language allowlist / quality floor / token-length band drop
     here, so every later stage touches less data (filter-early is the
     100 TB rule: each stage's input is the previous stage's survivors).
  2. **PII redaction** — email/phone/SSN shapes replaced in-place.
  3. **exact dedup** — one shuffle on the normalized-content
     fingerprint, keep the minimum doc_id per group.
  4. **near-dup dedup** — MinHash-LSH verified pairs → connected
     components (``operators/graph.py``) → keep each component's
     canonical (minimum) id. Pairs alone cannot dedup correctly: with
     A~B, B~C but not A~C, pairwise keep-one logic either drops too
     much or leaves B,C both alive; the component closure is what makes
     keep-one-per-group well-defined.
  5. **chunking** — sliding token windows (default 32/stride 24) turn
     surviving documents into training examples.

Every stage is lazy; the filtered+redacted base is persisted once and
shared by the exact-dedup, near-dup, and chunk branches (a DataFrame
used by several branches is otherwise recomputed per branch —
see the persist-per-branch note in the repo docs).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ghcn_d_etl_project_spark.operators.dedup import minhash_lsh_dedup
from ghcn_d_etl_project_spark.operators.graph import components_with_drop_set
from ghcn_d_etl_project_spark.operators.textops import (
    lang_id,
    fingerprint,
    pii_redact,
    text_quality_score,
    token_count,
    tokens,
)
from ghcn_d_etl_project_spark.plans._util import t


@dataclass(frozen=True)
class CorpusPrepConfig:
    langs: tuple[str, ...] = ("en",)
    min_quality: float = 0.65
    min_tokens: int = 8
    max_tokens: int = 100_000
    jaccard_threshold: float = 0.5
    chunk_tokens: int = 32
    stride: int = 24
    # near-dup shingle granularity: "word" (w-shingling, default since
    # round 8 — 5-10x smaller sets, ~2-3x faster LSH stage measured at
    # sf0.1 with the IDENTICAL verified pair set and funnel counts) or
    # "char" (n-gram). Semantics caveat: word shingles see only
    # whitespace-token order, so near-dups that differ by in-word edits
    # (typos, stemming) score lower Jaccard than under char n-grams —
    # prefer "char" for very short or noisy corpora where single-word
    # edits matter; at pre-training corpus scale the verified-pair set
    # is the same and the LSH stage (the pipeline's dominant cost) is
    # materially cheaper.
    shingle_unit: str = "word"
    shingle_n: int = 4


def _profile(docs: DataFrame) -> DataFrame:
    """One projection computing every profile column + the redaction."""
    return docs.select(
        "doc_id",
        pii_redact("text").alias("text"),
        lang_id("text").alias("pred_lang"),
        text_quality_score("text").alias("quality_score"),
        token_count("text").alias("n_tokens"),
    )


def _gate(cfg: CorpusPrepConfig) -> Column:
    """The language/quality/length survivor predicate over profile cols."""
    return (
        F.col("pred_lang").isin(*cfg.langs)
        & (F.col("quality_score") >= cfg.min_quality)
        & F.col("n_tokens").between(cfg.min_tokens, cfg.max_tokens)
    )


def profiled_persisted(
    docs: DataFrame, cfg: CorpusPrepConfig
) -> tuple[DataFrame, DataFrame]:
    """``(survivors, persist_handle)`` — the profile stage with the
    persist boundary BELOW the gate filter, so every profile expression
    evaluates exactly once.

    Filtering first and persisting the survivors reads cleaner, but
    Catalyst inlines the alias definitions into the pushed-down
    predicate, and Filter/Project share no subexpression elimination
    across operators — lang_id's five token passes and the quality
    ratios all evaluated TWICE per surviving row (once in the
    predicate, once in the projection). Persisting the profiled frame
    makes the gate read STORED column values: measured at sf0.1 the
    stage drops 1.18s -> 0.91s median (identical 4554-row output). The
    trade: the cache also holds the gated-out rows (~9% here) — at a
    drop-heavy corpus (>~40% filtered), flip back to filter-first and
    pay the double evaluation only for survivors.
    """
    profiled = _profile(docs).persist()
    return profiled.filter(_gate(cfg)), profiled


def exact_dedup_keep_min(base: DataFrame) -> DataFrame:
    """Stage 3: keep the minimum doc_id per normalized fingerprint —
    a group-min window over the fingerprint key.

    r14 rewrite (guide §2.4 — share one exchange): the previous
    agg + self-semi-join paid TWO shuffles on ``fp`` (the groupBy and
    the join's other side) and evaluated the fingerprint (md5 over two
    regex normalization passes) once per side; the window form pays ONE
    shuffle and computes ``fp`` once per row. Measured at sf0.1 over
    the cached profile stage: 0.80-0.97s -> 0.32-0.41s, identical
    survivor set. At 100 TB both forms hash-partition on the
    fingerprint; the window's per-partition sort is on a key whose
    groups are tiny (copies of one document), so no skew term appears.
    """
    from pyspark.sql import Window

    keyed = base.withColumn("fp", fingerprint("text"))
    w = Window.partitionBy("fp")
    return (
        keyed.withColumn("__keep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("__keep"))
        .drop("fp", "__keep")
    )


def neardup_pairs(
    base: DataFrame,
    cfg: CorpusPrepConfig,
    release_into: list[DataFrame] | None = None,
) -> DataFrame:
    """Stage 4a: MinHash-LSH verified near-dup pairs as (src, dst) edges.
    ``release_into`` forwards to ``minhash_lsh_dedup``'s cache handle
    (two persisted intermediates: hashed shingle sets + signatures)."""
    return minhash_lsh_dedup(
        base, "doc_id", "text", threshold=cfg.jaccard_threshold,
        release_into=release_into, unit=cfg.shingle_unit, n=cfg.shingle_n,
    ).select(F.col("doc1").alias("src"), F.col("doc2").alias("dst"))


def neardup_survivors(
    base: DataFrame, pairs: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Stage 4b: close the pair edges into connected components and keep
    each component's minimum id. Returns (survivors, components).

    r14 shape: survivors are an ANTI-join against the closure's DROP
    set (``components_with_drop_set``) instead of a semi-join against
    the canonical side of the full components frame — the drop set is
    bounded by 2x the verified pair count (tiny relative to the corpus
    by the LSH-banding premise), carries exact size statistics, and so
    broadcasts; the semi-join form planned a SortMergeJoin over the
    opaque union+distinct+join components chain (measured 1.2s -> 0.3s
    at sf0.1, identical survivor set). ``components`` stays available
    for closure audits and shares the same single closure computation.
    """
    comps, drop = components_with_drop_set(
        pairs, nodes=base.select(F.col("doc_id").alias("node"))
    )
    survivors = base.join(
        drop.select(F.col("node").alias("doc_id")), "doc_id", "left_anti"
    )
    return survivors, comps


def neardup_dedup_keep_canonical(
    base: DataFrame,
    cfg: CorpusPrepConfig,
    release_into: list[DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Stage 4: MinHash-LSH verified pairs → connected components →
    survivors are each component's minimum id. Returns (survivors,
    components) so callers can audit cluster assignments."""
    return neardup_survivors(base, neardup_pairs(base, cfg, release_into))


def chunk_documents(
    docs: DataFrame, cfg: CorpusPrepConfig, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Stage 5: sliding-window chunks (same construction as the
    ``doc_chunks`` registered query, parameterized). ``carry`` names
    extra input columns (e.g. the predicted language) to pass through
    onto every chunk — per-row metadata rides the narrow explode for
    free, vs joining it back later (a full shuffle on doc_id)."""
    toked = docs.select("doc_id", *carry, tokens(F.col("text")).alias("toks"))
    starts = toked.select(
        "doc_id",
        *carry,
        "toks",
        F.posexplode(
            F.sequence(
                F.lit(1), F.greatest(F.size("toks"), F.lit(1)), F.lit(cfg.stride)
            )
        ).alias("chunk_id", "start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start"), F.lit(cfg.chunk_tokens))
    return starts.select(
        "doc_id",
        *carry,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)


class CorpusStages(dict):
    """``corpus_prep``'s stage map, plus a cache-release handle.

    The pipeline persists three named intermediates (filtered base,
    exact-dedup output, survivors) so the dedup/chunk branches share one
    computation, and MinHash-LSH persists two more internally (shingle
    sets + signatures, surfaced via its ``release_into`` handle).
    Callers own their lifetime: ``release()`` unpersists all five once
    downstream consumers have materialized — without it, repeated
    pipeline invocations in one session accumulate cached blocks until
    the executor store evicts under pressure (driver-verified leak,
    round 3)."""

    # "filtered" is NOT here: its persist boundary is the profiled frame
    # UNDER the gate filter (profiled_persisted), whose handle rides in
    # extra_handles — unpersist on the filtered view would be a no-op
    _PERSISTED = ("exact_deduped", "survivors")

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.extra_handles: list[DataFrame] = []

    def release(self) -> None:
        for key in self._PERSISTED:
            df = self.get(key)
            if df is not None:
                df.unpersist()
        for df in self.extra_handles:
            df.unpersist()


def corpus_prep(
    spark: SparkSession, sf_dir: str, cfg: CorpusPrepConfig | None = None
) -> CorpusStages:
    """Run the full ladder over ``documents``; returns every stage so
    callers (and tests) can audit the funnel:
    ``filtered`` → ``exact_deduped`` → ``survivors`` (+ ``components``)
    → ``chunks``. Call ``.release()`` on the result when done to drop
    the pipeline's cached intermediates."""
    cfg = cfg or CorpusPrepConfig()
    docs = t(spark, sf_dir, "documents")
    base, base_handle = profiled_persisted(docs, cfg)
    exact = exact_dedup_keep_min(base).persist()
    lsh_handles: list[DataFrame] = []
    survivors, comps = neardup_dedup_keep_canonical(
        exact, cfg, release_into=lsh_handles
    )
    survivors = survivors.persist()
    stages = CorpusStages(
        filtered=base,
        exact_deduped=exact,
        survivors=survivors,
        components=comps,
        chunks=chunk_documents(survivors, cfg, carry=("pred_lang",)),
    )
    # the persist boundary sits UNDER the gate filter (see
    # profiled_persisted) — the handle, not the filtered view, is what
    # release() must unpersist
    stages.extra_handles.extend([base_handle, *lsh_handles])
    return stages


def corpus_prep_staged(
    spark: SparkSession, sf_dir: str, cfg: CorpusPrepConfig | None = None
) -> dict:
    """Instrumented twin of ``corpus_prep``: the same ladder, but each
    stage is materialized and wall-timed at its persist boundary, and
    every cached intermediate is released before returning.

    Attribution semantics: a stage's seconds cover exactly the work
    between persist boundaries — its own computation over the (already
    cached) previous stage's output plus the count that materializes it.
    The sum of stages therefore tracks the one-shot ``chunks.count()``
    cost closely (the extra per-stage counts scan cached data), while a
    regression in any single stage surfaces BY NAME instead of as "the
    pipeline got slower" (round-6 verdict's unattributability gap).

    Returns ``{"counts": {stage: rows}, "timings": {stage: sec}}`` with
    stages ``profile_filter_pii`` / ``exact_dedup`` / ``lsh_pairs`` /
    ``components`` / ``chunking``.
    """
    import time

    cfg = cfg or CorpusPrepConfig()
    counts: dict[str, int] = {}
    timings: dict[str, float] = {}

    def mat(name: str, df: DataFrame) -> DataFrame:
        t0 = time.perf_counter()
        counts[name] = df.count()
        timings[name] = round(time.perf_counter() - t0, 3)
        return df

    docs = t(spark, sf_dir, "documents")
    base, base_handle = profiled_persisted(docs, cfg)
    base = mat("profile_filter_pii", base)
    exact = mat("exact_dedup", exact_dedup_keep_min(base).persist())
    lsh_handles: list[DataFrame] = []
    pairs = mat(
        "lsh_pairs", neardup_pairs(exact, cfg, release_into=lsh_handles).persist()
    )
    # connected_components materializes during CONSTRUCTION (pointer
    # jumping iterates to a fixpoint), so the components stage times the
    # closure plus the keep-min semi-join that consumes it
    t0 = time.perf_counter()
    survivors, _comps = neardup_survivors(exact, pairs)
    survivors = survivors.persist()
    counts["components"] = survivors.count()
    timings["components"] = round(time.perf_counter() - t0, 3)
    mat("chunking", chunk_documents(survivors, cfg, carry=("pred_lang",)))
    for df in (base_handle, exact, pairs, survivors, *lsh_handles):
        df.unpersist()
    return {"counts": counts, "timings": timings}


def write_corpus(
    stages: dict,
    path: str,
    fmt: str = "parquet",
    max_records_per_file: int | None = 1_000_000,
) -> None:
    """Materialize prepared chunks as a real training-data layout.

    Adds the engine-portable train/val/test label
    (``operators/common.py:dataset_split`` — md5-derived, so the same
    doc lands in the same split on any engine or re-run) and writes via
    ``sources/writers.py:write_partitioned`` hive-partitioned by
    ``(split, lang)``: one shuffle onto the partition values so each
    directory gets a bounded file count, with ``max_records_per_file``
    capping individual file size. Readers then prune whole splits /
    languages from the path alone — the layout a 100 TB pre-training
    run actually consumes."""
    from ghcn_d_etl_project_spark.operators.common import dataset_split
    from ghcn_d_etl_project_spark.sources.writers import write_partitioned

    chunks = stages["chunks"]
    out = chunks.withColumn("split", dataset_split("doc_id"))
    partition_by = ["split"]
    if "pred_lang" in out.columns:
        out = out.withColumnRenamed("pred_lang", "lang")
        partition_by.append("lang")
    write_partitioned(
        out,
        path,
        partition_by=partition_by,
        max_records_per_file=max_records_per_file,
        fmt=fmt,
    )
