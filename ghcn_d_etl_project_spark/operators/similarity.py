"""Similarity search over embedding columns (array<float>).

Training-data-pipeline extension (SURVEY.md §7.2 step 9): brute-force
cosine top-k as the exact baseline, random-hyperplane (sign) LSH
bucketing as the approximate scale path, and cosine near-dup pairs.

Dot products use ``F.zip_with`` + ``F.aggregate`` — a JVM-side sequential
fold, deterministic and UDF-free. The exact operators (``cosine_topk``,
``neardup_pairs``, ``hard_negative_topk``) share one dispatch: a
broadcast-GEMM kernel when the corpus fits their byte budget, else a
self pair join (quadratic — fine for bounded corpora). The LSH path
buckets vectors by sign-pattern so only same-bucket pairs are scored,
which is the linear-ish construction for 100 TB-scale near-dup mining.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from ghcn_d_etl_project_spark.operators.common import (
    double_literal,
    ensure_parallelism,
)


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two double arrays (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _as_double(col: str) -> Column:
    return F.col(col).cast("array<double>")


def _scoreable(df, id_col: str, vec_col: str):
    """Drop rows no cosine is defined for — NULL vectors and zero-norm
    vectors (0/0 is NaN, and NaN ordering DISAGREES between numpy, the
    JVM, and SQL engines: the one place the two arms could diverge).
    Filtering is the contract, not a fallback; documented on every
    exact operator."""
    v = _as_double(vec_col)
    return df.filter(
        F.col(id_col).isNotNull()
        & v.isNotNull()
        & (F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x) > 0)
    )


def _matmul_corpus_fits(
    df: DataFrame, vec_col: str, broadcast_bytes: int
) -> bool:
    """Bounded probe: does the (already _scoreable-filtered) corpus fit
    the GEMM kernel's driver collect?

    The constraint is BYTES, ``rows x dim x 8`` against
    ``broadcast_bytes`` (2M rows at 1024-dim float64 is ~16 GB of
    driver heap). One row is sampled for the dimensionality (vectors
    are fixed-width by contract), the budget converts to a row cap, and
    a ``limit(cap + 1)`` count decides — never a full count, so the
    probe cost is O(cap) regardless of corpus size. An empty corpus
    takes the pair join: there is nothing to join, and no matrix to
    shape."""
    first = df.select(F.size(_as_double(vec_col)).alias("d")).limit(1).collect()
    if not first:
        return False
    cap = broadcast_bytes // (max(int(first[0]["d"]), 1) * 8)
    return cap >= 1 and df.limit(cap + 1).count() <= cap


def _query_keys(id_col: str, label_col: str | None) -> list[Column]:
    """The query side's key columns in both arms: ``qid[, q_label]``."""
    keys = [F.col(id_col).alias("qid")]
    if label_col is not None:
        keys.append(F.col(label_col).alias("q_label"))
    return keys


def _gemm_kernel(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str | None,
    round_digits: int,
    schema: str,
    select,
) -> DataFrame:
    """Broadcast-GEMM arm of the exact operators: the corpus (ids,
    optional labels, vectors, norms) is collected ONCE into a dense
    float64 matrix and broadcast; ``mapInPandas`` over the query
    partitions computes, per Arrow batch of B queries, ``S =
    round((Q @ M.T) / outer(|q|, |m|), round_digits)`` and hands it to
    ``select(S, pdf, nids, labs)``, which returns the batch's output
    columns. Only the selected rows ever exist as rows, and each query
    partition is scored independently — zero shuffle. ``schema`` names
    the output with ``{id}``/``{label}`` standing for the input types.
    """
    import numpy as np
    import pandas as pd

    side = _query_keys(id_col, label_col)
    corpus = df.select(*side, _as_double(vec_col)).collect()
    nid_arr = np.asarray([r[0] for r in corpus])
    lab_arr = np.asarray([r[1] for r in corpus]) if label_col else None
    X = np.asarray([r[-1] for r in corpus], dtype=np.float64)
    b = df.sparkSession.sparkContext.broadcast(
        (nid_arr, lab_arr, X, np.sqrt((X * X).sum(axis=1)))
    )

    def score_block(batches):
        nids, labs, M, mnorm = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["qvec"]]
            )
            qn = np.sqrt((Q * Q).sum(axis=1))
            S = np.round((Q @ M.T) / np.outer(qn, mnorm), round_digits)
            yield pd.DataFrame(select(S, pdf, nids, labs))

    types = {
        "id": df.schema[id_col].dataType.simpleString(),
        "label": label_col and df.schema[label_col].dataType.simpleString(),
    }
    queries = ensure_parallelism(df).select(*side, _as_double(vec_col).alias("qvec"))
    return queries.mapInPandas(score_block, schema=schema.format(**types))


def _pair_join(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str | None,
    round_digits: int,
    cond: Column,
) -> DataFrame:
    """Pair-join arm of the exact operators: a self join on the
    non-equi ``cond`` scored by the JVM fold dot over precomputed
    norms. UDF-free and needs no driver state, but every candidate pair
    exists as a ROW (a broadcast nested-loop or cartesian join). Output
    ``(qid, [q_label,] nid, [n_label,] cos_sim)``."""
    q = ensure_parallelism(df).select(
        *_query_keys(id_col, label_col), _as_double(vec_col).alias("qvec")
    ).withColumn("qnorm", norm(F.col("qvec")))
    n = q.select(*[F.col(c).alias("n" + c[1:]) for c in q.columns])
    keys = q.columns[:-2]
    return q.join(n, cond).select(
        *keys,
        *["n" + c[1:] for c in keys],
        F.round(
            dot(F.col("qvec"), F.col("nvec")) / (F.col("qnorm") * F.col("nnorm")),
            round_digits,
        ).alias("cos_sim"),
    )


def _exact_cosine(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str | None,
    round_digits: int,
    broadcast_bytes: int,
    schema: str,
    select,
    cond: Column,
    finish,
) -> DataFrame:
    """The one dispatch of the exact cosine operators: the GEMM kernel
    when the bounded probe shows the corpus fits ``broadcast_bytes``,
    else ``finish`` over the pair join. Both arms give the same rows
    and rounded scores: GEMM sums partial products in SIMD/blocked
    order while the fold sums left-to-right, and the ~1 ulp between
    them is absorbed by ``round_digits`` exactly as the DuckDB oracle's
    own summation order already is (pinned by exact equality tests)."""
    if _matmul_corpus_fits(df, vec_col, broadcast_bytes):
        return _gemm_kernel(
            df, id_col, vec_col, label_col, round_digits, schema, select
        )
    return finish(_pair_join(df, id_col, vec_col, label_col, round_digits, cond))


def _select_top_k(k: int):
    """GEMM-arm selection for the top-k operators. Per query row the
    masked columns — the query itself, or every same-label column
    (self included) when the batch carries ``q_label`` — go to -inf,
    then every column with ``cos >= kth-largest cos`` is kept (ties
    INCLUDED so the id tiebreak is decided on the full tie group,
    identical to the window's (cos desc, nid asc) order), sorted,
    sliced to k."""
    import numpy as np

    def select(S, pdf, nids, labs):
        qids = pdf["qid"].to_numpy()
        qlabs = pdf["q_label"].to_numpy() if labs is not None else None
        qi, nj, rank = [], [], []
        for i in range(len(pdf)):
            masked = nids == qids[i] if labs is None else labs == qlabs[i]
            kk = min(k, len(nids) - int(masked.sum()))
            if kk <= 0:
                continue
            row = np.where(masked, -np.inf, S[i])
            kth = np.partition(row, -kk)[-kk]
            cand = np.nonzero(row >= kth)[0]
            # (cos desc, nid asc): lexsort's LAST key is primary
            order = cand[np.lexsort((nids[cand], -row[cand]))][:kk]
            qi.extend([i] * len(order))
            nj.extend(order)
            rank.extend(range(1, len(order) + 1))
        qi = np.asarray(qi, dtype=np.int64)
        nj = np.asarray(nj, dtype=np.int64)
        out = {"qid": qids[qi]}
        if labs is not None:
            out["q_label"] = qlabs[qi]
        out["nid"] = nids[nj]
        if labs is not None:
            out["n_label"] = labs[nj]
        out["cos_sim"] = S[qi, nj]
        out["rank"] = np.asarray(rank, dtype=np.int64)
        return out

    return select


def _rank_top_k(pairs: DataFrame, k: int) -> DataFrame:
    """Pair-join-arm finisher for the top-k operators."""
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    round_digits: int = 6,
    broadcast_bytes: int = 512 * 1024 * 1024,
) -> DataFrame:
    """Exact all-pairs cosine top-k neighbors per vector (self excluded).
    Ties broken by neighbor id for determinism.

    The physical arm is chosen by the byte budget (same logical result,
    pinned equal in tests):

    * the corpus fits ``broadcast_bytes`` (default 512 MB: ``rows x dim
      x 8`` must fit driver + executor memory) — the broadcast-GEMM
      kernel selects the tie-aware top-k INSIDE each Arrow batch, so
      only N x k rows ever exist as rows;
    * it does not (``broadcast_bytes=0`` forces this) — crossJoin + JVM
      fold dot + window rank. It materializes N^2 score ROWS and
      shuffles them through the per-qid window: the sort, not the
      arithmetic, dominates.

    Past the budget the honest scale path is IVF (``operators/ivf.py``)
    or sign-LSH — the brute-force N^2 itself is what stops scaling, not
    the broadcast.

    Contract: rows with NULL ids, NULL vectors, or zero-norm vectors
    are EXCLUDED (no cosine is defined for them; 0/0-NaN ordering is
    the one place the two arms could diverge).
    """
    return _exact_cosine(
        _scoreable(df, id_col, vec_col), id_col, vec_col, None,
        round_digits, broadcast_bytes,
        schema="qid {id}, nid {id}, cos_sim double, rank long",
        select=_select_top_k(k),
        cond=F.col("qid") != F.col("nid"),
        finish=lambda pairs: _rank_top_k(pairs, k),
    )


def neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    round_digits: int = 6,
    broadcast_bytes: int = 512 * 1024 * 1024,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id1 < id2, cos >= t).

    Same two arms, byte budget and NULL/zero-norm exclusion contract as
    :func:`cosine_topk`. In the GEMM arm each unordered pair is emitted
    by its SMALLER id so nothing duplicates, and only the >= t
    survivors ever exist as rows."""
    import numpy as np

    def select(S, pdf, nids, labs):
        qids = pdf["qid"].to_numpy()
        qi, nj = np.nonzero((S >= threshold) & (nids[None, :] > qids[:, None]))
        order = np.lexsort((nids[nj], qi))
        qi, nj = qi[order], nj[order]
        return {"id1": qids[qi], "id2": nids[nj], "cos_sim": S[qi, nj]}

    return _exact_cosine(
        _scoreable(df, id_col, vec_col), id_col, vec_col, None,
        round_digits, broadcast_bytes,
        schema="id1 {id}, id2 {id}, cos_sim double",
        select=select,
        cond=F.col("qid") < F.col("nid"),
        finish=lambda pairs: pairs.filter(F.col("cos_sim") >= threshold).select(
            F.col("qid").alias("id1"), F.col("nid").alias("id2"), "cos_sim"
        ),
    )


def _hyperplane(dim: int, plane: int, seed: int = 42) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane: coefficient (p,d)
    derived from a splitmix64-style integer mix — reproducible across
    runs/engines without storing planes."""
    coeffs = []
    for d in range(dim):
        z = (seed * 0x9E3779B97F4A7C15 + plane * 0xBF58476D1CE4E5B9 + d * 0x94D049BB133111EB) % (1 << 64)
        z = (z ^ (z >> 30)) * 0xBF58476D1CE4E5B9 % (1 << 64)
        z = (z ^ (z >> 27)) * 0x94D049BB133111EB % (1 << 64)
        z = z ^ (z >> 31)
        coeffs.append((z % 2000001) / 1000000.0 - 1.0)  # uniform-ish [-1, 1]
    return coeffs


def sign_lsh_bucket(vec: Column, dim: int, n_planes: int = 16, seed: int = 42) -> Column:
    """Random-hyperplane LSH bucket id: n_planes sign bits packed into a
    BIGINT. Vectors with small angle agree on most signs (SimHash for
    real vectors).

    The projection deliberately stays a zip_with/aggregate fold: a
    statically-unrolled sum was tried and is WORSE — with 64-term
    element_at chains janino fails to compile the generated method and
    the whole stage falls back to per-node interpreted eval, ~20x slower
    than the fold's tight loop. Banding cost is per-VECTOR (not per
    candidate pair), so the fold is not the operator's bottleneck."""
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = F.array(*[F.lit(c) for c in _hyperplane(dim, p, seed)])
        bit = F.when(dot(vec, plane) > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket + F.shiftleft(bit, p)
    return bucket


def _lsh_signatures_matmul(
    vecd: DataFrame,
    dim: int,
    n_planes: int,
    n_tables: int,
    with_sig: bool,
    seed: int = 42,
) -> DataFrame:
    """All ``n_tables * n_planes`` sign bits of every vector in ONE
    Arrow-batched matmul: ``bits = (X @ P.T) > 0`` with P the
    deterministic :func:`_hyperplane` matrix (row ``t*n_planes + p`` is
    table ``t``'s plane ``p`` — the same family :func:`sign_lsh_bucket`
    evaluates column-wise). Emits ``(qid, [sig,] b_0..b_{T-1})`` — the
    vectors themselves do NOT survive this stage, so the downstream
    candidate join moves scalar-only rows.

    Why not the fold: one fold-dot per (vector, plane) runs the
    higher-order lambda INTERPRETED — measured 3.3s for 2000x64 bits at
    sf0.1, ~30% of the whole query — while the batched GEMM is
    milliseconds and each row's bits are computed independently of
    batch composition (deterministic across partitionings). Same
    documented-exception class as :func:`_gemm_kernel`: Arrow
    batches, never per-row Python."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    P = np.asarray(
        [
            _hyperplane(dim, p, seed=seed + 1000 * t_)
            for t_ in range(n_tables)
            for p in range(n_planes)
        ],
        dtype=np.float64,
    )
    fields = [vecd.schema["qid"]]
    if with_sig:
        fields.append(T.StructField("sig", T.LongType()))
    fields += [T.StructField(f"b_{t_}", T.LongType()) for t_ in range(n_tables)]
    schema = T.StructType(fields)
    n_bits = n_planes * n_tables

    def hash_block(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["qvec"]]
            )
            bits = (X @ P.T) > 0  # (B, n_bits)
            cols = {"qid": pdf["qid"]}
            if with_sig:
                sig = np.zeros(len(pdf), dtype=np.int64)
                for g in range(n_bits):
                    sig |= bits[:, g].astype(np.int64) << np.int64(g)
                cols["sig"] = sig
            for t_ in range(n_tables):
                b = np.zeros(len(pdf), dtype=np.int64)
                for p in range(n_planes):
                    b |= bits[:, t_ * n_planes + p].astype(np.int64) << np.int64(p)
                cols[f"b_{t_}"] = b
            yield pd.DataFrame(cols)

    return vecd.mapInPandas(hash_block, schema)


def ann_lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
    round_digits: int = 6,
    est_hamming_frac: float | None = 0.47,
    release_into: list[DataFrame] | None = None,
) -> DataFrame:
    """Approximate top-k via MULTI-TABLE sign-LSH: ``n_tables``
    independent hash tables of ``n_planes`` sign bits each; candidates are
    the union of same-bucket pairs over all tables, then exact-cosine
    re-ranked. For neighbors at angle theta, per-table collision is
    (1-theta/pi)^n_planes and union recall 1-(1-p)^n_tables — the
    standard amplification trade (more tables = recall, more planes =
    precision). Candidate-join cost drops from O(N^2) to
    O(n_tables * sum bucket^2).

    Hamming estimator pre-filter: when all sign bits fit in 64
    (n_tables*n_planes <= 64) every vector also gets the concatenated
    bit signature as ONE long, and candidate pairs whose signature
    Hamming distance exceeds ``est_hamming_frac * n_bits`` are dropped
    BEFORE the exact dot product (E[hamming] = n_bits*theta/pi, so the
    default 0.47 keeps pairs up to theta ~ 0.47*pi ~ 85deg and discards
    the bulk of the ~90deg noise mass). bit_count(xor) is a codegen
    intrinsic — orders cheaper than the exact dot it gates. Set
    ``est_hamming_frac=None`` for pure banded recall.

    Pipeline shape (r11 rework, each stage chosen by measurement):
      1. signatures+buckets via ONE Arrow-batched matmul
         (:func:`_lsh_signatures_matmul`) — the vectors do not enter
         the candidate join, whose rows are (id, sig, tbl, bucket)
         scalars only;
      2. self equi-join on (tbl, bucket), Hamming pre-filter, THEN
         ``distinct()`` on the scalar pair — multi-table duplicates are
         eliminated BEFORE the expensive exact scoring (the r10 shape
         deduped after scoring; scalar-only rows remove the
         wide-array-shuffle objection that once made ids-first dedup
         slower);
      3. vectors + pre-computed norms re-fetched by two equi-joins
         against the persisted slim vector table (2 scans of an
         InMemoryRelation; AQE broadcasts at small SF, shuffle-joins at
         scale);
      4. exact cosine per surviving pair as ONE JVM fold-dot over the
         pre-computed norms (r14 — replaced the r11 Arrow-batched
         einsum scorer: at 1.30M pairs the per-pair JVM->Python->JVM
         Arrow round trip of 2 x dim doubles dominated the einsum's
         arithmetic win, measured 1.7-4.8s einsum vs 1.0-2.0s fold for
         the identical rounded output; IVF's scorer had the same shape
         finding), then the per-qid top-k window.
    At sf0.1 this is ~2.3x the r10 formulation (11.5s -> ~5s; the r14
    fold re-rank takes the warm query to ~2s) with byte-identical
    recall semantics (same hash family, same candidate set, same tie
    order).

    Rounding-mode note (ADVICE r14): the r14 fold re-rank rounds with
    ``F.round`` (HALF_UP), where the r11 einsum used ``np.round``
    (half-to-even) — cosines landing exactly on a representable half
    tie at ``round_digits`` round differently between those two, so
    parity with pre-r14 output is data-dependent at such ties.
    ``F.round`` matches the engine-wide SQL convention (and any SQL
    oracle); this is the intended semantics going forward."""
    vecd = (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("qid"), _as_double(vec_col).alias("qvec"))
        .withColumn("qnorm", norm(F.col("qvec")))
        .persist()
    )
    if release_into is not None:
        # caller-owned lifetime (the minhash_lsh_dedup contract) for
        # the shared slim-vector table — it feeds the signature matmul
        # AND both sides of the exact-scoring join
        release_into.append(vecd)
    n_bits = n_planes * n_tables
    with_sig = est_hamming_frac is not None and n_bits <= 64
    # project to the two columns the matmul reads — an opaque
    # mapInPandas otherwise ships (and Arrow-serializes) every column
    wide = _lsh_signatures_matmul(
        vecd.select("qid", "qvec"), dim, n_planes, n_tables, with_sig
    )
    band_structs = F.array(
        *[
            F.struct(F.lit(t_).alias("tbl"), F.col(f"b_{t_}").alias("bucket"))
            for t_ in range(n_tables)
        ]
    )
    carry = ["qid"] + (["sig"] if with_sig else [])
    hashed = wide.select(*carry, F.explode(band_structs).alias("h")).select(
        *carry, F.col("h.tbl").alias("tbl"), F.col("h.bucket").alias("bucket")
    )
    rename = {"qid": "nid", "sig": "nsig"}
    other = hashed.select(
        *[F.col(c).alias(rename[c]) for c in carry], "tbl", "bucket"
    )
    cands = hashed.join(other, ["tbl", "bucket"]).filter(
        F.col("qid") != F.col("nid")
    )
    if with_sig:
        cands = cands.filter(
            F.bit_count(F.col("sig").bitwiseXOR(F.col("nsig")))
            <= int(est_hamming_frac * n_bits)
        )
        # Canonical-occurrence filter instead of a global distinct()
        # (r15, VERDICT r14 #3): bucket b_t IS bits
        # [t*n_planes, (t+1)*n_planes) of the concatenated signature, so
        # the set of tables where a pair collides is computable per ROW
        # from sig^nsig — keep exactly the occurrence at the SMALLEST
        # agreeing table. A pure map-side filter: the pair-dedup
        # Exchange + two HashAggregates (1.3-1.6s over 1.30M pairs at
        # sf0.1, and at 100 TB a full shuffle of every candidate
        # occurrence) disappear from the plan; the surviving pair set is
        # byte-identical (every colliding pair has a unique minimal
        # matching table, and the hamming gate is a pair-level predicate
        # independent of which occurrence carries it).
        mask = (1 << n_planes) - 1
        first_tbl = F.expr(
            "CASE "
            + " ".join(
                f"WHEN (shiftrightunsigned(sig ^ nsig, {t_ * n_planes})"
                f" & {mask}) = 0 THEN {t_}"
                for t_ in range(n_tables)
            )
            + " END"
        )
        pairs = cands.filter(F.col("tbl") == first_tbl).select("qid", "nid")
    else:
        pairs = cands.select("qid", "nid").distinct()
    paired = pairs.join(vecd, "qid").join(
        vecd.select(
            F.col("qid").alias("nid"),
            F.col("qvec").alias("nvec"),
            F.col("qnorm").alias("nnorm"),
        ),
        "nid",
    )
    # Exact re-rank as ONE JVM fold-dot per pair over pre-computed norms
    # (r14; replaces the Arrow-batched einsum scorer): with the norms on
    # the persisted slim-vector table the per-pair cost is a single
    # zip_with/aggregate product fold, and the JVM->Python->JVM Arrow
    # round trip of 2 x dim doubles PER CANDIDATE PAIR disappears.
    # Measured at sf0.1 (1.30M candidate pairs, interleaved same-JVM
    # A/B, identical rounded output): einsum 1.7-4.8s vs fold 1.0-2.0s
    # for the score+window tail — the same Arrow-transfer-dominates
    # lesson as IVF's scorer (which was already fold-form), and one
    # fewer ArrowEvalPython settle state for the bench's heavy tier.
    scored = paired.select(
        "qid",
        "nid",
        F.round(
            dot(F.col("qvec"), F.col("nvec"))
            / (F.col("qnorm") * F.col("nnorm")),
            round_digits,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def rademacher_matrix(in_dim: int, out_dim: int, seed: int = 17) -> list[list[float]]:
    """Deterministic ±1 (Rademacher) projection matrix, ``out_dim`` rows
    of ``in_dim`` signs, from a seeded PRNG — the Achlioptas-style
    database-friendly Johnson-Lindenstrauss transform (signs instead of
    Gaussians: same distortion guarantees, exact float products)."""
    import random

    rng = random.Random(seed)
    return [
        [1.0 if rng.random() < 0.5 else -1.0 for _ in range(in_dim)]
        for _ in range(out_dim)
    ]


def random_projection(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_dim: int,
    seed: int = 17,
    round_digits: int | None = None,
    in_dim: int | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction of an embedding
    column: ``out = (1/sqrt(out_dim)) * R @ vec`` with a seeded ±1
    matrix. Output: (id, vec: array<double> of ``out_dim``).

    The standard pre-ANN compression step at corpus scale — pairwise
    distances are preserved within (1±eps) for out_dim ~ O(log N / eps²),
    so scans, shuffles, and dot products shrink by in_dim/out_dim. A pure
    per-row projection (the matrix rides the plan as a literal, same
    pattern as IVF's ``_cell_ranking``): no shuffle, no UDF,
    deterministic sequential folds.

    Operating-point caveat (measured on the synthetic corpus): JL
    guarantees DISTANCES, not ranks — top-k neighbor identity survives
    only when the neighbor/noise margin exceeds eps. This corpus's weak
    margins (exact top-5 at cos~0.37 vs ~0.30 noise — the same property
    documented on ``ann_lsh_topk``) are below eps at out_dim 16-32
    (recall@5 0.10-0.18), so size ``out_dim`` to the margin YOUR corpus
    has — ``recommend_out_dim`` below estimates that margin from a
    bounded sample and does the sizing arithmetic, including telling you
    when the corpus is NOT compressible at your target dim; the
    distortion bound itself is pinned in tests either way.
    """
    # the PRNG stream depends on in_dim, so callers with a schema-fixed
    # width should pass it explicitly (skips the bounded inference job
    # AND pins the matrix independent of the data)
    rows = rademacher_matrix(in_dim or _infer_dim(df, vec_col), out_dim, seed)
    scale = 1.0 / (out_dim ** 0.5)
    # one parsed SQL string instead of out_dim x in_dim F.lit py4j round
    # trips (r14, the ivf._cell_ranking fix): +/-1.0D literals are exact,
    # and the 1,024-call construction was most of this query's
    # non-execution wall at the bench SF
    mat = F.expr(
        "array("
        + ", ".join(
            "array(" + ", ".join(double_literal(v) for v in row) + ")"
            for row in rows
        )
        + ")"
    )
    proj = F.transform(
        F.sequence(F.lit(1), F.lit(out_dim)),
        lambda j: dot(_as_double(vec_col), F.element_at(mat, j)) * F.lit(scale),
    )
    if round_digits is not None:
        proj = F.transform(proj, lambda x: F.round(x, round_digits))
    return df.select(F.col(id_col).alias("id"), proj.alias("vec"))


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding width from the first row (bounded action; the engine's
    tables carry fixed-width vectors)."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None or row.d is None or row.d <= 0:
        raise ValueError(f"cannot infer vector dim from empty {vec_col!r}")
    return row.d


def recommend_out_dim(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    sample_rows: int = 256,
    seed: int = 17,
    survival_prob: float = 0.9,
    min_margin: float = 0.01,
) -> dict:
    """Margin-aware ``out_dim`` sizing for ``random_projection`` — the
    guard against the documented foot-gun of shipping a JL dim the
    corpus's neighbor structure cannot survive.

    Estimates the top-k NEIGHBOR/NOISE MARGIN on a bounded deterministic
    sample (``sample_rows`` vectors in ``xxhash64(id, seed)`` order —
    the same bounded-collect legitimacy as ``ivf.kmeans_fit``): for each
    sampled vector, margin_i = (its k-th-highest cosine within the
    sample) − (the 90th percentile of its sims beyond rank 2k); the
    corpus margin is the median margin_i. Sub-sampling biases the k-th
    sim DOWN (the sample's neighbors are weaker than the corpus's), so
    the margin — and therefore the recommendation — is conservative.

    Sizing model: for unit vectors, the Rademacher-JL error on one
    cosine has variance ≤ 2/out_dim, so the neighbor-vs-noise DIFFERENCE
    (two sims sharing the query) has variance ≤ 4/out_dim; a neighbor
    survives when that error stays under the margin, giving
    ``out_dim = ceil((2·z_p / margin)²)`` with ``z_p`` the normal
    quantile of ``survival_prob``. A margin of 0.9 at p=0.9 needs ~9
    dims; 0.3 needs ~73; this synthetic corpus's ~0.05-0.07 needs more
    dims than it HAS — which is exactly what the caller must find out
    before shipping, not after.

    Returns ``{"out_dim", "margin", "in_dim", "sampled",
    "compressible"}``; ``compressible`` is False (and ``out_dim`` is
    clamped to ``in_dim``) when the margin is below ``min_margin`` or
    the recommended dim is not smaller than the input dim.
    """
    import numpy as np
    from statistics import NormalDist

    sample = (
        df.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col("id"), F.lit(seed)), F.col("id"))
        .limit(sample_rows)
        .collect()
    )
    X = np.asarray([r.v for r in sample], dtype=np.float64)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    # zero vectors have no direction: keeping them would inject NaN sims
    # (NaN margin silently fails the < min_margin check, then ceil(NaN)
    # raises an opaque ValueError downstream) — drop them from the sample
    nonzero = norms[:, 0] > 0.0
    X, norms = X[nonzero], norms[nonzero]
    n, in_dim = X.shape
    if n < 2 * k + 2:
        dropped = int((~nonzero).sum())
        raise ValueError(
            f"need at least {2 * k + 2} non-zero rows to estimate a margin "
            f"(got {n} after dropping {dropped} zero-norm vector(s))"
        )
    Xn = X / norms
    sims = Xn @ Xn.T
    np.fill_diagonal(sims, -np.inf)
    ordered = -np.sort(-sims, axis=1)  # each row desc, self excluded
    margins = ordered[:, k - 1] - np.quantile(ordered[:, 2 * k:-1], 0.9, axis=1)
    margin = float(np.median(margins))
    z = NormalDist().inv_cdf(survival_prob)
    if margin < min_margin:
        return {"out_dim": in_dim, "margin": round(margin, 6),
                "in_dim": in_dim, "sampled": n, "compressible": False}
    rec = int(np.ceil((2.0 * z / margin) ** 2))
    compressible = rec < in_dim
    return {
        "out_dim": rec if compressible else in_dim,
        "margin": round(margin, 6),
        "in_dim": in_dim,
        "sampled": n,
        "compressible": compressible,
    }


def mmr_rerank(
    candidates: DataFrame,
    qid_col: str,
    cand_col: str,
    rel_col: str,
    vec_col: str,
    k: int = 10,
    lam: float = 0.7,
    round_digits: int = 6,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): from each query's candidate pool, greedily select ``k``
    results balancing relevance against redundancy —

        mmr(i) = lam * rel(i) - (1 - lam) * max_{j selected} cos(i, j)

    — the standard diversity post-step after a first-stage retriever
    (BM25 / ANN / cosine top-N).

    Greedy selection is inherently SEQUENTIAL per query, so this is an
    honest ``applyInPandas``: one shuffle on qid, then each group runs
    the k-step loop over its own pool with numpy (cosine matrix built
    once per group). The scale contract is the caller's pool bound —
    feed top-N candidates per query (N ~ 10-100x k from the first
    stage), NOT the whole corpus: state per group is pool x d floats.
    First pick = highest relevance; ties at every step break to the
    smallest candidate id, so output is deterministic under any
    partitioning.

    Output: ``(qid, cand, mmr_rank long, mmr_score double)`` —
    mmr_score is the value at selection time (rank 1's score is
    ``lam * rel`` by convention, applying the lam weight uniformly).
    """
    import numpy as np
    import pandas as pd

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")

    base = candidates.filter(
        F.col(qid_col).isNotNull()
        & F.col(cand_col).isNotNull()
        & F.col(vec_col).isNotNull()
        & F.col(rel_col).isNotNull()
    ).select(
        F.col(qid_col).alias("__qid"),
        F.col(cand_col).alias("__cand"),
        F.col(rel_col).cast("double").alias("__rel"),
        _as_double(vec_col).alias("__vec"),
    )
    qid_t = base.schema["__qid"].dataType.simpleString()
    cand_t = base.schema["__cand"].dataType.simpleString()
    out_schema = (
        f"qid {qid_t}, cand {cand_t}, mmr_rank long, mmr_score double"
    )

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__cand").reset_index(drop=True)
        X = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["__vec"]]
        )
        rel = pdf["__rel"].to_numpy(dtype=np.float64)
        n = len(pdf)
        norms = np.sqrt((X * X).sum(axis=1))
        norms[norms == 0] = 1.0  # zero vectors: cosine treated as 0
        S = (X @ X.T) / np.outer(norms, norms)
        picked: list[int] = []
        scores: list[float] = []
        avail = np.ones(n, dtype=bool)
        for _ in range(min(k, n)):
            if picked:
                red = S[:, picked].max(axis=1)
            else:
                red = np.zeros(n)
            mmr = lam * rel - (1.0 - lam) * red
            mmr_avail = np.where(avail, mmr, -np.inf)
            best = int(np.argmax(mmr_avail))  # argmax = lowest index tie
            picked.append(best)
            scores.append(float(mmr_avail[best]))
            avail[best] = False
        # HALF-AWAY rounding (the engine-wide F.round / SQL convention),
        # NOT np.round's half-even: rank-1 scores are 0.7 * (a 6-decimal
        # rel), which lands the scaled value exactly on .5 whenever
        # rel's last digit is 5 — np.round would flip those down on even
        # and break cross-engine parity (caught by the r12 MMR oracle)
        arr = np.asarray(scores)
        scale = 10.0 ** round_digits
        rounded = np.floor(np.abs(arr) * scale + 0.5) * np.sign(arr) / scale
        return pd.DataFrame(
            {
                "qid": pdf["__qid"].iloc[picked].to_numpy(),
                "cand": pdf["__cand"].iloc[picked].to_numpy(),
                "mmr_rank": np.arange(1, len(picked) + 1, dtype=np.int64),
                "mmr_score": rounded,
            }
        )

    return base.groupBy("__qid").applyInPandas(rerank, schema=out_schema)


def hard_negative_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 3,
    round_digits: int = 6,
    broadcast_bytes: int = 512 * 1024 * 1024,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every vector,
    the ``k`` most cosine-similar vectors carrying a DIFFERENT label —
    the negatives that actually move a contrastive loss (random
    negatives are trivially separable; the informative ones sit just
    across the class boundary). Ties break by neighbor id.

    Same two arms and byte budget as :func:`cosine_topk`, same logical
    result (pinned equal in tests): the GEMM arm masks SAME-label
    columns per query row inside the per-batch GEMM — only N x k rows
    ever exist, no pair join in the plan at all; past the budget the
    label-inequality self-join + window plans a broadcast nested-loop
    PAIR EXPLOSION and is therefore for bounded corpora / per-shard use
    only (it is deliberately NOT the registered query's plan — the plan
    gate's zero-pair-join rule). Past the broadcast budget, mine within
    ANN candidates (IVF/sign-LSH top-m, then the different-label filter
    + re-rank) and validate against this exact operator.

    NULL ids/vectors/labels and zero-norm vectors are excluded by the
    similarity contract. Output: (qid, q_label, nid, n_label, cos_sim,
    rank).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    return _exact_cosine(
        _scoreable(df, id_col, vec_col).filter(F.col(label_col).isNotNull()),
        id_col, vec_col, label_col, round_digits, broadcast_bytes,
        schema=(
            "qid {id}, q_label {label}, nid {id}, n_label {label}, "
            "cos_sim double, rank long"
        ),
        select=_select_top_k(k),
        cond=F.col("q_label") != F.col("n_label"),
        finish=lambda pairs: _rank_top_k(pairs, k),
    )
