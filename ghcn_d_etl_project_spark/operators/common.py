"""Shared operator utilities."""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def double_literal(v: float) -> str:
    """SQL text of one exact DOUBLE literal for parsed-string plan
    construction (the r14 expr-string rule): shortest-repr D-suffixed
    for finite values (``repr`` round-trips IEEE doubles exactly), and
    explicit casts for the non-finite values ``f'{v!r}D'`` would render
    as the unparseable ``infD``/``nanD`` (ADVICE r14: a data-dependent
    crash for degenerate centroids/components)."""
    v = float(v)
    if math.isfinite(v):
        return f"{v!r}D"
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    return f"CAST('{'Infinity' if v > 0 else '-Infinity'}' AS DOUBLE)"


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition iff the input is under-partitioned for the cluster.

    Expression-heavy operators (minhash signatures, all-pairs cosine) are
    CPU-bound maps/joins: a single-file local scan gives them ONE input
    partition and therefore one core, regardless of cluster size. On a
    real 100 TB layout the scan arrives in thousands of splits and this
    is a no-op (file count >= parallelism → returned unchanged);
    it only pays one narrow shuffle when the source is pathologically
    under-split relative to the session's default parallelism.

    The under-split probe uses ``df.inputFiles()`` (a metadata walk) rather
    than ``df.rdd.getNumPartitions()`` — the RDD conversion forces a full
    physical re-plan per call, which dominates small-SF driver runs. File
    count under-counts partitions for one giant splittable file, but that
    shape doesn't occur in either regime we care about (test data: small
    single files; 100 TB layouts: many files).
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file-backed plan (e.g. createDataFrame input)
        return df
    if 0 < n_files < target:
        return df.repartition(target)
    return df


def hash_split_bucket(id_col: Column | str, n_buckets: int = 100) -> Column:
    """Deterministic, engine-portable split bucket in [0, n_buckets).

    The reproducible train/val/test assignment primitive: bucket is
    derived from the md5 of the STRING form of the id, so the same row
    lands in the same split on any engine, any partitioning, any run —
    unlike ``randomSplit`` (partition-order-sensitive) or engine-native
    hashes (xxhash64 seeds differ across engines). Only the first 4 hex
    chars feed the modulus (16 bits is plenty for percent-grain splits)
    because that keeps the SQL-oracle twin a one-liner.
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    hex4 = F.substring(F.md5(c.cast("string")), 1, 4)
    return (F.conv(hex4, 16, 10).cast("long") % n_buckets).alias("bucket")


def stratified_keep(
    id_col: Column | str,
    stratum_col: Column | str,
    fractions: dict[str, float],
    salt: str = "sample",
    n_buckets: int = 100,
) -> Column:
    """Engine-portable per-stratum sampling keep-flag (BIGINT 0/1).

    Keeps a row iff its salted md5 bucket falls below
    ``fraction[stratum] * n_buckets`` — the deterministic replacement for
    ``DataFrame.sampleBy`` (whose Bernoulli draws come from Spark's seeded
    XORShift and are irreproducible on any other engine or even across
    Spark partitionings). Strata absent from ``fractions`` get fraction 0,
    matching sampleBy. The salt decorrelates the sampling decision from
    ``hash_split_bucket``'s split assignment on the same id. Granularity
    is 1/n_buckets; no shuffle — each task evaluates its own rows.

    NULL ids are coalesced to '' before salting so the keep-flag is
    always 0/1, never NULL — and so Spark (NULL-propagating ``concat``)
    and DuckDB (NULL-skipping ``concat``) agree: both hash ':salt' for a
    NULL id. Without the coalesce the two engines' oracles diverge on
    NULL ids (Spark → NULL, DuckDB → 0/1).
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    s = F.col(stratum_col) if isinstance(stratum_col, str) else stratum_col
    id_str = F.coalesce(c.cast("string"), F.lit(""))
    bucket = hash_split_bucket(F.concat(id_str, F.lit(":" + salt)), n_buckets)
    thr: Column | None = None
    for stratum, frac in fractions.items():
        t = F.lit(int(round(frac * n_buckets)))
        thr = F.when(s == stratum, t) if thr is None else thr.when(s == stratum, t)
    threshold = F.lit(0) if thr is None else thr.otherwise(F.lit(0))
    return (bucket < threshold).cast("bigint")


def dataset_split(
    id_col: Column | str,
    train_pct: int = 80,
    val_pct: int = 10,
) -> Column:
    """'train' / 'val' / 'test' label from ``hash_split_bucket`` —
    disjoint, exhaustive, and stable under any reshuffle or re-run."""
    b = hash_split_bucket(id_col)
    return (
        F.when(b < train_pct, "train")
        .when(b < train_pct + val_pct, "val")
        .otherwise("test")
    )


def keyset_page(
    df: DataFrame,
    key_cols: list[str],
    after: tuple | None = None,
    n: int = 1000,
) -> DataFrame:
    """Cursor (keyset) pagination: the next ``n`` rows strictly after the
    composite key ``after`` in ``key_cols`` lexicographic order.

    The scale-correct replacement for the reference's LIMIT/OFFSET batch
    loop (``spark_utils.py:58-84``, SURVEY §4 anti-pattern): OFFSET must
    compute and DISCARD every preceding row on every page — O(pages x
    rows) total work and non-deterministic without a sort — while a
    keyset cursor is one pruned scan per page: the strictly-increasing
    key predicate PUSHES DOWN to the parquet scan (row groups before the
    cursor are skipped via min/max stats) and ``orderBy + limit`` plans
    TakeOrderedAndProject (per-partition top-n, driver merge — no full
    sort shuffle). ``key_cols`` must be a total order (unique composite,
    NO NULLs) for gap-free, overlap-free pages; pass the last row of one
    page as ``after`` to get the next.

    NULL keys break cursor semantics silently (they sort first on the
    cursorless page, then a NULL cursor element makes the strict-after
    predicate NULL-out every row — the chain truncates): NULL-keyed rows
    are excluded from paging, and a NULL cursor element raises.
    """
    pred = None
    for k in key_cols:
        clause = F.col(k).isNotNull()
        pred = clause if pred is None else pred & clause
    out = df.filter(pred)
    if after is not None:
        if len(after) != len(key_cols):
            raise ValueError(
                f"cursor arity {len(after)} != key arity {len(key_cols)}"
            )
        if any(v is None for v in after):
            raise ValueError(f"NULL cursor element in {after!r}")
        # lexicographic strict-after: (k1 > a1) OR (k1 = a1 AND k2 > a2) ...
        pred = None
        for i in range(len(key_cols)):
            clause = F.col(key_cols[i]) > F.lit(after[i])
            for j in range(i):
                clause = clause & (F.col(key_cols[j]) == F.lit(after[j]))
            pred = clause if pred is None else pred | clause
        out = out.filter(pred)
    return out.orderBy(*key_cols).limit(n)


def weighted_sample_key(
    id_col: Column | str, weight_col: Column | str, salt: str = "espick"
) -> Column:
    """Efraimidis-Spirakis weighted-sampling key: ``ln(u) / w``.

    Taking the global top-k rows by this key DESC draws a weighted sample
    WITHOUT replacement where each row's inclusion probability is
    proportional to ``w`` (Efraimidis & Spirakis 2006, "Weighted random
    sampling with a reservoir" — their key is ``u^(1/w)``; ``ln(u)/w`` is
    the same ordering under the monotone ``ln``, without the pow).

    ``u`` is the engine-portable md5-derived uniform in (0,1) — 13 hex
    chars = 52 bits, exactly representable in a double — salted so the
    draw decorrelates from ``hash_split_bucket``/``stratified_keep`` on
    the same id (same portability rationale as those: Spark's RNG draws
    are partition-order-sensitive and irreproducible elsewhere; this key
    is a pure projection any engine reproduces bit-for-bit). Weights
    must be strictly positive — a NULL or ``w <= 0`` weight RAISES at
    execution time (``ln(u)/w`` would otherwise flip sign or null out,
    and the top-k downstream would silently rank the row first or drop
    it — a skewed sample with no error). Callers with dirty weights
    should clamp (``greatest(w, 1)``) or pre-filter explicitly.
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    id_str = F.coalesce(c.cast("string"), F.lit(""))
    hex13 = F.substring(F.md5(F.concat(id_str, F.lit(":" + salt))), 1, 13)
    u = (F.conv(hex13, 16, 10).cast("double") + F.lit(0.5)) / F.lit(
        float(1 << 52)
    )
    return F.when(
        w.isNull() | (w <= 0),
        F.raise_error(
            F.concat(
                F.lit("weighted_sample_key: non-positive or NULL weight "),
                F.coalesce(w.cast("string"), F.lit("NULL")),
                F.lit(" — clamp with greatest(w, 1) or pre-filter"),
            )
        ),
    ).otherwise(F.log(u) / w)


def weighted_top_k(
    df: DataFrame,
    id_col: str,
    weight_col: Column | str,
    k: int,
    salt: str = "espick",
    key_out: str = "es_key",
) -> DataFrame:
    """Weighted sample of ``k`` rows without replacement: global top-k by
    the Efraimidis-Spirakis key (ties broken by id for determinism).

    Scale shape: ``orderBy(...).limit(k)`` plans TakeOrderedAndProject —
    each task keeps its local top-k and the driver merges k*tasks rows;
    no global sort shuffle ever materializes. The selection is stable
    under repartitioning and re-runs because the key depends only on
    (id, salt, weight)."""
    keyed = df.withColumn(key_out, weighted_sample_key(id_col, weight_col, salt))
    return keyed.orderBy(F.col(key_out).desc(), F.col(id_col)).limit(k)


def stratified_fixed_n(
    df: DataFrame,
    strata_cols: list[str] | str,
    id_col: str,
    n: int,
    salt: str = "stratan",
) -> DataFrame:
    """Exactly-n-per-stratum sample (or the whole stratum when smaller)
    — the equal-allocation draw behind balanced eval sets and per-class
    spot-check queues, where the FRACTION samplers (``stratified_keep``)
    can't promise a count.

    Selection order inside each stratum is the md5 of the salted id —
    deterministic and engine-portable like every sampler here (same
    rows win on any engine/partitioning/run; ``salt`` decorrelates this
    draw from the split/sample buckets on the same id), with the raw id
    as the final tiebreak so duplicate hashes can't make the cut
    ambiguous. One shuffle on the strata + a per-stratum sort
    (row_number window); n is a constant, so the per-partition state of
    the rank scan is O(1) — at 100 TB this is the same shape as any
    rank-and-filter top-k per group.
    """
    if n < 1:
        raise ValueError("need n >= 1")
    strata = [strata_cols] if isinstance(strata_cols, str) else list(strata_cols)
    draw = F.md5(
        F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
    )
    w = Window.partitionBy(*strata).orderBy(draw, F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n)
        .drop("__rn")
    )


# Poisson(1) CDF at k = 0..8 — the inverse-CDF thresholds the online
# bootstrap draws weights through. Computed once from math so the SQL
# oracle twin can restate the EXACT same double literals via repr().
def _poisson1_cdf(max_k: int = 8) -> tuple[float, ...]:
    import math

    acc, out, term = 0.0, [], math.exp(-1.0)
    for k in range(max_k + 1):
        if k > 0:
            term /= k
        acc += term
        out.append(acc)
    return tuple(out)


POISSON1_CDF: tuple[float, ...] = _poisson1_cdf()


def bootstrap_uniform(id_col: Column | str, salt: str) -> Column:
    """Deterministic uniform in [0, 1) from the house md5 recipe: first
    8 hex chars (32 bits) of ``md5(id || ':' || salt)`` over 2^32 —
    exact in double, identical on any engine/partitioning/run (the
    ``hash_split_bucket`` convention, widened from 16 to 32 bits for
    resampling-grade resolution)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    id_str = F.coalesce(c.cast("string"), F.lit(""))
    hex8 = F.substring(F.md5(F.concat(id_str, F.lit(":" + salt))), 1, 8)
    return F.conv(hex8, 16, 10).cast("long") / F.lit(4294967296.0)


def poisson_weight(u: Column) -> Column:
    """Poisson(1) draw by inverse CDF over a uniform: the count of CDF
    thresholds at or below ``u`` (0..9, the tail past k=8 truncated —
    P ~ 1.1e-7, and truncation is part of the pinned recipe both
    engines state identically)."""
    w: Column | None = None
    for f_k in POISSON1_CDF:
        ind = (u >= F.lit(f_k)).cast("int")
        w = ind if w is None else w + ind
    return w


def poisson_bootstrap_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    group_cols: list[str] | None = None,
    replicates: int = 24,
    alpha: float = 0.05,
    scale: int = 2,
    salt: str = "boot",
    round_digits: int = 6,
) -> DataFrame:
    """Percentile-bootstrap confidence interval for the per-group MEAN
    of ``value_col`` — uncertainty quantification that needs no
    distributional assumption and, crucially, no resampling pass over
    the data: the ONLINE (Poisson) bootstrap [Oza & Russell 2001;
    Chamandy et al. 2012, "Estimating Uncertainty for Massive Data
    Streams"]. Each row contributes to replicate ``b`` with weight
    ``Poisson(1)`` instead of being multinomially redrawn — at 100 TB
    a true resample is B full shuffles; this is ZERO extra passes.

    Determinism (what makes a *bootstrap* value-hashable cross-engine):
    the Poisson draw for (row, replicate) is the inverse CDF of the
    md5-derived 32-bit uniform of ``id:salt:b`` — replayable on any
    engine, any partitioning, any run, like every sampler in this
    module. Weighted sums accumulate exactly (DECIMAL via the house
    quantization; weights are small ints), so each replicate mean is
    ONE double division and the whole CI reproduces bit-for-bit.

    Scale shape (r11 form): explode each row to its B+1 replicate
    memberships (index -1 is the unweighted base pass), ONE groupBy on
    (group, replicate) — map-side combined, so the shuffle carries
    (groups x B) aggregate rows, never data — then a second tiny
    aggregate collapses the B replicate means into the sorted array
    the percentile interpolation reads. Total work is identical to
    the previous 2B+2-wide single aggregate (each row still computes
    B md5 draws), but the expression tree is CONSTANT-sized: the wide
    form at B=24 built a ~500-node tree whose analysis/codegen cost
    ~9s of wall per run at ANY data size — a plan-compile bottleneck,
    not an execution one. Production raises ``replicates`` into the
    hundreds by widening the explode range, never the plan.

    CI: percentile interpolation over the sorted replicate means at
    ``alpha/2`` and ``1 - alpha/2`` (linear between order statistics).
    NULL bounds when any replicate drew zero total weight (tiny
    groups) — the honest posture, not a silently-degenerate interval.
    NULL values/ids are excluded (NULL id would alias all such rows to
    one resample unit).
    """
    if replicates < 2:
        raise ValueError(f"replicates must be >= 2, got {replicates}")
    if not 0 < alpha < 1:
        raise ValueError(f"alpha must be in (0,1), got {alpha}")
    groups = list(group_cols or [])
    x = F.col(value_col)
    xd = x.cast(f"decimal(24,{scale})")
    base = df.filter(x.isNotNull() & F.col(id_col).isNotNull())
    # Replicate membership as DATA, not as plan width: __b = -1 is the
    # unweighted base pass; 0..B-1 draw the identical md5 weight the
    # wide form drew (same "id:salt:b" string, built columnar).
    id_str = F.coalesce(F.col(id_col).cast("string"), F.lit(""))
    expl = base.select(
        *groups,
        id_str.alias("__id"),
        xd.alias("__xd"),
        F.explode(F.sequence(F.lit(-1), F.lit(replicates - 1))).alias("__b"),
    )
    hex8 = F.substring(
        F.md5(
            F.concat(
                F.col("__id"), F.lit(":" + salt + ":"), F.col("__b").cast("string")
            )
        ),
        1,
        8,
    )
    u = F.conv(hex8, 16, 10).cast("long") / F.lit(4294967296.0)
    w = F.when(F.col("__b") == -1, F.lit(1)).otherwise(poisson_weight(u))
    per_rep = (
        expl.select(*groups, "__b", w.alias("__w"), "__xd")
        .groupBy(*groups, "__b")
        .agg(
            F.sum(F.col("__w") * F.col("__xd")).alias("__s"),
            F.coalesce(F.sum("__w"), F.lit(0)).cast("long").alias("__nb"),
        )
    )
    mean_b = F.when(
        F.col("__nb") > 0,
        F.col("__s").cast("double") / F.col("__nb").cast("double"),
    )
    stats = per_rep.groupBy(*groups).agg(
        F.max(F.when(F.col("__b") == -1, F.col("__nb"))).alias("n"),
        F.max(F.when(F.col("__b") == -1, F.col("__s"))).alias("__sx"),
        F.array_sort(
            F.collect_list(F.when(F.col("__b") >= 0, mean_b))
        ).alias("__arr"),
        F.min(F.when(F.col("__b") >= 0, F.col("__nb"))).alias("__minw"),
    )
    arr = F.col("__arr")

    def interp(p: float) -> Column:
        i = p * (replicates - 1)
        lo, frac = int(i), i - int(i)
        lo_el = F.element_at(arr, lo + 1)
        if lo + 1 >= replicates:
            return lo_el
        hi_el = F.element_at(arr, lo + 2)
        return lo_el + (hi_el - lo_el) * F.lit(frac)

    ok = F.col("__minw") > 0
    return stats.select(
        *groups,
        F.col("n").cast("long").alias("n"),
        F.round(F.col("__sx").cast("double") / F.col("n"), round_digits).alias(
            "point_est"
        ),
        F.when(ok, F.round(interp(alpha / 2), round_digits)).alias("ci_lo"),
        F.when(ok, F.round(interp(1 - alpha / 2), round_digits)).alias("ci_hi"),
        F.lit(replicates).cast("long").alias("replicates"),
    )


def poisson_bootstrap_diff_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    arm_col: str,
    arm_a,
    arm_b,
    replicates: int = 24,
    alpha: float = 0.05,
    scale: int = 2,
    salt: str = "boot",
    round_digits: int = 6,
) -> DataFrame:
    """Percentile-bootstrap CI for the DIFFERENCE in means between two
    arms — the uplift readout an experiment actually ships on.
    :func:`poisson_bootstrap_ci` answers "how uncertain is this arm's
    mean"; this answers "how uncertain is A minus B", which is NOT the
    difference of the per-arm intervals (the arms' replicate draws are
    independent by id, and the quantile of a difference needs the JOINT
    replicate: diff_b = mean_A,b - mean_B,b, then percentiles of the B
    diffs).

    Same determinism as the one-arm form, and the same r11 scale shape
    (see there): replicate membership rides an explode (index -1 = the
    unweighted base pass), the per-(replicate, arm) sums collapse in
    ONE map-side-combined groupBy on the replicate index, and a second
    tiny aggregate sorts the B joint diffs for interpolation — a
    constant-size expression tree instead of the previous 4B+6-wide
    aggregate whose analysis/codegen cost ~10s of wall at B=24
    regardless of data size. A significant uplift reads directly: the
    CI excludes 0. NULL bounds when any replicate draws zero total
    weight in either arm; rows with NULL value/id or an arm other than
    ``arm_a``/``arm_b`` are excluded.
    """
    if replicates < 2:
        raise ValueError(f"replicates must be >= 2, got {replicates}")
    if not 0 < alpha < 1:
        raise ValueError(f"alpha must be in (0,1), got {alpha}")
    arm = F.col(arm_col)
    x = F.col(value_col)
    xd = x.cast(f"decimal(24,{scale})")
    base = df.filter(
        x.isNotNull() & F.col(id_col).isNotNull() & arm.isin(arm_a, arm_b)
    )
    id_str = F.coalesce(F.col(id_col).cast("string"), F.lit(""))
    expl = base.select(
        (arm == arm_a).alias("__ia"),
        id_str.alias("__id"),
        xd.alias("__xd"),
        F.explode(F.sequence(F.lit(-1), F.lit(replicates - 1))).alias("__b"),
    )
    hex8 = F.substring(
        F.md5(
            F.concat(
                F.col("__id"), F.lit(":" + salt + ":"), F.col("__b").cast("string")
            )
        ),
        1,
        8,
    )
    u = F.conv(hex8, 16, 10).cast("long") / F.lit(4294967296.0)
    w = F.when(F.col("__b") == -1, F.lit(1)).otherwise(poisson_weight(u))
    ia = F.col("__ia")
    per_rep = (
        expl.select("__ia", "__b", w.alias("__w"), "__xd")
        .groupBy("__b")
        .agg(
            F.sum(F.when(ia, F.col("__w") * F.col("__xd"))).alias("__sa"),
            F.coalesce(F.sum(F.when(ia, F.col("__w"))), F.lit(0))
            .cast("long")
            .alias("__na"),
            F.sum(F.when(~ia, F.col("__w") * F.col("__xd"))).alias("__sb"),
            F.coalesce(F.sum(F.when(~ia, F.col("__w"))), F.lit(0))
            .cast("long")
            .alias("__nb"),
        )
    )
    diff_b = F.when(
        (F.col("__na") > 0) & (F.col("__nb") > 0),
        F.col("__sa").cast("double") / F.col("__na").cast("double")
        - F.col("__sb").cast("double") / F.col("__nb").cast("double"),
    )
    is_base = F.col("__b") == -1
    stats = per_rep.agg(
        F.max(F.when(is_base, F.col("__na"))).cast("long").alias("n_a"),
        F.max(F.when(is_base, F.col("__nb"))).cast("long").alias("n_b"),
        F.max(F.when(is_base, F.col("__sa"))).alias("__sxa"),
        F.max(F.when(is_base, F.col("__sb"))).alias("__sxb"),
        F.array_sort(
            F.collect_list(F.when(F.col("__b") >= 0, diff_b))
        ).alias("__arr"),
        F.min(
            F.when(F.col("__b") >= 0, F.least(F.col("__na"), F.col("__nb")))
        ).alias("__minw"),
    )
    arr = F.col("__arr")

    def interp(p: float) -> Column:
        i = p * (replicates - 1)
        lo, frac = int(i), i - int(i)
        lo_el = F.element_at(arr, lo + 1)
        if lo + 1 >= replicates:
            return lo_el
        hi_el = F.element_at(arr, lo + 2)
        return lo_el + (hi_el - lo_el) * F.lit(frac)

    ok = F.col("__minw") > 0
    mean_a = F.col("__sxa").cast("double") / F.col("n_a").cast("double")
    mean_b = F.col("__sxb").cast("double") / F.col("n_b").cast("double")
    return stats.select(
        "n_a",
        "n_b",
        F.round(mean_a, round_digits).alias("mean_a"),
        F.round(mean_b, round_digits).alias("mean_b"),
        F.round(mean_a - mean_b, round_digits).alias("diff"),
        F.when(ok, F.round(interp(alpha / 2), round_digits)).alias("ci_lo"),
        F.when(ok, F.round(interp(1 - alpha / 2), round_digits)).alias("ci_hi"),
        F.lit(replicates).cast("long").alias("replicates"),
    )


def temperature_mix(
    df: DataFrame,
    domain_col: str,
    weight_col: str,
    id_col: str,
    target_total: int,
    temperature: float = 1.0,
    n_buckets: int = 10_000,
    salt: str = "mix",
    round_digits: int = 6,
) -> DataFrame:
    """Temperature-smoothed domain mixing — the pre-training data-mix
    step: given per-domain sizes ``c_d`` (tokens, chars, docs — any
    additive weight), sample each domain at the rate that hits a total
    budget under the mixture ``p_d ∝ c_d^T``. ``T=1`` keeps natural
    proportions, ``T=0`` equalizes domains, the usual ``T≈0.5-0.7``
    upsamples the tail without drowning the head [multilingual-mix
    convention, Conneau & Lample 2019].

    Scale shape: ONE per-domain aggregate (map-side combined, |domains|
    rows), driver-free rate computation on that tiny frame, broadcast
    join back, and the keep decision is the house md5 bucket per row —
    no shuffle of the fact, no sampling pass, deterministic on any
    engine/partitioning/re-run (``stratified_keep``'s contract, with a
    finer 1/n_buckets rate grain and a DATA-DERIVED rate instead of a
    caller-supplied one).

    Cross-engine parity: ``c_d`` are exact BIGINTs; the smoothed terms
    ``c_d^T`` are doubles QUANTIZED to DECIMAL(28,12) before the
    normalizing sum (float addition order would otherwise leak into
    every share); rates are single double expressions; the keep
    threshold is ``floor(rate * n_buckets)`` compared against the md5
    bucket. Domains larger than their target get ``rate < 1``
    (downsampled); smaller ones cap at ``rate = 1`` — this operator
    never duplicates rows, so an under-budget mix under-delivers
    rather than silently repeating data (epoch-level upsampling is the
    trainer's job; the ``mix_share`` column says what it should be).

    Output: one row per input row — (id, domain, weight, mix_share,
    rate, keep 0/1). NULL ids/domains/weights are excluded.
    """
    if target_total <= 0:
        raise ValueError(f"target_total must be > 0, got {target_total}")
    if temperature < 0:
        raise ValueError(f"temperature must be >= 0, got {temperature}")
    dom = F.col(domain_col)
    w = F.col(weight_col).cast("long")
    base = df.filter(
        dom.isNotNull() & w.isNotNull() & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).alias("id"), dom.alias("domain"), w.alias("weight")
    )
    per_dom = base.groupBy("domain").agg(
        F.sum("weight").cast("long").alias("__c")
    )
    term = F.pow(F.col("__c").cast("double"), F.lit(float(temperature))).cast(
        "decimal(28,12)"
    )
    terms = per_dom.select("domain", "__c", term.alias("__t"))
    total = terms.agg(
        F.sum("__t").alias("__tt")
    ).select(F.col("__tt").alias("__t_total"))
    share = F.col("__t").cast("double") / F.col("__t_total").cast("double")
    rate = F.least(
        F.lit(1.0),
        share * F.lit(float(target_total)) / F.col("__c").cast("double"),
    )
    plan = terms.crossJoin(F.broadcast(total)).select(
        "domain",
        F.round(share, round_digits).alias("mix_share"),
        F.round(rate, round_digits).alias("rate"),
        F.floor(rate * F.lit(n_buckets)).cast("long").alias("__thr"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("id").cast("string"), F.lit(":" + salt))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % n_buckets
    )
    return base.join(F.broadcast(plan), "domain").select(
        "id",
        "domain",
        "weight",
        "mix_share",
        "rate",
        (bucket < F.col("__thr")).cast("long").alias("keep"),
    )


def epoch_upsample(
    df: DataFrame,
    id_col: str,
    rate_col: str,
    n_buckets: int = 10_000,
    salt: str = "epoch",
) -> DataFrame:
    """Deterministic epoch-level upsampling — the row-DUPLICATION half
    of the data-mix contract that :func:`temperature_mix` deliberately
    leaves to the consumer: expand each row to ``floor(rate)`` full
    copies plus one more with probability ``frac(rate)``, so the
    expanded corpus hits the mix's target in EXPECTATION per row and
    exactly per md5 stratum. ``rate`` comes from the mix plan
    (``share * target / c_domain``, UNCAPPED — a tail domain at rate
    2.3 yields 2 guaranteed epochs + a 30% third); rate < 1 degrades
    to pure downsampling (0 or 1 copies), so one operator covers both
    directions of the mix.

    The fractional decision is the house md5 bucket of (id, salt) —
    engine-portable, partitioning/re-run invariant, and decorrelated
    from the mix's own keep decision by the salt. Expansion is a pure
    projection + ``explode(sequence(1, n_copies))``: ZERO shuffles,
    fan-out exactly ``rate`` per row; downstream shuffles see the
    expanded rows, which is the point (shard assignment and packing
    must observe every epoch copy, not a weight column they'd each
    have to re-expand).

    Output: one row per COPY — input row's (id, rate) plus
    ``n_copies`` (its row's total) and ``copy_idx`` (1-based).
    Rows with NULL id/rate are excluded; negative rates raise at
    execution (a negative epoch count is always an upstream bug).
    """
    base = df.filter(
        F.col(id_col).isNotNull() & F.col(rate_col).isNotNull()
    )
    rate = F.col(rate_col).cast("double")
    guarded = F.when(
        rate < 0,
        F.raise_error(
            F.concat(
                F.lit("epoch_upsample: negative rate for id "),
                F.col(id_col).cast("string"),
            )
        ).cast("double"),
    ).otherwise(rate)
    n_full = F.floor(guarded).cast("long")
    frac_thr = F.floor((guarded - n_full) * F.lit(n_buckets)).cast("long")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col(id_col).cast("string"), F.lit(":" + salt)
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % n_buckets
    )
    expanded = base.withColumn(
        "n_copies",
        (n_full + (bucket < frac_thr).cast("long")).alias("n_copies"),
    ).filter(F.col("n_copies") > 0)
    return expanded.withColumn(
        "copy_idx",
        F.explode(F.sequence(F.lit(1).cast("long"), F.col("n_copies"))),
    )
