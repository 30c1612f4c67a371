"""Data-quality operators (SURVEY.md §2.12: Q1-Q7).

Reference analogs:
  * Q1 quality score — fraction of non-null measurement columns with a
    consistency penalty (``src/transform/silver_processor.py:121-142``).
  * Q3 schema contract — declared StructType vs actual, subset semantics:
    extra columns OK, missing/mismatched fail (``src/utils/data_validator.py:61-84``).
  * Q4 completeness % per column — the reference runs ONE JOB PER COLUMN
    (``data_validator.py:86-97``); here fused into a single agg pass
    (SURVEY §2.5 A12 note).
  * Q5 IQR outlier bounds from quantiles (``data_validator.py:99-115``).
  * Q6 lineage reconciliation — grain cardinality + key-set equality
    across layers (``05_data_validation.py:119-187``), distributed (no
    collect()) via operators.joins.reconcile_keys.

Scale notes: every check here is a single-pass aggregate or a broadcast
join — the reference's per-metric count() storm would launch hundreds of
jobs over 100 TB; the fused form launches one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def quality_score(
    cols: list[str],
    penalty_cond: Column | None = None,
    penalty: float = 0.8,
) -> Column:
    """Row-level quality score (Q1): (# non-null cols)/N, optionally
    multiplied by ``penalty`` where ``penalty_cond`` holds (the reference's
    TMAX<TMIN consistency penalty, ``silver_processor.py:134-141``)."""
    n_present = sum(
        (F.col(c).isNotNull().cast("int") for c in cols), start=F.lit(0)
    )
    score = n_present / F.lit(float(len(cols)))
    if penalty_cond is not None:
        score = F.when(penalty_cond, score * penalty).otherwise(score)
    return score


def completeness(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column non-null counts + % in ONE aggregate pass (Q4/A12).

    Returns one row: ``n_rows``, ``<col>_nonnull``, ``<col>_pct`` for each
    column. The fused replacement for the reference's one-job-per-column
    loop (``data_validator.py:86-97``).
    """
    aggs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNotNull().cast("long")).cast("long").alias(f"{c}_nonnull"))
    out = df.agg(*aggs)
    for c in cols:
        out = out.withColumn(
            f"{c}_pct",
            F.col(f"{c}_nonnull").cast("double") / F.col("n_rows") * 100,
        )
    return out


def summary_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """describe()-equivalent (A13) as ONE deterministic agg pass.

    count/mean/stddev/min/max per column, long format (one row per column).
    stddev is derived from exact decimal moments
    (sqrt((ssq - s^2/n)/(n-1))) so it is bit-identical across engines —
    unlike streaming-variance implementations, which are order-dependent.
    """
    aggs: list[Column] = []
    for c in cols:
        x = F.col(c)
        aggs += [
            F.count(x).alias(f"{c}__n"),
            F.sum(x.cast("decimal(28,4)")).cast("double").alias(f"{c}__s"),
            F.sum((x * x).cast("decimal(30,6)")).cast("double").alias(f"{c}__ssq"),
            F.min(x).alias(f"{c}__min"),
            F.max(x).alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    # long format via stack: one row per column
    parts = []
    for c in cols:
        parts.append(
            f"'{c}', `{c}__n`, `{c}__s`, `{c}__ssq`, `{c}__min`, `{c}__max`"
        )
    stacked = wide.select(
        F.expr(
            f"stack({len(cols)}, {', '.join(parts)}) as "
            "(column_name, n, s, ssq, min_val, max_val)"
        )
    )
    n = F.col("n").cast("double")
    return stacked.select(
        "column_name",
        F.col("n").cast("long").alias("n"),
        (F.col("s") / n).alias("mean"),
        # rounded: C compilers may contract ssq - s*s/n into an FMA,
        # shifting the result by 1 ulp vs the JVM's strict evaluation
        F.when(
            F.col("n") > 1,
            F.round(F.sqrt((F.col("ssq") - F.col("s") * F.col("s") / n) / (n - 1)), 6),
        ).alias("stddev"),
        "min_val",
        "max_val",
    )


def column_stats_with_outliers(
    df: DataFrame, cols: list[str], k: float = 1.5, round_digits: int = 6
) -> DataFrame:
    """A13 describe()-stats + Q5 exact-quantile IQR outlier counts for
    EVERY column in two passes total, regardless of column count: one
    moments+quantiles aggregate, then one outlier-count aggregate against
    the broadcast 1-row bounds. (Round-3 fusion of ``summary_stats`` and
    ``iqr_bounds`` — same per-column math, one shared scan pair.)

    ORACLE ANCHOR ONLY: exact ``percentile`` buffers all values of each
    column in one aggregation buffer — fine at oracle scale, OOM at
    100 TB. Production quality suites use ``approx_quantile_bounds``
    (mergeable sketch); no pipeline module calls the exact form, pinned
    by ``tests/test_quality_recs.py::
    test_pipelines_never_call_exact_percentile``.

    Output: one row per column — ``column_name, n, mean, stddev,
    min_val, max_val, q1, q3, iqr, lower_bound, upper_bound,
    n_outliers``.
    """
    aggs: list[Column] = []
    for c in cols:
        x = F.col(c)
        aggs += [
            F.count(x).alias(f"{c}__n"),
            F.sum(x.cast("decimal(28,4)")).cast("double").alias(f"{c}__s"),
            F.sum((x * x).cast("decimal(30,6)")).cast("double").alias(f"{c}__ssq"),
            F.min(x).cast("double").alias(f"{c}__min"),
            F.max(x).cast("double").alias(f"{c}__max"),
            F.round(F.expr(f"percentile({c}, 0.25)"), round_digits).alias(f"{c}__q1"),
            F.round(F.expr(f"percentile({c}, 0.75)"), round_digits).alias(f"{c}__q3"),
        ]
    wide = df.agg(*aggs)
    joined = df.crossJoin(F.broadcast(wide))
    # The stats columns ride THROUGH the outlier aggregation via first()
    # (every joined row carries the same broadcast value), so `wide` is
    # computed exactly once — scan 1 for moments+quantiles, scan 2 for
    # outlier counts. Degenerate case: an empty input yields one all-NULL
    # row (crossJoin with zero rows leaves nothing for first()).
    _STATS = ("n", "s", "ssq", "min", "max", "q1", "q3")
    oaggs: list[Column] = []
    for c in cols:
        iqr = F.col(f"{c}__q3") - F.col(f"{c}__q1")
        lower = F.col(f"{c}__q1") - k * iqr
        upper = F.col(f"{c}__q3") + k * iqr
        oaggs.append(
            F.sum(((F.col(c) < lower) | (F.col(c) > upper)).cast("long"))
            .cast("long")
            .alias(f"{c}__out")
        )
        oaggs += [F.first(f"{c}__{s}").alias(f"{c}__{s}") for s in _STATS]
    both = joined.agg(*oaggs)
    parts = [
        f"'{c}', `{c}__n`, `{c}__s`, `{c}__ssq`, `{c}__min`, `{c}__max`, "
        f"`{c}__q1`, `{c}__q3`, `{c}__out`"
        for c in cols
    ]
    stacked = both.select(
        F.expr(
            f"stack({len(cols)}, {', '.join(parts)}) as "
            "(column_name, n, s, ssq, min_val, max_val, q1, q3, n_outliers)"
        )
    )
    n = F.col("n").cast("double")
    iqr = F.col("q3") - F.col("q1")
    return stacked.select(
        "column_name",
        F.col("n").cast("long").alias("n"),
        (F.col("s") / n).alias("mean"),
        F.when(
            F.col("n") > 1,
            F.round(F.sqrt((F.col("ssq") - F.col("s") * F.col("s") / n) / (n - 1)), 6),
        ).alias("stddev"),
        "min_val",
        "max_val",
        "q1",
        "q3",
        iqr.alias("iqr"),
        (F.col("q1") - k * iqr).alias("lower_bound"),
        (F.col("q3") + k * iqr).alias("upper_bound"),
        F.col("n_outliers").cast("long").alias("n_outliers"),
    )


def iqr_bounds(
    df: DataFrame, col: str, k: float = 1.5, round_digits: int = 6
) -> DataFrame:
    """Exact-percentile IQR outlier bounds + outlier count (Q5/A14).

    The reference uses approxQuantile(0.25/0.75, 0.05) then flags values
    outside [Q1 - 1.5*IQR, Q3 + 1.5*IQR] (``data_validator.py:99-115``).
    This exact variant is ORACLE-ANCHOR ONLY (the all-values percentile
    buffer OOMs at 100 TB); bounds are rounded so the outlier comparison
    is stable across engines. Production default for the scale path is
    ``approx_quantile_bounds`` (single-pass mergeable sketch).
    """
    x = F.col(col)
    q = df.agg(
        F.round(F.expr(f"percentile({col}, 0.25)"), round_digits).alias("q1"),
        F.round(F.expr(f"percentile({col}, 0.75)"), round_digits).alias("q3"),
    )
    q = q.select(
        "q1",
        "q3",
        (F.col("q3") - F.col("q1")).alias("iqr"),
        (F.col("q1") - k * (F.col("q3") - F.col("q1"))).alias("lower"),
        (F.col("q3") + k * (F.col("q3") - F.col("q1"))).alias("upper"),
    )
    joined = df.select(x.alias("_v")).crossJoin(F.broadcast(q))
    return joined.groupBy("q1", "q3", "iqr", "lower", "upper").agg(
        F.sum(((F.col("_v") < F.col("lower")) | (F.col("_v") > F.col("upper"))).cast("long"))
        .cast("long")
        .alias("n_outliers"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def approx_quantile_bounds(df: DataFrame, col: str, k: float = 1.5) -> DataFrame:
    """Sketch-based IQR bounds via percentile_approx — the 100 TB path
    (single-pass mergeable sketch, no full sort). Approximate => rows-only
    checked."""
    q = df.agg(
        F.percentile_approx(col, 0.25, 10000).alias("q1"),
        F.percentile_approx(col, 0.75, 10000).alias("q3"),
    )
    return q.select(
        "q1",
        "q3",
        (F.col("q1") - k * (F.col("q3") - F.col("q1"))).alias("lower"),
        (F.col("q3") + k * (F.col("q3") - F.col("q1"))).alias("upper"),
    )


def approx_quantile_certificate(
    df: DataFrame, col: str, band: float = 0.01, accuracy: int = 10000
) -> DataFrame:
    """Rank-error certificate for the percentile_approx sketch against
    the EXACT rank anchor (r12, the tolerance-band oracle recipe): run
    the sketch, then EXACTLY count where its returned values sit in the
    data — a returned value v spans exact ranks
    ``[count(x < v) + 1, count(x <= v)]`` — and report whether the
    target rank ``p*n`` lies within that span widened by ``band*n``.
    The counts are exact integer aggregates (one extra scan against the
    broadcast 1-row sketch output), so the booleans are deterministic;
    a cross-engine oracle pins them TRUE (plus n), which a sketch
    regression — wrong percentile, broken accuracy, a swapped bound —
    flips to a hash mismatch. ``band`` defaults to 1%, 100x the
    sketch's own guarantee (rank error <= n/accuracy = 0.01%), so the
    certificate never flakes on legitimate sketch output but catches
    anything structurally wrong.

    Output: one row — ``(n BIGINT, q1_in_band, q3_in_band)``."""
    q = df.agg(
        F.percentile_approx(col, 0.25, accuracy).alias("__aq1"),
        F.percentile_approx(col, 0.75, accuracy).alias("__aq3"),
    )
    x = F.col(col)
    cert = df.crossJoin(F.broadcast(q)).agg(
        F.count(x).alias("n"),
        F.sum(F.when(x < F.col("__aq1"), 1).otherwise(0)).alias("__r1lo"),
        F.sum(F.when(x <= F.col("__aq1"), 1).otherwise(0)).alias("__r1hi"),
        F.sum(F.when(x < F.col("__aq3"), 1).otherwise(0)).alias("__r3lo"),
        F.sum(F.when(x <= F.col("__aq3"), 1).otherwise(0)).alias("__r3hi"),
    )
    n = F.col("n").cast("double")

    def _ok(lo: str, hi: str, p: float):
        target = F.lit(p) * n
        return (
            (F.col(lo).cast("double") + 1 - F.lit(band) * n <= target)
            & (F.col(hi).cast("double") + F.lit(band) * n >= target)
        )

    return cert.select(
        F.col("n").cast("long").alias("n"),
        _ok("__r1lo", "__r1hi", 0.25).alias("q1_in_band"),
        _ok("__r3lo", "__r3hi", 0.75).alias("q3_in_band"),
    )


def recommendations(
    report: dict,
    anomaly_limit: int = 100,
    completeness_floor: float = 80.0,
    partition_limit: int = 200,
) -> list[str]:
    """Threshold-driven data-quality recommendations (Q7).

    Reference rule ladder (``notebooks/05_data_validation.py:246-265``):
    each rule inspects one metric of an already-aggregated validation
    report (a tiny dict — this is deliberately driver-side Python; the
    expensive part is producing the metrics, which `completeness` /
    `summary_stats` do in single distributed passes).

    ``report`` keys (all optional; absent metrics skip their rule):
      * ``temp_anomalies``: count of out-of-range temperature rows
      * ``temp_inconsistent``: count of TMAX<TMIN rows
      * ``completeness``: {column: percent-non-null}
      * ``partitions``: output file/partition count of a layer
    """
    recs: list[str] = []
    if report.get("temp_anomalies", 0) > anomaly_limit:
        recs.append(
            "High number of temperature anomalies detected - review data sources"
        )
    if report.get("temp_inconsistent", 0) > 0:
        recs.append(
            "Temperature inconsistencies found - implement stricter validation"
        )
    comp = report.get("completeness", {})
    if any(pct < completeness_floor for pct in comp.values()):
        recs.append(
            "Low data completeness for some elements - consider data imputation"
        )
    if report.get("partitions", 0) > partition_limit:
        recs.append(
            "Too many partitions may cause small file problem - consider repartitioning"
        )
    if not recs:
        recs.append("All validation checks passed - data quality is good")
    return recs


def corr_pairs(
    df: DataFrame, pairs: list[tuple[str, str]], round_digits: int = 6
) -> DataFrame:
    """Pearson correlation + population covariance for column PAIRS, one
    deterministic scan for all of them.

    Extends ``summary_stats``'s exact-moment recipe to cross-moments:
    per-row double products (bit-identical across engines) are quantized
    to DECIMAL and summed exactly, then each pair's correlation is ONE
    double expression over identical sums —

        corr = (n*sxy - sx*sy) / sqrt((n*sxx - sx^2) * (n*syy - sy^2))

    — so the result is reproducible regardless of partitioning, unlike
    ``F.corr``'s order-dependent streaming co-moment accumulation. Output
    long format: (col_x, col_y, n, covar_pop, corr), one row per pair,
    produced by a stack over the single wide aggregate row (no union of
    per-pair scans). NULL-complete rows only: rows where either side is
    NULL are excluded per pair via conditional moments (matching SQL
    ``corr``/``covar_pop`` two-sided NULL semantics).
    """
    cols = sorted({c for p in pairs for c in p})
    aggs: list[Column] = []
    for cx, cy in pairs:
        x, y = F.col(cx), F.col(cy)
        both = x.isNotNull() & y.isNotNull()
        xs, ys = F.when(both, x), F.when(both, y)
        tag = f"{cx}__{cy}"
        aggs += [
            F.count(F.when(both, F.lit(1))).alias(f"{tag}__n"),
            F.sum(xs.cast("decimal(28,4)")).cast("double").alias(f"{tag}__sx"),
            F.sum(ys.cast("decimal(28,4)")).cast("double").alias(f"{tag}__sy"),
            F.sum((xs * xs).cast("decimal(30,6)")).cast("double").alias(f"{tag}__sxx"),
            F.sum((ys * ys).cast("decimal(30,6)")).cast("double").alias(f"{tag}__syy"),
            F.sum((xs * ys).cast("decimal(30,6)")).cast("double").alias(f"{tag}__sxy"),
        ]
    wide = df.agg(*aggs)
    parts = [
        f"'{cx}', '{cy}', `{cx}__{cy}__n`, `{cx}__{cy}__sx`, `{cx}__{cy}__sy`, "
        f"`{cx}__{cy}__sxx`, `{cx}__{cy}__syy`, `{cx}__{cy}__sxy`"
        for cx, cy in pairs
    ]
    stacked = wide.select(
        F.expr(
            f"stack({len(pairs)}, {', '.join(parts)}) as "
            "(col_x, col_y, n, sx, sy, sxx, syy, sxy)"
        )
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    denom = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return stacked.select(
        "col_x",
        "col_y",
        F.col("n").cast("long").alias("n"),
        F.round((sxy - sx * sy / n) / n, round_digits).alias("covar_pop"),
        F.when(
            denom > 0, F.round((n * sxy - sx * sy) / denom, round_digits)
        ).alias("corr"),
    )


def histogram_fixed_width(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_bins: int,
    round_digits: int = 6,
) -> DataFrame:
    """Fixed-width histogram over [lo, hi): bin index, bounds, count,
    share — the scale path for distribution profiling (single groupBy on
    a derived integer key; map-side partial aggregation collapses each
    partition to <= n_bins rows before the shuffle).

    Values outside [lo, hi) are clamped into the edge bins (floor/ceil
    semantics match SQL ``least(greatest(...))`` exactly, so the oracle
    can restate it verbatim). Bin bounds are derived from the bin index
    with the same double arithmetic on both engines. ``share`` divides
    by the total via a broadcast 1-row cross join — no single-partition
    window, same posture as ``completeness``.
    """
    if n_bins <= 0 or not hi > lo:
        raise ValueError("need n_bins > 0 and hi > lo")
    width = (hi - lo) / n_bins
    x = F.col(col)
    bin_idx = F.least(
        F.greatest(
            F.floor((x - F.lit(lo)) / F.lit(width)).cast("long"), F.lit(0)
        ),
        F.lit(n_bins - 1),
    )
    binned = (
        df.where(x.isNotNull())
        .groupBy(bin_idx.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = binned.agg(F.sum("n").alias("__total"))
    b = F.col("bin").cast("double")
    return (
        binned.crossJoin(F.broadcast(total))
        .select(
            F.col("bin").cast("long").alias("bin"),
            (F.lit(lo) + b * F.lit(width)).alias("bin_lo"),
            (F.lit(lo) + (b + 1) * F.lit(width)).alias("bin_hi"),
            F.col("n").cast("long").alias("n"),
            F.round(
                F.col("n").cast("double") / F.col("__total").cast("double"),
                round_digits,
            ).alias("share"),
        )
    )


def avg_ranks(df: DataFrame, col: str, out_col: str | None = None) -> DataFrame:
    """Attach the column's global AVERAGE rank (the tie convention
    Spearman requires): rank(v) = (#rows < v) + (#rows == v + 1) / 2.

    Scale-correct global ranking without a global sort: ranks are a
    function of the VALUE, so they are computed on the distinct-value
    table (groupBy + map-side partials), cumulated there, and broadcast
    back onto the fact — the fact table itself never shuffles or sorts.
    The cumulative count runs in a single-partition window ON THE VALUE
    TABLE ONLY, bounded by column cardinality, not row count (same
    bounded-SinglePartition posture as token_shards' offset table). For
    near-unique high-cardinality columns (where the value table IS the
    data) route through ``operators/prefix.py``'s distributed running
    total instead.
    """
    from pyspark.sql import Window

    out_col = out_col or f"{col}__rank"
    if out_col in df.columns:
        raise ValueError(f"rank column {out_col!r} already exists")
    vals = df.where(F.col(col).isNotNull()).groupBy(col).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
    ranked = vals.select(
        col,
        (
            F.coalesce(F.sum("__cnt").over(w), F.lit(0)).cast("double")
            + (F.col("__cnt").cast("double") + 1.0) / 2.0
        ).alias(out_col),
    )
    return df.join(F.broadcast(ranked), on=col, how="left")


def spearman_pairs(
    df: DataFrame, pairs: list[tuple[str, str]], round_digits: int = 6
) -> DataFrame:
    """Spearman rank correlation for column pairs: average ranks per
    column (``avg_ranks`` — value-table cumulation + broadcast, no fact
    shuffle), then Pearson on the ranks via ``corr_pairs``'s exact
    DECIMAL co-moments. Ranks are exact k/2 halves (double- and
    decimal-exact), so the whole statistic is deterministic and
    oracle-checkable — no approximation anywhere. One aggregate scan
    after the rank joins. NULLs on either side of a pair drop the row
    for that pair (inherited from corr_pairs); ranks are computed over
    each column's non-null rows.
    """
    cols = sorted({c for p in pairs for c in p})
    ranked = df
    for c in cols:
        ranked = avg_ranks(ranked, c)
    out = corr_pairs(
        ranked, [(f"{a}__rank", f"{b}__rank") for a, b in pairs], round_digits
    )
    strip = F.regexp_replace(F.col("col_x"), "__rank$", "")
    stripy = F.regexp_replace(F.col("col_y"), "__rank$", "")
    return out.select(
        strip.alias("col_x"),
        stripy.alias("col_y"),
        "n",
        F.col("corr").alias("spearman_rho"),
    )


def categorical_association(
    df: DataFrame, col_x: str, col_y: str, round_digits: int = 6
) -> DataFrame:
    """Association statistics for two categorical columns, one scan:
    chi-square test statistic, degrees of freedom, Cramer's V, mutual
    information (nats), and the margin entropies.

    The ONLY row-scale work is the contingency groupBy (map-side
    partials collapse each partition to <= |X|*|Y| cells); margins,
    expected counts, and every statistic derive from that small cell
    table (joined back via broadcast). Zero cells are handled without
    materializing them: sum((o-e)^2/e) over ALL cells equals
    sum_observed((o-e)^2/e - e) + n, since expected counts total n.
    Per-cell contributions (identical doubles from identical integer
    counts on any engine) are quantized to DECIMAL before the final
    small sum, so the result does not depend on Spark's cell
    accumulation order. NULL categories count as a regular level
    (dropna upstream to exclude them).

    r13 plan-shape collapse (the rfm_segments recipe, VERDICT r12 #2):
    the margin entropies fold into the SAME single cell-level
    aggregate via sum_cells -(o/n)·ln(rx/n) == sum_x -(rx/n)·ln(rx/n)
    (the o's of a row sum to rx), so the one-row totals broadcast is
    attached EXACTLY ONCE — the previous form cross-joined it into
    three separate aggregates (j/hx/hy) whose join-back lineage
    reprinted the one-row BNLJ 5x in the plan text.
    """
    x, y = F.col(col_x), F.col(col_y)
    cells = df.groupBy(x.alias("__x"), y.alias("__y")).agg(
        F.count(F.lit(1)).alias("__o")
    )
    rx = cells.groupBy("__x").agg(F.sum("__o").alias("__rx"))
    cy = cells.groupBy("__y").agg(F.sum("__o").alias("__cy"))
    tot = cells.agg(
        F.sum("__o").alias("__n"),
        F.count(F.lit(1)).alias("__cells"),
    )
    j = (
        cells.join(F.broadcast(rx), "__x")
        .join(F.broadcast(cy), "__y")
        .crossJoin(F.broadcast(tot))
    )
    o = F.col("__o").cast("double")
    n = F.col("__n").cast("double")
    e = F.col("__rx").cast("double") * F.col("__cy").cast("double") / n
    # chi2 contribution with the zero-cell correction folded in; MI in nats
    chi_c = (o - e) * (o - e) / e - e
    mi_c = (o / n) * F.log(o * n / (F.col("__rx") * F.col("__cy")).cast("double"))
    # margin-entropy contributions at cell grain: cells of one x jointly
    # contribute (sum_y o)/n = rx/n of the -ln(rx/n) mass, so the cell
    # sum IS the margin sum — quantized per cell on both engines
    hx_c = -(o / n) * F.log(F.col("__rx").cast("double") / n)
    hy_c = -(o / n) * F.log(F.col("__cy").cast("double") / n)
    dec = "decimal(28,12)"
    agg = j.agg(
        F.max("__n").alias("n"),
        F.max("__cells").alias("cells"),
        F.count_distinct("__x").alias("nx"),
        F.count_distinct("__y").alias("ny"),
        F.sum(chi_c.cast(dec)).cast("double").alias("chi_part"),
        F.sum(mi_c.cast(dec)).cast("double").alias("mi"),
        F.sum(hx_c.cast(dec)).cast("double").alias("h_x"),
        F.sum(hy_c.cast(dec)).cast("double").alias("h_y"),
    )
    chi2 = F.col("chi_part") + F.col("n").cast("double")
    k = F.least(F.col("nx"), F.col("ny")).cast("double")
    return agg.select(
        F.lit(col_x).alias("col_x"),
        F.lit(col_y).alias("col_y"),
        F.col("n").cast("long").alias("n"),
        ((F.col("nx") - 1) * (F.col("ny") - 1)).cast("long").alias("dof"),
        F.round(chi2, round_digits).alias("chi2"),
        F.when(
            (k > 1) & (F.col("n") > 0),
            F.round(F.sqrt(chi2 / (F.col("n").cast("double") * (k - 1))), round_digits),
        ).alias("cramers_v"),
        F.round(F.col("mi"), round_digits).alias("mutual_info"),
        F.round(F.col("h_x"), round_digits).alias("h_x"),
        F.round(F.col("h_y"), round_digits).alias("h_y"),
    )


def group_trend(
    df: DataFrame,
    group_cols: list[str],
    x_col: Column | str,
    y_col: Column | str,
    round_digits: int = 6,
) -> DataFrame:
    """Per-group simple linear regression (least-squares slope +
    intercept): the per-entity trend primitive (spend trajectory per
    customer, temperature trend per station, drift per shard).

    Same exact-DECIMAL-moment recipe as ``corr_pairs``, but per GROUP:
    one hash aggregate (map-side partials) collects the five sums, then

        slope     = (n*sxy - sx*sy) / (n*sxx - sx*sx)
        intercept = (sy - slope*sx) / n

    as one double expression over identical sums — deterministic under
    any partitioning, unlike ``F.regr_slope``'s streaming accumulation.
    Groups with n < 2 or zero x-variance get NULL slope/intercept.
    Output: group_cols + (n, slope, intercept).
    """
    x = F.col(x_col) if isinstance(x_col, str) else x_col
    y = F.col(y_col) if isinstance(y_col, str) else y_col
    both = x.isNotNull() & y.isNotNull()
    xs, ys = F.when(both, x), F.when(both, y)
    agg = df.groupBy(*group_cols).agg(
        F.count(F.when(both, F.lit(1))).alias("__n"),
        F.sum(xs.cast("decimal(28,4)")).cast("double").alias("__sx"),
        F.sum(ys.cast("decimal(28,4)")).cast("double").alias("__sy"),
        F.sum((xs * xs).cast("decimal(30,6)")).cast("double").alias("__sxx"),
        F.sum((xs * ys).cast("decimal(30,6)")).cast("double").alias("__sxy"),
    )
    n = F.col("__n").cast("double")
    sx, sy, sxx, sxy = (F.col(c) for c in ("__sx", "__sy", "__sxx", "__sxy"))
    det = n * sxx - sx * sx
    slope = F.when((F.col("__n") >= 2) & (det != 0), (n * sxy - sx * sy) / det)
    intercept = F.when(slope.isNotNull(), (sy - slope * sx) / n)
    return agg.select(
        *group_cols,
        F.col("__n").cast("long").alias("n"),
        F.round(slope, round_digits).alias("slope"),
        F.round(intercept, round_digits).alias("intercept"),
    )


def psi_drift(
    base: DataFrame,
    cur: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_bins: int,
    eps: float = 1e-6,
    round_digits: int = 6,
) -> DataFrame:
    """Population Stability Index between a baseline and a current
    slice of the same numeric column — the standard drift monitor for
    features and model scores (PSI < 0.1 stable, 0.1-0.25 shifting,
    > 0.25 drifted).

    Both inputs bin on the shared fixed-width grid over [lo, hi)
    (edge-clamped, same semantics as ``histogram_fixed_width``); per
    bin, ``p`` and ``q`` are each side's share clamped at ``eps`` (so
    one-sided-empty bins contribute a large-but-finite term instead of
    infinity), and

        psi_term = (p - q) * ln(p / q)

    Output: one row per OBSERVED bin — (bin, bin_lo, bin_hi, n_base,
    n_cur, p, q, psi_term) — plus ``psi_total`` (identical on every
    row): the exact DECIMAL sum of the rounded per-bin terms, so the
    total is order-insensitive and engine-portable.

    Scale shape: the two sides are tagged and UNIONED, then ONE hash
    aggregate on the derived bin key (map-side partials collapse every
    input partition to <= n_bins rows before the shuffle — one scan per
    side, one tiny exchange, no join of two histogram jobs); totals and
    psi_total attach via empty-partition windows over the ALREADY
    AGGREGATED <= n_bins-row frame (the single-partition-window
    anti-pattern only bites on data-sized frames; here it is the device
    that guarantees ONE scan of each input — the broadcast-total cross
    join used by ``histogram_fixed_width`` re-plans the input subtree
    per reference and leans on runtime exchange reuse to dedupe it).
    At 100 TB this is two column scans and a few-KB shuffle.
    """
    if n_bins <= 0 or not hi > lo:
        raise ValueError("need n_bins > 0 and hi > lo")
    if not eps > 0:
        raise ValueError("need eps > 0")
    width = (hi - lo) / n_bins
    tagged = base.select(
        F.col(col).alias("__x"), F.lit(0).alias("__side")
    ).unionAll(cur.select(F.col(col).alias("__x"), F.lit(1).alias("__side")))
    x = F.col("__x")
    bin_idx = F.least(
        F.greatest(
            F.floor((x - F.lit(lo)) / F.lit(width)).cast("long"), F.lit(0)
        ),
        F.lit(n_bins - 1),
    )
    binned = (
        tagged.where(x.isNotNull())
        .groupBy(bin_idx.alias("bin"))
        .agg(
            F.count(F.when(F.col("__side") == 0, F.lit(1))).alias("n_base"),
            F.count(F.when(F.col("__side") == 1, F.lit(1))).alias("n_cur"),
        )
    )
    wall = Window.partitionBy()
    ta = F.sum("n_base").over(wall).cast("double")
    tb = F.sum("n_cur").over(wall).cast("double")
    p = F.greatest(F.col("n_base").cast("double") / ta, F.lit(eps))
    q = F.greatest(F.col("n_cur").cast("double") / tb, F.lit(eps))
    b = F.col("bin").cast("double")
    terms = binned.select(
        F.col("bin").cast("long").alias("bin"),
        (F.lit(lo) + b * F.lit(width)).alias("bin_lo"),
        (F.lit(lo) + (b + 1) * F.lit(width)).alias("bin_hi"),
        F.col("n_base").cast("long").alias("n_base"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.round(p, round_digits).alias("p"),
        F.round(q, round_digits).alias("q"),
        F.round((p - q) * F.log(p / q), round_digits).alias("psi_term"),
    )
    return terms.withColumn(
        "psi_total",
        F.sum(F.col("psi_term").cast(f"decimal(28,{round_digits})"))
        .over(wall)
        .cast("double"),
    )


def histogram_equi_depth(
    df: DataFrame,
    col: str,
    n_bins: int,
    exact: bool = True,
    round_digits: int = 6,
) -> DataFrame:
    """Equi-depth (quantile-binned) histogram: ~n/n_bins rows per bin —
    the distribution profile that stays informative under skew, where
    ``histogram_fixed_width`` piles everything into one bar (and the
    statistic query optimizers keep for selectivity estimation).

    Bin edges are the (i/n_bins)-quantiles, rounded to ``round_digits``
    (both engines round identically, shrinking any last-ulp
    interpolation disagreement to the measure-zero rounding boundary);
    each row's bin is the count of edges strictly below it — a JVM
    higher-order ``filter`` over the broadcast edge array, no join, no
    UDF. Output per observed bin: ``bin, n, share, min_val, max_val``
    (actual data extremes, more useful than the theoretical edges).

    ``exact=True`` uses ``percentile`` — ORACLE ANCHOR ONLY: it buffers
    every value in one aggregation buffer, fine at oracle scale, OOM at
    100 TB. ``exact=False`` is the scale path: ``percentile_approx``
    (mergeable sketch, map-side partials), same construction otherwise.
    Share attaches via an empty-partition window over the <= n_bins
    aggregated rows (see ``psi_drift`` for why this beats re-planning
    the input per broadcast-total reference).
    """
    if n_bins <= 1:
        raise ValueError("need n_bins > 1")
    fracs = ", ".join(repr(i / n_bins) for i in range(1, n_bins))
    fn = "percentile" if exact else "percentile_approx"
    x = F.col(col)
    nn = df.where(x.isNotNull())
    edges_row = nn.agg(
        F.transform(
            F.expr(f"{fn}({col}, array({fracs}))"),
            lambda e: F.round(e, round_digits),
        ).alias("__edges")
    )
    bin_idx = F.size(F.filter(F.col("__edges"), lambda e: x > e)).cast("long")
    binned = (
        nn.crossJoin(F.broadcast(edges_row))
        .groupBy(bin_idx.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(x).cast("double").alias("min_val"),
            F.max(x).cast("double").alias("max_val"),
        )
    )
    return binned.select(
        "bin",
        F.col("n").cast("long").alias("n"),
        F.round(
            F.col("n").cast("double")
            / F.sum("n").over(Window.partitionBy()).cast("double"),
            round_digits,
        ).alias("share"),
        "min_val",
        "max_val",
    )


def psi_drift_categorical(
    base: DataFrame,
    cur: DataFrame,
    col: str,
    top_n: int = 20,
    eps: float = 1e-6,
    round_digits: int = 6,
) -> DataFrame:
    """Population Stability Index for a CATEGORICAL column between a
    baseline and a current slice — the drift monitor for statuses,
    segments, language labels, model-predicted classes.

    Same math as :func:`psi_drift` with values instead of bins: per
    kept value, ``psi_term = (p - q) * ln(p / q)`` over eps-clamped
    shares, plus the exact-DECIMAL ``psi_total``. NULL is tracked as
    its own category ``'__null'`` (nullness drift is drift); values
    outside the ``top_n`` by COMBINED count (ties broken by value, so
    the cut is deterministic) collapse into ``'__other'`` — the device
    that bounds the report even when the column is dirtier than
    expected. ``'__null'``/``'__other'`` are reserved labels; data that
    legitimately contains them would merge silently, so keep them out
    of monitored columns.

    Scale shape: ONE data-sized pass (tag + union + hash aggregate on
    the value, map-side partials bounded by the vocabulary); the
    ranking, collapse, and share windows run over the AGGREGATED
    vocabulary-sized frame — a single-partition sort of distinct
    values, which is exactly as bounded as the column is categorical.
    """
    if top_n < 1:
        raise ValueError("need top_n >= 1")
    if not eps > 0:
        raise ValueError("need eps > 0")
    label = F.coalesce(F.col("__x").cast("string"), F.lit("__null"))
    tagged = base.select(
        F.col(col).alias("__x"), F.lit(0).alias("__side")
    ).unionAll(cur.select(F.col(col).alias("__x"), F.lit(1).alias("__side")))
    counts = tagged.groupBy(label.alias("value")).agg(
        F.count(F.when(F.col("__side") == 0, F.lit(1))).alias("n_base"),
        F.count(F.when(F.col("__side") == 1, F.lit(1))).alias("n_cur"),
    )
    wrank = Window.orderBy(
        F.desc(F.col("n_base") + F.col("n_cur")), F.asc("value")
    )
    kept = F.when(
        F.row_number().over(wrank) <= top_n, F.col("value")
    ).otherwise(F.lit("__other"))
    regrouped = (
        counts.withColumn("value", kept)
        .groupBy("value")
        .agg(
            F.sum("n_base").cast("long").alias("n_base"),
            F.sum("n_cur").cast("long").alias("n_cur"),
        )
    )
    wall = Window.partitionBy()
    ta = F.sum("n_base").over(wall).cast("double")
    tb = F.sum("n_cur").over(wall).cast("double")
    p = F.greatest(F.col("n_base").cast("double") / ta, F.lit(eps))
    q = F.greatest(F.col("n_cur").cast("double") / tb, F.lit(eps))
    terms = regrouped.select(
        "value",
        "n_base",
        "n_cur",
        F.round(p, round_digits).alias("p"),
        F.round(q, round_digits).alias("q"),
        F.round((p - q) * F.log(p / q), round_digits).alias("psi_term"),
    )
    return terms.withColumn(
        "psi_total",
        F.sum(F.col("psi_term").cast(f"decimal(28,{round_digits})"))
        .over(wall)
        .cast("double"),
    )


def null_patterns(
    df: DataFrame, cols: list[str], round_digits: int = 6
) -> DataFrame:
    """Missingness-pattern profile: which NULL COMBINATIONS occur, and
    how often — the co-occurrence view that per-column completeness
    (``completeness``) cannot show (are ``valid_to`` and
    ``version_id`` missing together, or independently? the answer
    decides whether imputation is per-column or structural).

    One hash aggregate on the derived pattern key (map-side partials —
    each partition collapses to at most 2^len(cols) rows, bounded by
    the declared columns, never the data); ``share`` attaches via a
    window over that tiny frame. Output per observed pattern:
    ``pattern`` ('1' present / '0' NULL, in declared column order),
    ``missing`` (comma-joined NULL column names, '' when complete),
    ``n``, ``share``.
    """
    if not cols:
        raise ValueError("null_patterns: empty column list")
    for c in cols:
        if c not in df.columns:
            raise ValueError(f"null_patterns: column {c!r} not in input")
    pattern = F.concat(
        *[
            F.when(F.col(c).isNull(), F.lit("0")).otherwise(F.lit("1"))
            for c in cols
        ]
    )
    missing = F.concat_ws(
        ",", *[F.when(F.col(c).isNull(), F.lit(c)) for c in cols]
    )
    agged = df.groupBy(
        pattern.alias("pattern"), missing.alias("missing")
    ).agg(F.count(F.lit(1)).alias("n"))
    return agged.select(
        "pattern",
        "missing",
        F.col("n").cast("long").alias("n"),
        F.round(
            F.col("n").cast("double")
            / F.sum("n").over(Window.partitionBy()).cast("double"),
            round_digits,
        ).alias("share"),
    )


def key_containment(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    round_digits: int = 6,
) -> DataFrame:
    """Relationship discovery between two key columns: containment in
    both directions plus per-side uniqueness — the DEGREE behind a
    pass/fail foreign-key expectation (``run_expectations``), and the
    profile that tells you whether a join is FK-shaped (containment
    ~1.0 one way), overlapping sets, or unrelated before you pay for
    it at 100 TB.

    One row out: ``n_left, n_right, n_left_distinct, n_right_distinct,
    n_shared`` (exact BIGINTs) and the derived ratios
    ``containment_l_in_r`` (= shared / left-distinct),
    ``containment_r_in_l``, ``uniqueness_l``, ``uniqueness_r``
    (rounded). NULL keys are excluded everywhere (they join to
    nothing; a NULL-heavy key shows up as LOW uniqueness of the
    non-null subset vs ``completeness``, not here).

    Physical shape: one count+count_distinct aggregate per side (the
    two-phase distinct rewrite — one scan each), and the shared count
    as distinct-left LEFT SEMI distinct-right (broadcast when a side
    is small, Catalyst's choice) — three jobs total, none data-squared.
    """
    lk = F.col(left_key)
    rk = F.col(right_key)
    la = left.where(lk.isNotNull()).agg(
        F.count(F.lit(1)).alias("n_left"),
        F.count_distinct(lk).alias("n_left_distinct"),
    )
    ra = right.where(rk.isNotNull()).agg(
        F.count(F.lit(1)).alias("n_right"),
        F.count_distinct(rk).alias("n_right_distinct"),
    )
    shared = (
        left.where(lk.isNotNull())
        .select(lk.alias("__k"))
        .distinct()
        .join(
            right.where(rk.isNotNull()).select(rk.alias("__k")).distinct(),
            on="__k",
            how="left_semi",
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    out = la.crossJoin(F.broadcast(ra)).crossJoin(F.broadcast(shared))
    r = lambda c: F.round(c, round_digits)
    nl, nr = F.col("n_left").cast("double"), F.col("n_right").cast("double")
    ld = F.col("n_left_distinct").cast("double")
    rd = F.col("n_right_distinct").cast("double")
    sh = F.col("n_shared").cast("double")
    return out.select(
        F.col("n_left").cast("long").alias("n_left"),
        F.col("n_right").cast("long").alias("n_right"),
        F.col("n_left_distinct").cast("long").alias("n_left_distinct"),
        F.col("n_right_distinct").cast("long").alias("n_right_distinct"),
        F.col("n_shared").cast("long").alias("n_shared"),
        F.when(ld > 0, r(sh / ld)).alias("containment_l_in_r"),
        F.when(rd > 0, r(sh / rd)).alias("containment_r_in_l"),
        F.when(nl > 0, r(ld / nl)).alias("uniqueness_l"),
        F.when(nr > 0, r(rd / nr)).alias("uniqueness_r"),
    )


def ks_drift(
    base: DataFrame,
    cur: DataFrame,
    col: str,
    bucket_width: float | None = None,
    num_partitions: int | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between a baseline
    and a current slice: ``D = max over x of |F_base(x) - F_cur(x)|`` —
    the binning-free companion to :func:`psi_drift` (PSI's value moves
    with the bin grid; D is a property of the data alone).

    The textbook formulation sorts BOTH samples globally — an
    ``Exchange SinglePartition`` death-mode at scale. Here: one
    data-sized pass collapses both tagged sides to per-DISTINCT-VALUE
    counts (map-side partials), then BOTH running counts ride ONE
    ``operators/prefix.py:global_cumsum`` pass (value-derived buckets,
    bounded single-partition summary, one full shuffle — the
    multi-column form exists for exactly this), and D is a plain max
    aggregate over the CDF differences. Ties collapse before the
    prefix, so the CDFs are evaluated right-continuously at each
    distinct value.

    One row out: ``n_base, n_cur, d_stat`` (rounded) and ``at_value``
    (the smallest value attaining D — deterministic argmax). NULLs
    excluded. ``bucket_width``/``num_partitions`` pass through to the
    prefix machinery.
    """
    tagged = base.select(
        F.col(col).alias("__x"), F.lit(0).alias("__side")
    ).unionAll(cur.select(F.col(col).alias("__x"), F.lit(1).alias("__side")))
    tagged = tagged.where(F.col("__x").isNotNull())
    per_val = tagged.groupBy(F.col("__x").alias("value")).agg(
        F.count(F.when(F.col("__side") == 0, F.lit(1))).alias("n_base"),
        F.count(F.when(F.col("__side") == 1, F.lit(1))).alias("n_cur"),
    )
    from ghcn_d_etl_project_spark.operators.prefix import global_cumsum

    cums = global_cumsum(
        per_val,
        order_col="value",
        value_col=["n_base", "n_cur"],
        out_col=["__ca", "__cb"],
        bucket_width=bucket_width,
        num_partitions=num_partitions,
    )
    totals = tagged.agg(
        F.count(F.when(F.col("__side") == 0, F.lit(1))).alias("__ta"),
        F.count(F.when(F.col("__side") == 1, F.lit(1))).alias("__tb"),
    )
    d = cums.crossJoin(F.broadcast(totals)).select(
        F.col("value").cast("double").alias("value"),
        "__ta",
        "__tb",
        F.abs(
            F.col("__ca").cast("double") / F.col("__ta").cast("double")
            - F.col("__cb").cast("double") / F.col("__tb").cast("double")
        ).alias("__ad"),
    )
    top = d.agg(
        F.max(
            F.struct(
                F.col("__ad").alias("ad"),
                (-F.col("value")).alias("negv"),
                F.col("__ta").alias("ta"),
                F.col("__tb").alias("tb"),
            )
        ).alias("__w")
    )
    return top.select(
        F.col("__w.ta").cast("long").alias("n_base"),
        F.col("__w.tb").cast("long").alias("n_cur"),
        F.round(F.col("__w.ad"), round_digits).alias("d_stat"),
        (-F.col("__w.negv")).alias("at_value"),
    )


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    round_digits: int = 6,
) -> DataFrame:
    """Two-sample Mann-Whitney U (Wilcoxon rank-sum) with tie
    correction — the distribution-free location test that reads a
    metric's RANKS where the z-test (:mod:`plans/curation.py`
    ``ab_proportions``) reads its mean: immune to the heavy tails and
    outliers that dominate revenue-like metrics. Companion to
    :func:`ks_drift` (KS asks "same distribution?"; U asks "does one
    group stochastically dominate?").

    Scale shape — the same no-global-sort rank recipe as :func:`ks_drift`
    / ``avg_ranks``: ONE data-sized pass collapses both groups to
    per-DISTINCT-VALUE counts (total + group-A) with map-side partials,
    the running below-count rides ``operators/prefix.py:global_cumsum``
    (value-derived buckets, bounded single-partition summary), and the
    rank sum collapses in one aggregate. The textbook
    ``RANK() OVER (ORDER BY v)`` would single-partition-sort the fact.

    Exactness (what makes a rank STATISTIC value-hashable cross-engine):
    average ranks live on the 1/2 grain, so the doubled rank sum
    ``2*R_A = sum(cntA * (2*below + cnt + 1))`` is an INTEGER,
    accumulated in DECIMAL(38,0) (n up to ~1e12 keeps 2n^2 inside 38
    digits; BIGINT overflows past ~2^31.5 rows). The tie term
    ``T = sum(cnt^3 - cnt)`` likewise. U, mu, sigma then derive from
    exact integers through one identical double expression per field.

    One row out: ``n_a, n_b, u_a, u_b, cles`` (common-language effect
    size U_A/(nA*nB)), ``n_tied_values``, ``z`` (normal approximation,
    no continuity correction; NULL when sigma is 0 — all values tied —
    or either group is empty). Rows with NULL value or a group other
    than ``group_a``/``group_b`` are excluded.
    """
    from ghcn_d_etl_project_spark.operators.prefix import global_cumsum

    g = F.col(group_col)
    tagged = df.filter(
        F.col(value_col).isNotNull() & g.isin(group_a, group_b)
    ).select(
        F.col(value_col).alias("__x"),
        (g == group_a).cast("int").alias("__a"),
    )
    per_val = tagged.groupBy(F.col("__x").alias("value")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("__a").cast("long").alias("cnt_a"),
    )
    cums = global_cumsum(per_val, "value", "cnt", out_col="__cum")
    below = F.col("__cum") - F.col("cnt")
    stats = cums.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("cnt_a").cast("long").alias("n_a"),
        # Cast BEFORE multiplying (mirrors ties_t below): the per-term
        # product is ~2n^2 for a heavy tie group, which silently wraps in
        # non-ANSI BIGINT past ~2^31.5 rows — the decimal accumulator
        # alone would not save an already-wrapped term.
        F.sum(
            F.col("cnt_a").cast("decimal(38,0)")
            * (2 * below + F.col("cnt") + 1)
        ).cast("decimal(38,0)").alias("r2a"),
        F.sum(
            (
                F.col("cnt").cast("decimal(38,0)")
                * F.col("cnt")
                * F.col("cnt")
                - F.col("cnt")
            ).cast("decimal(38,0)")
        ).alias("ties_t"),
        F.count(F.when(F.col("cnt") > 1, F.lit(1))).cast("long").alias(
            "n_tied_values"
        ),
    )
    n = F.col("n").cast("double")
    n_a = F.col("n_a")
    n_b = F.col("n") - F.col("n_a")
    # Double-first casts: nA(nA+1) and nA*nB in BIGINT wrap past ~2^31.5
    # rows; as double products they only round (these feed double
    # expressions anyway — the exact-integer path is r2a above).
    na_d = n_a.cast("double")
    nb_d = n_b.cast("double")
    # U_A = R_A - nA(nA+1)/2, via the exact doubled rank sum
    u_a = (F.col("r2a").cast("double") - na_d * (na_d + 1)) / F.lit(2.0)
    u_b = na_d * nb_d - u_a
    mu = na_d * nb_d / F.lit(2.0)
    tie_adj = (n + 1) - F.col("ties_t").cast("double") / (n * (n - 1))
    sigma = F.sqrt(na_d * nb_d / F.lit(12.0) * tie_adj)
    return stats.select(
        n_a.cast("long").alias("n_a"),
        n_b.cast("long").alias("n_b"),
        u_a.alias("u_a"),
        u_b.alias("u_b"),
        F.when(
            (n_a > 0) & (n_b > 0),
            F.round(u_a / (na_d * nb_d), round_digits),
        ).alias("cles"),
        F.col("n_tied_values"),
        F.when(
            (n_a > 0) & (n_b > 0) & (sigma > 0),
            F.round((u_a - mu) / sigma, round_digits),
        ).alias("z"),
    )


def robust_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    k: float = 3.0,
    exact: bool = True,
    round_digits: int = 6,
) -> DataFrame:
    """Median/MAD robust outlier flagging — the breakdown-resistant twin
    of the mean/stddev and IQR families (A13/A14): a single wild value
    moves a mean and widens a stddev, but moves neither the median nor
    the MAD (50% breakdown point), so the flags don't drift as the
    contamination they're hunting grows.

    Two-phase by necessity (MAD is the median OF deviations FROM the
    median): per-group exact ``percentile(v, 0.5)``, broadcast back,
    per-group ``percentile(|v - med|, 0.5)``, broadcast back. Appends

      * ``med``, ``mad`` (rounded)
      * ``robust_z`` = 0.6745 * |v - med| / mad (the normal-consistency
        constant, NULL when MAD == 0)
      * ``is_outlier`` = 1 when |v - med| > k * MAD (0 when MAD == 0 —
        a majority-constant group flags nothing rather than everything)

    ``exact=True`` is the oracle anchor: exact percentile buffers each
    group's values, the A14-family tradeoff. ``exact=False`` swaps in
    the mergeable ``percentile_approx`` sketch — the same construction,
    the 100 TB path (anchor/twin convention).
    """
    groups = list(group_cols or [])
    pct = "percentile" if exact else "percentile_approx"
    v = F.col(value_col)

    def _agg(frame: DataFrame, col: str, out: str) -> DataFrame:
        a = frame.groupBy(*groups).agg(
            F.expr(f"{pct}({col}, 0.5)").alias(out)
        )
        return F.broadcast(a) if groups else a

    med = _agg(df, value_col, "__med")
    j = (
        df.join(med, on=groups) if groups else df.crossJoin(F.broadcast(med))
    ).withColumn("__dev", F.abs(v - F.col("__med")))
    mad = _agg(j, "__dev", "__mad")
    jj = j.join(mad, on=groups) if groups else j.crossJoin(F.broadcast(mad))
    z = F.lit(0.6745) * F.col("__dev") / F.col("__mad")
    return jj.select(
        *df.columns,
        F.round(F.col("__med"), round_digits).alias("med"),
        F.round(F.col("__mad"), round_digits).alias("mad"),
        F.when(F.col("__mad") > 0, F.round(z, round_digits)).alias("robust_z"),
        F.when(
            (F.col("__mad") > 0) & (F.col("__dev") > F.lit(float(k)) * F.col("__mad")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("is_outlier"),
    )


def entropy_profile(
    df: DataFrame,
    cols: list[str],
    round_digits: int = 6,
    term_digits: int = 9,
) -> DataFrame:
    """Shannon entropy per column — the information-theoretic profiling
    row the count/distinct/frequency family (A9-A11) doesn't give:
    near-zero entropy exposes effectively-constant columns, entropy ≈
    log2(distinct) exposes effectively-unique ones, and the normalized
    ratio is comparable across columns of different cardinality.

    ONE data-sized pass for ALL columns: each row stacks to
    (column, value-as-string) pairs, one hash aggregate counts them
    (map-side partials — the shuffle carries Σ per-column vocabulary,
    not rows x columns), and everything after runs on the
    vocabulary-sized frame. NULL is counted as its own category (a
    90%-NULL column IS low-entropy — that is signal, not noise).

    Parity recipe: each value's term ``(c/n) * log2(c/n)`` is computed
    from identical doubles on any engine, then QUANTIZED to
    ``DECIMAL(18, term_digits)`` before the per-column sum — exact
    accumulation in any order (the charlm/corr convention). Output per
    column: ``n_rows, n_distinct, entropy_bits, max_entropy_bits
    (= log2 distinct), norm_entropy`` (NULL for single-valued columns).
    """
    tdec = f"decimal(18,{term_digits})"
    stacked = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.coalesce(F.col(c).cast("string"), F.lit("__null"))
                        .alias("val"),
                    )
                    for c in cols
                ]
            )
        ).alias("s")
    ).select("s.col", "s.val")
    counts = stacked.groupBy("col", "val").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("col")
    p = F.col("c").cast("double") / F.col("__n").cast("double")
    terms = counts.withColumn("__n", F.sum("c").over(w)).select(
        "col",
        "__n",
        F.round(-(p * F.log2(p)), term_digits).cast(tdec).alias("__t"),
    )
    ent = F.col("__ent_dec").cast("double")
    maxent = F.log2(F.col("n_distinct").cast("double"))
    return (
        terms.groupBy("col")
        .agg(
            F.max("__n").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum("__t").alias("__ent_dec"),
        )
        .select(
            "col",
            "n_rows",
            "n_distinct",
            F.round(ent, round_digits).alias("entropy_bits"),
            F.round(maxent, round_digits).alias("max_entropy_bits"),
            F.when(
                F.col("n_distinct") > 1, F.round(ent / maxent, round_digits)
            ).alias("norm_entropy"),
        )
    )


def benford_audit(
    df: DataFrame,
    value_col: str,
    round_digits: int = 6,
    term_digits: int = 9,
) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    classic fabricated-numbers audit for financial/measurement columns
    (naturally-occurring multi-scale magnitudes follow
    ``P(d) = log10(1 + 1/d)``; invented or constrained numbers don't).

    One hash aggregate to NINE rows (map-side partials collapse each
    partition to <= 9 counts), then the chi-square statistic and
    per-digit deviations compute on that constant-size frame. The
    first digit comes from string formatting of ``abs(value)`` —
    scale-free, no log/pow fp hazards; zeros and NULLs are excluded
    (they have no significant digit) and reported via ``n_used``.

    Output: one row per digit 1-9 — ``digit, n, share, benford_p,
    deviation, chi2_term`` (quantized DECIMAL terms, the engine-parity
    convention) — plus every row carrying the total ``chi2`` and
    ``n_used`` so a single-row consumer can filter ``digit = 1``.
    """
    tdec = f"decimal(18,{term_digits})"
    v = F.col(value_col)
    # first significant digit via the PLAIN string form of abs(value):
    # the leading 1-9 of any faithful decimal rendering (fixed or
    # scientific) IS the first significant digit — determined by the
    # value's magnitude, not the engine's formatting choices — so a
    # regexp over CAST(abs(v) AS STRING) is scale-free and
    # cross-engine-stable where log/pow fp tricks are not
    digit = F.regexp_extract(
        F.abs(v.cast("double")).cast("string"), "([1-9])", 1
    )
    base = df.filter(v.isNotNull() & (v != 0)).select(
        digit.cast("int").alias("digit")
    ).filter(F.col("digit").isNotNull())
    counts = base.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    # densify to all 9 digits (a digit can be absent in skewed data)
    spine = df.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("digit")
    )
    dense = spine.join(counts, "digit", "left").select(
        "digit", F.coalesce("n", F.lit(0)).cast("long").alias("n")
    )
    w = Window.partitionBy()
    n_used = F.sum("n").over(w)
    share = F.col("n").cast("double") / F.col("__n_used").cast("double")
    import math

    bp = {d: math.log10(1 + 1 / d) for d in range(1, 10)}
    benford_p = F.round(
        F.element_at(
            F.array(*[F.lit(bp[d]) for d in range(1, 10)]), F.col("digit")
        ),
        round_digits,
    )
    chi2_term = (
        (F.col("__share") - F.col("__bp"))
        * (F.col("__share") - F.col("__bp"))
        / F.col("__bp")
        * F.col("__n_used").cast("double")
    )
    staged = (
        dense.withColumn("__n_used", n_used)
        .withColumn("__share", share)
        .withColumn("__bp", benford_p)
        .withColumn(
            "__chi2_t", F.round(chi2_term, term_digits).cast(tdec)
        )
    )
    return staged.select(
        "digit",
        "n",
        F.round(F.col("__share"), round_digits).alias("share"),
        F.col("__bp").alias("benford_p"),
        F.round(F.col("__share") - F.col("__bp"), round_digits).alias(
            "deviation"
        ),
        F.col("__chi2_t").cast("double").alias("chi2_term"),
        F.round(
            F.sum("__chi2_t").over(w).cast("double"), round_digits
        ).alias("chi2"),
        F.col("__n_used").cast("long").alias("n_used"),
    )


def weighted_median(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Per-group lower weighted median: the smallest value whose
    cumulative weight reaches half the group's total — the robust
    center for weighted observations (quantity-weighted prices,
    duration-weighted latencies) that plain ``median`` mis-states and
    no built-in aggregate provides.

    Convention: the LOWER weighted median (first v with
    ``2 * cumweight(v) >= total``) — always an observed value,
    deterministic, and exactly restatable in SQL (interpolating
    variants are not value-stable across engines).

    Scale design: one groupBy collapses the facts to DISTINCT
    (group, value) rows with exact DECIMAL weight sums (the shuffle
    that matters happens map-side-combined here); the cumulative and
    total sums are two frames over ONE window spec on the collapsed
    table — per-partition series, never data-sized. NULL values or
    weights are excluded; a non-positive weight RAISES at execution
    (silently dropping it would skew the center — same posture as
    ``weighted_top_k``).

    Output: ``(group_cols..., weighted_median double,
    total_weight double)``.
    """
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    v = F.col(value_col)
    w0 = F.col(weight_col)
    guarded = F.when(
        w0 <= 0,
        F.raise_error(
            F.concat(
                F.lit(f"weighted_median: non-positive weight in {weight_col}: "),
                w0.cast("string"),
            )
        ),
    ).otherwise(w0)
    base = df.filter(v.isNotNull() & w0.isNotNull()).select(
        *group_cols, v.alias("__v"), guarded.alias("__w")
    )
    collapsed = base.groupBy(*group_cols, "__v").agg(
        F.sum(F.col("__w").cast("decimal(28,4)")).alias("__wsum")
    )
    wspec = Window.partitionBy(*group_cols).orderBy("__v")
    cum = F.sum("__wsum").over(
        wspec.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = F.sum("__wsum").over(
        Window.partitionBy(*group_cols).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    marked = collapsed.select(
        *group_cols,
        "__v",
        cum.alias("__cw"),
        tot.alias("__tw"),
    )
    return (
        marked.filter(F.col("__cw") * 2 >= F.col("__tw"))
        .groupBy(*group_cols)
        .agg(
            F.min("__v").cast("double").alias("weighted_median"),
            F.max(F.col("__tw").cast("double")).alias("total_weight"),
        )
    )


def winsorized_mean(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
    exact: bool = True,
    scale: int = 2,
    round_digits: int = 6,
) -> DataFrame:
    """Winsorized AND trimmed per-group means — the robust-metric
    companions to :func:`robust_outliers`: the plain mean follows one
    whale order wherever it goes; the winsorized mean clamps values to
    the [p_lo, p_hi] percentile bounds and the trimmed mean drops them,
    so a bounded contamination moves the readout boundedly.

    Two-phase like robust_outliers (the bounds ARE group statistics):
    per-group percentile aggregate -> broadcast join back -> one
    map-side-combined aggregate of the clamped/kept values. The fact
    table never shuffles. ``exact=True`` is the oracle anchor (exact
    percentile buffers each group's values — the A14 tradeoff);
    ``exact=False`` swaps in the mergeable ``percentile_approx``
    sketch, the 100 TB path (anchor/twin convention).

    Parity recipe: bounds are ROUNDED to ``round_digits`` BEFORE
    clamping — interpolated percentiles agree cross-engine only to
    float precision, and an unrounded bound could clamp a
    boundary-sitting value differently per engine; rounding first makes
    the clamp decision identical, after which the DECIMAL mean is
    exact. Output: (groups..., n, mean_value, winsorized_mean,
    trimmed_mean, n_clamped_lo, n_clamped_hi); trimmed_mean is NULL
    when every row is trimmed. NULL values excluded.
    """
    from ghcn_d_etl_project_spark.plans._util import count_if

    if not 0 <= p_lo < p_hi <= 1:
        raise ValueError(f"need 0 <= p_lo < p_hi <= 1, got {p_lo}, {p_hi}")
    groups = list(group_cols or [])
    pct = "percentile" if exact else "percentile_approx"
    v = F.col(value_col)
    base = df.filter(v.isNotNull())
    bounds = base.groupBy(*groups).agg(
        F.round(F.expr(f"{pct}({value_col}, {p_lo!r})"), round_digits).alias(
            "__lo"
        ),
        F.round(F.expr(f"{pct}({value_col}, {p_hi!r})"), round_digits).alias(
            "__hi"
        ),
    )
    joined = (
        base.join(F.broadcast(bounds), groups)
        if groups
        else base.crossJoin(F.broadcast(bounds))
    )
    lo, hi = F.col("__lo"), F.col("__hi")
    clamped = F.least(F.greatest(v, lo), hi).cast(f"decimal(24,{scale})")
    kept = ~(v < lo) & ~(v > hi)
    vd = v.cast(f"decimal(24,{scale})")
    out = joined.groupBy(*groups).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(vd).alias("__s"),
        F.sum(clamped).alias("__sw"),
        F.sum(F.when(kept, vd)).alias("__st"),
        F.count(F.when(kept, F.lit(1))).cast("long").alias("__nt"),
        count_if(v < lo).alias("n_clamped_lo"),
        count_if(v > hi).alias("n_clamped_hi"),
    )
    n = F.col("n").cast("double")
    return out.select(
        *groups,
        "n",
        F.round(F.col("__s").cast("double") / n, round_digits).alias(
            "mean_value"
        ),
        F.round(F.col("__sw").cast("double") / n, round_digits).alias(
            "winsorized_mean"
        ),
        F.when(
            F.col("__nt") > 0,
            F.round(
                F.col("__st").cast("double") / F.col("__nt").cast("double"),
                round_digits,
            ),
        ).alias("trimmed_mean"),
        "n_clamped_lo",
        "n_clamped_hi",
    )
