"""Window-function operators: lags, rolling frames, ranking, running totals.

Reference analogs (SURVEY.md §2.6):
  * W1 lag features — ``lag(TMAX/TMIN/PRCP, 1).over(partitionBy(ID).orderBy(DATE))``,
    ``src/transform/gold_processor.py:185-194``.
  * W2/W3 rolling mean/sum — ``avg/sum(...).over(w.rowsBetween(-6, 0))``,
    ``gold_processor.py:195-199``. ROWS-based — gaps in the series shrink
    the true time window; ``rolling_range`` below is the semantically
    correct RANGE twin (SURVEY §2.6 note) the reference lacks.
  * Ranking (row_number/rank/dense_rank/ntile) and ``lead`` do not exist
    in the reference; exposed here as the natural completion of the family.

Scale notes: one window spec = one shuffle on the partition keys; all
functions sharing a spec run in a single Window physical node, so a plan
should REUSE one spec for many features (as the reference does). Ordering
must include a unique tiebreaker for deterministic lag/row_number output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def ordered_window(
    partition_by: list[str], order_by: list[str | Column]
) -> WindowSpec:
    """Per-entity time-ordered window spec (the reference's
    ``Window.partitionBy("ID").orderBy("DATE")``)."""
    return Window.partitionBy(*partition_by).orderBy(*order_by)


def with_lags(
    df: DataFrame,
    w: WindowSpec,
    cols: list[str],
    offsets: tuple[int, ...] = (1,),
    prefix: str = "prev",
) -> DataFrame:
    """Add lag features: ``prev{k}_{col}`` for each col x offset (W1)."""
    out = df
    for col in cols:
        for k in offsets:
            name = f"{prefix}{k}_{col}" if k != 1 else f"{prefix}_{col}"
            out = out.withColumn(name, F.lag(col, k).over(w))
    return out


def rolling_rows(
    df: DataFrame,
    w: WindowSpec,
    agg_cols: dict[str, Column],
    preceding: int = 6,
) -> DataFrame:
    """ROWS-frame rolling features over the last ``preceding``+1 rows (W2/W3).

    ``agg_cols`` maps output name -> aggregate Column (un-windowed); the
    frame ``rowsBetween(-preceding, 0)`` is applied here so every feature
    shares one Window node.
    """
    frame = w.rowsBetween(-preceding, 0)
    out = df
    for name, col in agg_cols.items():
        out = out.withColumn(name, col.over(frame))
    return out


def rolling_range(
    df: DataFrame,
    partition_by: list[str],
    order_num_col: Column,
    agg_cols: dict[str, Column],
    preceding: int = 6,
) -> DataFrame:
    """RANGE-frame rolling features over a numeric order column.

    The correct-semantics twin of ``rolling_rows`` for gappy time series:
    a 7-day window covers calendar days, not 7 physical rows. Spark RANGE
    frames need a numeric ordering expression — pass e.g.
    ``F.datediff(col, lit(epoch))`` as ``order_num_col``.
    """
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(order_num_col)
        .rangeBetween(-preceding, 0)
    )
    out = df
    for name, col in agg_cols.items():
        out = out.withColumn(name, col.over(w))
    return out


def rolling_zscore(
    df: DataFrame,
    window: Window,
    value_col: str,
    preceding: int,
    min_obs: int = 5,
    scale: int = 2,
    exclude_current: bool = True,
) -> DataFrame:
    """Rolling z-score anomaly signal: how many standard deviations the
    current value sits from its own trailing window's mean.

    ``exclude_current`` (default) uses the frame
    ``[preceding PRECEDING, 1 PRECEDING]`` so the tested value cannot
    contaminate its own baseline — the difference between "is this
    order unusual given the customer's history" and a self-referential
    statistic. Rows with fewer than ``min_obs`` baseline observations
    get NULL (a z-score against 2 points is noise pretending to be
    signal). Adds ``<value>_zscore`` plus ``<value>_base_n``.

    Engine-parity by construction: mean and variance come from exact
    DECIMAL sum / sum-of-squares partials over the frame (accumulation
    order cannot change the result), combined in ONE double expression
    ``(n*s2 - s1*s1) / (n*(n-1))`` — a DuckDB oracle restating the same
    expression tree is bit-identical. One shuffle: all three frame
    aggregates share the window spec.
    """
    if preceding < 1:
        raise ValueError("preceding must be >= 1")
    if min_obs < 2:
        raise ValueError("min_obs must be >= 2 (variance needs 2 points)")
    hi = -1 if exclude_current else 0
    frame = window.rowsBetween(-preceding, hi)
    dec = F.col(value_col).cast(f"decimal(24,{scale})")
    dec2 = (dec * dec).cast(f"decimal(38,{2 * scale})")
    n = F.count(dec).over(frame).cast("double")
    s1 = F.sum(dec).over(frame).cast("double")
    s2 = F.sum(dec2).over(frame).cast("double")
    mean = s1 / n
    var = (n * s2 - s1 * s1) / (n * (n - 1))
    z = (F.col(value_col) - mean) / F.sqrt(var)
    ok = (n >= min_obs) & (var > 0)
    return df.withColumn(
        f"{value_col}_base_n", n.cast("long")
    ).withColumn(f"{value_col}_zscore", F.when(ok, z))


def running_count_distinct(
    df: DataFrame,
    keys: list[str],
    order_by: list[str],
    value_col: str,
    out_col: str = "n_distinct_so_far",
) -> DataFrame:
    """Running COUNT(DISTINCT value) per key, in event order — the
    window-distinct Spark does not support natively (``count_distinct``
    over a window raises ``DISTINCT_WINDOW_FUNCTION_UNSUPPORTED``); SQL
    engines that do support it (DuckDB, Postgres) make it the natural
    oracle for this rewrite.

    First-occurrence decomposition: a row is the first time its value
    appears within its key iff ``row_number() == 1`` over
    ``(keys + value)`` ordered by the event order; the running distinct
    count is then a plain running SUM of that flag over ``keys``. Two
    window specs = two hash-partition exchanges, both on key columns —
    no distinct-state blowup, no per-row set materialization, and the
    second exchange is on a PREFIX of the first's keys so AQE-era Spark
    can often reuse the partitioning.

    ``order_by`` must be a total order within each key (include a
    unique tiebreaker) or first-occurrence attribution is ambiguous.
    NULL values are ignored, matching SQL ``COUNT(DISTINCT)``.
    """
    if not keys or not order_by:
        raise ValueError("keys and order_by must be non-empty")
    w_first = Window.partitionBy(*keys, value_col).orderBy(*order_by)
    w_run = (
        Window.partitionBy(*keys)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_first = (
        (F.row_number().over(w_first) == 1) & F.col(value_col).isNotNull()
    ).cast("long")
    return df.withColumn("__is_first", is_first).withColumn(
        out_col, F.sum("__is_first").over(w_run).cast("long")
    ).drop("__is_first")
