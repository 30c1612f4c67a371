"""GHCN-D medallion pipeline: reference-parity composition of the engine's
operators over the reference's own input formats.

Reproduces WHAT the reference computes (grain ladder, unit conversions,
quality scoring, mart shapes — SURVEY.md §1.4, §2) with an idiomatic
Spark-first design:

  * ONE multi-path ``read.text`` scan replaces the reference's 913-file
    union chain (``src/transform/bronze_processor.py:35-38`` — anti-pattern
    per SURVEY §4);
  * day-slot unpivot is ``explode(sequence(1,31))`` + computed-position
    substring (reference ``bronze_processor.py:83-124``);
  * gold marts group by compact keys (ID, year, month) and carry station
    metadata via ``first()`` aggregates instead of the reference's 8-column
    groupBy keys with float coordinates (``gold_processor.py:49-80``) — same
    result, far cheaper shuffle at 100 TB;
  * silver is meant to be cached/persisted before fanning out the four
    marts (the reference re-scans it 4x, ``gold_processor.py:25-41``).

Intentional reference quirks preserved (do-not-fix list, SURVEY §7.4.2):
π hard-coded to 3.14159 in seasonal encodings (``gold_processor.py:205-207``),
growing_season_length = 365 − freezing_days (``gold_processor.py:126-129``),
7-row (not 7-day) rolling frames (``gold_processor.py:195-199``), tenths
unit conversion for all five elements (``silver_processor.py:52-57``),
hard bounds −50..50 °C / 0..200 mm nulling (``silver_processor.py:59-70``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ghcn_d_etl_project_spark.sources.readers import ColSpec, read_fixed_width

REFERENCE_PI = 3.14159  # reference's literal, NOT math.pi (gold_processor.py:205)

ELEMENTS = ("TMAX", "TMIN", "PRCP", "SNOW", "SNWD")

# .dly layout (FIXTURES.md B1; reference bronze_processor.py:50-61)
DLY_HEADER = [
    ColSpec("ID", 1, 11),
    ColSpec("year", 12, 4, "int"),
    ColSpec("month", 16, 2, "int"),
    ColSpec("ELEMENT", 18, 4),
]

# ghcnd-stations.txt layout (FIXTURES.md B2; reference silver_processor.py:100-108)
# The reference trims ID, STATE, NAME and COUNTRY (silver_processor.py:101-107);
# blank STATE/COUNTRY must come out '' not '  ' or comparisons diverge.
STATIONS_COLSPEC = [
    ColSpec("ID", 1, 11, trim=True),
    ColSpec("LATITUDE", 13, 8, "double"),
    ColSpec("LONGITUDE", 22, 9, "double"),
    ColSpec("ELEVATION", 32, 6, "double"),
    ColSpec("STATE", 39, 2, trim=True),
    ColSpec("NAME", 42, 30, trim=True),
    ColSpec("COUNTRY", 82, 2, trim=True),
]


def read_stations(spark: SparkSession, path: str, state: str | None = None) -> DataFrame:
    """Station metadata scan (reference S6). Optional state filter is a
    pushed-down predicate, not a driver-side collect (reference S5)."""
    df = read_fixed_width(spark, path, STATIONS_COLSPEC)
    if state:
        df = df.filter(F.col("STATE") == state)
    return df


def bronze_from_dly(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Raw ``.dly`` lines → one row per (ID, DATE, ELEMENT) observation.

    Wide→long unpivot (reference R1): each 269-char line carries 31 day
    slots at computed offsets; the 31 8-char slots are pre-sliced into
    an array BEFORE the explode (r15, guide §2.3 — shrink the exploded
    row: ``posexplode`` of the slot array materializes 8 bytes per
    output row where the r14 shape carried the full 269-char line 31x
    through the generator), then VALUE/M/Q/SFLAG are substring-projected
    from the slot (reference bronze_processor.py:99-119 reads the same
    offsets off the whole line). Sentinel −9999 observations are dropped
    (not nulled) and impossible dates (Feb 30) vanish as NULL → filter
    (bronze_processor.py:67-75,122).

    Date derivation (r15): the month's first day and its day count are
    computed once per LINE (``make_date(year, month, 1)`` +
    ``last_day``, guarded by a CASE so ANSI mode never sees an invalid
    month/year — a bare per-row ``make_date(y, m, d)`` THROWS on Feb 30
    under ANSI, and this Spark has no ``try_make_date``); each exploded
    row then derives DATE as one integer ``date_add`` + a day-count
    compare. The replaced shape ran ``try_to_date`` over a concat'd
    string per EXPLODED row — 31x the string building and calendar
    parsing for the same result. Exactly equal: the year guard
    [1000, 9999] reproduces try_to_date's 4-digit 'yyyyMMdd'
    acceptance, month guard [1, 12] and the day <= last-day compare
    reproduce its calendar validation (old-vs-new pinned equal row-set
    by ``test_bronze_date_guards_match_try_to_date``; the full-corpus
    comparison is in the history of commit 5712f7f).
    """
    lines = read_fixed_width(spark, paths, DLY_HEADER, keep_line=True)
    # one parsed SQL string, not 31 py4j substr calls (the r14
    # construction rule); slot i covers cols 22+8i .. 29+8i
    slots = F.expr(
        "array("
        + ", ".join(f"substring(value, {22 + 8 * i}, 8)" for i in range(31))
        + ")"
    )
    month_first = F.expr(
        "CASE WHEN year BETWEEN 1000 AND 9999 AND month BETWEEN 1 AND 12 "
        "THEN make_date(year, month, 1) END"
    )
    exploded = lines.select(
        "ID",
        "year",
        "month",
        "ELEMENT",
        month_first.alias("__first"),
        F.dayofmonth(F.last_day(month_first)).alias("__dim"),
        F.posexplode(slots).alias("d0", "slot"),
    )
    slot = F.col("slot")
    parsed = exploded.select(
        "ID",
        "year",
        "month",
        (F.col("d0") + 1).alias("day"),
        "ELEMENT",
        slot.substr(1, 5).cast("int").alias("VALUE"),
        slot.substr(6, 1).alias("MFLAG"),
        slot.substr(7, 1).alias("QFLAG"),
        slot.substr(8, 1).alias("SFLAG"),
        "__first",
        "__dim",
    )
    dated = parsed.withColumn(
        "DATE",
        F.when(
            F.col("day") <= F.col("__dim"),
            F.date_add(F.col("__first"), F.col("day") - 1),
        ),
    )
    return dated.filter(
        F.col("day").between(1, 31)
        & (F.col("VALUE") != -9999)
        & F.col("DATE").isNotNull()
    ).select(
        "ID", "DATE", "ELEMENT", "VALUE", "MFLAG", "QFLAG", "SFLAG",
        "year", "month", "day",
    )


def silver_from_bronze(bronze: DataFrame, stations: DataFrame) -> DataFrame:
    """Bronze observations → one row per (ID, DATE) with element columns,
    station metadata, and a quality score.

    Steps (reference silver_processor.py): isin element filter (:28) →
    tenths→units conversion (:52-57) → out-of-range nulling (:59-70) →
    pivot with explicit value list (:79-84) → broadcast-left-join station
    metadata (:116-119) → quality score (:121-142).

    The pivot collapses duplicate (ID, DATE, ELEMENT) observations with
    ``max``: deterministic and hash-checkable, where the reference's
    ``first`` depends on row order (SURVEY §2.3 R2 note).
    """
    f = bronze.filter(F.col("ELEMENT").isin(*ELEMENTS))
    converted = f.withColumn("VALUE", F.col("VALUE").cast("double") / 10.0)
    bounded = converted.withColumn(
        "VALUE",
        F.when(
            F.col("ELEMENT").isin("TMAX", "TMIN")
            & ~F.col("VALUE").between(-50.0, 50.0),
            F.lit(None).cast("double"),
        )
        .when(
            (F.col("ELEMENT") == "PRCP") & ~F.col("VALUE").between(0.0, 200.0),
            F.lit(None).cast("double"),
        )
        .otherwise(F.col("VALUE")),
    )
    pivoted = (
        bounded.groupBy("ID", "DATE", "year", "month", "day")
        .pivot("ELEMENT", list(ELEMENTS))
        .agg(F.max("VALUE"))
    )
    enriched = pivoted.join(F.broadcast(stations), "ID", "left")
    return _with_quality_score(enriched)


def _with_quality_score(df: DataFrame) -> DataFrame:
    """Reference Q1 (silver_processor.py:121-142): completeness over the 5
    element columns, penalized x0.8 when TMAX < TMIN (both present)."""
    completeness = (
        sum(F.col(e).isNotNull().cast("int") for e in ELEMENTS) / F.lit(5.0)
    )
    inconsistent = (
        F.col("TMAX").isNotNull()
        & F.col("TMIN").isNotNull()
        & (F.col("TMAX") < F.col("TMIN"))
    )
    return df.withColumn(
        "data_quality_score",
        F.when(inconsistent, completeness * 0.8).otherwise(completeness),
    )


def _metadata_firsts() -> list:
    """Station metadata via first() aggregates — keeps groupBy keys compact
    (vs the reference's 8-column keys incl. float coords, SURVEY §7.4.3)."""
    return [
        F.first("LATITUDE").alias("LATITUDE"),
        F.first("LONGITUDE").alias("LONGITUDE"),
        F.first("ELEVATION").alias("ELEVATION"),
        F.first("STATE").alias("STATE"),
        F.first("NAME").alias("NAME"),
    ]


def gold_monthly(silver: DataFrame) -> DataFrame:
    """Station-month climate mart (reference A1+A2, gold_processor.py:49-89)."""
    agg = silver.groupBy("ID", "year", "month").agg(
        *_metadata_firsts(),
        F.avg("TMAX").alias("avg_tmax"),
        F.avg("TMIN").alias("avg_tmin"),
        F.avg((F.col("TMAX") + F.col("TMIN")) / 2).alias("avg_temp"),
        F.min("TMIN").alias("min_temp"),
        F.max("TMAX").alias("max_temp"),
        F.sum("PRCP").alias("total_precip"),
        F.avg("PRCP").alias("avg_precip"),
        F.max("PRCP").alias("max_precip"),
        F.sum("SNOW").alias("total_snow"),
        F.avg("SNOW").alias("avg_snow"),
        F.max("SNOW").alias("max_snow"),
        F.max("SNWD").alias("max_snow_depth"),
        F.count(F.lit(1)).alias("record_count"),
        F.sum(F.when(F.col("PRCP") > 0, 1).otherwise(0)).alias("days_with_precip"),
        F.sum(F.when(F.col("SNOW") > 0, 1).otherwise(0)).alias("days_with_snow"),
        F.sum(F.when(F.col("SNWD") > 0, 1).otherwise(0)).alias("days_with_snow_cover"),
        F.avg("data_quality_score").alias("avg_quality_score"),
    )
    return (
        agg.withColumn(
            "temperature_range", F.col("max_temp") - F.col("min_temp")
        )
        .withColumn(
            "precip_days_pct",
            F.col("days_with_precip") / F.col("record_count") * 100,
        )
        .withColumn(
            "snow_days_pct", F.col("days_with_snow") / F.col("record_count") * 100
        )
    )


def gold_yearly(silver: DataFrame) -> DataFrame:
    """Station-year mart with extreme-day counts and the reference's
    derived indices (A3+A4, gold_processor.py:93-133) — including the
    intentionally quirky growing_season_length = 365 − freezing_days."""
    agg = silver.groupBy("ID", "year").agg(
        *_metadata_firsts(),
        F.avg("TMAX").alias("avg_tmax"),
        F.avg("TMIN").alias("avg_tmin"),
        # avg of the per-row midpoint — only rows where BOTH elements are
        # non-null contribute (gold_processor.py:100), which diverges from
        # (avg_tmax+avg_tmin)/2 under asymmetric completeness.
        F.avg((F.col("TMAX") + F.col("TMIN")) / 2).alias("avg_temp"),
        F.min("TMIN").alias("min_temp"),
        F.max("TMAX").alias("max_temp"),
        F.sum("PRCP").alias("annual_precip"),
        F.avg("PRCP").alias("avg_daily_precip"),
        F.max("PRCP").alias("max_daily_precip"),
        F.sum("SNOW").alias("annual_snow"),
        F.max("SNOW").alias("max_daily_snow"),
        F.max("SNWD").alias("max_snow_depth"),
        F.count(F.lit(1)).alias("record_count"),
        F.sum(F.when(F.col("TMAX") > 32, 1).otherwise(0)).alias("hot_days"),
        F.sum(F.when(F.col("TMIN") < 0, 1).otherwise(0)).alias("freezing_days"),
        F.sum(F.when(F.col("PRCP") > 25, 1).otherwise(0)).alias("heavy_precip_days"),
        F.avg("data_quality_score").alias("avg_quality_score"),
    )
    return (
        agg.withColumn(
            "growing_season_length", F.lit(365) - F.col("freezing_days")
        )
        .withColumn("heat_stress_days", F.col("hot_days"))
        .withColumn("moisture_index", F.col("annual_precip") / 1000)
    )


def gold_normals(silver: DataFrame) -> DataFrame:
    """Month-of-year climate normals across years + classification ladders
    (A5+A6, gold_processor.py:137-178)."""
    agg = silver.groupBy("ID", "month").agg(
        *_metadata_firsts(),
        F.avg("TMAX").alias("normal_tmax"),
        F.avg("TMIN").alias("normal_tmin"),
        # NOT (normal_tmax+normal_tmin)/2: the reference averages the
        # per-row midpoint (gold_processor.py:146), so only rows with BOTH
        # elements present contribute — the two diverge under asymmetric
        # element completeness, and climate_zone keys off this one.
        F.avg((F.col("TMAX") + F.col("TMIN")) / 2).alias("normal_temp"),
        F.avg("PRCP").alias("normal_precip"),
        F.stddev("TMAX").alias("tmax_stddev"),
        F.stddev("TMIN").alias("tmin_stddev"),
        F.stddev("PRCP").alias("precip_stddev"),
        F.min("TMIN").alias("record_low"),
        F.max("TMAX").alias("record_high"),
        F.max("PRCP").alias("record_precip"),
        F.count(F.lit(1)).alias("total_observations"),
        F.countDistinct("year").alias("years_of_data"),
    )
    return agg.withColumn(
        "climate_zone",
        F.when(F.col("normal_temp") > 20, "Hot")
        .when(F.col("normal_temp") > 10, "Temperate")
        .when(F.col("normal_temp") > 0, "Cool")
        .otherwise("Cold"),
    ).withColumn(
        "precipitation_regime",
        F.when(F.col("normal_precip") > 5, "Wet")
        .when(F.col("normal_precip") > 2, "Moderate")
        .otherwise("Dry"),
    )


def gold_ml_features(silver: DataFrame) -> DataFrame:
    """Station-day ML feature mart (gold_processor.py:182-238): per-station
    lag/rolling window features, seasonal encodings (reference π literal),
    and anomalies vs (ID, month) normals via aggregate-then-join (J2)."""
    w = Window.partitionBy("ID").orderBy("DATE")
    w7 = w.rowsBetween(-6, 0)  # 7 ROWS, not 7 days — reference W2 quirk
    feats = (
        silver.withColumn("tmax_lag1", F.lag("TMAX", 1).over(w))
        .withColumn("tmin_lag1", F.lag("TMIN", 1).over(w))
        .withColumn("prcp_lag1", F.lag("PRCP", 1).over(w))
        .withColumn("tmax_7day_avg", F.avg("TMAX").over(w7))
        .withColumn("tmin_7day_avg", F.avg("TMIN").over(w7))
        .withColumn("prcp_7day_sum", F.sum("PRCP").over(w7))
        .withColumn("temp_range", F.col("TMAX") - F.col("TMIN"))
        .withColumn("day_of_year", F.dayofyear("DATE"))
        .withColumn(
            "month_sin", F.sin(F.col("month") * 2 * REFERENCE_PI / 12)
        )
        .withColumn(
            "month_cos", F.cos(F.col("month") * 2 * REFERENCE_PI / 12)
        )
    )
    normals = silver.groupBy("ID", "month").agg(
        F.avg("TMAX").alias("monthly_normal_tmax"),
        F.avg("TMIN").alias("monthly_normal_tmin"),
        F.avg("PRCP").alias("monthly_normal_prcp"),
    )
    joined = feats.join(normals, ["ID", "month"], "left")
    # Final projection mirrors the reference's feature_columns list
    # (gold_processor.py:228-236): anomalies kept, raw normals dropped.
    return (
        joined.withColumn(
            "tmax_anomaly", F.col("TMAX") - F.col("monthly_normal_tmax")
        )
        .withColumn("tmin_anomaly", F.col("TMIN") - F.col("monthly_normal_tmin"))
        .withColumn("prcp_anomaly", F.col("PRCP") - F.col("monthly_normal_prcp"))
        .select(
            "ID", "DATE", "year", "month", "day", "day_of_year",
            "LATITUDE", "LONGITUDE", "ELEVATION", "STATE",
            "TMAX", "TMIN", "PRCP", "SNOW", "SNWD",
            "tmax_lag1", "tmin_lag1", "prcp_lag1",
            "tmax_7day_avg", "tmin_7day_avg", "prcp_7day_sum",
            "temp_range", "tmax_anomaly", "tmin_anomaly", "prcp_anomaly",
            "month_sin", "month_cos", "data_quality_score",
        )
    )


def run_pipeline(
    spark: SparkSession,
    dly_paths: str | list[str],
    stations_path: str,
    state: str | None = None,
) -> dict[str, DataFrame]:
    """Full medallion composition. Silver is cache-marked before the
    4-mart fan-out (the reference re-derives it per mart — SURVEY §4
    caching row). The cache is lazy: no Spark job runs here, the first
    action over silver fills it and the marts read it after that. The
    caller owns ``unpersist()`` on the returned silver frame.
    """
    bronze = bronze_from_dly(spark, dly_paths)
    stations = read_stations(spark, stations_path, state=state)
    silver = silver_from_bronze(bronze, stations).cache()
    return {
        "bronze": bronze,
        "silver": silver,
        "monthly": gold_monthly(silver),
        "yearly": gold_yearly(silver),
        "normals": gold_normals(silver),
        "ml_features": gold_ml_features(silver),
    }


def gold_ml_features_dense(silver: DataFrame) -> DataFrame:
    """Calendar-dense variant of ``gold_ml_features``: densify each
    station's daily series before windowing, so lag/rolling features see
    a complete calendar instead of the reference's gap-blind ROWS frames
    (``gold_processor.py:195-199`` treats "7 rows" as "7 days"; SURVEY
    §2.6). Composition of ``operators/timeseries.py:gap_fill_ffill``
    with the same feature expressions:

      * synthesized station-days carry forward-filled TMAX/TMIN/PRCP
        (``*_ffill``), ``is_gap`` = 1, and ``days_since_obs`` staleness
        — the ML-side can weight or mask them;
      * ``tmax_lag1``/``tmax_7day_avg`` etc. compute over the DENSE grid
        from the ffill columns, so a "7-row window" is now exactly 7
        calendar days at every station;
      * observed rows keep raw values in the original columns (NULL on
        synthesized rows), preserving auditability.

    Same shuffle budget as the sparse variant (one window partition by
    station) plus the gap-fill's own window — the explode adds rows, not
    exchanges.
    """
    from ghcn_d_etl_project_spark.operators.timeseries import gap_fill_ffill

    dense = gap_fill_ffill(
        silver.select("ID", "DATE", "TMAX", "TMIN", "PRCP"),
        ["ID"],
        "DATE",
        ["TMAX", "TMIN", "PRCP"],
    )
    w = Window.partitionBy("ID").orderBy("DATE")
    w7 = w.rowsBetween(-6, 0)  # over the dense grid: exactly 7 days
    return (
        dense.withColumn("tmax_lag1", F.lag("TMAX_ffill", 1).over(w))
        .withColumn("tmin_lag1", F.lag("TMIN_ffill", 1).over(w))
        .withColumn("prcp_lag1", F.lag("PRCP_ffill", 1).over(w))
        .withColumn("tmax_7day_avg", F.avg("TMAX_ffill").over(w7))
        .withColumn("tmin_7day_avg", F.avg("TMIN_ffill").over(w7))
        .withColumn("prcp_7day_sum", F.sum("PRCP_ffill").over(w7))
    )


def nearest_stations(stations: DataFrame, radius_km: float = 75.0) -> DataFrame:
    """Each station's nearest OTHER station within ``radius_km`` —
    the gap-imputation / cross-station-QA lookup the reference's
    state-only filtering cannot express, composed from
    ``operators/geo.py:radius_join`` (grid-bucketed equi-join, no
    cross product) + one rank window over the candidate pairs.

    Output: one row per station that has a neighbor in range
    (ID, LATITUDE, LONGITUDE, neighbor_id, distance_km).
    """
    from ghcn_d_etl_project_spark.operators.geo import radius_join

    pts = stations.select(
        "ID",
        F.col("LATITUDE").alias("lat"),
        F.col("LONGITUDE").alias("lon"),
    )
    pairs = radius_join(pts, pts, radius_km=radius_km).where(
        F.col("ID") != F.col("ID_r")
    )
    w = Window.partitionBy("ID").orderBy("distance_km", "ID_r")
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "ID",
            F.col("lat").alias("LATITUDE"),
            F.col("lon").alias("LONGITUDE"),
            F.col("ID_r").alias("neighbor_id"),
            "distance_km",
        )
    )
