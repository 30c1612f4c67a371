"""Readers: parquet table loader + generalized fixed-width text scan.

Reference analogs:
  * parquet/Delta layer scan — ``spark.read.format("delta").load(path)``
    (reference ``src/transform/silver_processor.py:25``); here plain parquet.
  * fixed-width ``.dly`` scan — ``spark.read.text`` + per-column
    ``substring``/``trim``/``cast`` projections
    (reference ``src/transform/bronze_processor.py:43-81`` and
    ``silver_processor.py:86-114``). Generalized into ``read_fixed_width``
    with a declarative colspec instead of one-off notebook code.

Scale notes: one multi-path/glob ``spark.read.text`` scan replaces the
reference's 913-iteration per-file union chain
(``bronze_processor.py:35-38``) — a single scan node keeps the logical plan
O(1), globbing parallelizes listing, and file splits become input
partitions; substring projections are Catalyst expressions, so column
pruning and whole-stage codegen apply.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def nanos_to_ts(col_name: str) -> Column:
    """Convert a nanosecond-epoch LONG column to a timestamp (micro
    truncation).

    Spark's parquet reader rejects TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong=true`` (set by the session
    factory) such columns arrive as LONG nanos. The division MUST be
    integral (`div`): nano epochs (~1.7e18) exceed double's 53-bit
    mantissa, so float division silently lands up to 1 microsecond off.
    """
    return F.expr(f"timestamp_micros(`{col_name}` div 1000)")


def normalize_temporal(df: DataFrame) -> DataFrame:
    """Cast every top-level TIMESTAMP_NTZ column to TIMESTAMP.

    Parquet written by pandas/pyarrow without a timezone
    (``timestamp[us]``, no ``isAdjustedToUTC``) reads natively as
    ``TIMESTAMP_NTZ`` — a type several Spark expression families reject
    (``unix_micros`` → DATATYPE_MISMATCH, ``withWatermark`` →
    EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). The NTZ→TIMESTAMP cast
    reinterprets the wall-clock in the SESSION timezone, so the session
    MUST be pinned to UTC for values to be stable (``load_table`` pins it;
    foreign callers must do the same — see that docstring).

    Works identically on batch and streaming DataFrames (pure projection).
    """
    ntz_cols = [name for name, dtype in df.dtypes if dtype == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic test table (``<sf_dir>/<name>.parquet``).

    Normalizes temporal columns so downstream plans always see proper
    ``TIMESTAMP`` types, whichever physical shape the parquet carries:

      * TIMESTAMP(NANOS) read as LONG (``nanosAsLong``) → timestamp_micros
      * tz-less ``timestamp[us]`` → read natively as TIMESTAMP by
        disabling ``inferTimestampNTZ`` (NOT a post-read cast: a cast is
        a projection over the scan that blocks predicate pushdown on the
        very columns queries range-filter). ``normalize_temporal`` stays
        as a belt-and-braces no-op backstop.

    The confs are set here (runtime-settable) rather than relying on the
    session factory: callers may pass any SparkSession — including one this
    engine did not build — and (a) ``spark.read.parquet`` on a
    TIMESTAMP(NANOS) column throws PARQUET_TYPE_ILLEGAL without the nanos
    conf, (b) tz-less parquet timestamps are session-timezone-dependent
    once read as TIMESTAMP, so the timezone is pinned to UTC to keep
    wall-clock values (and oracle hashes) stable on unpinned foreign
    sessions.

    SIDE EFFECT — the UTC pin is SESSION-WIDE and persists after this
    call: the returned DataFrame is lazy, so the timezone must still be
    UTC when the plan executes — a scoped set/restore would silently
    undo the normalization before evaluation. Callers whose own queries
    depend on a non-UTC session timezone should use a separate
    SparkSession for this engine's tables (README "Session configuration
    note"); when the pin actually CHANGES a session's timezone, a
    one-time warning names the change so the action-at-a-distance is at
    least visible in logs.
    """
    prev_tz = spark.conf.get("spark.sql.session.timeZone", None)
    if prev_tz not in (None, "UTC") and not getattr(load_table, "_tz_warned", False):
        import warnings

        warnings.warn(
            f"load_table pins spark.sql.session.timeZone to UTC session-wide "
            f"(was {prev_tz!r}); other timezone-sensitive queries in this "
            f"session will see UTC semantics from now on — use a dedicated "
            f"SparkSession for this engine if that matters.",
            stacklevel=2,
        )
        load_table._tz_warned = True
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", nanos_to_ts("ts"))
    return normalize_temporal(df)


@dataclass(frozen=True)
class ColSpec:
    """One fixed-width column: 1-indexed start, width, target type.

    ``trim`` strips surrounding whitespace BEFORE the cast (string casts to
    numeric in Spark tolerate whitespace, but trimming keeps string columns
    clean — the reference trims NAME, ``silver_processor.py:106``).
    """

    name: str
    start: int  # 1-indexed, inclusive (matches substring() semantics)
    width: int
    dtype: str = "string"  # any Spark cast-able type name
    trim: bool = False


def read_fixed_width(
    spark: SparkSession,
    paths: str | list[str],
    colspec: list[ColSpec],
    keep_line: bool = False,
    line_col: str = "value",
) -> DataFrame:
    """Parse fixed-width text files into typed columns.

    Equivalent of the reference's hand-written station/.dly parsers
    (``bronze_processor.py:50-61``, ``silver_processor.py:100-108``) as a
    reusable declarative op. Accepts globs / lists of paths — Spark
    parallelizes the scan natively (no driver-side file loop).
    """
    if isinstance(paths, str):
        paths = [paths]
    df = spark.read.text(paths)
    cols = []
    for c in colspec:
        col = F.substring(F.col("value"), c.start, c.width)
        if c.trim:
            col = F.trim(col)
        if c.dtype != "string":
            col = col.cast(c.dtype)
        cols.append(col.alias(c.name))
    if keep_line:
        cols.append(F.col("value").alias(line_col))
    return df.select(*cols)


def read_delimited(
    spark: SparkSession,
    paths: str | list[str],
    schema: str,
    delimiter: str = ",",
    header: bool = True,
    mode: str = "FAILFAST",
    corrupt_col: str | None = None,
    timestamp_format: str | None = None,
) -> DataFrame:
    """CSV/TSV scan with a MANDATORY schema — schema inference is a
    hidden full extra pass over the data (Spark reads everything once
    just to guess types), which at 100 TB doubles the scan cost and can
    still guess wrong on sparse columns; this engine refuses it.

    ``mode``: ``FAILFAST`` (default — malformed rows kill the job
    loudly), ``PERMISSIVE`` (malformed rows null out; pass
    ``corrupt_col`` to also capture the raw line for quarantine — the
    standard bronze-layer pattern), or ``DROPMALFORMED`` (documented
    data loss; prefer PERMISSIVE + an explicit quarantine filter so the
    loss is observable). Multi-path/glob input scans natively — no
    driver file loop.
    """
    if isinstance(paths, str):
        paths = [paths]
    full_schema = schema
    if corrupt_col is not None:
        if mode != "PERMISSIVE":
            raise ValueError("corrupt_col requires mode='PERMISSIVE'")
        full_schema = f"{schema}, {corrupt_col} string"
    reader = (
        spark.read.option("delimiter", delimiter)
        .option("header", str(header).lower())
        .option("mode", mode)
    )
    if corrupt_col is not None:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    if timestamp_format is not None:
        reader = reader.option("timestampFormat", timestamp_format)
    return normalize_temporal(reader.schema(full_schema).csv(paths))


def read_jsonl(
    spark: SparkSession,
    paths: str | list[str],
    schema: str,
    mode: str = "PERMISSIVE",
    corrupt_col: str | None = "_corrupt_record",
) -> DataFrame:
    """JSON-lines scan with a MANDATORY schema (same no-inference rule
    as :func:`read_delimited` — JSON inference is an even more
    expensive full pass, and union-of-observed-shapes schemas drift
    run to run).

    Default posture is bronze-friendly: PERMISSIVE with the corrupt
    line captured under ``corrupt_col`` so damaged records quarantine
    instead of vanishing. Fields present in the data but absent from
    the schema are ignored (forward-compatible); absent fields read as
    NULL (backward-compatible) — the schema is the CONTRACT, the files
    are just evidence.
    """
    if isinstance(paths, str):
        paths = [paths]
    full_schema = schema
    if corrupt_col is not None:
        if mode != "PERMISSIVE":
            raise ValueError("corrupt_col requires mode='PERMISSIVE'")
        full_schema = f"{schema}, {corrupt_col} string"
    reader = spark.read.option("mode", mode)
    if corrupt_col is not None:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    return normalize_temporal(reader.schema(full_schema).json(paths))
