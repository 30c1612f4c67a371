"""SparkSession factory.

Reference analog: ``src/utils/spark_utils.py`` (session config / cache /
repartition helpers) — re-expressed as a single tuned factory. Settings are
chosen for correctness-vs-oracle (UTC session timezone; ANSI mode stays at
Spark 4's default, on, so invalid casts and arithmetic overflow throw) and for
scale-readiness (AQE, skew-join handling, partition coalescing); the
shuffle-partition count defaults to the local core count but is the one knob
a cluster deployment should raise to ~2-3x total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "ghcn_d_etl_project_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Scale notes (100 TB posture):
      * AQE on — runtime partition coalescing, skew-join splitting, and
        dynamic join-strategy switching replace hand-tuning per query.
      * ``spark.sql.session.timeZone=UTC`` — deterministic timestamp
        semantics regardless of host timezone (oracle parity).
      * Arrow on — any pandas_udf/applyInPandas extension op gets batched
        columnar transfer instead of per-row pickling.
      * ``spark.sql.files.maxPartitionBytes`` left at 128 MB default: at
        100 TB that yields ~800k input splits, which is the right grain for
        1000 executors; raise only for tiny-file-compacted layouts.
    """
    master = master or os.environ.get(
        "SPARK_GRAFT_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet TIMESTAMP(NANOS) (e.g. the events table) is illegal for
        # Spark's vectorized reader; read as long nanos and convert in the
        # loader (sources.readers.nanos_to_ts) — lossless for micro-aligned
        # data.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # tz-less parquet timestamp[us] (pandas/pyarrow default) would
        # otherwise infer as TIMESTAMP_NTZ, which unix_micros/withWatermark
        # reject; read natively as TIMESTAMP (UTC session pins the
        # wall-clock interpretation).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
