"""SparkSession factory.

The reference runs on AWS Glue 4.0 (= Spark 3.3, ANSI off) with explicit
memory / broadcast tuning (reference: ``deployment/glue.tf:143-144``).
We pin the semantics-relevant confs here so every entry point (tests,
bench, driver contract) sees identical behaviour:

- **ANSI off** — Spark 4 turned ANSI on by default; the reference's
  semantics (null on bad cast, e.g. the string->int geo join key,
  reference ``script/main.py:139``) require it off.
- **UTC session timezone** — timestamps compare bit-identically against
  the DuckDB oracle (UTC-naive).
- **AQE on** (+ skew join) — runtime re-planning is our main 100-TB
  defence: partition coalescing, skew-join splitting, dynamic
  broadcast-join conversion.
- **Dynamic partition overwrite** — the open-Spark replacement for the
  reference's ``purge_table`` + append sink (``script/main.py:395-416``).
- **Python DataSource filter pushdown** — ``sources.pydatasource``
  narrows its generated range from pushed filters.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "st_bigdata_spark_engine",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with the engine's canonical confs.

    ``shuffle_partitions`` defaults to the core count: right for local
    test scale. On a real cluster pass ~2-3x total executor cores, or
    leave AQE's coalescing to shrink the default.
    """
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Spark 4.1: lets custom Python DataSources receive pushed
        # filters (sources.pydatasource narrows its generated range)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_session_conf(spark: SparkSession) -> SparkSession:
    """Apply the semantics-critical confs to an externally-created session.

    The driver contract hands us a SparkSession we didn't build; only
    runtime-mutable confs can be set here (ANSI + timezone are runtime
    SQL confs, so the correctness-relevant ones all apply).
    """
    for k, v in (
        ("spark.sql.ansi.enabled", "false"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.sources.partitionOverwriteMode", "dynamic"),
        # runtime-settable; required before any read of a custom Python
        # DataSource that implements pushFilters (sources.pydatasource)
        ("spark.sql.python.filterPushdown.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable at runtime in this deployment — keep going
    return spark
