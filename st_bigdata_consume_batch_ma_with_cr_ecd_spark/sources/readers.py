"""Source operators (SURVEY.md §2.1, S1-S4).

Spark-native replacements for the reference's Glue
``create_dynamic_frame.from_options/from_catalog`` reads
(reference: ``script/main.py:250-298``):

- S1 recursive parquet scan    -> ``read_parquet``
- S2 catalog scan + partition pushdown -> ``read_table_pruned``
  (a plain ``.where`` on the partition column; Catalyst's static
  partition pruning replaces Glue's ``push_down_predicate``)
- S4 CSV scan with header      -> ``read_csv_lookup``
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_parquet(
    spark: SparkSession, path: str, *, recursive: bool = True, columns: list[str] | None = None
) -> DataFrame:
    """S1: parquet tree scan (reference ``script/main.py:250-258``).

    ``columns`` prunes the read schema explicitly; Catalyst also prunes
    automatically from downstream selects, but an explicit projection
    documents the contract and survives ``cache()`` boundaries.
    """
    reader = spark.read.option("recursiveFileLookup", str(recursive).lower())
    df = reader.parquet(path)
    return df.select(*columns) if columns else df


def read_table_pruned(
    spark: SparkSession,
    table: str,
    partition_col: str | None = None,
    lo: str | None = None,
    hi: str | None = None,
) -> DataFrame:
    """S2/S3: catalog read with optional partition-range pruning
    (reference ``script/main.py:263-298`` used Glue ``push_down_predicate``;
    a WHERE on the partition column gets the same pruning from Catalyst —
    verify via ``explain``: the scan node shows the partition filters).
    """
    df = spark.read.table(table)
    if partition_col is not None:
        if lo is not None:
            df = df.where(F.col(partition_col) >= F.lit(lo))
        if hi is not None:
            df = df.where(F.col(partition_col) < F.lit(hi))
    return df


def read_csv_lookup(
    spark: SparkSession, path: str, *, schema: str | None = None, infer: bool = True
) -> DataFrame:
    """S4: header CSV lookup table (reference ``script/main.py:129-134``).

    Prefer an explicit ``schema`` string in production — ``inferSchema``
    triggers an extra pass over the file (fine for 500-row dims, wrong
    for anything big).
    """
    reader = spark.read.option("header", "true")
    if schema:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


_TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_testdata(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load one driver-provided synthetic table (TESTDATA.md).

    ``events.ts`` is stored as parquet INT64 TIMESTAMP(MICROS,
    isAdjustedToUTC=false) in every provided scale (sf0.001, sf0.01,
    sf0.1), so Spark reads it as TIMESTAMP_NTZ and
    :func:`normalize_event_ts` takes its NTZ branch, casting it to a
    session-local TIMESTAMP. Events go through
    :func:`load_nanos_events` anyway, so a TIMESTAMP(NANOS) file, which
    Spark's vectorized reader rejects outright, would still load.
    """
    if table not in _TESTDATA_TABLES:
        raise ValueError(f"unknown testdata table {table!r}; expected one of {_TESTDATA_TABLES}")
    path = f"{sf_dir}/{table}.parquet"
    if table == "events":
        return load_nanos_events(spark, path)
    return spark.read.parquet(path)


def normalize_event_ts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TIMESTAMP, whatever physical
    encoding it arrived in. Dtype-conditional — never assume the
    writer's physical type, inspect the loaded schema:

    - LONG (parquet INT64 TIMESTAMP(NANOS) read under ``nanosAsLong``):
      convert nanos -> micros -> timestamp.
    - TIMESTAMP_NTZ (parquet TIMESTAMP(MICROS/MILLIS) with
      ``isAdjustedToUTC=false``): cast to session-local TIMESTAMP so
      comparisons against literals behave uniformly.
    - TIMESTAMP: pass through untouched.

    Works on batch AND streaming DataFrames (pure projection, no state).
    """
    from pyspark.sql import types as T

    dtype = df.schema[ts_col].dataType
    if isinstance(dtype, T.LongType):
        # integer `div`, NOT `/`: epoch-nanos (~1.7e18) overflow double precision
        return df.withColumn(ts_col, F.timestamp_micros(F.expr(f"`{ts_col}` div 1000")))
    if isinstance(dtype, T.TimestampNTZType):
        return df.withColumn(ts_col, F.col(ts_col).cast(T.TimestampType()))
    return df


def load_nanos_events(spark: SparkSession, path: str, ts_col: str = "ts") -> DataFrame:
    """Read a parquet events file, normalizing ``ts_col`` to TIMESTAMP
    via :func:`normalize_event_ts` (handles NANOS-as-long, NTZ, and
    plain timestamp encodings).

    Deliberately leaves ``nanosAsLong`` set SESSION-WIDE: the conf is
    read at execution (not plan) time, so a save/restore around this
    lazy read would break it. The trade: any later raw parquet read of
    a NANOS column in the same session also decodes as long — in this
    engine every NANOS read goes through this helper (which then
    normalizes), so route new NANOS sources here too.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_event_ts(spark.read.parquet(path), ts_col)


def read_json_lines(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    *,
    recursive: bool = True,
) -> DataFrame:
    """JSONL scan (the interchange format of most public text corpora).

    ALWAYS pass a schema in production: schema inference runs a full
    extra pass over 100 TB before the real read. Corrupt lines land in
    ``_corrupt_record`` (PERMISSIVE mode) instead of failing the job —
    filter or quarantine them explicitly.
    """
    reader = spark.read.option("recursiveFileLookup", str(recursive).lower())
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str, *, columns: list[str] | None = None) -> DataFrame:
    """ORC scan — same pushdown/pruning behavior as parquet (both are
    columnar with stats footers); included so warehouses with ORC-era
    history can feed the same operators."""
    df = spark.read.orc(path)
    return df.select(*columns) if columns else df


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution-tolerant parquet scan: ``mergeSchema`` unions the
    footer schemas of every file, so files written before a column was
    added read as NULL in that column instead of failing.

    Costs one footer read per file (not a data scan) — fine nightly,
    but pin an explicit schema on hot paths; at 100 TB the footer
    listing alone is a driver-side cost worth caching in a catalog.
    """
    return spark.read.option("mergeSchema", "true").parquet(path)
