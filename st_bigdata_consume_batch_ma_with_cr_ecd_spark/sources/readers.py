"""Source operators (SURVEY.md §2.1, S1-S4).

Spark-native replacements for the reference's Glue
``create_dynamic_frame.from_options/from_catalog`` reads
(reference: ``script/main.py:250-298``):

- S1 recursive parquet scan    -> ``read_parquet``
- S2 catalog scan + partition pushdown -> ``read_table_pruned``
  (a plain ``.where`` on the partition column; Catalyst's static
  partition pruning replaces Glue's ``push_down_predicate``)
- S3 catalog scan, no predicate -> ``read_table_pruned`` without bounds
- S4 CSV scan with header      -> ``read_csv_lookup``

``read_testdata`` loads the synthetic benchmark tables. Other formats
(JSON lines, ORC, schema-merging parquet) are one ``DataFrameReader``
call each and get no wrapper here.
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
