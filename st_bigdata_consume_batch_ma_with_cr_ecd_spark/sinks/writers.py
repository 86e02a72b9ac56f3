"""Sink operators (SURVEY.md §2.2, K1-K4).

Open-Spark replacements for the reference's three outputs
(``script/main.py:377-416``):

- K1 nested gzip JSON            -> ``write_json_gzip``
- K2 flat gzip CSV, single file  -> ``write_csv_gzip``
- K3 purge_table + catalog append -> ``overwrite_partitions``
  (dynamic partition overwrite: only touched partitions are replaced,
  atomically per partition — the Glue purge/append pair collapsed into
  one idempotent write)

One output file per directory, as the reference promises, but without
its ``coalesce(1)`` (``script/main.py:389``): that caps the *entire
final stage* at one task, the #1 scalability hazard in the reference.
The gzip writers hash-partition on the directory's columns instead, so
each directory's rows reach one task, upstream stages keep full
parallelism and only the write itself is narrow.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, DataFrameWriter


def _one_file_per_dir(df: DataFrame, partition_by: Sequence[str]) -> DataFrameWriter:
    if partition_by:
        return df.repartition(*partition_by).write.partitionBy(*partition_by)
    return df.repartition(1).write


def write_json_gzip(df: DataFrame, path: str, partition_by: Sequence[str]) -> None:
    """K1: overwrite ``path`` with gzip JSON lines, one file in each
    ``partition_by`` directory, or in ``path`` itself when there is none."""
    _one_file_per_dir(df, partition_by).mode("overwrite").option("compression", "gzip").json(path)


def write_csv_gzip(df: DataFrame, path: str, partition_by: Sequence[str]) -> None:
    """K2: as :func:`write_json_gzip`, as gzip CSV with a header row."""
    (
        _one_file_per_dir(df, partition_by)
        .mode("overwrite")
        .option("compression", "gzip")
        .option("header", "true")
        .csv(path)
    )


def overwrite_partitions(
    df: DataFrame,
    path_or_table: str,
    partition_by: Sequence[str],
    *,
    as_table: bool = False,
) -> None:
    """K3: replace exactly the partitions present in ``df``.

    Requires ``spark.sql.sources.partitionOverwriteMode=dynamic`` (set
    by our session factory) — Spark then deletes only the partitions it
    is about to rewrite, the open equivalent of Glue ``purge_table`` +
    append (reference ``script/main.py:395-416``).
    """
    mode = df.sparkSession.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    if mode.lower() != "dynamic":
        raise RuntimeError(
            "overwrite_partitions requires spark.sql.sources."
            "partitionOverwriteMode=dynamic (session factory sets it); in "
            f"{mode!r} mode this write would DELETE every partition of the "
            "target, not just the ones being rewritten"
        )
    if as_table:
        # saveAsTable(mode=overwrite) REPLACES the whole table regardless
        # of partitionOverwriteMode; only insertInto honors dynamic
        # overwrite. Create on first write, insertInto thereafter.
        if df.sparkSession.catalog.tableExists(path_or_table):
            # insertInto matches by POSITION and the table stores
            # partition columns last — reorder to the table's schema
            table_cols = df.sparkSession.table(path_or_table).columns
            df.select(*table_cols).write.mode("overwrite").insertInto(path_or_table)
        else:
            df.write.mode("overwrite").format("parquet").partitionBy(*partition_by).saveAsTable(
                path_or_table
            )
    else:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path_or_table)
