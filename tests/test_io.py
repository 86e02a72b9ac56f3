"""Source and sink behavior: testdata loading (incl. the nanos-timestamp
escape hatch), one-file gzip writers, dynamic partition
overwrite replacing the reference's purge_table+append."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sinks.writers import (
    overwrite_partitions,
    write_csv_gzip,
    write_json_gzip,
)
from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sources.readers import (
    read_csv_lookup,
    read_testdata,
)

from .conftest import rows_set


def test_read_testdata_events_ts_is_timestamp(spark, sf_dir):
    ev = read_testdata(spark, sf_dir, "events")
    assert isinstance(ev.schema["ts"].dataType, T.TimestampType)
    assert ev.count() > 0


def test_read_testdata_unknown_table_raises(spark, sf_dir):
    with pytest.raises(ValueError):
        read_testdata(spark, sf_dir, "not_a_table")


def test_read_csv_lookup_with_schema(spark, tmp_path):
    p = tmp_path / "dim.csv"
    p.write_text("geoid,zone\n108,de\n103,at\n")
    df = read_csv_lookup(spark, str(p), schema="geoid INT, zone STRING")
    assert df.schema["geoid"].dataType.simpleString() == "int"
    assert rows_set(df) == {(108, "de"), (103, "at")}


def test_write_csv_gzip_single_file(spark, tmp_path):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = str(tmp_path / "csv_out")
    write_csv_gzip(df, out)
    parts = list(Path(out).glob("part-*.csv.gz"))
    assert len(parts) == 1
    back = spark.read.option("header", "true").csv(out)
    assert back.count() == 100


def test_write_json_gzip_roundtrip_nested(spark, tmp_path):
    df = spark.createDataFrame([(1, ("x", 2))], "id int, s struct<a:string,b:int>")
    out = str(tmp_path / "json_out")
    write_json_gzip(df, out)
    assert list(Path(out).glob("part-*.json.gz"))
    back = spark.read.json(out)
    row = back.collect()[0]
    assert row.id == 1 and row.s.a == "x" and row.s.b == 2


def test_overwrite_partitions_touches_only_written_partitions(spark, tmp_path):
    out = str(tmp_path / "part_table")
    base = spark.createDataFrame(
        [("2024-01", 1), ("2024-02", 2)], "partition_month string, v int"
    )
    overwrite_partitions(base, out, ["partition_month"])
    # rewrite ONLY 2024-02; 2024-01 must survive (dynamic overwrite)
    patch = spark.createDataFrame([("2024-02", 99)], "partition_month string, v int")
    overwrite_partitions(patch, out, ["partition_month"])
    back = spark.read.parquet(out)
    assert rows_set(back.select("partition_month", "v")) == {("2024-01", 1), ("2024-02", 99)}


def test_zorder_layout_narrows_file_stats_on_both_dims(spark, sf_dir, tmp_path):
    """The point of Z-ordering: per-file min/max footers are narrow on
    BOTH interleaved columns, so a filter on either dimension skips
    most files. Compare against a single-column sort layout, where the
    secondary column's per-file span stays ~global."""
    import pyarrow.parquet as pq
    from pathlib import Path

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sinks.layout import write_zordered
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sources.readers import read_testdata

    orders = read_testdata(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered(orders, zpath, ["o_custkey", "o_totalprice"], n_files=8)
    (
        orders.repartitionByRange(8, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(spath)
    )

    def spans(root: str, col: str) -> list[float]:
        out = []
        for f in Path(root).glob("*.parquet"):
            md = pq.read_metadata(f)
            idx = md.schema.names.index(col)
            lo = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
            out.append(float(hi) - float(lo))
        return out

    import statistics

    # the single-sorted layout leaves o_totalprice unclustered: each file
    # spans ~the full price range; z-ordering must cut the mean span
    z_price = statistics.mean(spans(zpath, "o_totalprice"))
    s_price = statistics.mean(spans(spath, "o_totalprice"))
    assert z_price < 0.75 * s_price, (z_price, s_price)
    # and o_custkey must still be clustered, not random
    z_cust = statistics.mean(spans(zpath, "o_custkey"))
    full = max(spans(spath, "o_custkey")) * 8  # ~global span upper bound
    assert z_cust < full, (z_cust, full)


def test_foreach_batch_partition_overwrite_is_idempotent(spark, sf_dir, tmp_path):
    """Re-running a micro-batch (crash-retry) must converge, not append:
    the partition-overwrite batch sink rewrites the same partitions with
    the same rows."""
    from pyspark.sql import functions as F

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sources.readers import read_testdata
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.streaming.sinks import (
        partition_overwrite_batch_writer,
        run_stream_with_batch_sink,
    )

    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # FileStreamSource needs a directory; expose just the events table
    src = tmp_path / "src"
    src.mkdir()
    (src / "events.parquet").symlink_to(f"{sf_dir}/events.parquet")
    stream = spark.readStream.schema(schema).parquet(str(src))

    def shape(df):
        return df.withColumn("etype", F.col("event_type")).select("event_id", "user_id", "etype")

    # stream the events dir once through the idempotent sink
    run_stream_with_batch_sink(
        stream.where("event_type IS NOT NULL"),
        out,
        ["etype"],
        checkpoint_dir=ck,
        transform=shape,
    )
    n1 = spark.read.parquet(out).count()
    assert n1 > 0

    # simulate the crash-retry: re-apply the same batch directly
    batch = shape(spark.read.parquet(f"{sf_dir}/events.parquet"))
    partition_overwrite_batch_writer(out, ["etype"])(batch, epoch_id=0)
    n2 = spark.read.parquet(out).count()
    assert n2 == n1  # converged, no duplicate rows


def test_overwrite_partitions_as_catalog_table(spark, tmp_path):
    """The catalog-managed path (as_table=True): dynamic overwrite must
    behave identically through saveAsTable — the open equivalent of the
    reference's Glue catalog sink (glue.tf:5-16)."""
    name = "t_overwrite_catalog"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    base = spark.createDataFrame(
        [("2024-01", 1), ("2024-02", 2)], "partition_month string, v int"
    )
    overwrite_partitions(base, name, ["partition_month"], as_table=True)
    patch = spark.createDataFrame([("2024-02", 77)], "partition_month string, v int")
    try:
        overwrite_partitions(patch, name, ["partition_month"], as_table=True)
        back = spark.table(name)
        assert rows_set(back.select("partition_month", "v")) == {
            ("2024-01", 1),
            ("2024-02", 77),
        }
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_normalize_event_ts_handles_every_physical_encoding(spark, tmp_path):
    # The r1 round-killer: the events loader must inspect the LOADED
    # dtype, not assume the writer's physical type. Exercise all three
    # encodings a ts column can arrive in.
    import datetime

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sources.readers import (
        load_nanos_events,
        normalize_event_ts,
    )

    wall = datetime.datetime(2024, 5, 20, 12, 30, 45, 123456)

    # 1) long epoch-nanos (parquet TIMESTAMP(NANOS) under nanosAsLong)
    nanos = int(wall.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000) * 1000
    df_long = spark.createDataFrame([(1, nanos)], "event_id INT, ts LONG")
    out = normalize_event_ts(df_long)
    assert isinstance(out.schema["ts"].dataType, T.TimestampType)

    # 2) TIMESTAMP_NTZ (parquet micros with isAdjustedToUTC=false)
    df_ntz = spark.createDataFrame(
        [(1, wall)], T.StructType([
            T.StructField("event_id", T.IntegerType()),
            T.StructField("ts", T.TimestampNTZType()),
        ])
    )
    out_ntz = normalize_event_ts(df_ntz)
    assert isinstance(out_ntz.schema["ts"].dataType, T.TimestampType)
    assert out_ntz.collect()[0]["ts"].replace(tzinfo=None) == wall

    # 3) already TIMESTAMP -> untouched passthrough
    df_ts = df_ntz.withColumn("ts", F.col("ts").cast("timestamp"))
    assert normalize_event_ts(df_ts) is df_ts

    # end-to-end through a parquet file written with plain timestamps
    p = str(tmp_path / "ev.parquet")
    df_ts.write.parquet(p)
    loaded = load_nanos_events(spark, p)
    assert isinstance(loaded.schema["ts"].dataType, T.TimestampType)
    assert loaded.count() == 1


# ----------------------------------------------- custom Python DataSource


def test_python_datasource_partitioned_parallel_read(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sources.pydatasource import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("n_rows", 1000)
        .option("n_partitions", 4)
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 1000
    # deterministic: two reads produce identical rows
    a = {tuple(r) for r in df.collect()}
    b = {tuple(r) for r in spark.read.format("synthetic_events").option("n_rows", 1000).load().collect()}
    assert a == b


def test_python_datasource_rowid_pushdown_narrows_generation(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sources.pydatasource import (
        register_synthetic_source,
        synth_row,
    )

    register_synthetic_source(spark)
    df = spark.read.format("synthetic_events").option("n_rows", 1_000_000).load()
    # row_id equality pushes into the reader (generated range narrows
    # to one row) — without pushdown this would generate a million rows
    got = df.where(df.row_id == 123456).collect()
    assert len(got) == 1
    assert tuple(got[0]) == synth_row(123456, 100, 1_700_000_000)
    # range predicates narrow generation too (lo/hi clamps)
    rng = df.where((df.row_id >= 999_990) & (df.row_id < 999_995)).collect()
    assert sorted(r.row_id for r in rng) == list(range(999_990, 999_995))
    # non-pushable predicates still evaluate correctly post-scan
    small = spark.read.format("synthetic_events").option("n_rows", 500).load()
    assert small.where(small.event_type == "view").count() > 0


def test_python_streaming_source_drains_with_offset_protocol(spark):
    import uuid as _uuid

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sources.pydatasource import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    stream = (
        spark.readStream.format("synthetic_events")
        .option("n_rows", 3000)
        .option("rows_per_batch", 700)
        .load()
    )
    name = "pysrc_" + _uuid.uuid4().hex[:8]
    q = (
        stream.groupBy("event_type")
        .count()
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()  # drives micro-batches until offsets dry up
    finally:
        q.stop()
    streamed = {r.event_type: r["count"] for r in spark.table(name).collect()}
    # stream/batch parity: the same generator read as a batch source
    batch = (
        spark.read.format("synthetic_events").option("n_rows", 3000).load()
        .groupBy("event_type").count()
    )
    assert streamed == {r.event_type: r["count"] for r in batch.collect()}
    assert sum(streamed.values()) == 3000


def test_python_streaming_source_checkpoint_restart_exactly_once(spark, tmp_path):
    # the offset protocol across RESTARTS: run one micro-batch with a
    # checkpoint, stop, start a fresh query on the same checkpoint —
    # the resumed stream must continue from the committed offset, with
    # no duplicated and no skipped rows (readBetweenOffsets replay)
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sources.pydatasource import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        stream = (
            spark.readStream.format("synthetic_events")
            .option("n_rows", 2000)
            .option("rows_per_batch", 800)
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(once=True)  # exactly one micro-batch, then stop
            .start()
        )
        q.awaitTermination()

    run_once()  # batch 0: rows [0, 800)
    first = spark.read.parquet(out).count()
    assert first == 800
    run_once()  # restart from checkpoint: rows [800, 1600)
    run_once()  # rows [1600, 2000)
    run_once()  # source exhausted: empty batch, no duplicates
    ids = [r.row_id for r in spark.read.parquet(out).select("row_id").collect()]
    assert len(ids) == 2000
    assert sorted(ids) == list(range(2000))


def test_zorder_rejects_sign_bit_overflow_and_handles_dates(spark, tmp_path):
    import datetime as dt

    import pytest as _pytest

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sinks.layout import write_zordered

    df = spark.createDataFrame(
        [(dt.date(2024, 1, 1) + dt.timedelta(days=i), i) for i in range(10)],
        "d date, v int",
    )
    # 4 dims x 16 bits would reach bit 63 (the long sign bit) -> refuse
    with _pytest.raises(ValueError, match="sign bit"):
        write_zordered(df.withColumn("a", df.v).withColumn("b", df.v).withColumn("c", df.v),
                       str(tmp_path / "z1"), ["v", "a", "b", "c"], bits=16)
    # DateType quantizes via days-since-epoch (was: unsupported cast)
    write_zordered(df, str(tmp_path / "z2"), ["d", "v"], n_files=2)
    assert spark.read.parquet(str(tmp_path / "z2")).count() == 10
    # all-NULL zorder column fails loudly, not with float(None)
    nulls = spark.createDataFrame([(None, 1)], "x double, v int")
    with _pytest.raises(ValueError, match="non-NULL"):
        write_zordered(nulls, str(tmp_path / "z3"), ["x"])
