"""Relational query battery (SURVEY.md §2.1-2.9) over the driver's
TPC-H-ish testdata tables.

Every reference operator row gets a query here whose semantics a DuckDB
oracle reproduces exactly (FIXTURES.md §9 maps the reference's tables
onto the synthetic star schema: lineitem/orders play the CDC change-log,
events plays the daily counters, nation/region play the geo lookups).

Determinism rules applied throughout (SURVEY.md §4):
- every window order ends in a unique tiebreak column;
- every float aggregate is ROUNDed identically in Spark and oracle SQL
  (double accumulation order differs between engines);
- per-row float arithmetic is NOT rounded (IEEE ops are bit-identical).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.columns import add_literal_columns, bulk_rename, changelog_columns, md5_prefix_int, prefix_select
from ..functions.nesting import flatten_structs, nest_columns
from ..functions.whenchain import when_chain
from ..operators.aggregates import exact_sum, rounded_sum
from ..operators.asof import asof_backfill
from ..operators.dedup import top_n_per_group
from ..operators.joins import broadcast_lookup_join, join_preaggregated, not_in_anti_join
from ..operators.setops import union_slices
from ..sources.readers import read_csv_lookup, read_testdata
from .registry import register

_STATIC_DIR = Path(__file__).resolve().parent.parent / "static_data"
GEO_LOOKUP_CSV = str(_STATIC_DIR / "geo_lookup.csv")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_testdata(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Flagship aggregations (A1-A3 at scale; TPC-H Q1/Q3 shapes)
# --------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(30,8))), 2) AS DOUBLE)      AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,8))), 2) AS DOUBLE) AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 2) AS DOUBLE)
                                                                                 AS sum_disc_price,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,8))), 2) AS DOUBLE)
                                                                                 AS sum_charge,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) / count(*), 4)      AS avg_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) / count(*), 4) AS avg_price,
           round(CAST(sum(CAST(l_discount AS DECIMAL(30,8))) AS DOUBLE) / count(*), 4)      AS avg_disc,
           count(*)                                                              AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: scan -> filter -> 8-agg group-by (whole-stage codegen'd, partial agg map-side).",
    tags=("bench",),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            rounded_sum("l_quantity", 2).alias("sum_qty"),
            rounded_sum("l_extendedprice", 2).alias("sum_base_price"),
            rounded_sum(disc_price, 2).alias("sum_disc_price"),
            rounded_sum(charge, 2).alias("sum_charge"),
            F.round(exact_sum("l_quantity") / F.count(F.lit(1)), 4).alias("avg_qty"),
            F.round(exact_sum("l_extendedprice") / F.count(F.lit(1)), 4).alias("avg_price"),
            F.round(exact_sum("l_discount") / F.count(F.lit(1)), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 2) AS DOUBLE)
             AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate  > TIMESTAMP '1998-06-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    """,
    doc="TPC-H Q3 shape: 3-way equi join + group-by; dim filters push below the joins.",
    tags=("bench",),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(rounded_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 2) AS DOUBLE)
             AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
      AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    doc="TPC-H Q5 shape: 6-way join with a compound join key and region filter — Catalyst orders the joins, broadcasts the dims, and pushes both filters to the scans.",
    tags=("bench",),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(reg, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(rounded_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue"))
    )


# --------------------------------------------------------------------------
# Sources (S1, S4)
# --------------------------------------------------------------------------


@register(
    "s1_scan_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem WHERE l_linenumber = 1
    """,
    doc="S1: parquet scan with column pruning + pushed filter (ReadSchema/PushedFilters visible in explain).",
)
def s1_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_linenumber") == 1)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


@register(
    "s4_csv_lookup_scan",
    oracle=f"""
    SELECT geoid, zone, tier FROM read_csv('{GEO_LOOKUP_CSV}', header=true)
    WHERE tier <= 2
    """,
    doc="S4: header CSV lookup scan (reference bundeslaender.csv analog, script/main.py:129-134).",
)
def s4_csv_lookup_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = read_csv_lookup(spark, GEO_LOOKUP_CSV, schema="geoid INT, zone STRING, tier INT")
    return dim.where(F.col("tier") <= 2).select("geoid", "zone", "tier")


@register(
    "s7_python_datasource",
    # the oracle REGENERATES the custom source's rows symbolically:
    # every field of row i derives from md5(i), so DuckDB replays the
    # connector end to end from generate_series
    oracle="""
    WITH gen AS (
        SELECT CAST(CAST(concat('0x', substr(md5(CAST(i AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 AS BIGINT) AS user_id,
               ['view','click','purchase','refund'][
                   CAST(CAST(concat('0x', substr(md5(CAST(i AS VARCHAR)), 9, 2)) AS UBIGINT) % 4 AS INT) + 1
               ] AS event_type,
               (CAST(concat('0x', substr(md5(CAST(i AS VARCHAR)), 11, 8)) AS UBIGINT) % 100000) / 100.0 AS value
        FROM generate_series(0, 9999) t(i)
    )
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(round(sum(CAST(value AS DECIMAL(30,8))), 2) AS DOUBLE) AS total_value
    FROM gen GROUP BY event_type
    """,
    doc="S7 (extension): custom Python DataSource (PySpark 4 "
    "spark.dataSource API, sources/pydatasource.py) — a deterministic "
    "md5-derived synthetic event source with partitioned parallel reads "
    "and Spark 4.1 filter pushdown into Python. The driver gate "
    "hash-verifies the whole connector: the oracle regenerates identical "
    "rows from generate_series.",
)
def s7_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.pydatasource import register_synthetic_source

    register_synthetic_source(spark)
    ev = (
        spark.read.format("synthetic_events")
        .option("n_rows", 10_000)
        .option("n_users", 100)
        .load()
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        rounded_sum("value", 2).alias("total_value"),
    )


# --------------------------------------------------------------------------
# Filters (F1, F2, F6)
# --------------------------------------------------------------------------


@register(
    "f1_isin_filter",
    oracle="""
    SELECT l_returnflag, count(*) AS n_rows,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(30,8))), 2) AS DOUBLE) AS sum_qty
    FROM lineitem WHERE l_returnflag IN ('A', 'R')
    GROUP BY l_returnflag
    """,
    doc="F1: IN-list filter (reference distributionType/estateType isin, script/main.py:79-88).",
)
def f1_isin_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag").isin("A", "R"))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_rows"), rounded_sum("l_quantity", 2).alias("sum_qty"))
    )


@register(
    "f2_prefix_like",
    oracle="SELECT p_partkey, p_name FROM part WHERE p_name LIKE 'small%'",
    doc="F2: prefix LIKE (pushed to the scan as StringStartsWith; reference geoid prefix filter).",
)
def f2_prefix_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "part").where(F.col("p_name").startswith("small")).select("p_partkey", "p_name")


@register(
    "f6_date_range",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
    """,
    doc="F6: date-range predicate (partition-pruning shape; reference push_down_predicate windows).",
)
def f6_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo, hi = F.lit("1998-01-01").cast("timestamp"), F.lit("1999-01-01").cast("timestamp")
    return (
        _t(spark, sf_dir, "orders")
        .where((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )


@register(
    "f3_null_predicate",
    oracle="""
    SELECT event_id, user_id,
           (nullif(event_type, 'error') IS NULL) AS is_broken
    FROM events
    WHERE nullif(event_type, 'error') IS NULL OR value <= 1.0
    """,
    doc="F3: IS NULL / IS NOT NULL predicates (reference delete-row detection, 0-merge_delete_query.sql:11,21).",
)
def f3_null_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    broken = F.nullif(F.col("event_type"), F.lit("error")).isNull()
    return ev.where(broken | (F.col("value") <= 1.0)).select(
        "event_id", "user_id", broken.alias("is_broken")
    )


@register(
    "f4_enum_equality",
    oracle="""
    SELECT event_type, count(*) AS n
    FROM events WHERE event_type <> 'error' GROUP BY event_type
    """,
    doc="F4: equality/inequality on an enum column (reference operation = / != 'Delete').",
)
def f4_enum_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") != "error")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "f5_numeric_threshold",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_quantity <= 3
    """,
    doc="F5: numeric threshold filter (reference cleanupdataproblems <= 3, fraudLevelId <= 0).",
)
def f5_numeric_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") <= 3)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


@register(
    "s2_catalog_pruned_scan",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
    """,
    doc="S2: catalog-table read with partition-range pruning via read_table_pruned (reference push_down_predicate, script/main.py:263-298).",
)
def s2_catalog_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import read_table_pruned

    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_catalog")
    df = read_table_pruned(spark, "orders_catalog", "o_orderdate", "1997-01-01", "1997-07-01")
    return df.select("o_orderkey", "o_orderdate", "o_totalprice")


# --------------------------------------------------------------------------
# Joins (J2-J7)
# --------------------------------------------------------------------------


@register(
    "j2_left_join_enrich",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    """,
    doc="J2: 1:1 left equi join enrichment (reference listing<->texts join).",
)
def j2_left_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return orders.join(cust, orders.o_custkey == cust.c_custkey, "left").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@register(
    "j3_inner_join_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    JOIN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT') o
      ON l_orderkey = o.o_orderkey
    """,
    doc="J3: inner join as existence filter, multiplicity-preserving (reference visibility semi-join; SURVEY §4 gotcha 6).",
)
def j3_inner_join_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    urgent = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    return li.join(urgent, li.l_orderkey == urgent.o_orderkey).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@register(
    "j4_left_join_preagg",
    oracle="""
    SELECT c_custkey, c_name,
           coalesce(n_open_orders, 0)     AS n_open_orders,
           coalesce(open_value, 0.0)      AS open_value
    FROM customer
    LEFT JOIN (
        SELECT o_custkey,
               count(*)                                                          AS n_open_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,8))), 2) AS DOUBLE) AS open_value
        FROM orders WHERE o_orderstatus = 'P'
        GROUP BY o_custkey
    ) s ON c_custkey = s.o_custkey
    """,
    doc="J4: left join to pre-aggregated subquery with COALESCE defaults (reference contact/visit counters).",
    tags=("bench",),
)
def j4_left_join_preagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    pend = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    out = join_preaggregated(
        cust,
        pend,
        keys=["o_custkey"],
        aggs={
            "n_open_orders": F.count(F.lit(1)),
            "open_value": rounded_sum("o_totalprice", 2),
        },
        fill={"n_open_orders": 0, "open_value": 0.0},
    )
    return out.select(F.col("o_custkey").alias("c_custkey"), "c_name", "n_open_orders", "open_value")


@register(
    "j5_stale_id_detection",
    oracle="""
    SELECT f.o_custkey AS custkey, f.last_f_date, a.last_any_date
    FROM (SELECT o_custkey, max(o_orderdate) AS last_f_date
          FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey) f
    LEFT JOIN (SELECT o_custkey, max(o_orderdate) AS last_any_date
               FROM orders GROUP BY o_custkey) a
      ON f.o_custkey = a.o_custkey
    WHERE f.last_f_date < a.last_any_date
    """,
    doc="J5: stale-id detection — filtered-universe max vs all-universe max, null-rejecting post-join filter (3-basedata_df_final_query.sql:22-29).",
)
def j5_stale_id_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    f_max = (
        orders.where(F.col("o_orderstatus") == "F")
        .groupBy("o_custkey")
        .agg(F.max("o_orderdate").alias("last_f_date"))
    )
    a_max = orders.groupBy("o_custkey").agg(F.max("o_orderdate").alias("last_any_date"))
    return (
        f_max.join(a_max, "o_custkey", "left")
        .where(F.col("last_f_date") < F.col("last_any_date"))
        .select(F.col("o_custkey").alias("custkey"), "last_f_date", "last_any_date")
    )


@register(
    "j6_not_in_anti_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
    """,
    doc="J6/F8: null-aware NOT IN anti join (3-basedata_df_final_query.sql:36-39; SURVEY §4 null trap).",
)
def j6_not_in_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    pend = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P").select("o_custkey")
    return not_in_anti_join(cust, pend, "c_custkey", "o_custkey").select("c_custkey", "c_name")


@register(
    "j7_broadcast_expr_join",
    oracle="""
    SELECT p_partkey, p_brand, n_name
    FROM part LEFT JOIN nation ON CAST(substr(p_brand, 7) AS INTEGER) = n_nationkey
    """,
    doc="J7: broadcast left join on a computed key with implicit string->int cast (reference geo-prefix joins, script/main.py:136-150).",
)
def j7_broadcast_expr_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    nation = _t(spark, sf_dir, "nation")
    key = F.expr("CAST(substring(p_brand, 7) AS INT)")
    out = broadcast_lookup_join(part, nation, key, "n_nationkey", dim_cols=["n_nationkey", "n_name"])
    return out.select("p_partkey", "p_brand", "n_name")


# --------------------------------------------------------------------------
# Aggregations (A1-A3)
# --------------------------------------------------------------------------


@register(
    "a1_grouped_max",
    oracle="""
    SELECT o_custkey, max(o_orderdate) AS last_order_date, count(*) AS n_orders
    FROM orders GROUP BY o_custkey
    """,
    doc="A1: group-by max (reference last-changeDate-per-id, 2-basedata_df_query.sql:19-25).",
)
def a1_grouped_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.max("o_orderdate").alias("last_order_date"), F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "a2_max_by_argmax",
    oracle="""
    SELECT o_custkey,
           max_by(o_orderstatus, o_orderkey) AS latest_status,
           max(o_orderkey)                   AS max_orderkey
    FROM orders GROUP BY o_custkey
    """,
    doc="A2: max_by argmax over a unique ordering column (reference fraud-level max_by, 2-basedata_df_query.sql:22).",
)
def a2_max_by_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max_by("o_orderstatus", "o_orderkey").alias("latest_status"),
            F.max("o_orderkey").alias("max_orderkey"),
        )
    )


@register(
    "a3_sum_coalesce",
    oracle="""
    SELECT user_id,
           CAST(round(sum(CAST(coalesce(CASE WHEN event_type = 'error' THEN NULL ELSE value END, 0)
                               AS DECIMAL(30,8))), 2) AS DOUBLE) AS total_value,
           count(*) AS n_events
    FROM events GROUP BY user_id
    """,
    doc="A3: SUM(COALESCE(x, 0)) over a nullable measure (reference daily counters, 2-basedata_df_query.sql:27-45).",
)
def a3_sum_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    nullable_value = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value"))
    filled = F.coalesce(nullable_value, F.lit(0)).cast("decimal(30,8)")
    return ev.groupBy("user_id").agg(
        F.round(F.sum(filled), 2).cast("double").alias("total_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --------------------------------------------------------------------------
# Windows (W1-W4) + composite price history
# --------------------------------------------------------------------------


@register(
    "w1_latest_per_group",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity FROM (
        SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity,
               row_number() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_shipdate DESC, l_linenumber DESC, l_quantity DESC) AS rn
        FROM lineitem
    ) WHERE rn = 1
    """,
    doc="W1: top-1-per-group dedup — latest row per key with total order (1-basedata_first_query.sql:4-19).",
    tags=("bench",),
)
def w1_latest_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return top_n_per_group(
        li,
        ["l_orderkey"],
        [F.col("l_shipdate").desc(), F.col("l_linenumber").desc(), F.col("l_quantity").desc()],
    ).select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")


@register(
    "price_change_history",
    oracle="""
    WITH current_window AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice AS price,
               row_number() OVER (PARTITION BY o_custkey, o_totalprice
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
    ),
    previous AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice AS price,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
    )
    SELECT o_custkey, o_orderkey, o_orderdate, price, 'price_change' AS change_type
    FROM current_window WHERE rn = 1
    UNION ALL
    SELECT o_custkey, o_orderkey, o_orderdate, price, 'previous_price' AS change_type
    FROM previous WHERE rn = 1
    """,
    doc="W3+W4+U1 composite: per-(key, price) latest in the current window UNION the last pre-window row (3-basedata_df_final_query.sql:45-72).",
    tags=("bench",),
)
def price_change_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cutoff = F.lit("2000-01-01").cast("timestamp")
    order = [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()]
    current = top_n_per_group(
        orders.where(F.col("o_orderdate") >= cutoff), ["o_custkey", "o_totalprice"], order
    ).select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.col("o_totalprice").alias("price"),
        F.lit("price_change").alias("change_type"),
    )
    previous = top_n_per_group(
        orders.where(F.col("o_orderdate") < cutoff), ["o_custkey"], order
    ).select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.col("o_totalprice").alias("price"),
        F.lit("previous_price").alias("change_type"),
    )
    return union_slices([current, previous], "ALL")


@register(
    "merge_delete_backfill",
    oracle="""
    WITH broken AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
    ),
    donors AS (
        SELECT event_id, user_id, ts, value FROM events WHERE event_type <> 'error'
    ),
    ranked AS (
        SELECT b.event_id, b.user_id, b.ts, d.value,
               row_number() OVER (PARTITION BY b.event_id
                                  ORDER BY d.ts DESC, d.event_id DESC) AS rn
        FROM broken b LEFT JOIN donors d
          ON b.user_id = d.user_id AND b.ts >= d.ts
    )
    SELECT event_id, user_id, ts, value, 'backfilled' AS origin FROM ranked WHERE rn = 1
    UNION ALL
    SELECT event_id, user_id, ts, value, 'original' AS origin
    FROM events WHERE event_type <> 'error'
    """,
    doc="J1+U1: as-of backfill join — repair broken events from the latest earlier donor of the same key, union with the healthy stream (0-merge_delete_query.sql).",
    tags=("bench",),
)
def merge_delete_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    broken = ev.where(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    donors = ev.where(F.col("event_type") != "error").select("event_id", "user_id", "ts", "value")
    repaired = asof_backfill(
        broken,
        donors.drop("event_id"),
        on=["user_id"],
        ts="ts",
        fill_cols=["value"],
        broken_id="event_id",
    ).withColumn("origin", F.lit("backfilled"))
    healthy = donors.withColumn("origin", F.lit("original"))
    return union_slices(
        [repaired.select("event_id", "user_id", "ts", "value", "origin"), healthy], "ALL"
    )


@register(
    "skew_salted_join",
    oracle="""
    SELECT l_orderkey, l_linenumber, o_orderstatus
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """,
    doc="Salted equi join (hot-key skew guard): big side salted, small side replicated — result-identical to the plain join, verified by the plain-join oracle.",
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    return salted_join(li, orders, ["l_orderkey"], buckets=8)


@register(
    "skew_salted_aggregate",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(30,8))), 2) AS DOUBLE) AS total,
           max(user_id) AS max_user
    FROM events GROUP BY event_type
    """,
    doc="Two-phase salted aggregation for a giant group (5 event types over all rows): partial agg on (key, salt), merge on key — equals the direct groupBy.",
)
def skew_salted_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_aggregate

    ev = _t(spark, sf_dir, "events")
    out = salted_aggregate(
        ev,
        ["event_type"],
        {
            "n": (F.lit(1), "count"),
            "total": (F.col("value").cast("decimal(30,8)"), "sum"),
            "max_user": (F.col("user_id"), "max"),
        },
        buckets=8,
    )
    return out.select(
        "event_type", "n", F.round(F.col("total"), 2).cast("double").alias("total"), "max_user"
    )


# The hot-key join: one key holds ~90% of lineitem (l_orderkey % 10 < 9
# -> key 0), the dim side carries 20 rows per key, and each joined row
# pays a realistic per-record cost (md5 fingerprint + hex->int, the
# engine's standard hashing primitive) — so without salting the hot
# key's fan-out lands ~10M md5 rows in ONE sort-merge task. The join is
# pinned to sort-merge (hint): salting exists precisely for the
# broadcast-INELIGIBLE case, and at test scale any 4020-row dim would
# auto-broadcast and hide the skew. The oracle is the plain join, so it
# proves the salt changes only WHERE rows meet, never the result.
# floor() before the bigint cast is deliberate: double->int CAST
# truncates in Spark but ROUNDS in DuckDB. The outer CAST(sum AS BIGINT)
# is load-bearing too: DuckDB integer sums return HUGEINT, which pandas
# fetch paths coerce to float64 ("3.0" vs Spark's "3") — the r3 driver
# hash divergence on this pair.
_SKEW_ORACLE = """
    WITH big AS (
        SELECT CASE WHEN l_orderkey % 10 < 9 THEN 0 ELSE l_orderkey % 200 + 1 END AS k,
               CAST(floor(l_extendedprice * 100) AS BIGINT) AS c
        FROM lineitem
    ),
    small AS (
        SELECT CAST(i // 20 AS BIGINT) AS k, CAST(i % 20 AS BIGINT) AS w
        FROM range(0, 4020) t(i)
    )
    SELECT k, count(*) AS n,
           CAST(sum(CAST(('0x' || substr(md5(CAST(k AS VARCHAR) || '-' || CAST(c AS VARCHAR)
                                         || '-' || CAST(w AS VARCHAR)), 1, 8)) AS UBIGINT))
                AS BIGINT) AS fp_sum
    FROM big JOIN small USING (k) GROUP BY k
"""


@register(
    "skew_join_salted_hot",
    oracle=_SKEW_ORACLE,
    doc="A hot-key join (key 0 holds ~90% of lineitem, x20 dim fan-out, md5 "
    "per joined row) through operators.skew.salted_join (32 salt buckets): "
    "the hot key's rows meet the replicated dim in 32 parallel tasks "
    "instead of one sort-merge task. The oracle is the plain join — the "
    "salt never changes the result, only the distribution.",
    tags=("bench",),
)
def skew_join_salted_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    k = F.col("l_orderkey")
    big = _t(spark, sf_dir, "lineitem").select(
        F.when(k % 10 < 9, F.lit(0)).otherwise(k % 200 + 1).alias("k"),
        F.floor(F.col("l_extendedprice") * 100).alias("c"),
    )
    small = spark.range(4020).select(
        (F.col("id") / 20).cast("bigint").alias("k"), (F.col("id") % 20).cast("bigint").alias("w")
    )
    joined = salted_join(big, small.hint("merge"), ["k"], buckets=32)
    s = F.concat_ws(
        "-", F.col("k").cast("string"), F.col("c").cast("string"), F.col("w").cast("string")
    )
    fp = md5_prefix_int(s).cast("bigint")
    return joined.groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.sum(fp).alias("fp_sum"))


# --------------------------------------------------------------------------
# Set ops (U1, U2)
# --------------------------------------------------------------------------


@register(
    "u1_union_all_slices",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, 'finished' AS slice
    FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, 'open' AS slice
    FROM orders WHERE o_orderstatus = 'O'
    """,
    doc="U1/U2: UNION ALL slice accumulation (reference country/distribution loop, script/main.py:360-368).",
)
def u1_union_all_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")

    def slice_of(status: str, tag: str) -> DataFrame:
        return orders.where(F.col("o_orderstatus") == status).select(
            "o_orderkey", "o_custkey", "o_totalprice", F.lit(tag).alias("slice")
        )

    return union_slices([slice_of("F", "finished"), slice_of("O", "open")], "ALL")


@register(
    "u2_union_distinct",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    UNION
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    """,
    doc="U2: UNION DISTINCT variant of the reference's sparkUnion helper (script/main.py:42-53).",
)
def u2_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    a = orders.where(F.col("o_orderstatus") == "F").select("o_custkey")
    b = orders.where(F.col("o_orderstatus") == "P").select("o_custkey")
    return union_slices([a, b], "DISTINCT")


@register(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(30,8))), 2) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP hierarchy aggregation (beyond the reference surface, SURVEY §2.11): subtotals per flag and a grand total in one pass (Catalyst Expand + single shuffle).",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_rows"), rounded_sum("l_quantity", 2).alias("sum_qty"))
    )


@register(
    "u3_intersect_except",
    oracle="""
    SELECT o_custkey, 'both' AS membership FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    )
    UNION ALL
    SELECT o_custkey, 'f_only' AS membership FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    )
    """,
    doc="INTERSECT / EXCEPT set ops (beyond the reference surface, SURVEY §2.11) — Catalyst plans both as aggregated semi/anti joins.",
)
def u3_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    f = orders.where(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.where(F.col("o_orderstatus") == "O").select("o_custkey")
    both = f.intersect(o).select("o_custkey", F.lit("both").alias("membership"))
    f_only = f.subtract(o).select("o_custkey", F.lit("f_only").alias("membership"))
    return union_slices([both, f_only], "ALL")


# --------------------------------------------------------------------------
# Scalar suite (X1-X12) + column machinery (P4, P7)
# --------------------------------------------------------------------------


@register(
    "x_scalar_suite",
    oracle="""
    SELECT p_partkey,
           CAST(round(p_retailprice) AS INTEGER)        AS price_rounded,
           substr(p_type, 1, 3)                         AS type_prefix,
           regexp_replace(p_name, ' ', '_', 'g')        AS name_underscored,
           lower(p_brand)                               AS brand_lc,
           coalesce(nullif(p_size, 5), -1)              AS size_or_default,
           CASE WHEN p_type = 'PROMO'   THEN 'deal'
                WHEN p_type = 'ECONOMY' THEN 'cheap'
                ELSE 'NOT_APPLICABLE' END               AS type_class
    FROM part
    """,
    doc="X1-X7: round+cast, substring, regexp_replace, lower, coalesce/nullif, programmatic when-chain (script/main.py:166-172, helper.py:74-96).",
)
def x_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    type_class = when_chain(
        [
            (F.col("p_type") == "PROMO", "deal"),
            (F.col("p_type") == "ECONOMY", "cheap"),
        ],
        otherwise="NOT_APPLICABLE",
    )
    return part.select(
        "p_partkey",
        F.round("p_retailprice").cast("int").alias("price_rounded"),
        F.substring("p_type", 1, 3).alias("type_prefix"),
        F.regexp_replace("p_name", " ", "_").alias("name_underscored"),
        F.lower("p_brand").alias("brand_lc"),
        F.coalesce(F.nullif(F.col("p_size"), F.lit(5)), F.lit(-1)).alias("size_or_default"),
        type_class.alias("type_class"),
    )


@register(
    "p7_nest_flatten_roundtrip",
    oracle="SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
    doc="P7: nest flat a_b columns into structs and flatten back — lossless round trip (helper.py:19-51).",
)
def p7_nest_flatten_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nested = nest_columns(cust, sep="_")  # -> struct c { custkey, name, ... }
    flat = flatten_structs(nested, sep="_")
    return flat.select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")


@register(
    "p2_computed_projection",
    oracle="""
    SELECT vec_id,
           CAST(embedding[1] AS DOUBLE)  AS first_dim,
           CAST(embedding[64] AS DOUBLE) AS last_dim,
           label * 10                    AS label_x10
    FROM embeddings
    """,
    doc="P2/X12: computed projection with array-index access (reference efficiencyClass[0] expr, config.json:104). Spark arrays are 0-based, the DuckDB oracle's 1-based.",
)
def p2_computed_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").getItem(0).cast("double").alias("first_dim"),
        F.col("embedding").getItem(63).cast("double").alias("last_dim"),
        (F.col("label") * 10).alias("label_x10"),
    )


@register(
    "p3_drop_columns",
    oracle="""
    SELECT n_nationkey, n_name FROM nation
    """,
    doc="P3: config-driven drop list (reference Glue drop_fields, "
    "script/main.py:169-173) — absent names silently ignored; the "
    "surviving projection is what Catalyst prunes the scan to.",
)
def p3_drop_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.columns import drop_columns

    nat = _t(spark, sf_dir, "nation")
    return drop_columns(nat, ["n_regionkey", "n_comment", "not_a_column"])


@register(
    "p5_p6_dynamic_projection",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           'de'                   AS country,
           CAST(NULL AS DOUBLE)   AS geo_score
    FROM lineitem
    """,
    doc="P5+P6: prefix-driven dynamic column selection plus literal/typed-null columns (reference validPrefixes + null placeholders, script/main.py:96-110,183-191).",
)
def p5_p6_dynamic_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    picked = prefix_select(li, ["l_orderkey", "l_linen"])
    out = add_literal_columns(
        li.select(*picked), {"country": "de", "geo_score": None}, types={"geo_score": "double"}
    )
    return out


@register(
    "p8_map_construction",
    oracle="""
    SELECT doc_id, lower(lang) AS map_key,
           coalesce(nullif(source, 'web'), 'NOT_APPLICABLE') AS map_value
    FROM documents
    """,
    doc="P8: map<string,string> construction with lower-cased key and NOT_APPLICABLE fallback (reference subTypes map, helper.py:53-62), exploded back to columns for oracle comparison.",
)
def p8_map_construction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.maps import keyed_map_column

    docs = _t(spark, sf_dir, "documents")
    m = keyed_map_column(F.col("lang"), F.nullif(F.col("source"), F.lit("web")))
    return docs.select("doc_id", F.explode(m).alias("map_key", "map_value"))


@register(
    "x8_changelog_metadata",
    oracle="""
    SELECT o_orderkey,
           TIMESTAMP '2026-01-01 00:00:00' AS changelog_timestamp,
           'run-42'                        AS changelog_run_id
    FROM orders WHERE o_orderstatus = 'O'
    """,
    doc="X8/X9: changelog metadata columns with an injectable clock (reference helper.py:166-172; frozen timestamp for determinism per SURVEY §4).",
)
def x8_changelog_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    return changelog_columns(orders.select("o_orderkey"), "run-42", at="2026-01-01 00:00:00")


@register(
    "x_json_extraction",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50
    """,
    doc="JSON scalar extraction from a string column (beyond the reference surface — SURVEY §2.11 notes it absent; standard consume-layer need).",
)
def x_json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select("event_id", k.alias("prop_k")).where(F.col("prop_k") >= 50)


@register(
    "p4_bulk_rename_prefix",
    oracle="""
    SELECT o_orderkey AS orderkey, o_custkey AS custkey, o_orderstatus AS orderstatus
    FROM orders
    """,
    doc="P4: bulk prefix-strip rename as a single projection (script/main.py:175-178).",
)
def p4_bulk_rename_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus")
    return bulk_rename(orders, {c: c[2:] for c in orders.columns})


# --------------------------------------------------------------------------
# Additional TPC-H shapes: semi-join EXISTS, pure filter-agg, HAVING-IN
# --------------------------------------------------------------------------


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: EXISTS correlated subquery as a LEFT SEMI join with a "
    "non-equi residual (l_shipdate > o_orderdate) — the semi join never "
    "duplicates orders no matter how many lineitems match, unlike J3's "
    "multiplicity-preserving inner join.",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(30,8))), 2) AS DOUBLE)
             AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: scan -> tight multi-predicate filter -> global agg. The "
    "pushdown showcase: all three predicates reach the parquet reader "
    "(row-group stats skip), no shuffle except the single-row final agg.",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            rounded_sum(F.col("l_extendedprice") * F.col("l_discount"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q18_large_orders",
    oracle="""
    WITH big AS (
        SELECT l_orderkey, CAST(round(sum(CAST(l_quantity AS DECIMAL(30,8))), 2) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    )
    SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
    doc="TPC-H Q18 shape: HAVING-filtered aggregate as a join input (large-volume "
    "orders). The aggregate runs FIRST and shrinks the join's left side by ~100x "
    "before any wide row moves — the order every 100-TB plan wants.",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(exact_sum("l_quantity").alias("__q"), rounded_sum("l_quantity", 2).alias("sum_qty"))
        .where(F.col("__q") > 250)
        .drop("__q")
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
    )


# --------------------------------------------------------------------------
# Window extensions beyond row_number (SURVEY §2.7 notes the reference
# stops at top-1-per-group; lag/lead + running totals are the natural
# next asks of the same price-history data model)
# --------------------------------------------------------------------------


@register(
    "w_lag_lead_prices",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           lag(o_totalprice)  OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           round(o_totalprice - lag(o_totalprice) OVER w, 2) AS price_delta
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="lag/lead over a per-customer order timeline: previous/next order value and "
    "the delta — the price-change-delta companion to the reference's "
    "previous-price union (3-basedata_df_final_query.sql:60-63) without the "
    "self-join. One shuffle on the partition key, unique tiebreak in the order.",
)
def w_lag_lead_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_totalprice").over(w)
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        prev.alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.round(F.col("o_totalprice") - prev, 2).alias("price_delta"),
    )


@register(
    "w_running_total",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,8)))
                      OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
             AS running_spend,
           row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             AS order_seq
    FROM orders
    """,
    doc="Running per-customer spend: aggregate-over-window with an explicit ROWS "
    "frame. Decimal accumulation inside the frame (both engines walk the frame "
    "in the same sorted order only up to segment-tree reassociation — decimal "
    "makes the result association-independent).",
)
def w_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = F.sum(F.col("o_totalprice").cast("decimal(30,8)")).over(w)
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(running, 2).cast("double").alias("running_spend"),
        F.row_number().over(seq).alias("order_seq"),
    )


# --------------------------------------------------------------------------
# Keyless range joins (beyond reference): the bucketing rewrite that keeps
# point-in-interval / interval-overlap off the nested-loop path
# --------------------------------------------------------------------------


@register(
    "range_event_proximity",
    oracle="""
    SELECT a.event_id, count(*) AS n_preceding
    FROM events a JOIN events b
      ON CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP) - INTERVAL 10 MINUTE
     AND CAST(b.ts AS TIMESTAMP) <  CAST(a.ts AS TIMESTAMP)
    WHERE a.event_type = 'purchase'
    GROUP BY a.event_id
    """,
    doc="Temporal proximity join with NO equi key: for each purchase event, count "
    "the events (any user) in the preceding 10 minutes. Naively this is a "
    "BroadcastNestedLoopJoin (O(n*m), fatal at scale); "
    "operators.rangejoin.point_in_interval_join buckets both sides on a 10-min "
    "grid so the plan is a hash-partitioned equi join on the bucket id plus a "
    "residual range check — plan-tested to contain no nested loop.",
    tags=("bench",),
)
def range_event_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import point_in_interval_join
    import datetime as dt

    ev = _t(spark, sf_dir, "events")
    points = ev.select("ts")
    intervals = ev.where(F.col("event_type") == "purchase").select(
        "event_id",
        (F.col("ts") - F.expr("INTERVAL 10 MINUTES")).alias("win_start"),
        F.col("ts").alias("win_end"),
    )
    matched = point_in_interval_join(
        points, intervals, "ts", "win_start", "win_end", bucket_width=dt.timedelta(minutes=10)
    )
    return matched.groupBy("event_id").agg(F.count(F.lit(1)).alias("n_preceding"))


@register(
    "range_order_overlap",
    oracle="""
    SELECT a.o_orderkey, count(*) AS n_overlapping
    FROM orders a JOIN orders b
      ON a.o_orderdate < b.o_orderdate + INTERVAL 1 DAY
     AND b.o_orderdate < a.o_orderdate + INTERVAL 1 DAY
     AND a.o_orderstatus <> b.o_orderstatus
    GROUP BY a.o_orderkey
    """,
    doc="Interval-overlap join with NO equi key: each order carries a 1-day "
    "activity window; count overlapping windows of orders in a DIFFERENT "
    "status. operators.rangejoin.interval_overlap_join explodes both sides "
    "onto a matching bucket grid and emits each overlapping pair exactly "
    "once (in the bucket of the later start) — no distinct pass, no nested "
    "loop. Work per bucket is quadratic in bucket density (inherent to "
    "overlap joins); size the window/grid so buckets stay small.",
)
def range_order_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import interval_overlap_join
    import datetime as dt

    span = (
        _t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.col("o_orderdate").alias("w_start"),
            (F.col("o_orderdate") + F.expr("INTERVAL 1 DAYS")).alias("w_end"),
        )
    )
    pairs = interval_overlap_join(
        span,
        span,
        "w_start",
        "w_end",
        "w_start",
        "w_end",
        bucket_width=dt.timedelta(days=1),
        right_prefix="r_",
    ).where(F.col("o_orderstatus") != F.col("r_o_orderstatus"))
    return pairs.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("n_overlapping"))


# --------------------------------------------------------------------------
# Multi-dimensional aggregation + reshaping (beyond reference, SURVEY §2.11):
# CUBE / GROUPING SETS / PIVOT / UNPIVOT
# --------------------------------------------------------------------------


@register(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           count(*) AS n_rows,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(30,8))), 2) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE: all 4 grouping combinations in one pass (Catalyst Expand -> one "
    "shuffle, not 4 scans). grouping_id disambiguates a NULL data value from "
    "a NULL that means 'all' — required for lossless downstream use.",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_rows"),
            rounded_sum("l_quantity", 2).alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n_rows", "sum_qty")
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_shipmode_dummy, count(*) AS n_rows
    FROM (SELECT l_returnflag, l_linestatus AS l_shipmode_dummy FROM lineitem)
    GROUP BY GROUPING SETS ((l_returnflag), (l_shipmode_dummy))
    """,
    doc="GROUPING SETS: two independent rollup dimensions in ONE scan + shuffle "
    "where naive code runs two groupBys and a union (two scans of 100 TB).",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_linestatus").alias("l_shipmode_dummy")
    )
    return li.groupingSets(
        [["l_returnflag"], ["l_shipmode_dummy"]], "l_returnflag", "l_shipmode_dummy"
    ).agg(F.count(F.lit(1)).alias("n_rows"))


@register(
    "pivot_status_totals",
    oracle="""
    SELECT o_orderpriority,
           CAST(round(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(30,8)) END), 2) AS DOUBLE) AS F,
           CAST(round(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(30,8)) END), 2) AS DOUBLE) AS O,
           CAST(round(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(30,8)) END), 2) AS DOUBLE) AS P
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="PIVOT long->wide: total order value per priority, one column per "
    "status. Pivot values are passed EXPLICITLY — without them Spark runs an "
    "extra distinct scan of the full table just to learn the column set.",
)
def pivot_status_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(rounded_sum("o_totalprice", 2))
    )


@register(
    "unpivot_lineitem_metrics",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    """,
    doc="UNPIVOT wide->long (melt): one Expand node, single scan — the UNION "
    "ALL formulation the oracle uses would scan the table three times.",
)
def unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "lineitem").unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "metric",
        "value",
    )


@register(
    "merge_upsert_cdc",
    oracle="""
    WITH ch AS (
        SELECT CASE WHEN o_orderkey % 7 = 0 OR o_orderkey % 5 = 0 THEN o_orderkey
                    ELSE o_orderkey + 100000000 END AS o_orderkey,
               o_custkey, 'U' AS o_orderstatus,
               o_totalprice + 1000 AS o_totalprice,
               o_orderdate, o_orderpriority,
               (o_orderkey % 7 = 0) AS is_delete
        FROM orders
        WHERE o_orderkey % 5 = 0 OR o_orderkey % 7 = 0 OR o_orderkey % 11 = 0
    ),
    merged AS (
        SELECT coalesce(c.o_orderkey, s.o_orderkey) AS o_orderkey,
               CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_custkey      ELSE s.o_custkey      END AS o_custkey,
               CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_orderstatus  ELSE s.o_orderstatus  END AS o_orderstatus,
               CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_totalprice   ELSE s.o_totalprice   END AS o_totalprice,
               CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_orderdate    ELSE s.o_orderdate    END AS o_orderdate,
               CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_orderpriority ELSE s.o_orderpriority END AS o_orderpriority,
               c.is_delete
        FROM orders s FULL OUTER JOIN ch c ON s.o_orderkey = c.o_orderkey
    )
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
    FROM merged WHERE is_delete IS DISTINCT FROM true
    """,
    doc="MERGE INTO semantics on plain parquet (operators.merge.merge_upsert): "
    "a CDC batch of updates (%5), deletes (%7, precedence over update) and "
    "inserts (%11 remapped to new keys) applied to the orders snapshot in one "
    "full outer join. Paired with dynamic partition overwrite at write time, "
    "rewrite cost scales with the touched slice, not the table.",
)
def merge_upsert_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import merge_upsert

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = o.where((k % 5 == 0) | (k % 7 == 0) | (k % 11 == 0))
    changes = base.select(
        F.when((k % 7 == 0) | (k % 5 == 0), k).otherwise(k + 100000000).alias("o_orderkey"),
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + 1000).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
        (k % 7 == 0).alias("is_delete"),
    )
    return merge_upsert(o, changes, ["o_orderkey"], delete_col="is_delete")


@register(
    "cdc_snapshot_diff",
    oracle="""
    WITH before_s AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
    ),
    after_s AS (
        SELECT o_orderkey,
               CASE WHEN o_orderstatus = 'O' THEN o_totalprice + 10.0
                    ELSE o_totalprice END AS o_totalprice,
               o_orderstatus
        FROM orders
        WHERE o_orderdate < TIMESTAMP '2000-01-01'
          AND NOT (o_orderstatus = 'F' AND o_orderdate < TIMESTAMP '1996-01-01')
    )
    SELECT coalesce(b.o_orderkey, a.o_orderkey) AS o_orderkey,
           CASE WHEN b.o_orderkey IS NULL THEN 'insert'
                WHEN a.o_orderkey IS NULL THEN 'delete'
                WHEN b.o_totalprice IS DISTINCT FROM a.o_totalprice
                  OR b.o_orderstatus IS DISTINCT FROM a.o_orderstatus THEN 'update'
                END AS change_type,
           b.o_totalprice  AS o_totalprice_before,
           a.o_totalprice  AS o_totalprice_after,
           b.o_orderstatus AS o_orderstatus_before,
           a.o_orderstatus AS o_orderstatus_after
    FROM before_s b FULL OUTER JOIN after_s a ON b.o_orderkey = a.o_orderkey
    WHERE coalesce(b.o_orderkey, a.o_orderkey) IS NOT NULL
      AND (b.o_orderkey IS NULL OR a.o_orderkey IS NULL
           OR b.o_totalprice IS DISTINCT FROM a.o_totalprice
           OR b.o_orderstatus IS DISTINCT FROM a.o_orderstatus)
    """,
    doc="CDC change feed between two snapshots (operators.merge.snapshot_diff, "
    "the inverse of merge_upsert): one full outer join on the key classifies "
    "every order as insert (new date window) / delete (purged F-rows) / "
    "update (O-rows repriced), null-safe compare, unchanged keys dropped. "
    "The lakehouse table_changes(v1, v2) primitive on plain parquet.",
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import snapshot_diff

    o = _t(spark, sf_dir, "orders")
    before = o.where(F.col("o_orderdate") < "1999-01-01").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    after = (
        o.where(
            (F.col("o_orderdate") < "2000-01-01")
            & ~((F.col("o_orderstatus") == "F") & (F.col("o_orderdate") < "1996-01-01"))
        )
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderstatus") == "O", F.col("o_totalprice") + 10.0
            ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
            "o_orderstatus",
        )
    )
    return snapshot_diff(before, after, ["o_orderkey"])


@register(
    "merge_cow_table_roundtrip",
    # Verifies the WHOLE storage path, not just the merge expression:
    # write a partitioned copy-on-write table, MERGE a CDC batch into
    # it (updates move rows across the o_orderstatus partitioning,
    # deletes can empty partitions), then read the files back. The
    # oracle replays the end state symbolically from `orders`.
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 10 = 0 THEN 'F' ELSE o_orderstatus END AS o_orderstatus,
           CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
           o_orderpriority
    FROM orders WHERE o_orderkey % 17 <> 3
    """,
    doc="Copy-on-write parquet table (sinks.cowtable): snapshot partitioned by "
    "o_orderstatus, one CDC batch of updates (%10, re-statused to F so rows "
    "MOVE partitions) and deletes (%17), read back from disk. Only touched "
    "partitions rewrite; emptied ones are removed. The driver-checked row "
    "for the MERGE-capable table format.",
)
def merge_cow_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..sinks.cowtable import create_cow_table, merge_cow_table, read_cow_table

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    k = F.col("o_orderkey")
    path = tempfile.mkdtemp(prefix="cow_orders_") + "/t"
    create_cow_table(o, path, ["o_orderstatus"])
    updates = (
        o.where((k % 10 == 0) & (k % 17 != 3))
        .withColumn("o_orderstatus", F.lit("F"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
        .withColumn("is_deleted", F.lit(False))
    )
    deletes = o.where(k % 17 == 3).withColumn("is_deleted", F.lit(True))
    merge_cow_table(
        spark,
        path,
        updates.unionByName(deletes),
        ["o_orderkey"],
        ["o_orderstatus"],
        delete_col="is_deleted",
    )
    return read_cow_table(spark, path).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )


@register(
    "merge_versioned_time_travel",
    # Both VERSIONS of the table under one value hash: v1 must still
    # read its original immutable files after the v2 merge rewrote the
    # touched partitions — the property hive-layout CoW cannot offer.
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ),
    v2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 10 = 0 THEN 'F' ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 17 <> 3
    )
    SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,8))), 2) AS DOUBLE) AS sum_total
    FROM v1
    UNION ALL
    SELECT 2, CAST(count(*) AS BIGINT),
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,8))), 2) AS DOUBLE)
    FROM v2
    """,
    doc="Versioned parquet table (sinks.versioned): manifest-pinned "
    "immutable commits, atomic version swap via rename, time travel. "
    "Creates v1 from orders partitioned by status, MERGEs a CDC batch "
    "(cross-partition moves + deletes) into v2, then aggregates BOTH "
    "versions read back from disk — v1's numbers prove historical reads "
    "survive the rewrite untouched. The multi-partition merge is "
    "all-or-nothing (one manifest rename), which the hive-layout CoW "
    "table documents it cannot guarantee.",
)
def merge_versioned_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..operators.aggregates import rounded_sum
    from ..sinks.versioned import (
        create_versioned_table,
        merge_versioned_table,
        read_versioned_table,
    )

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    k = F.col("o_orderkey")
    path = tempfile.mkdtemp(prefix="versioned_orders_") + "/t"
    create_versioned_table(o, path, ["o_orderstatus"])
    updates = (
        o.where((k % 10 == 0) & (k % 17 != 3))
        .withColumn("o_orderstatus", F.lit("F"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
        .withColumn("is_deleted", F.lit(False))
    )
    deletes = o.where(k % 17 == 3).withColumn("is_deleted", F.lit(True))
    merge_versioned_table(
        spark,
        path,
        updates.unionByName(deletes),
        ["o_orderkey"],
        ["o_orderstatus"],
        delete_col="is_deleted",
    )

    def stats(version: int) -> DataFrame:
        return read_versioned_table(spark, path, version=version).agg(
            F.lit(version).alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            rounded_sum("o_totalprice", 2).alias("sum_total"),
        )

    return stats(1).unionByName(stats(2))


@register(
    "versioned_tag_pinned_read",
    # same CDC recipe as merge_versioned_time_travel; what's under test
    # is the REF machinery: a named tag must keep v1 readable through
    # an aggressive vacuum (keep_last=1) that reclaims every untagged
    # historical version — the "training-cut stays reproducible" claim.
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey, o_totalprice FROM orders
    ),
    v2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 17 <> 3
    )
    SELECT 'baseline' AS ref, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,8))), 2) AS DOUBLE) AS sum_total
    FROM v1
    UNION ALL
    SELECT 'latest', CAST(count(*) AS BIGINT),
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,8))), 2) AS DOUBLE)
    FROM v2
    """,
    doc="Named-tag time travel UNDER VACUUM (sinks.versioned.create_tag): "
    "v1 is tagged 'baseline', a CDC merge writes v2, then an aggressive "
    "vacuum (keep_last=1, which would reclaim every untagged historical "
    "version) runs — and the tagged read must still return v1's exact "
    "numbers, because tags PIN their manifest and data through any "
    "retention window. The reproducible-training-cut guarantee, proven "
    "under the driver's value hash.",
)
def versioned_tag_pinned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..operators.aggregates import rounded_sum
    from ..sinks.versioned import (
        create_tag,
        create_versioned_table,
        merge_versioned_table,
        read_versioned_table,
        vacuum_versioned_table,
    )

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    k = F.col("o_orderkey")
    path = tempfile.mkdtemp(prefix="versioned_tagged_") + "/t"
    create_versioned_table(o, path, ["o_orderstatus"])
    create_tag(spark, path, "baseline")
    updates = (
        o.where((k % 10 == 0) & (k % 17 != 3))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
        .withColumn("is_deleted", F.lit(False))
    )
    deletes = o.where(k % 17 == 3).withColumn("is_deleted", F.lit(True))
    merge_versioned_table(
        spark,
        path,
        updates.unionByName(deletes),
        ["o_orderkey"],
        ["o_orderstatus"],
        delete_col="is_deleted",
    )
    # no writer is in flight here, so min_age_seconds=0 is safe; only
    # the tag keeps v1 alive past keep_last=1
    vacuum_versioned_table(spark, path, keep_last=1, min_age_seconds=0)

    def stats(ref: str, **kw) -> DataFrame:
        return read_versioned_table(spark, path, **kw).agg(
            F.lit(ref).alias("ref"),
            F.count(F.lit(1)).alias("n_rows"),
            rounded_sum("o_totalprice", 2).alias("sum_total"),
        )

    return stats("baseline", tag="baseline").unionByName(stats("latest"))


@register(
    "versioned_change_feed_cdc",
    # the oracle derives the expected change feed symbolically from the
    # same CDC recipe merge_versioned_time_travel applies: %10 keys
    # update (status -> F, price +1), %17 keys delete, nothing inserts
    oracle="""
    SELECT o_orderkey, 'update' AS change_type,
           o_orderstatus AS o_orderstatus_before,
           'F' AS o_orderstatus_after,
           o_totalprice AS o_totalprice_before,
           o_totalprice + 1.0 AS o_totalprice_after
    FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 17 <> 3
    UNION ALL
    SELECT o_orderkey, 'delete',
           o_orderstatus, CAST(NULL AS VARCHAR),
           o_totalprice, CAST(NULL AS DOUBLE)
    FROM orders WHERE o_orderkey % 17 = 3
    """,
    doc="Change-data-feed between table versions (the lakehouse "
    "table_changes surface, sinks.versioned.versioned_change_feed): "
    "manifest diff selects ONLY the partitions the merge touched "
    "(identical immutable dirs cannot differ and are never read), then "
    "snapshot_diff classifies each key insert/update/delete with "
    "before/after payloads in one key-shuffled full outer join. The "
    "oracle replays the CDC recipe symbolically — updates carry old and "
    "new status/price, deletes carry nulls after.",
)
def versioned_change_feed_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..sinks.versioned import (
        create_versioned_table,
        merge_versioned_table,
        versioned_change_feed,
    )

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    k = F.col("o_orderkey")
    path = tempfile.mkdtemp(prefix="versioned_cdf_") + "/t"
    create_versioned_table(o, path, ["o_orderstatus"])
    updates = (
        o.where((k % 10 == 0) & (k % 17 != 3))
        .withColumn("o_orderstatus", F.lit("F"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
        .withColumn("is_deleted", F.lit(False))
    )
    deletes = o.where(k % 17 == 3).withColumn("is_deleted", F.lit(True))
    merge_versioned_table(
        spark,
        path,
        updates.unionByName(deletes),
        ["o_orderkey"],
        ["o_orderstatus"],
        delete_col="is_deleted",
    )
    return versioned_change_feed(
        spark,
        path,
        ["o_orderkey"],
        from_version=1,
        to_version=2,
        compare_cols=["o_orderstatus", "o_totalprice"],
    )


@register(
    "versioned_concurrent_writers",
    # the strongest storage claim — optimistic concurrency — under a
    # driver value hash: two writers MERGE disjoint key sets into the
    # same table from concurrent threads; whoever loses the manifest
    # rename race retries against the winner's version. The converged
    # state is interleaving-independent (disjoint keys commute), so one
    # oracle covers every schedule; n_versions = 3 proves BOTH commits
    # landed as separate atomic versions (nobody clobbered anybody).
    oracle="""
    WITH survivors AS (
        SELECT o_orderkey, o_orderstatus,
               o_totalprice + CASE WHEN o_orderkey % 2 = 0 THEN 1000.0 ELSE 2000.0 END AS p
        FROM orders
        WHERE o_orderkey % 30 NOT IN (0, 15)
    )
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(p AS DECIMAL(38,8))), 2) AS DOUBLE) AS sum_total,
           CAST(3 AS INT) AS n_versions
    FROM survivors GROUP BY o_orderstatus
    """,
    doc="Optimistic-concurrency MERGE race (sinks.versioned): writer A "
    "updates even keys (+1000, deletes %30=0), writer B odd keys "
    "(+2000, deletes %30=15), both submitted simultaneously from a "
    "thread pool against one table. Atomic manifest rename means "
    "exactly one writer wins each version; the loser recomputes "
    "against the new snapshot and commits on retry. Read-back "
    "aggregates the converged state per partition; n_versions "
    "witnesses two distinct post-base commits.",
)
def versioned_concurrent_writers(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    from ..operators.aggregates import rounded_sum
    from ..sinks.versioned import (
        create_versioned_table,
        latest_version,
        merge_versioned_table,
        read_versioned_table,
    )

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    k = F.col("o_orderkey")
    # stable per-process path, replaced per invocation (no tmp leak
    # across bench iterations — the r3 e2e lesson)
    root = os.path.join(tempfile.gettempdir(), "spark_graft_versioned_race")
    shutil.rmtree(root, ignore_errors=True)
    path = f"{root}/t"
    create_versioned_table(o, path, ["o_orderstatus"])

    def writer(parity: int, bump: float, del_mod: int) -> None:
        batch = (
            o.where(k % 2 == parity)
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(bump))
            .withColumn("is_deleted", k % 30 == del_mod)
        )
        merge_versioned_table(
            spark,
            path,
            batch,
            ["o_orderkey"],
            ["o_orderstatus"],
            delete_col="is_deleted",
            max_retries=8,
        )

    with ThreadPoolExecutor(max_workers=2) as ex:
        futures = [ex.submit(writer, 0, 1000.0, 0), ex.submit(writer, 1, 2000.0, 15)]
        for f in futures:
            f.result()

    nv = latest_version(spark, path)
    return (
        read_versioned_table(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            rounded_sum("o_totalprice", 2).alias("sum_total"),
        )
        .withColumn("n_versions", F.lit(nv).cast("int"))
    )


@register(
    "versioned_schema_evolution_cdf",
    # the strongest remaining lakehouse claim under a driver hash (r4
    # review ask #6): add-only schema evolution THROUGH the change
    # feed. v2 evolves the table with a new column; v3 updates ONLY the
    # evolved column. The union-schema diff (sinks/versioned.py) must
    # (a) carry the evolved column's payloads for the evolution merge
    # and (b) classify an evolved-column-only change as an update —
    # pinning the FROM schema would emit neither.
    oracle="""
    SELECT o_orderkey, 'update' AS change_type,
           o_totalprice AS o_totalprice_before,
           o_totalprice AS o_totalprice_after,
           CAST(NULL AS DOUBLE) AS priority_score_before,
           o_totalprice + 500.0 AS priority_score_after,
           'v1v2' AS span
    FROM orders WHERE o_orderkey % 7 = 0
    UNION ALL
    SELECT o_orderkey, 'update',
           o_totalprice, o_totalprice,
           CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 500.0
                ELSE CAST(NULL AS DOUBLE) END,
           CAST(-1.0 AS DOUBLE),
           'v2v3'
    FROM orders WHERE o_orderkey % 5 = 0
    """,
    doc="Schema evolution through the CDC change feed "
    "(sinks.versioned): merge with allow_schema_evolution=True adds "
    "priority_score for %7 keys (v2), then a second merge updates "
    "ONLY the evolved column for %5 keys (v3). Both feeds diff under "
    "the UNION of the versions' schemas, so evolution payloads appear "
    "(null-before -> value-after) and evolved-only updates classify "
    "as updates; pre-evolution rows read the column as typed null. "
    "The oracle replays both recipes symbolically.",
)
def versioned_schema_evolution_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..sinks.versioned import (
        create_versioned_table,
        merge_versioned_table,
        versioned_change_feed,
    )

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    k = F.col("o_orderkey")
    path = tempfile.mkdtemp(prefix="versioned_evo_cdf_") + "/t"
    create_versioned_table(o, path, ["o_orderstatus"])
    evo = o.where(k % 7 == 0).withColumn(
        "priority_score", F.col("o_totalprice") + F.lit(500.0)
    )
    merge_versioned_table(
        spark, path, evo, ["o_orderkey"], ["o_orderstatus"],
        allow_schema_evolution=True,
    )
    upd = o.where(k % 5 == 0).withColumn("priority_score", F.lit(-1.0))
    merge_versioned_table(spark, path, upd, ["o_orderkey"], ["o_orderstatus"])

    def feed(v_from: int, v_to: int, span: str) -> DataFrame:
        return versioned_change_feed(
            spark,
            path,
            ["o_orderkey"],
            from_version=v_from,
            to_version=v_to,
            compare_cols=["o_totalprice", "priority_score"],
        ).withColumn("span", F.lit(span))

    return feed(1, 2, "v1v2").unionByName(feed(2, 3, "v2v3"))


@register(
    "dq_expectation_suite",
    oracle="""
    WITH m AS (
        SELECT
            round(CAST(count(*) AS DOUBLE), 6)                                    AS row_count,
            round(CAST(count(*) - count(DISTINCT o_orderkey) AS DOUBLE), 6)       AS dup_orderkeys,
            round(avg(CASE WHEN o_custkey IS NULL THEN 1.0 ELSE 0.0 END), 6)      AS custkey_null_rate,
            round(min(o_totalprice), 6)                                           AS min_totalprice,
            round(max(o_totalprice), 6)                                           AS max_totalprice,
            round(avg(CASE WHEN o_orderstatus IN ('F','O','P') THEN 1.0 ELSE 0.0 END), 6)
                                                                                  AS status_conformity,
            round(avg(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-') THEN 1.0 ELSE 0.0 END), 6)
                                                                                  AS priority_format_rate
        FROM orders
    ),
    rows_out(expectation, value, lo, hi) AS (
        SELECT 'row_count', row_count, 1.0, 1e12 FROM m
        UNION ALL SELECT 'dup_orderkeys', dup_orderkeys, 0.0, 0.0 FROM m
        UNION ALL SELECT 'custkey_null_rate', custkey_null_rate, 0.0, 0.01 FROM m
        UNION ALL SELECT 'min_totalprice', min_totalprice, 0.0, 1e9 FROM m
        UNION ALL SELECT 'max_totalprice', max_totalprice, 0.0, 500000.0 FROM m
        UNION ALL SELECT 'status_conformity', status_conformity, 1.0, 1.0 FROM m
        UNION ALL SELECT 'priority_format_rate', priority_format_rate, 0.99, 1.0 FROM m
    )
    SELECT expectation, value,
           CAST(lo AS DOUBLE) AS lo, CAST(hi AS DOUBLE) AS hi,
           (value >= lo AND value <= hi) AS passed
    FROM rows_out
    """,
    doc="Dataset-level expectation suite (functions.quality.expectation_suite, "
    "the deequ/Great-Expectations shape): uniqueness, null-rate, bounds, and "
    "conformity-rate constraints ALL computed in one map-side-combined "
    "aggregate over one scan, exploded to one (expectation, value, band, "
    "passed) row each — the publish gate a nightly job alerts on. "
    "Complements dq_quarantine_summary (row-level gate).",
)
def dq_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.quality import expectation_suite

    o = _t(spark, sf_dir, "orders")
    return expectation_suite(
        o,
        {
            "row_count": (F.count(F.lit(1)), 1, 1e12),
            "dup_orderkeys": (F.count(F.lit(1)) - F.countDistinct("o_orderkey"), 0, 0),
            "custkey_null_rate": (F.avg(F.col("o_custkey").isNull().cast("double")), 0, 0.01),
            "min_totalprice": (F.min("o_totalprice"), 0, 1e9),
            "max_totalprice": (F.max("o_totalprice"), 0, 500000.0),
            "status_conformity": (
                F.avg(F.col("o_orderstatus").isin("F", "O", "P").cast("double")), 1, 1
            ),
            "priority_format_rate": (
                F.avg(F.col("o_orderpriority").rlike("^[1-5]-").cast("double")), 0.99, 1
            ),
        },
    )


@register(
    "incremental_agg_maintenance",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,8))), 2) AS DOUBLE) AS total,
           min(o_totalprice) AS lo,
           max(o_totalprice) AS hi,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,8))) / count(*), 2) AS DOUBLE) AS mean
    FROM orders GROUP BY o_orderstatus
    """,
    doc="Incremental materialized-aggregate maintenance "
    "(operators.aggregates.partial_agg/merge_partial_aggs/finalize_agg): "
    "history (orders before 2000) and the delta (2000+) are aggregated "
    "SEPARATELY into mergeable states (count, exact DECIMAL sum, min, max), "
    "merged with the partial-aggregate algebra, and finalized — the oracle "
    "recomputes from the full table, proving merge(delta)+state equals "
    "recompute. At 100 TB the nightly job aggregates only the new "
    "partition; cost scales with the delta, not the table.",
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import finalize_agg, merge_partial_aggs, partial_agg

    o = _t(spark, sf_dir, "orders")
    base = o.where(F.col("o_orderdate") < "2000-01-01")
    delta = o.where(F.col("o_orderdate") >= "2000-01-01")
    state = merge_partial_aggs(
        [
            partial_agg(base, ["o_orderstatus"], "o_totalprice"),
            partial_agg(delta, ["o_orderstatus"], "o_totalprice"),
        ],
        ["o_orderstatus"],
    )
    return finalize_agg(state)


@register(
    "dq_join_fanout_estimate",
    oracle="""
    WITH l AS (SELECT l_orderkey AS k, count(*) AS m FROM lineitem GROUP BY 1),
    o AS (SELECT o_orderkey AS k, count(*) AS m FROM orders GROUP BY 1),
    ls AS (SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(max(m) AS BIGINT) AS max_mult,
                  round(quantile_cont(m, 0.99), 4) AS p99_mult FROM l),
    os AS (SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(max(m) AS BIGINT) AS max_mult,
                  round(quantile_cont(m, 0.99), 4) AS p99_mult FROM o),
    x AS (SELECT CAST(coalesce(sum(l.m * o.m), 0) AS BIGINT) AS exact_rows
          FROM l JOIN o USING (k))
    SELECT 'lineitem' AS side, ls.n_keys, ls.max_mult, ls.p99_mult, x.exact_rows
    FROM ls CROSS JOIN x
    UNION ALL
    SELECT 'orders', os.n_keys, os.max_mult, os.p99_mult, x.exact_rows
    FROM os CROSS JOIN x
    """,
    doc="Pre-join fan-out guardrail (the check that catches a 100-TB "
    "join explosion BEFORE it runs): per-side key multiplicity profile "
    "(distinct keys, max, exact p99) plus the exact output cardinality "
    "of the join computed from the two thin (key, count) aggregates — "
    "sum of per-key multiplicity products, a join of two key-counted "
    "summaries, NEVER the wide tables. A nightly job compares exact_rows "
    "against budget and aborts/alerts before shuffling terabytes.",
)
def dq_join_fanout_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").groupBy(
        F.col("l_orderkey").alias("k")
    ).agg(F.count(F.lit(1)).alias("m"))
    o = _t(spark, sf_dir, "orders").groupBy(
        F.col("o_orderkey").alias("k")
    ).agg(F.count(F.lit(1)).alias("m"))

    def profile(side: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(side).alias("side"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("m").cast("long").alias("max_mult"),
            F.round(F.expr("percentile(m, 0.99)"), 4).alias("p99_mult"),
        )

    exact = (
        li.alias("l")
        .join(o.alias("o"), "k")
        .agg(F.coalesce(F.sum(F.col("l.m") * F.col("o.m")), F.lit(0)).cast("long").alias("exact_rows"))
    )
    return (
        profile("lineitem", li)
        .unionByName(profile("orders", o))
        .crossJoin(F.broadcast(exact))
        .select("side", "n_keys", "max_mult", "p99_mult", "exact_rows")
    )


@register(
    "dq_volume_anomaly",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, count(*) AS n_events
        FROM events GROUP BY 1
    ),
    stats AS (
        SELECT round(avg(n_events), 4) AS mu,
               round(stddev_pop(n_events), 4) AS sigma
        FROM daily
    )
    SELECT d.day, d.n_events,
           round((d.n_events - s.mu) / nullif(s.sigma, 0), 4) AS z_score,
           abs((d.n_events - s.mu) / nullif(s.sigma, 0)) > 3 AS is_anomaly
    FROM daily d CROSS JOIN stats s
    """,
    doc="Ingest-volume anomaly monitor (the pipeline-ops alert every "
    "nightly job needs): per-day event counts, population z-score against "
    "the window's own mean/stddev, |z| > 3 flagged. One aggregate for the "
    "daily counts, a 1-row stats broadcast back — no second scan, no "
    "window over the corpus. stddev_pop (not sample) so both engines "
    "agree exactly; round-then-divide keeps the z-score hash-stable.",
)
def dq_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    stats = daily.agg(
        F.round(F.avg("n_events"), 4).alias("mu"),
        F.round(F.stddev_pop("n_events"), 4).alias("sigma"),
    )
    z = (F.col("n_events") - F.col("mu")) / F.nullif(F.col("sigma"), F.lit(0))
    return daily.crossJoin(F.broadcast(stats)).select(
        "day",
        "n_events",
        F.round(z, 4).alias("z_score"),
        (F.abs(z) > 3).alias("is_anomaly"),
    )


@register(
    "dq_quarantine_summary",
    oracle="""
    WITH labeled AS (
        SELECT o_orderkey,
               (CASE WHEN NOT coalesce(o_totalprice > 0 AND o_totalprice <= 350000, FALSE)
                     THEN 1 ELSE 0 END) AS v_price,
               (CASE WHEN NOT coalesce(o_orderstatus IN ('F','O','P'), FALSE)
                     THEN 1 ELSE 0 END) AS v_status,
               (CASE WHEN NOT coalesce(o_orderdate IS NOT NULL, FALSE)
                     THEN 1 ELSE 0 END) AS v_date
        FROM orders
    )
    SELECT CAST(sum(CASE WHEN v_price + v_status + v_date > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quarantined,
           CAST(sum(CASE WHEN v_price + v_status + v_date = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_valid,
           CAST(sum(v_price) AS BIGINT)  AS fail_price_band,
           CAST(sum(v_status) AS BIGINT) AS fail_known_status,
           CAST(sum(v_date) AS BIGINT)   AS fail_has_date
    FROM labeled
    """,
    doc="Data-quality gate (functions.quality): declarative rules -> per-rule "
    "violation labels -> quarantine split, all as JVM predicates over one "
    "scan. NULL rule results quarantine (an unevaluable rule must not pass). "
    "Output: triage summary the nightly job alerts on.",
)
def dq_quarantine_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.quality import with_violations, VIOLATIONS_COL

    rules = {
        "price_band": F.col("o_totalprice").between(1e-9, 350000.0),
        "known_status": F.col("o_orderstatus").isin("F", "O", "P"),
        "has_date": F.col("o_orderdate").isNotNull(),
    }
    labeled = with_violations(_t(spark, sf_dir, "orders"), rules)
    has = lambda name: F.array_contains(F.col(VIOLATIONS_COL), name).cast("int")  # noqa: E731
    return labeled.agg(
        F.sum((F.size(F.col(VIOLATIONS_COL)) > 0).cast("int")).cast("long").alias("n_quarantined"),
        F.sum((F.size(F.col(VIOLATIONS_COL)) == 0).cast("int")).cast("long").alias("n_valid"),
        F.sum(has("price_band")).cast("long").alias("fail_price_band"),
        F.sum(has("known_status")).cast("long").alias("fail_known_status"),
        F.sum(has("has_date")).cast("long").alias("fail_has_date"),
    )


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    ) GROUP BY c_count
    """,
    doc="TPC-H Q13 shape: order-count histogram including ZERO-order customers. "
    "The non-key predicate lives in the JOIN CONDITION, not WHERE — filtering "
    "after a left join would silently turn it inner and drop the zero bucket. "
    "Two-level aggregation: the second groupBy shuffles only (count, custkey) "
    "pairs, already one row per customer.",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q22_dormant_accounts",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_custs,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(30,8))), 2) AS DOUBLE) AS total_bal
    FROM customer c
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
    doc="TPC-H Q22 shape: above-average-balance customers with no URGENT order "
    "— a scalar aggregate subquery (global avg, broadcast as a 1-row join) "
    "gating a LEFT ANTI join against a filtered orders scan, then a segment "
    "rollup. The anti join shuffles only keys; the priority filter pushes "
    "into the orders scan before the join.",
)
def q22_dormant_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("__avg"))
    rich = cust.join(F.broadcast(avg_bal)).where(F.col("c_acctbal") > F.col("__avg"))
    urgent = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    dormant = rich.join(urgent, rich.c_custkey == F.col("o_custkey"), "left_anti")
    return dormant.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_custs"),
        rounded_sum("c_acctbal", 2).alias("total_bal"),
    )


@register(
    "sql_templated_latest_version",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
    FROM (
        SELECT *, row_number() OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE)
                                     ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
        FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    ) WHERE rn = 1
    """,
    doc="The reference's SQL execution path (helper.py:64-72, main.py spark.sql "
    "loop): a {param}-templated query text over temp views, rendered and "
    "handed to Catalyst (sources.sql_templates.run_templated_query). Same "
    "latest-version-per-day dedup as 1-basedata_first_query.sql; identical "
    "physical plan to the DataFrame formulation (WindowGroupLimit included).",
)
def sql_templated_latest_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.sql_templates import run_templated_query

    template = """
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        FROM (
            SELECT *, row_number() OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE)
                                         ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
            FROM {src_view} WHERE o_orderdate >= TIMESTAMP '{min_date}'
        ) WHERE rn = 1
    """
    return run_templated_query(
        spark,
        template,
        views={"orders_cdc": _t(spark, sf_dir, "orders")},
        src_view="orders_cdc",
        min_date="1996-01-01",
    )


@register(
    "w_rank_family",
    oracle="""
    SELECT o_orderkey,
           ntile(4)       OVER w AS spend_quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist()    OVER w, 6) AS cume,
           rank()         OVER w AS rnk,
           dense_rank()   OVER w AS drnk
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
    doc="The rank-function family (ntile/percent_rank/cume_dist/rank/"
    "dense_rank) over one shared window — one shuffle + one sort serves all "
    "five. Total order (price, key) keeps every function deterministic.",
)
def w_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.ntile(4).over(w).alias("spend_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@register(
    "udtf_date_spine",
    oracle="""
    SELECT o_orderkey, CAST(d AS DATE) AS active_day
    FROM orders, unnest(generate_series(
        CAST(o_orderdate AS DATE),
        CAST(o_orderdate AS DATE) + INTERVAL 2 DAY,
        INTERVAL 1 DAY)) AS u(d)
    WHERE o_orderkey <= 1000
    """,
    doc="Python UDTF (Spark 4 table function): each order expands to its "
    "3-day active-day spine — the date-scaffold generator behind fill-gaps "
    "/ as-of reporting. One lateral-join Generate node; rows fan out "
    "executor-side, never through the driver.",
)
def udtf_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    from pyspark.sql.functions import udtf

    @udtf(returnType="active_day date")
    class DateSpine:
        def eval(self, start: dt.date):
            for i in range(3):
                yield (start + dt.timedelta(days=i),)

    spark.udtf.register("date_spine", DateSpine)
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 1000)
    orders.createOrReplaceTempView("orders_spine_src")
    return spark.sql(
        """
        SELECT s.o_orderkey, d.active_day
        FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS start_day
              FROM orders_spine_src) s,
        LATERAL date_spine(s.start_day) d
        """
    )


@register(
    "x_variant_shredding",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS k_total,
           CAST(max(CAST(json_extract(props, '$.k') AS INT)) AS INT) AS k_max
    FROM events GROUP BY event_type
    """,
    doc="Semi-structured VARIANT path (Spark 4): parse_json once into the "
    "binary variant encoding, then typed variant_get extraction feeding "
    "ordinary aggregation — the evolution of the reference's "
    "get_json_object string re-parsing (one parse per row, not one per "
    "field access).",
)
def x_variant_shredding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.parse_json("props").alias("v")
    )
    k = F.variant_get("v", "$.k", "int")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.sum("k").cast("long").alias("k_total"),
        F.max("k").cast("int").alias("k_max"),
    )


@register(
    "stats_corr_covar",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) + 0.0  AS qty_price_corr,
           round(covar_samp(l_quantity, l_discount), 6) + 0.0 AS qty_disc_covar,
           round(stddev_samp(l_extendedprice), 4)             AS price_stddev
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Bivariate statistics per group: Pearson correlation, sample "
    "covariance, sample stddev — single-pass partial-aggregable moments "
    "(sum, sum-of-squares, cross-products), so the shuffle carries one "
    "moment vector per group, not the data.",
)
def stats_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # + 0.0 folds IEEE -0.0 to 0.0: signed moments whose accumulation
    # order differs across engines can round to opposite-signed zero
    return li.groupBy("l_returnflag").agg(
        (F.round(F.corr("l_quantity", "l_extendedprice"), 6) + F.lit(0.0)).alias("qty_price_corr"),
        (F.round(F.covar_samp("l_quantity", "l_discount"), 6) + F.lit(0.0)).alias("qty_disc_covar"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
    )


@register(
    "recursive_cte_hierarchy",
    oracle="""
    WITH RECURSIVE anc AS (
        SELECT p_partkey AS part, p_partkey AS ancestor, 0 AS depth,
               CAST(p_retailprice AS DECIMAL(30,8)) AS price
        FROM part
        UNION ALL
        SELECT part, ancestor // 2, depth + 1, price
        FROM anc WHERE ancestor > 1
    )
    SELECT ancestor,
           CAST(count(*) AS BIGINT)                          AS n_subtree,
           CAST(max(depth) AS INT)                           AS max_depth,
           CAST(round(sum(price), 2) AS DOUBLE)              AS subtree_price
    FROM anc
    WHERE ancestor <= 31
    GROUP BY ancestor
    """,
    doc="Recursive CTE (Spark 4 WITH RECURSIVE) transitive closure: "
    "every part climbs a derived binary hierarchy (parent = key DIV 2) "
    "to the root, and the closure rolls up per-ancestor subtree size, "
    "max depth, and DECIMAL-exact subtree price — the BOM-explosion / "
    "org-rollup shape SQL engines historically pushed to clients. "
    "Iterations = tree depth (log2 of the key space, ~11-15 at any "
    "SF), each one a JVM-side self-union step — no driver loop, no "
    "Python; the rollup output is bounded by the ancestor filter. "
    "DuckDB replays the identical recursion (// is Spark's DIV).",
    tags=("bench",)
)
def recursive_cte_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    part.createOrReplaceTempView("part_hierarchy_src")
    return spark.sql(
        """
        WITH RECURSIVE anc AS (
            SELECT p_partkey AS part, p_partkey AS ancestor, 0 AS depth,
                   CAST(p_retailprice AS DECIMAL(30,8)) AS price
            FROM part_hierarchy_src
            UNION ALL
            SELECT part, ancestor DIV 2, depth + 1, price
            FROM anc WHERE ancestor > 1
        )
        SELECT ancestor,
               CAST(count(*) AS BIGINT)             AS n_subtree,
               CAST(max(depth) AS INT)              AS max_depth,
               CAST(round(sum(price), 2) AS DOUBLE) AS subtree_price
        FROM anc
        WHERE ancestor <= 31
        GROUP BY ancestor
        """
    )


@register(
    "stats_linear_regression",
    oracle="""
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 6) + 0.0     AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) + 0.0 AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) + 0.0        AS r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT)     AS n_obs
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Per-group ordinary least squares via the SQL-standard regr_* "
    "aggregate family (price ~ quantity per return flag): slope, "
    "intercept, R², observation count. Like corr/covar these reduce to "
    "partial-aggregable moment sums (n, Σx, Σy, Σxy, Σx²), so the "
    "shuffle carries a 5-float moment vector per group — a distributed "
    "closed-form model fit with no iteration and no Python in the row "
    "path. DuckDB's regr_count returns UINT32 (pandas uint32), so the "
    "oracle casts to BIGINT for dtype symmetry with Spark's long.",
)
def stats_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    # + 0.0 folds IEEE -0.0 (see stats_corr_covar)
    return li.groupBy("l_returnflag").agg(
        (F.round(F.regr_slope(y, x), 6) + F.lit(0.0)).alias("slope"),
        (F.round(F.regr_intercept(y, x), 4) + F.lit(0.0)).alias("intercept"),
        (F.round(F.regr_r2(y, x), 6) + F.lit(0.0)).alias("r2"),
        F.regr_count(y, x).cast("long").alias("n_obs"),
    )


@register(
    "stats_welch_ttest",
    oracle="""
    WITH m AS (
        SELECT CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               round(avg(CASE WHEN l_returnflag = 'R' THEN l_extendedprice END), 6) AS m1,
               round(avg(CASE WHEN l_returnflag = 'N' THEN l_extendedprice END), 6) AS m2,
               round(var_samp(CASE WHEN l_returnflag = 'R' THEN l_extendedprice END), 4) AS v1,
               round(var_samp(CASE WHEN l_returnflag = 'N' THEN l_extendedprice END), 4) AS v2
        FROM lineitem
    )
    SELECT n1, n2,
           round(m1 - m2, 6) + 0.0 AS mean_diff,
           round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 4) + 0.0 AS t_stat,
           round(pow(v1 / n1 + v2 / n2, 2)
                 / (pow(v1 / n1, 2) / (n1 - 1) + pow(v2 / n2, 2) / (n2 - 1)), 2)
             AS df_welch
    FROM m
    """,
    doc="Distributed two-sample hypothesis test (Welch's unequal-variance "
    "t): returned vs non-returned line item prices compared via the "
    "t statistic and Welch-Satterthwaite degrees of freedom — the A/B "
    "significance readout every experimentation pipeline needs, computed "
    "from ONE scan of partial-aggregable moments (conditional count/ "
    "avg/var_samp; the shuffle carries six numbers). Determinism: the "
    "statistic is derived from PRE-ROUNDED moments, so the only "
    "engine-order-sensitive values are rounded before any division.",
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    x_r = F.when(F.col("l_returnflag") == "R", F.col("l_extendedprice"))
    x_n = F.when(F.col("l_returnflag") == "N", F.col("l_extendedprice"))
    m = li.agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("l_returnflag") == "N", 1).otherwise(0)).cast("long").alias("n2"),
        F.round(F.avg(x_r), 6).alias("m1"),
        F.round(F.avg(x_n), 6).alias("m2"),
        F.round(F.var_samp(x_r), 4).alias("v1"),
        F.round(F.var_samp(x_n), 4).alias("v2"),
    )
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    t = (F.col("m1") - F.col("m2")) / F.sqrt(se2)
    df_w = F.pow(se2, 2) / (
        F.pow(F.col("v1") / F.col("n1"), 2) / (F.col("n1") - 1)
        + F.pow(F.col("v2") / F.col("n2"), 2) / (F.col("n2") - 1)
    )
    return m.select(
        "n1",
        "n2",
        (F.round(F.col("m1") - F.col("m2"), 6) + F.lit(0.0)).alias("mean_diff"),
        (F.round(t, 4) + F.lit(0.0)).alias("t_stat"),
        F.round(df_w, 2).alias("df_welch"),
    )


@register(
    "stats_chi_square",
    oracle="""
    WITH obs AS (
        SELECT l_returnflag AS rf, l_linestatus AS ls,
               CAST(count(*) AS BIGINT) AS o
        FROM lineitem GROUP BY 1, 2
    ),
    rows_m AS (SELECT rf, CAST(sum(o) AS BIGINT) AS r_tot FROM obs GROUP BY rf),
    cols_m AS (SELECT ls, CAST(sum(o) AS BIGINT) AS c_tot FROM obs GROUP BY ls),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
    cells AS (
        SELECT obs.rf, obs.ls, obs.o,
               round(r.r_tot * c.c_tot * 1.0 / t.n, 6) AS expected
        FROM obs JOIN rows_m r ON obs.rf = r.rf
                 JOIN cols_m c ON obs.ls = c.ls
                 CROSS JOIN tot t
    )
    SELECT rf, ls, o AS observed, expected,
           round(pow(o - expected, 2) / expected, 6) AS cell_chi2
    FROM cells
    """,
    doc="Chi-square test of independence (return flag x line status), "
    "the categorical complement to stats_welch_ttest: observed "
    "contingency cells from ONE map-side-combined scan, marginals as "
    "two tiny re-aggregations of the CELL table (never a second corpus "
    "scan), expected = row x col / n broadcast back, per-cell chi2 "
    "contribution rounded from pre-rounded expecteds. The contingency "
    "table is bounded by category cardinality, so every join input "
    "after the first aggregate is model-sized.",
)
def stats_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    obs = li.groupBy(
        F.col("l_returnflag").alias("rf"), F.col("l_linestatus").alias("ls")
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    rows_m = obs.groupBy("rf").agg(F.sum("o").cast("long").alias("r_tot"))
    cols_m = obs.groupBy("ls").agg(F.sum("o").cast("long").alias("c_tot"))
    tot = obs.agg(F.sum("o").cast("long").alias("n"))
    cells = (
        obs.join(F.broadcast(rows_m), "rf")
        .join(F.broadcast(cols_m), "ls")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "expected",
            F.round(F.col("r_tot") * F.col("c_tot") / F.col("n"), 6),
        )
    )
    return cells.select(
        "rf",
        "ls",
        F.col("o").alias("observed"),
        "expected",
        F.round(F.pow(F.col("o") - F.col("expected"), 2) / F.col("expected"), 6).alias(
            "cell_chi2"
        ),
    )


@register(
    "dq_anomaly_mad",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, count(*) AS n_events
        FROM events GROUP BY 1
    ),
    med AS (
        SELECT round(quantile_cont(n_events, 0.5), 4) AS med FROM daily
    ),
    mad AS (
        SELECT round(quantile_cont(abs(d.n_events - m.med), 0.5), 4) AS mad
        FROM daily d CROSS JOIN med m
    )
    SELECT d.day, d.n_events,
           round(0.6745 * (d.n_events - m.med) / nullif(a.mad, 0), 4) + 0.0
             AS robust_z,
           abs(0.6745 * (d.n_events - m.med) / nullif(a.mad, 0)) > 3.5
             AS is_anomaly
    FROM daily d CROSS JOIN med m CROSS JOIN mad a
    """,
    doc="Robust volume-anomaly monitor: median/MAD (median absolute "
    "deviation) replace mean/stddev so a single huge spike cannot mask "
    "itself by inflating the baseline — the standard complement to the "
    "z-score monitor (dq_volume_anomaly), flagging |0.6745·(x-med)/MAD| "
    "> 3.5 (Iglewicz-Hoaglin modified z). Shape: one map-side-combined "
    "aggregate to the per-day counts (bounded by distinct days, the "
    "value-counts contraction), then two 1-row median aggregates over "
    "that SMALL table broadcast back — the corpus is scanned once. "
    "Exact interpolated medians (Spark percentile == DuckDB "
    "quantile_cont), rounded pre-division for hash stability.",
)
def dq_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    med = daily.agg(F.round(F.percentile("n_events", F.lit(0.5)), 4).alias("med"))
    with_med = daily.crossJoin(F.broadcast(med))
    mad = with_med.agg(
        F.round(
            F.percentile(F.abs(F.col("n_events") - F.col("med")), F.lit(0.5)), 4
        ).alias("mad")
    )
    z = (
        F.lit(0.6745)
        * (F.col("n_events") - F.col("med"))
        / F.nullif(F.col("mad"), F.lit(0))
    )
    return with_med.crossJoin(F.broadcast(mad)).select(
        "day",
        "n_events",
        (F.round(z, 4) + F.lit(0.0)).alias("robust_z"),
        (F.abs(z) > 3.5).alias("is_anomaly"),
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 2)
                 AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, CAST(r.total_revenue AS DOUBLE) AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    doc="TPC-H Q15 shape: a derived revenue view consumed twice — once for the "
    "global max (scalar subquery, 1-row broadcast) and once as the join "
    "input. The view computes ONCE per consumer; revenue stays DECIMAL "
    "through the equality comparison (a rounded-double equality would be "
    "engine-dependent) and casts to double only in the output.",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    revenue = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(30,8)")),
                2,
            ).alias("total_revenue")
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("__max"))
    top = revenue.join(F.broadcast(max_rev)).where(F.col("total_revenue") == F.col("__max"))
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return sup.join(top, sup.s_suppkey == top.supplier_no).select(
        "s_suppkey", "s_name", F.col("total_revenue").cast("double").alias("total_revenue")
    )


@register(
    "gap_fill_monthly_spend",
    oracle="""
    WITH actual AS (
        SELECT o_custkey,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS INT) AS m,
               round(sum(CAST(o_totalprice AS DECIMAL(30,8))), 2) AS spend_dec
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY 1, 2
    ),
    bounds AS (SELECT o_custkey, min(m) AS lo, max(m) AS hi FROM actual GROUP BY o_custkey),
    spine AS (
        SELECT b.o_custkey, CAST(u.m AS INT) AS m
        FROM bounds b, unnest(range(b.lo, b.hi + 1)) AS u(m)
    )
    SELECT s.o_custkey, s.m AS month_idx,
           CAST(last_value(a.spend_dec IGNORE NULLS) OVER (
                PARTITION BY s.o_custkey ORDER BY s.m
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_ffill,
           (a.spend_dec IS NULL) AS was_gap
    FROM spine s LEFT JOIN actual a ON s.o_custkey = a.o_custkey AND s.m = a.m
    """,
    doc="Hypertable-style gap fill: per customer, a dense month spine between "
    "first and last activity (sequence+explode — spine rows are generated "
    "executor-side, never on the driver), left join actual spend, then "
    "forward-fill via last(ignorenulls) over an ordered window. All native "
    "DataFrame ops; spine width bounded by the filter window.",
)
def gap_fill_monthly_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).cast("int")
    actual = (
        _t(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("o_custkey", m.alias("m"))
        .agg(F.round(F.sum(F.col("o_totalprice").cast("decimal(30,8)")), 2).alias("spend_dec"))
    )
    spine = (
        actual.groupBy("o_custkey")
        .agg(F.min("m").alias("lo"), F.max("m").alias("hi"))
        .select("o_custkey", F.explode(F.sequence("lo", "hi")).alias("m"))
    )
    joined = spine.join(actual, ["o_custkey", "m"], "left")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "o_custkey",
        F.col("m").alias("month_idx"),
        F.last("spend_dec", ignorenulls=True).over(w).cast("double").alias("spend_ffill"),
        F.col("spend_dec").isNull().alias("was_gap"),
    )


@register(
    "x_array_functions",
    oracle="""
    WITH t AS (
        SELECT l_orderkey, list(l_quantity ORDER BY l_linenumber, l_quantity) AS qs
        FROM lineitem WHERE l_orderkey <= 2000 GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           len(qs) AS n_items,
           round(list_aggregate(list_transform(qs, q -> q * 2.0), 'sum'), 4) AS doubled_sum,
           len(list_filter(qs, q -> q >= 25)) AS n_large,
           qs[1] AS first_qty,
           list_sort(qs)[-1] AS max_qty,
           round(list_aggregate(list_slice(list_sort(qs), 1, 3), 'sum'), 4) AS low3_sum
    FROM t
    """,
    doc="Higher-order array battery over collected per-order quantity lists: "
    "collect_list with deterministic ordering, transform+aggregate (map/"
    "reduce inside one row, zero shuffles), filter, indexing, sort+slice. "
    "These JVM lambdas are the UDF-free path for per-row collection logic.",
)
def x_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") <= 2000)
    t = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(F.struct("l_linenumber", "l_quantity"))
        ).alias("pairs")
    ).select(
        "l_orderkey", F.transform("pairs", lambda p: p.l_quantity).alias("qs")
    )
    doubled_sum = F.aggregate(
        F.transform("qs", lambda q: q * 2.0), F.lit(0.0), lambda acc, x: acc + x
    )
    low3 = F.slice(F.array_sort("qs"), 1, 3)
    return t.select(
        "l_orderkey",
        F.size("qs").alias("n_items"),
        F.round(doubled_sum, 4).alias("doubled_sum"),
        F.size(F.filter("qs", lambda q: q >= 25)).alias("n_large"),
        F.col("qs")[0].alias("first_qty"),
        F.array_max("qs").alias("max_qty"),
        F.round(
            F.aggregate(low3, F.lit(0.0), lambda acc, x: acc + x), 4
        ).alias("low3_sum"),
    )


@register(
    "x_null_semantics",
    oracle="""
    SELECT event_id,
           coalesce(value, -1.0) AS v_or_default,
           nullif(event_type, 'error') AS type_or_null,
           CASE WHEN value IS NULL THEN 'missing' ELSE 'present' END AS presence,
           (value IS DISTINCT FROM 0.0) AS nonzero_nullsafe,
           ifnull(CAST(NULL AS INT), user_id % 10) AS fallback_chain
    FROM events WHERE event_id <= 2000
    """,
    doc="Null-semantics battery: coalesce / nullif / null-safe comparison "
    "(IS DISTINCT FROM == Spark eqNullSafe negation) / conditional presence "
    "— the exact traps three-valued logic sets in filters and joins, pinned "
    "against the oracle.",
)
def x_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").where(F.col("event_id") <= 2000)
    return ev.select(
        "event_id",
        F.coalesce("value", F.lit(-1.0)).alias("v_or_default"),
        F.nullif("event_type", F.lit("error")).alias("type_or_null"),
        F.when(F.col("value").isNull(), "missing").otherwise("present").alias("presence"),
        (~F.col("value").eqNullSafe(F.lit(0.0))).alias("nonzero_nullsafe"),
        F.ifnull(F.lit(None).cast("int"), (F.col("user_id") % 10).cast("int")).alias(
            "fallback_chain"
        ),
    )


@register(
    "x_datetime_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(date_trunc('month', o_orderdate) AS DATE)   AS order_month,
           CAST(date_trunc('quarter', o_orderdate) AS DATE) AS order_quarter,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE)      AS due_date,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
           datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch,
           CAST(year(o_orderdate) AS INT)  AS y,
           CAST(month(o_orderdate) AS INT) AS m,
           CAST(day(o_orderdate) AS INT)   AS d
    FROM orders WHERE o_orderkey <= 2000
    """,
    doc="Datetime battery on the safe cross-engine subset: truncation "
    "(month/quarter), interval arithmetic, last_day, day difference, "
    "component extraction. Week-numbering and day-of-week are "
    "DELIBERATELY absent — Spark and ANSI engines disagree on their "
    "conventions (documented rather than papered over).",
)
def x_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 2000)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", d).cast("date").alias("order_month"),
        F.date_trunc("quarter", d).cast("date").alias("order_quarter"),
        F.date_add(d.cast("date"), 30).alias("due_date"),
        F.last_day(d.cast("date")).alias("month_end"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date")).alias("days_since_epoch"),
        F.year(d).cast("int").alias("y"),
        F.month(d).cast("int").alias("m"),
        F.dayofmonth(d).cast("int").alias("d"),
    )


@register(
    "x_string_functions",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           length(c_name) AS name_len,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
           replace(c_mktsegment, 'ING', '+') AS seg_replaced,
           substr(c_name, 1, 8) AS name_head,
           reverse(c_mktsegment) AS seg_rev,
           concat_ws('|', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_nation
    FROM customer WHERE c_custkey <= 500
    """,
    doc="String battery: case, length, zero-padded keys, replace, substring, "
    "reverse, delimiter concat — the column-machinery scalars (reference "
    "helper.py when-chains lean on these) pinned cross-engine.",
)
def x_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") <= 500)
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.length("c_name").alias("name_len"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.replace(F.col("c_mktsegment"), F.lit("ING"), F.lit("+")).alias("seg_replaced"),
        F.substring("c_name", 1, 8).alias("name_head"),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.concat_ws("|", "c_mktsegment", F.col("c_nationkey").cast("string")).alias("seg_nation"),
    )


# --------------------------------------------------------------------------
# TPC-H nation/market-share family (Q7/Q8/Q9/Q14 shapes): multi-way joins
# with CASE-conditional aggregates. No partsupp table exists in the driver
# testdata, so Q9's supply cost is modeled as a retail-price fraction — the
# planner shape (5/6-way join + conditional agg) is what these pin down.
# --------------------------------------------------------------------------


@register(
    "q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(round(sum(CAST(volume AS DECIMAL(30,8))), 2) AS DOUBLE) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
            OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
          AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1998-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 shape: 6-way join (two roles of the same nation dim) with a "
    "disjunctive nation-pair predicate and per-year conditional revenue. The "
    "nation dim joins broadcast; the OR pair filter is a post-join residual "
    "on two broadcast columns, so it never blocks the equi-join strategy.",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation"))
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"), F.lit("1998-12-31").cast("timestamp")
        )
    )
    joined = (
        _t(spark, sf_dir, "supplier")
        .join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(_t(spark, sf_dir, "orders"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(_t(spark, sf_dir, "customer"), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .where(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8"))
            | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3"))
        )
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        joined.select("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"), volume.alias("volume"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(rounded_sum("volume", 2).alias("revenue"))
    )


@register(
    "q8_market_share",
    oracle="""
    SELECT o_year,
           round(CAST(sum(CAST(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END
                                AS DECIMAL(30,8))) AS DOUBLE)
                 / CAST(sum(CAST(volume AS DECIMAL(30,8))) AS DOUBLE), 6) AS mkt_share
    FROM (
        SELECT year(o_orderdate) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               n2.n_name AS supp_nation
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region    ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    """,
    doc="TPC-H Q8 shape: 8-way join (nation twice, region gating the customer "
    "side) feeding a CASE-conditional market-share ratio per year. Numerator "
    "and denominator are exact decimal sums so the double quotient is "
    "engine-identical; dims broadcast, facts shuffle once on the join spine.",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey"))
    n2 = nation.select(F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation"))
    europe = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    joined = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_type") == "ECONOMY")
        .join(_t(spark, sf_dir, "lineitem"), F.col("p_partkey") == F.col("l_partkey"))
        .join(_t(spark, sf_dir, "supplier"), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(_t(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(_t(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(europe), F.col("c_rkey") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nkey"))
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    national = F.when(F.col("supp_nation") == "NATION_5", volume).otherwise(F.lit(0.0))
    return (
        joined.select(F.year("o_orderdate").alias("o_year"), volume.alias("volume"), national.alias("national"))
        .groupBy("o_year")
        .agg(F.round(exact_sum("national") / exact_sum("volume"), 6).alias("mkt_share"))
    )


@register(
    "q9_product_type_profit",
    oracle="""
    SELECT n_name AS nation, o_year,
           CAST(round(sum(CAST(amount AS DECIMAL(30,8))), 2) AS DOUBLE) AS sum_profit
    FROM (
        SELECT n_name, year(o_orderdate) AS o_year,
               l_extendedprice * (1 - l_discount) - p_retailprice * 0.1 * l_quantity AS amount
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY n_name, o_year
    """,
    doc="TPC-H Q9 shape: profit per supplier-nation per year over parts picked "
    "by an infix LIKE (not pushable as a prefix — evaluated in the scan "
    "stage post-decode). Supply cost is modeled as a retail-price fraction "
    "(the driver schema has no partsupp). Infix-LIKE dim filter shrinks the "
    "probe side before three fact joins; nation broadcasts.",
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.lit(0.1) * F.col("l_quantity")
    )
    joined = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_name").like("%red%"))
        .join(_t(spark, sf_dir, "lineitem"), F.col("p_partkey") == F.col("l_partkey"))
        .join(_t(spark, sf_dir, "supplier"), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(_t(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(_t(spark, sf_dir, "nation")), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.select(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"), amount.alias("amount"))
        .groupBy("nation", "o_year")
        .agg(rounded_sum("amount", 2).alias("sum_profit"))
    )


@register(
    "q14_promo_revenue",
    oracle="""
    SELECT round(100.0 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
                                            THEN l_extendedprice * (1 - l_discount)
                                            ELSE 0 END AS DECIMAL(30,8))) AS DOUBLE)
                 / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE),
                 4) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
    """,
    doc="TPC-H Q14 shape: single-row conditional-ratio aggregate (promo share "
    "of revenue) over a date-windowed fact join. The final agg collapses to "
    "one row but the partial aggregation runs map-side on every partition, "
    "so no single-reducer bottleneck exists before the 1-row exchange.",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    joined = li.join(_t(spark, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey"))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    return joined.select(disc.alias("disc"), promo.alias("promo")).agg(
        F.round(F.lit(100.0) * exact_sum("promo") / exact_sum("disc"), 4).alias("promo_revenue")
    )


# --------------------------------------------------------------------------
# TPC-H correlated / scalar-subquery family (Q2/Q10/Q11/Q17 shapes). Each
# correlated subquery is decorrelated the way Catalyst itself would: a
# grouped aggregate joined back on the correlation key (Q2/Q17), a 1-row
# scalar broadcast (Q11), a distributed top-k (Q10).
# --------------------------------------------------------------------------


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH eligible AS (
        SELECT p_partkey, p_name, s_name, n_name,
               l_extendedprice / l_quantity AS unit_cost
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE' AND p_size <= 15 AND p_type = 'STANDARD'
    )
    SELECT p_partkey, p_name, s_name, n_name, unit_cost
    FROM (SELECT *, min(unit_cost) OVER (PARTITION BY p_partkey) AS min_cost FROM eligible)
    WHERE unit_cost = min_cost
    """,
    doc="TPC-H Q2 shape: cheapest-supplier-per-part — a correlated scalar-min "
    "subquery decorrelated into groupBy(partkey).min + an equality join "
    "back on (partkey, cost). min over doubles is order-independent and "
    "the per-row division is IEEE-identical, so the float equality join is "
    "deterministic. Ties (two suppliers at the min) are kept on both sides.",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    eligible = (
        _t(spark, sf_dir, "part")
        .where((F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD"))
        .join(_t(spark, sf_dir, "lineitem"), F.col("p_partkey") == F.col("l_partkey"))
        .join(_t(spark, sf_dir, "supplier"), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(_t(spark, sf_dir, "nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(_t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            "p_partkey", "p_name", "s_name", "n_name",
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"),
        )
    )
    min_cost = eligible.groupBy(F.col("p_partkey").alias("mc_partkey")).agg(
        F.min("unit_cost").alias("min_cost")
    )
    return eligible.join(
        min_cost,
        (F.col("p_partkey") == F.col("mc_partkey")) & (F.col("unit_cost") == F.col("min_cost")),
    ).select("p_partkey", "p_name", "s_name", "n_name", "unit_cost")


@register(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name, c_acctbal,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 2) AS DOUBLE)
             AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY c_custkey, c_name, n_name, c_acctbal
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: lost-revenue ranking — 4-way join, grouped decimal "
    "revenue, then a deterministic global top-20 (ORDER BY revenue DESC "
    "with c_custkey as total-order tiebreak). Spark plans TakeOrderedAnd"
    "Project: each partition keeps its local top-20, only 20 rows per "
    "partition reach the driver — no global sort, no single-reducer stage.",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = (
        _t(spark, sf_dir, "customer")
        .join(
            _t(spark, sf_dir, "orders").where(
                (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(_t(spark, sf_dir, "nation")), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        joined.select("c_custkey", "c_name", "n_name", "c_acctbal", revenue.alias("revenue"))
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(rounded_sum("revenue", 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q11_important_parts",
    oracle="""
    WITH base AS (
        SELECT l_partkey, l_extendedprice
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_7'
    ),
    grouped AS (
        SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(30,8))) AS dec_value
        FROM base GROUP BY l_partkey
    )
    SELECT l_partkey, CAST(round(dec_value, 2) AS DOUBLE) AS part_value
    FROM grouped
    WHERE CAST(dec_value AS DOUBLE) >
          (SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) FROM base) * 0.001
    """,
    doc="TPC-H Q11 shape: per-part value filtered against a fraction of the "
    "global total — a scalar aggregate subquery broadcast into the HAVING. "
    "Both the per-group and global sums are exact decimals, so the double "
    "threshold comparison is engine-identical. The 1-row global aggregate "
    "joins as a broadcast; the base slice is computed once per branch and "
    "both branches push the nation filter below the fact join.",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import DECIMAL_SUM_TYPE

    base = (
        _t(spark, sf_dir, "lineitem")
        .join(_t(spark, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(_t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_7")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("l_partkey", "l_extendedprice")
    )
    grouped = base.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast(DECIMAL_SUM_TYPE)).alias("dec_value")
    )
    total = base.agg(exact_sum("l_extendedprice").alias("total_value"))
    return (
        grouped.join(F.broadcast(total))
        .where(F.col("dec_value").cast("double") > F.col("total_value") * F.lit(0.001))
        .select("l_partkey", F.round("dec_value", 2).cast("double").alias("part_value"))
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
    WITH part_avg AS (
        SELECT l_partkey,
               CAST(sum(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) / count(*) AS avg_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,8))) / 7, 2) AS DOUBLE) AS avg_yearly
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN part_avg ON part_avg.l_partkey = lineitem.l_partkey
    WHERE p_brand = 'Brand#11' AND l_quantity < 0.2 * avg_qty
    """,
    doc="TPC-H Q17 shape: small-quantity-order revenue — the classic "
    "correlated AVG subquery (l_quantity < 0.2 * per-part average) "
    "decorrelated into a grouped aggregate joined back on partkey. The "
    "average is exact-decimal-sum / count so the 0.2x threshold compares "
    "identically cross-engine; the brand filter prunes the probe side "
    "before the aggregate join.",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part_avg = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        (exact_sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty")
    )
    # no broadcast hint: the brand slice is ~1/25 of a SCALING table
    # — honest estimate, so the planner picks broadcast locally and
    # SMJ at 100 TB on its own (SCALE.md round 6)
    branded = li.join(
        _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#11"),
        F.col("p_partkey") == F.col("l_partkey"),
    )
    return (
        branded.join(part_avg, F.col("l_partkey") == F.col("pa_partkey"))
        .where(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(30,8)")) / 7, 2
            ).cast("double").alias("avg_yearly")
        )
    )


# --------------------------------------------------------------------------
# TPC-H existence / disjunction family (Q12/Q16/Q19/Q20/Q21 shapes): CASE
# pivot counts, count-distinct behind a NOT IN, OR-of-ANDs join residuals,
# nested IN with HAVING, and the double EXISTS / NOT EXISTS self-join.
# (No l_shipmode / receiptdate columns exist, so Q12/Q21 use priority and
# a shipdate-lag in their place; the planner shapes are unchanged.)
# --------------------------------------------------------------------------


@register(
    "q12_priority_shipping",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_linestatus
    """,
    doc="TPC-H Q12 shape: conditional CASE counts pivoting order priority "
    "into high/low columns per line status — integer-exact, no float "
    "determinism concerns. One fact-fact join with the date window pushed "
    "into the lineitem scan, then a two-column conditional aggregate.",
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    joined = _t(spark, sf_dir, "orders").join(li, F.col("o_orderkey") == F.col("l_orderkey"))
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return joined.groupBy("l_linestatus").agg(
        F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
    )


@register(
    "q16_supplier_diversity",
    oracle="""
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 shape: supplier diversity per part bucket — COUNT(DISTINCT) "
    "over a fact join, minus suppliers excluded by a NOT IN subquery (the "
    "reference's F8/J6 null-aware anti-join, reused here via "
    "not_in_anti_join). The distinct dedups inside the aggregate exchange; "
    "exclusions broadcast as the anti side.",
)
def q16_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    excluded = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
    li = not_in_anti_join(_t(spark, sf_dir, "lineitem"), excluded, "l_suppkey", "s_suppkey")
    return (
        # no broadcast hint: part SCALES with the corpus (unlike the
        # fixed 25-row nation) and its parquet estimate is honest, so
        # Catalyst broadcasts locally and correctly flips to SMJ at
        # 100 TB; an explicit hint would force the broadcast at any
        # size (r6 explicit-broadcast audit; SCALE.md round 6)
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@register(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 2) AS DOUBLE)
             AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape: OR-of-ANDs mixing build-side (brand/size) and "
    "probe-side (quantity) predicates. The equi key (partkey) still drives "
    "a hash join; the disjunction stays a post-join residual, while the "
    "per-side implied filters (any-branch brand/size, any-branch quantity) "
    "are pushable. Single-row decimal-exact revenue output.",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no broadcast hint on part: it scales with the corpus and its
    # estimate is honest — local plans still broadcast via the
    # threshold, 100 TB plans flip to SMJ (SCALE.md round 6)
    joined = _t(spark, sf_dir, "lineitem").join(
        _t(spark, sf_dir, "part"), F.col("p_partkey") == F.col("l_partkey")
    )
    branch = lambda brand, smax, qlo, qhi: (
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return (
        joined.where(branch("Brand#12", 5, 1, 11) | branch("Brand#23", 10, 10, 20) | branch("Brand#34", 15, 20, 30))
        .select((F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
        .agg(rounded_sum("rev", 2).alias("revenue"))
    )


@register(
    "q20_volume_suppliers",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE 'red%'
          AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey, l_partkey
        HAVING sum(CAST(l_quantity AS DECIMAL(30,8))) > 50
    )
    """,
    doc="TPC-H Q20 shape: suppliers who moved significant volume of one "
    "part family in one year — an IN subquery whose body is itself a "
    "grouped HAVING aggregate over a fact join. Planned as aggregate -> "
    "project -> left_semi join; the prefix LIKE pushes to the part scan "
    "as a range predicate. Quantity sum kept decimal for the threshold.",
)
def q20_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    red_parts = _t(spark, sf_dir, "part").where(F.col("p_name").like("red%"))
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    movers = (
        # no broadcast hint: red_parts is ~1/26 of a SCALING table
        # (SCALE.md round 6)
        li.join(red_parts, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(30,8)")).alias("qty"))
        .where(F.col("qty") > 50)
        .select("l_suppkey")
    )
    supp = _t(spark, sf_dir, "supplier")
    return supp.join(movers, supp.s_suppkey == movers.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
    WITH late AS (
        SELECT l_orderkey, l_suppkey
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    )
    SELECT s_name, count(*) AS numwait
    FROM late l1
    JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name
    """,
    doc="TPC-H Q21 shape: the sole-blame supplier — EXISTS (another supplier "
    "contributed to the order) plus NOT EXISTS (no OTHER supplier was also "
    "late), both correlated with a non-equi residual (suppkey <>). Planned "
    "as left_semi + left_anti joins on the orderkey with the inequality as "
    "residual condition; 'late' means shipped >60 days after the order "
    "date (the driver schema has no receipt/commit dates).",
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    late = (
        li.join(_t(spark, sf_dir, "orders"), F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    l1 = late.select(F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("s_key"))
    l2 = li.select(F.col("l_orderkey").alias("l2_okey"), F.col("l_suppkey").alias("l2_skey"))
    l3 = late.select(F.col("l_orderkey").alias("l3_okey"), F.col("l_suppkey").alias("l3_skey"))
    blamed = (
        l1.join(
            l2,
            (F.col("o_key") == F.col("l2_okey")) & (F.col("s_key") != F.col("l2_skey")),
            "left_semi",
        ).join(
            l3,
            (F.col("o_key") == F.col("l3_okey")) & (F.col("s_key") != F.col("l3_skey")),
            "left_anti",
        )
    )
    return (
        blamed.join(_t(spark, sf_dir, "supplier"), F.col("s_suppkey") == F.col("s_key"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "asof_pandas_cogroup",
    oracle="""
    WITH dedup AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
        FROM (
            SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                         ORDER BY o_orderkey DESC) AS rn
            FROM orders
        ) WHERE rn = 1
    ),
    ranked AS (
        SELECT e.event_id, e.user_id, e.ts, d.o_orderkey, d.o_totalprice,
               row_number() OVER (PARTITION BY e.event_id ORDER BY d.o_orderdate DESC) AS rn
        FROM events e
        LEFT JOIN dedup d ON e.user_id = d.o_custkey AND e.ts >= d.o_orderdate
    )
    SELECT event_id, user_id, ts, o_orderkey, o_totalprice FROM ranked WHERE rn = 1
    """,
    doc="The as-of join's second physical strategy: cogrouped applyInPandas "
    "+ pd.merge_asof per key group (operators.asof.asof_join_cogrouped). "
    "Attaches each event's latest at-or-before order; right side pre-deduped "
    "per (custkey, orderdate) so the winner is well-defined. Each side "
    "shuffles once on the key and the per-group merge is a linear scan — "
    "no join fan-out — at the cost of leaving the JVM for Arrow workers. "
    "The oracle is the join+window formulation: two strategies, one result.",
)
def asof_pandas_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_cogrouped

    events = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders_dedup = top_n_per_group(
        _t(spark, sf_dir, "orders"),
        ["o_custkey", "o_orderdate"],
        [F.desc("o_orderkey")],
    ).select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    return asof_join_cogrouped(
        events,
        orders_dedup,
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        payload=["o_orderkey", "o_totalprice"],
        schema="event_id bigint, user_id bigint, ts timestamp, o_orderkey bigint, o_totalprice double",
    )


@register(
    "versioned_zonemap_skipping_read",
    # correctness witness for zone-map data skipping: the skipping read
    # (manifest -> per-file min/max -> row filter) must be EXACTLY a
    # full scan + filter. The fixture is written repartitionByRange on
    # the filter column, so each file carries a narrow range and the
    # range_filter genuinely skips files (asserted by pytest; the
    # driver hash proves the skipped files contributed nothing).
    oracle="""
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,8))), 2) AS DOUBLE) AS sum_total
    FROM orders
    WHERE o_totalprice >= 50000.0 AND o_totalprice <= 150000.0
    GROUP BY o_orderstatus
    """,
    doc="Zone-map data skipping on the versioned table "
    "(sinks.versioned): per-FILE min/max statistics recorded at commit "
    "time; read_versioned_table(range_filter=...) prunes manifest "
    "entries, then files whose [min,max] cannot intersect the bound, "
    "then applies the row filter for exactness. Skipping is "
    "conservative by construction — this query hash-proves the "
    "three-level pruned read equals a plain filtered scan.",
)
def versioned_zonemap_skipping_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..operators.aggregates import rounded_sum
    from ..sinks.versioned import create_versioned_table, read_versioned_table

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    root = os.path.join(tempfile.gettempdir(), "spark_graft_versioned_zonemap")
    shutil.rmtree(root, ignore_errors=True)
    path = f"{root}/t"
    # range-cluster on the filter column so per-file zone maps are tight
    create_versioned_table(
        o.repartitionByRange(8, "o_totalprice"), path, ["o_orderstatus"]
    )
    got = read_versioned_table(
        spark, path, range_filter={"o_totalprice": (50000.0, 150000.0)}
    )
    return got.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        rounded_sum("o_totalprice", 2).alias("sum_total"),
    )


@register(
    "fuzzy_name_matching",
    # the oracle runs the QUADRATIC plan (cross join + levenshtein);
    # the Spark path must produce the identical pair set from the
    # linear deletion-neighborhood blocking — the classic
    # exact-oracle-vs-scale-path pairing (same as the dedup family)
    oracle="""
    SELECT a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
    FROM customer a JOIN customer b ON a.c_name < b.c_name
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
    doc="Fuzzy self-matching on customer names (operators/fuzzy.py): "
    "FastSS deletion-neighborhood blocking — candidates are pairs "
    "sharing any delete-one-char variant (a string equi-join, linear "
    "explode, never a cross join) — then a levenshtein verify. The "
    "blocking is PROVABLY complete at distance 1, so the result is "
    "bit-identical to the oracle's O(n^2) plan at any scale; the "
    "Spark plan's cost is the candidate count, which tracks real "
    "near-duplicates, not n^2.",
    tags=("bench",),
)
def fuzzy_name_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fuzzy import fuzzy_self_pairs

    # opt into the hot-variant cap (default-off since r5 advice); the
    # quadratic oracle proves it drops nothing on this corpus
    return fuzzy_self_pairs(
        _t(spark, sf_dir, "customer"), "c_name", max_distance=1, max_variant_freq=256
    ).select("name_a", "name_b", F.col("dist").cast("int").alias("dist"))


@register(
    "fuzzy_name_matching_k2",
    # the quadratic lev<=2 cross-join oracle vs the depth-2 recursive
    # deletion-neighborhood blocking — same exact-oracle-vs-scale-path
    # pairing as the k=1 query; 204k pairs at sf0.01 pin both recall
    # (blocking completeness) and precision (the verify)
    oracle="""
    SELECT a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
    FROM customer a JOIN customer b ON a.c_name < b.c_name
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    """,
    doc="Fuzzy self-matching at edit distance 2 (operators/fuzzy.py): "
    "SymSpell-style recursive deletion neighborhoods — candidates are "
    "pairs whose depth-2 delete-variant sets intersect (complete by the "
    "FastSS lemma: an optimal <=2-edit script leaves a common "
    "subsequence reachable from both strings with <=2 deletions), then "
    "a levenshtein verify. Variant count grows as L^2/2 per string "
    "(~172 for 18-char names — the documented cost of k=2 blocking, "
    "SCALE.md round 6), still linear in corpus size where the oracle's "
    "cross join is quadratic. No hot-variant cap here: at k=2 the "
    "synthetic name space's hottest bucket (294 at sf0.01) exceeds the "
    "k=1 cap, and the exact oracle would expose any dropped pair.",
    tags=("bench",),
)
def fuzzy_name_matching_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fuzzy import fuzzy_self_pairs

    return fuzzy_self_pairs(
        _t(spark, sf_dir, "customer"), "c_name", max_distance=2
    ).select("name_a", "name_b", F.col("dist").cast("int").alias("dist"))


@register(
    "entity_resolution_canonical",
    # full ER chain under one hash: quadratic-lev pairs (oracle) vs
    # deletion-neighborhood pairs (Spark) -> transitive closure
    # (recursive CTE vs min-label propagation) -> survivorship argmax
    oracle="""
    WITH RECURSIVE fpairs AS (
        SELECT a.c_name AS na, b.c_name AS nb
        FROM customer a JOIN customer b ON a.c_name < b.c_name
        WHERE levenshtein(a.c_name, b.c_name) <= 1
    ),
    edges AS (
        SELECT na AS src, nb AS dst FROM fpairs
        UNION
        SELECT nb, na FROM fpairs
    ),
    comp(node, label) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, c.label FROM comp c JOIN edges e ON c.node = e.src
    ),
    labels AS (SELECT node, min(label) AS cluster_id FROM comp GROUP BY node),
    clustered AS (
        SELECT c.c_custkey, c.c_name, c.c_acctbal,
               coalesce(l.cluster_id, c.c_name) AS cluster_id
        FROM customer c LEFT JOIN labels l ON c.c_name = l.node
    ),
    canon AS (
        SELECT cluster_id, c_custkey AS canonical_custkey FROM (
            SELECT cluster_id, c_custkey,
                   row_number() OVER (PARTITION BY cluster_id
                                      ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
            FROM clustered
        ) WHERE rn = 1
    )
    SELECT cl.c_custkey, cl.cluster_id, cn.canonical_custkey,
           cl.c_custkey = cn.canonical_custkey AS is_canonical
    FROM clustered cl JOIN canon cn USING (cluster_id)
    """,
    doc="Entity resolution end to end (operators/fuzzy.py + "
    "operators/graph.py): fuzzy name pairs from deletion-neighborhood "
    "blocking (provably equal to the oracle's O(n^2) levenshtein scan), "
    "transitive closure via min-label propagation (checkpoint per "
    "round), then SURVIVORSHIP — each cluster elects one canonical "
    "record (max acctbal, key tiebreak) and every row points at it. "
    "The synthetic name space is dense (single-digit edits chain), so "
    "the closure stresses the propagation depth, not just the pairing.",
    tags=("bench",),
)
def entity_resolution_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import top_n_per_group
    from ..operators.fuzzy import fuzzy_self_pairs
    from ..operators.graph import assign_cluster_ids

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    pairs = fuzzy_self_pairs(
        cust, "c_name", max_distance=1, max_variant_freq=256
    ).select("name_a", "name_b")
    clustered = assign_cluster_ids(
        cust, pairs, "c_name", "name_a", "name_b", pairs_distinct=True
    )
    canon = top_n_per_group(
        clustered.select("cluster_id", "c_custkey", "c_acctbal"),
        ["cluster_id"],
        [F.col("c_acctbal").desc(), F.col("c_custkey").asc()],
    ).select("cluster_id", F.col("c_custkey").alias("canonical_custkey"))
    return clustered.join(canon, "cluster_id").select(
        "c_custkey",
        "cluster_id",
        "canonical_custkey",
        (F.col("c_custkey") == F.col("canonical_custkey")).alias("is_canonical"),
    )


@register(
    "variant_semistructured_analytics",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
           CAST(min(CAST(json_extract(props, '$.k') AS INT)) AS INT) AS k_min,
           CAST(max(CAST(json_extract(props, '$.k') AS INT)) AS INT) AS k_max,
           CAST(count(CASE WHEN json_extract(props, '$.missing') IS NOT NULL
                           THEN 1 END) AS BIGINT) AS n_missing_field
    FROM events
    GROUP BY event_type
    """,
    doc="Semi-structured analytics through Spark 4's VARIANT type: "
    "parse_json lifts the props JSON column into the binary variant "
    "encoding ONCE (try_parse_json for poison safety), then "
    "variant_get('$.k', 'int') extracts typed fields with the path "
    "evaluated against the pre-parsed structure — at 100 TB this is "
    "the difference between one parse per row and one parse per "
    "get_json_object CALL (the legacy path queries elsewhere in the "
    "registry demonstrate). Absent paths return NULL (counted here to "
    "pin the semantics); the oracle replays via DuckDB's JSON "
    "extraction on the same column.",
    tags=("bench",),
)
def variant_semistructured_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    v = F.try_parse_json(F.col("props"))
    parsed = ev.select(
        "event_type",
        F.variant_get(v, "$.k", "int").alias("k"),
        F.variant_get(v, "$.missing", "string").alias("missing"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("long").alias("k_sum"),
        F.min("k").cast("int").alias("k_min"),
        F.max("k").cast("int").alias("k_max"),
        F.count("missing").alias("n_missing_field"),
    )


@register(
    "stats_rolling_range_window",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               sum(CAST(value AS DECIMAL(30,8))) AS v
        FROM events GROUP BY 1, 2
    )
    SELECT user_id, day,
           CAST(count(*) OVER w AS BIGINT) AS n_days,
           CAST(round(sum(v) OVER w, 2) AS DOUBLE) AS rolling_3d
    FROM daily
    WINDOW w AS (PARTITION BY user_id ORDER BY day
                 RANGE BETWEEN INTERVAL 2 DAYS PRECEDING AND CURRENT ROW)
    """,
    doc="Time-RANGE window frame (the feature rowsBetween cannot fake): "
    "per-user rolling 3-DAY totals where the frame is defined by VALUE "
    "distance on the time axis — gaps in the series shrink the frame "
    "instead of silently widening it the way a row-count frame would. "
    "Spark side: daily decimal pre-aggregation (map-side combined), "
    "then rangeBetween(-2, 0) over unix_date per user — partitioned by "
    "user, so no single-task window; decimal sums keep the frame "
    "content order-independent. DuckDB replays with RANGE BETWEEN "
    "INTERVAL 2 DAYS PRECEDING.",
)
def stats_rolling_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.sum(F.col("value").cast("decimal(30,8)")).alias("v"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_date(F.col("day")))
        .rangeBetween(-2, 0)
    )
    return daily.select(
        "user_id",
        "day",
        F.count(F.lit(1)).over(w).alias("n_days"),
        F.round(F.sum("v").over(w), 2).cast("double").alias("rolling_3d"),
    )
