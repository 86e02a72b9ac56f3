"""Operator-level semantics tests on tiny in-memory frames — the edge
cases (null handling, ties, empty sides) the sf-scale oracle harness
can't isolate."""

from __future__ import annotations

from collections import Counter

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.aggregates import (
    exact_sum,
    rounded_sum,
)
from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.asof import (
    asof_backfill,
    asof_join,
)
from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.dedup import top_n_per_group
from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.joins import (
    join_preaggregated,
    not_in_anti_join,
)
from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.setops import union_slices

from .conftest import rows_set


# ---------------------------------------------------------------- windows


def test_top_n_per_group_top1(spark):
    df = spark.createDataFrame(
        [("a", 1, "x"), ("a", 3, "y"), ("a", 2, "z"), ("b", 9, "w")], "k string, v int, tag string"
    )
    out = top_n_per_group(df, ["k"], [F.col("v").desc()])
    assert rows_set(out) == {("a", 3, "y"), ("b", 9, "w")}


def test_top_n_per_group_n2_and_keep_rank(spark):
    df = spark.createDataFrame([("a", i) for i in range(5)], "k string, v int")
    out = top_n_per_group(df, ["k"], [F.col("v").desc()], n=2, keep_rank=True)
    assert rows_set(out) == {("a", 4, 1), ("a", 3, 2)}
    assert "__rank" in out.columns


def test_top_n_per_group_needs_total_order_for_determinism(spark):
    # with a total order the same input always yields the same winner
    df = spark.createDataFrame([("a", 1, 10), ("a", 1, 20)], "k string, v int, u int")
    out = top_n_per_group(df, ["k"], [F.col("v").desc(), F.col("u").desc()])
    assert rows_set(out) == {("a", 1, 20)}


# ---------------------------------------------------------------- as-of join


@pytest.fixture(scope="module")
def quotes(spark):
    return spark.createDataFrame(
        [
            ("X", 1, 100.0),
            ("X", 5, 105.0),
            ("X", 9, 109.0),
            ("Y", 4, 40.0),
        ],
        "sym string, t int, px double",
    )


def test_asof_backward(spark, quotes):
    trades = spark.createDataFrame([("X", 6), ("X", 1), ("Y", 3), ("Z", 7)], "sym string, t int")
    out = asof_join(trades, quotes, on=["sym"], left_ts="t", right_ts="t", how="left")
    got = {(r.sym, r.t, r.px) for r in out.collect()}
    assert got == {
        ("X", 6, 105.0),  # latest quote at-or-before t=6
        ("X", 1, 100.0),  # exact-match allowed when strict=False
        ("Y", 3, None),  # Y's only quote is later
        ("Z", 7, None),  # no such key
    }


def test_asof_backward_strict_excludes_equal_ts(spark, quotes):
    trades = spark.createDataFrame([("X", 5)], "sym string, t int")
    out = asof_join(trades, quotes, on=["sym"], left_ts="t", right_ts="t", strict=True, how="left")
    assert [r.px for r in out.collect()] == [100.0]


def test_asof_forward(spark, quotes):
    trades = spark.createDataFrame([("X", 6)], "sym string, t int")
    out = asof_join(
        trades, quotes, on=["sym"], left_ts="t", right_ts="t", direction="forward", how="left"
    )
    assert [r.px for r in out.collect()] == [109.0]


def test_asof_bad_direction_raises(spark, quotes):
    with pytest.raises(ValueError):
        asof_join(quotes, quotes, on=["sym"], left_ts="t", right_ts="t", direction="sideways")


def test_asof_duplicate_left_rows_need_left_id(spark, quotes):
    # two distinct trades at the same (sym, t) must each survive
    trades = spark.createDataFrame(
        [(1, "X", 6), (2, "X", 6)], "trade_id int, sym string, t int"
    )
    out = asof_join(
        trades, quotes, on=["sym"], left_ts="t", right_ts="t", how="left", left_id="trade_id"
    )
    assert {(r.trade_id, r.px) for r in out.collect()} == {(1, 105.0), (2, 105.0)}


def test_asof_backfill_fills_and_preserves_nulls(spark):
    broken = spark.createDataFrame(
        [(10, "u1", 5), (11, "u2", 5)], "event_id int, user_id string, ts int"
    )
    donors = spark.createDataFrame(
        [("u1", 1, 1.5), ("u1", 4, 4.5), ("u1", 9, 9.5)], "user_id string, ts int, value double"
    )
    out = asof_backfill(broken, donors, on=["user_id"], ts="ts", fill_cols=["value"], broken_id="event_id")
    got = {(r.event_id, r.value) for r in out.collect()}
    assert got == {(10, 4.5), (11, None)}
    assert set(out.columns) == {"event_id", "user_id", "ts", "value"}


# ---------------------------------------------------------------- joins


def test_join_preaggregated_fills_defaults(spark):
    fact = spark.createDataFrame([("a",), ("b",)], "k string")
    detail = spark.createDataFrame([("a", 1), ("a", 2)], "k string, v int")
    out = join_preaggregated(
        fact, detail, keys=["k"], aggs={"n": F.count(F.lit(1)), "s": F.sum("v")}, fill={"n": 0, "s": 0}
    )
    assert rows_set(out) == {("a", 2, 3), ("b", 0, 0)}


def test_not_in_basic(spark):
    left = spark.createDataFrame([(1,), (2,), (3,)], "k int")
    right = spark.createDataFrame([(2,)], "k int")
    out = not_in_anti_join(left, right, "k")
    assert rows_set(out) == {(1,), (3,)}


def test_not_in_null_in_subquery_empties_result(spark):
    # SQL three-valued logic: `x NOT IN (2, NULL)` is never TRUE
    left = spark.createDataFrame([(1,), (3,)], "k int")
    right = spark.createDataFrame([(2,), (None,)], "k int")
    assert not_in_anti_join(left, right, "k").count() == 0


def test_not_in_null_left_key_never_matches(spark):
    left = spark.createDataFrame([(1,), (None,)], "k int")
    right = spark.createDataFrame([(2,)], "k int")
    assert rows_set(not_in_anti_join(left, right, "k")) == {(1,)}


def test_not_in_empty_subquery_keeps_everything(spark):
    left = spark.createDataFrame([(1,), (2,)], "k int")
    right = spark.createDataFrame([], "k int")
    assert rows_set(not_in_anti_join(left, right, "k")) == {(1,), (2,)}


def test_not_in_empty_subquery_keeps_null_left_keys(spark):
    # `NULL NOT IN (<empty>)` is TRUE: the NULL left row stays
    left = spark.createDataFrame([(1,), (None,)], "k int")
    right = spark.createDataFrame([], "k int")
    want = duckdb.sql(
        "SELECT k FROM (VALUES (1), (NULL)) l(k) "
        "WHERE k NOT IN (SELECT k FROM (VALUES (1)) r(k) WHERE false)"
    ).fetchall()
    assert set(want) == {(1,), (None,)}
    assert rows_set(not_in_anti_join(left, right, "k")) == set(want)


def test_not_in_by_group_matches_correlated_duckdb(spark):
    # exactly one group, ('b', 1), has a NULL key on the right: it alone
    # is emptied. ('c', 1) and the NULL groups have no right rows, so
    # they keep every row, NULL x included (`x NOT IN ()` is true).
    left_rows = [
        (g, h, x)
        for g, h in [("a", 1), ("a", 2), ("b", 1), ("c", 1), (None, 1)]
        for x in (1, 2, None)
    ]
    right_rows = [("a", 1, 2), ("a", 2, 1), ("a", 2, 3), ("b", 1, 2), ("b", 1, None), (None, 1, 1)]
    left = spark.createDataFrame(left_rows, "g string, h int, x int")
    right = spark.createDataFrame(right_rows, "g string, h int, k int")

    out = not_in_anti_join(left, right, "x", "k", by=["g", "h"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    con = duckdb.connect()
    con.register("l", pd.DataFrame(left_rows, columns=["g", "h", "x"], dtype="object"))
    con.register("r", pd.DataFrame(right_rows, columns=["g", "h", "k"], dtype="object"))
    want = con.execute(
        "SELECT g, CAST(h AS INT), CAST(x AS INT) FROM l "
        "WHERE x NOT IN (SELECT k FROM r WHERE r.g = l.g AND r.h = l.h)"
    ).fetchall()
    assert out.columns == ["g", "h", "x"]
    got = Counter(map(tuple, out.collect()))
    assert got == Counter(map(tuple, want))
    assert ("c", 1, None) in got and not any(g == "b" for g, _, _ in got)


# ---------------------------------------------------------------- set ops


def test_union_slices_all_is_by_name(spark):
    a = spark.createDataFrame([(1, "x")], "id int, tag string")
    b = spark.createDataFrame([("y", 2)], "tag string, id int")  # reordered columns
    out = union_slices([a, b], "ALL")
    assert rows_set(out) == {(1, "x"), (2, "y")}


def test_union_slices_distinct(spark):
    a = spark.createDataFrame([(1,), (2,)], "id int")
    b = spark.createDataFrame([(2,), (3,)], "id int")
    assert rows_set(union_slices([a, b], "DISTINCT")) == {(1,), (2,), (3,)}


def test_union_slices_bad_how(spark):
    a = spark.createDataFrame([(1,)], "id int")
    with pytest.raises(ValueError):
        union_slices([a, a], "SOMETIMES")


# ---------------------------------------------------------------- aggregates


def test_exact_sum_matches_decimal_arithmetic(spark):
    df = spark.createDataFrame([(0.1,), (0.2,), (0.3,)], "v double")
    got = df.agg(exact_sum("v").alias("s")).collect()[0].s
    assert got == 0.6  # decimal path: no 0.6000000000000001


def test_rounded_sum_rounds_in_decimal(spark):
    # 0.005 + 0.01 = 0.015 -> HALF_UP in decimal = 0.02 (double rounding
    # of the binary value would give 0.01)
    df = spark.createDataFrame([(0.005,), (0.01,)], "v double")
    got = df.agg(rounded_sum("v", 2).alias("s")).collect()[0].s
    assert got == 0.02


# ---------------------------------------------------------------- skew


def test_salted_join_equals_plain_join(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.skew import salted_join

    big = spark.createDataFrame([(k, i) for k in ("hot", "cold") for i in range(50)], "k string, i int")
    small = spark.createDataFrame([("hot", 1), ("cold", 2), ("unused", 3)], "k string, tag int")
    plain = big.join(small, ["k"], "inner")
    salted = salted_join(big, small, ["k"], buckets=4)
    assert rows_set(salted) == rows_set(plain)


def test_salted_join_left_preserves_unmatched(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.skew import salted_join

    big = spark.createDataFrame([("a", 1), ("orphan", 2)], "k string, i int")
    small = spark.createDataFrame([("a", 10)], "k string, tag int")
    out = salted_join(big, small, ["k"], buckets=3, how="left")
    assert rows_set(out) == {("a", 1, 10), ("orphan", 2, None)}


def test_salted_join_rejects_right_how(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.skew import salted_join

    df = spark.createDataFrame([("a", 1)], "k string, i int")
    with pytest.raises(ValueError):
        salted_join(df, df, ["k"], how="right")


def test_salted_aggregate_equals_direct_groupby(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.skew import salted_aggregate

    df = spark.createDataFrame([("g", i, i * 1.0) for i in range(100)], "k string, i int, v double")
    out = salted_aggregate(
        df,
        ["k"],
        {"n": (F.lit(1), "count"), "s": (F.col("i"), "sum"), "mx": (F.col("v"), "max"), "mn": (F.col("v"), "min")},
        buckets=5,
    )
    assert rows_set(out) == {("g", 100, 4950, 99.0, 0.0)}


def test_salted_aggregate_rejects_nonreassociable(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.skew import salted_aggregate

    df = spark.createDataFrame([("g", 1)], "k string, v int")
    with pytest.raises(ValueError):
        salted_aggregate(df, ["k"], {"a": (F.col("v"), "avg")})


# ------------------------------------------------------- partitioning


def test_ensure_min_partitions_spreads_small_input(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.partitioning import (
        ensure_min_partitions,
    )

    df = spark.range(100).coalesce(1)
    out = ensure_min_partitions(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert out.count() == 100


def test_ensure_min_partitions_noop_when_wide_enough(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.partitioning import (
        ensure_min_partitions,
    )

    wide = spark.range(100).repartition(spark.sparkContext.defaultParallelism + 3)
    assert ensure_min_partitions(wide) is wide
    assert ensure_min_partitions(wide, n=2) is wide


# ---------------------------------------------------------------- rangejoin


def test_point_in_interval_join_matches_naive(spark):
    import datetime as dt

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.rangejoin import (
        point_in_interval_join,
    )

    points = spark.createDataFrame([(i, float(i)) for i in range(50)], "pid int, x double")
    # intervals of varying width, some spanning many buckets, some empty
    intervals = spark.createDataFrame(
        [(1, 3.0, 7.0), (2, 6.5, 6.6), (3, -5.0, 70.0), (4, 80.0, 90.0)],
        "iid int, lo double, hi double",
    )
    got = point_in_interval_join(
        points, intervals, "x", "lo", "hi", bucket_width=4.0
    ).select("pid", "iid")
    naive = points.join(
        intervals, (points.x >= intervals.lo) & (points.x < intervals.hi)
    ).select("pid", "iid")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, naive.collect()))

    with pytest.raises(ValueError):
        point_in_interval_join(points, intervals, "x", "lo", "hi", bucket_width=0)
    with pytest.raises(TypeError):
        point_in_interval_join(
            points, intervals, "x", "lo", "hi", bucket_width=dt.timedelta(seconds=1)
        )


def test_interval_overlap_join_emits_each_pair_once(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    left = spark.createDataFrame(
        [(1, 0.0, 100.0), (2, 10.0, 12.0), (3, 200.0, 201.0)], "lid int, s double, e double"
    )
    right = spark.createDataFrame(
        [(10, 5.0, 95.0), (11, 11.0, 11.5), (12, 150.0, 250.0)], "rid int, s double, e double"
    )
    got = interval_overlap_join(
        left, right, "s", "e", "s", "e", bucket_width=7.0, right_prefix="r_"
    ).select("lid", "r_rid")
    rows = sorted(map(tuple, got.collect()))
    # wide-overlap pairs (1,10)/(1,11) span many shared buckets but must
    # appear exactly once each
    assert rows == [(1, 10), (1, 11), (2, 10), (2, 11), (3, 12)]


# ---------------------------------------------------------------- merge


def test_merge_upsert_update_insert_delete(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.merge import merge_upsert

    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id int, name string, v double"
    )
    changes = spark.createDataFrame(
        [
            (2, "B", None, False),      # update (with a legit NULL value — must win)
            (3, None, None, True),      # delete
            (4, "d", 40.0, False),      # insert
            (99, None, None, True),     # delete of absent key -> no-op
        ],
        "id int, name string, v double, is_delete boolean",
    )
    got = merge_upsert(snap, changes, ["id"], delete_col="is_delete")
    rows = {r.id: (r.name, r.v) for r in got.collect()}
    assert rows == {1: ("a", 10.0), 2: ("B", None), 4: ("d", 40.0)}


def test_merge_upsert_without_delete_col(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.merge import merge_upsert

    snap = spark.createDataFrame([(1, 1.0)], "id int, v double")
    changes = spark.createDataFrame([(1, 9.0), (2, 2.0)], "id int, v double")
    got = {r.id: r.v for r in merge_upsert(snap, changes, ["id"]).collect()}
    assert got == {1: 9.0, 2: 2.0}
    with pytest.raises(ValueError):
        merge_upsert(snap, changes, [])


def test_snapshot_diff_classifies_and_drops_unchanged(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.merge import snapshot_diff

    before = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, "d", 40.0)],
        "id int, name string, v double",
    )
    after = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (4, None, 40.0), (5, "e", 50.0)],
        "id int, name string, v double",
    )
    got = {r.id: r for r in snapshot_diff(before, after, ["id"]).collect()}
    # 1 unchanged -> absent; 2 NULL->20.0 update (null-safe compare);
    # 3 deleted; 4 name d->NULL update; 5 inserted
    assert set(got) == {2, 3, 4, 5}
    assert got[2].change_type == "update" and got[2].v_before is None and got[2].v_after == 20.0
    assert got[3].change_type == "delete" and got[3].v_after is None
    assert got[4].change_type == "update" and got[4].name_after is None
    assert got[5].change_type == "insert" and got[5].name_before is None
    with pytest.raises(ValueError):
        snapshot_diff(before, after, [])


def test_snapshot_diff_compare_cols_subset(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.merge import snapshot_diff

    before = spark.createDataFrame([(1, "a", 1.0)], "id int, name string, v double")
    after = spark.createDataFrame([(1, "a", 9.0)], "id int, name string, v double")
    # v excluded from the compare -> the key counts as unchanged
    assert snapshot_diff(before, after, ["id"], compare_cols=["name"]).count() == 0
    # roundtrip property: applying the diff's after-values onto before
    # (merge semantics) reproduces after
    full = snapshot_diff(before, after, ["id"])
    assert full.count() == 1


# ---------------------------------------------------------------- graph


def test_connected_components_basic_shapes(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.graph import (
        connected_components,
    )

    # chain 1-2-3-4 (diameter > 1), pair {10,11}, self-loop 20
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (20, 20)], "src int, dst int"
    )
    got = {r.node: r.label for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_assign_cluster_ids_covers_singletons(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.graph import (
        assign_cluster_ids,
    )

    items = spark.createDataFrame([(i,) for i in [1, 2, 3, 7]], "doc_id int")
    pairs = spark.createDataFrame([(1, 3)], "a int, b int")
    got = {r.doc_id: r.cluster_id for r in assign_cluster_ids(items, pairs, "doc_id", "a", "b").collect()}
    assert got == {1: 1, 2: 2, 3: 1, 7: 7}


# ---------------------------------------------------------------- row ids


def test_assign_contiguous_ids_dense_and_ordered(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.rowids import (
        assign_contiguous_ids,
    )

    df = spark.createDataFrame([(x,) for x in [30, 10, 20, 40, 5]], "k int")
    out = assign_contiguous_ids(df, ["k"], num_partitions=3).collect()
    by_k = {r.k: r.row_id for r in out}
    assert by_k == {5: 0, 10: 1, 20: 2, 30: 3, 40: 4}
    with pytest.raises(ValueError):
        assign_contiguous_ids(df, [])


def test_contiguous_ids_plan_has_no_single_partition_window(spark, sf_dir):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads import REGISTRY

    df = REGISTRY["corpus_contiguous_ids"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # no global row_number() fallback


# ---------------------------------------------------------------- empty inputs


def test_operators_tolerate_empty_inputs(spark):
    """Every composite operator must behave on 0-row frames — at 100 TB
    an empty slice/partition/day is routine, not exceptional."""
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.graph import (
        connected_components,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.merge import merge_upsert
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.rangejoin import (
        point_in_interval_join,
    )

    empty_edges = spark.createDataFrame([], "src int, dst int")
    assert connected_components(empty_edges).count() == 0

    snap = spark.createDataFrame([(1, 2.0)], "id int, v double")
    no_changes = spark.createDataFrame([], "id int, v double")
    assert {r.id: r.v for r in merge_upsert(snap, no_changes, ["id"]).collect()} == {1: 2.0}
    empty_snap = spark.createDataFrame([], "id int, v double")
    assert {r.id for r in merge_upsert(empty_snap, snap, ["id"]).collect()} == {1}

    pts = spark.createDataFrame([], "x double")
    iv = spark.createDataFrame([(1, 0.0, 5.0)], "iid int, lo double, hi double")
    assert point_in_interval_join(pts, iv, "x", "lo", "hi", bucket_width=2.0).count() == 0
    assert (
        point_in_interval_join(
            spark.createDataFrame([(3.0,)], "x double"),
            spark.createDataFrame([], "iid int, lo double, hi double"),
            "x", "lo", "hi", bucket_width=2.0,
        ).count()
        == 0
    )


def test_running_total_matches_window_semantics(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.rowids import running_total

    df = spark.createDataFrame(
        [(3, 10), (1, 5), (4, 7), (2, 0), (5, 3)], "k int, v long"
    )
    out = {r.k: r.cum_sum for r in running_total(df, ["k"], "v", num_partitions=3).collect()}
    # inclusive running total in k order: 5, 5, 15, 22, 25
    assert out == {1: 5, 2: 5, 3: 15, 4: 22, 5: 25}
    with pytest.raises(ValueError):
        running_total(df, [], "v")


def test_duplicate_chunk_removal_drops_shared_chunks(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.dedup import (
        duplicate_chunk_removal,
    )

    shared = "a b c d e"  # one aligned 5-token chunk, present in both docs
    df = spark.createDataFrame(
        [
            (1, shared + " unique one text here xx"),
            (2, shared + " other words entirely different yy"),
            (3, "totally fresh content nothing shared"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in duplicate_chunk_removal(df, chunk_tokens=5).collect()}
    assert out[1].n_chunks_removed == 1 and out[1].clean_text == "unique one text here xx"
    assert out[2].n_chunks_removed == 1
    assert out[3].n_chunks_removed == 0
    assert out[3].clean_text == "totally fresh content nothing shared"


def test_running_total_survives_int32_overflow(spark):
    # IntegerType value columns arrive in pandas as int32; a partition
    # summing past 2^31-1 must not wrap (the 100-TB regression this
    # operator exists to avoid).
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.rowids import running_total

    big = 2**30
    df = spark.createDataFrame([(i, big) for i in range(4)], "k int, v int")
    out = {r.k: r.cum_sum for r in running_total(df, ["k"], "v", num_partitions=1).collect()}
    assert out == {0: big, 1: 2 * big, 2: 3 * big, 3: 4 * big}


# ------------------------------------------------------- partial-agg algebra


def test_partial_agg_merge_equals_full_recompute(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.aggregates import (
        finalize_agg,
        merge_partial_aggs,
        partial_agg,
    )

    df = spark.createDataFrame(
        [("a", 1.5), ("a", 2.5), ("a", -1.0), ("b", 10.0), ("b", 0.25)],
        "k string, v double",
    )
    # merge of any slicing must equal the full recompute — associativity
    s1 = partial_agg(df.where(F.col("v") > 1), ["k"], "v")
    s2 = partial_agg(df.where(F.col("v") <= 1), ["k"], "v")
    merged = finalize_agg(merge_partial_aggs([s1, s2], ["k"]))
    full = finalize_agg(partial_agg(df, ["k"], "v"))
    assert rows_set(merged) == rows_set(full)
    got = {r.k: (r.n_rows, r.total, r.lo, r.hi, r.mean) for r in merged.collect()}
    assert got["a"] == (3, 3.0, -1.0, 2.5, 1.0)
    assert got["b"] == (2, 10.25, 0.25, 10.0, 5.13)  # HALF_UP at scale 2
    with pytest.raises(ValueError):
        merge_partial_aggs([], ["k"])


def test_expectation_suite_single_pass_bands(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.functions.quality import (
        expectation_suite,
    )

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 15.0)], "id int, v double"
    )
    out = {
        r.expectation: (r.value, r.passed)
        for r in expectation_suite(
            df,
            {
                "rows": (F.count(F.lit(1)), 1, 100),
                "null_rate": (F.avg(F.col("v").isNull().cast("double")), 0, 0.1),
                "max_v": (F.max("v"), 0, 10),
            },
        ).collect()
    }
    assert out["rows"] == (3.0, True)
    assert out["null_rate"] == (round(1 / 3, 6), False)  # 0.333 > 0.1 band
    assert out["max_v"] == (15.0, False)
    # NULL metric (empty input) fails CLOSED, like with_violations
    empty = spark.createDataFrame([], "id int, v double")
    nulled = {
        r.expectation: (r.value, r.passed)
        for r in expectation_suite(empty, {"max_v": (F.max("v"), 0, 10)}).collect()
    }
    assert nulled["max_v"] == (None, False)
    with pytest.raises(ValueError):
        expectation_suite(df, {})


def test_exact_sum_survives_large_magnitudes(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.aggregates import exact_sum

    # decimal(38,8) casts values up to 1e30 exactly; the old (30,8)
    # overflowed to NULL at 1e22 and silently DROPPED the value under
    # ANSI-off — the worst possible failure for a function named exact
    df = spark.createDataFrame([(1e25,), (5.0,)], "v double")
    got = df.agg(exact_sum("v").alias("s")).collect()[0].s
    assert got == 1e25 + 5.0


def test_running_total_treats_nulls_as_zero(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.rowids import running_total

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 5)], "ts int, qty int"
    )
    got = {r.ts: r.cum_sum for r in running_total(df, ["ts"], "qty").collect()}
    # NULL contributes 0, matching F.sum's null-skipping
    assert got == {1: 10, 2: 10, 3: 15}


def test_range_join_rejects_sentinel_intervals(spark):
    import pytest as _pytest

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.rangejoin import (
        point_in_interval_join,
    )

    points = spark.createDataFrame([(5,)], "p long")
    # one open-ended sentinel interval would explode into ~1e9 buckets
    intervals = spark.createDataFrame([(0, 1_000_000_000)], "s long, e long")
    with _pytest.raises(Exception, match="spans more than"):
        point_in_interval_join(
            points, intervals, "p", "s", "e", bucket_width=1
        ).collect()


def test_asof_cogrouped_keeps_null_ts_left_rows(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.asof import (
        asof_join_cogrouped,
    )

    left = spark.createDataFrame(
        [("X", 6), ("X", None)], "sym string, t int"
    )
    right = spark.createDataFrame(
        [("X", 5, 105.0), ("X", None, -1.0)], "sym string, t int, px double"
    )
    out = asof_join_cogrouped(
        left, right, left_key="sym", right_key="sym",
        left_ts="t", right_ts="t", payload=["px"],
        schema="sym string, t int, px double",
    )
    got = {(r.sym, r.t): r.px for r in out.collect()}
    # null-ts left row kept with null payload (JVM asof_join parity);
    # null-ts right row ignored as a donor
    assert got == {("X", 6): 105.0, ("X", None): None}


def test_fuzzy_self_pairs_equals_quadratic_reference(spark):
    # blocking completeness at distance 1: substitution, deletion,
    # insertion, and identical-after-dedup cases all survive; the
    # distance-2 pair never appears
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.fuzzy import (
        fuzzy_self_pairs,
    )

    names = ["kitten", "mitten", "kitte", "kittens", "sitting", "axel", "axle"]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {(r.name_a, r.name_b, r.dist) for r in
           fuzzy_self_pairs(df, "name").collect()}

    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[-1]

    want = {(a, b, lev(a, b)) for a, b in itertools.combinations(sorted(names), 2)
            if lev(a, b) <= 1}
    assert got == want
    assert ("axel", "axle", 2) not in got  # transposition = 2 edits, excluded


def test_fuzzy_self_pairs_hot_variant_cap_prunes_before_pairs(spark):
    # r4 review finding #3: a variant shared by B strings must not emit
    # B(B-1)/2 candidates once B exceeds the cap. Craft a hot variant:
    # every length-1 string shares the empty-string deletion variant,
    # so "a".."h" form one 8-string bucket. With the cap below 8 the
    # bucket is dropped wholesale (those pairs ALSO collide nowhere
    # else); an unrelated cold pair must still survive.
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.fuzzy import (
        fuzzy_self_pairs,
    )

    hot = [chr(ord("a") + i) for i in range(8)]  # all pairwise dist 1
    cold = ["kitten", "mitten"]
    df = spark.createDataFrame([(n,) for n in hot + cold], "name string")

    capped = {(r.name_a, r.name_b) for r in
              fuzzy_self_pairs(df, "name", max_variant_freq=4).collect()}
    assert capped == {("kitten", "mitten")}, "hot bucket must be pruned, cold kept"

    # cap disabled -> the full quadratic truth comes back
    uncapped = {(r.name_a, r.name_b) for r in
                fuzzy_self_pairs(df, "name", max_variant_freq=None).collect()}
    import itertools

    assert uncapped == {("kitten", "mitten")} | set(
        itertools.combinations(sorted(hot), 2)
    )


def test_fuzzy_self_pairs_plan_has_no_self_join(spark):
    # pairs come from grouped variant buckets (one shuffle), never a
    # variant self-join that would run the explode twice and meet a
    # hot key with a join — same plan contract as the LSH generators
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.fuzzy import (
        fuzzy_self_pairs,
    )

    df = spark.createDataFrame([("kitten",), ("mitten",)], "name string")
    plan = fuzzy_self_pairs(df, "name")._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_default_variant_cap_lossless_on_testdata(spark, sf_dir):
    # the registered fuzzy queries keep exact quadratic oracles, which
    # is only sound while no customer-name variant bucket approaches
    # the default cap — pin the actual hottest bucket with headroom
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.fuzzy import (
        deletion_variants,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sources.readers import (
        read_testdata,
    )
    from pyspark.sql import functions as F

    cust = read_testdata(spark, sf_dir, "customer")
    hottest = (
        cust.select(F.col("c_name").alias("s")).where(F.col("s").isNotNull()).distinct()
        .select(F.explode(deletion_variants(F.col("s"))).alias("v"), "s")
        .groupBy("v").agg(F.countDistinct("s").alias("n"))
        .agg(F.max("n").alias("m")).collect()[0].m
    )
    assert hottest <= 64, (
        f"hottest variant bucket {hottest} is within 4x of the default cap "
        "(256) — the quadratic oracles for fuzzy_name_matching / "
        "entity_resolution_canonical are no longer provably lossless"
    )


def test_fuzzy_join_two_tables(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.fuzzy import fuzzy_join

    left = spark.createDataFrame([(1, "spark"), (2, "flink")], "id long, name string")
    right = spark.createDataFrame(
        [(10, "sparc"), (11, "spark"), (12, "blink"), (13, "presto")],
        "rid long, name string",
    )
    got = {(r.id, r.rid, r.dist) for r in
           fuzzy_join(left, right, "name", "name").collect()}
    assert got == {(1, 10, 1), (1, 11, 0), (2, 12, 1)}


def test_fuzzy_join_keeps_duplicate_input_rows(spark):
    # r4 review: full-row distinct used to merge identical input rows;
    # dedup must key on row identity so each duplicate emits its pairs
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.fuzzy import fuzzy_join

    left = spark.createDataFrame([(1, "spark"), (1, "spark")], "id long, name string")
    right = spark.createDataFrame([(10, "sparc")], "rid long, name string")
    got = fuzzy_join(left, right, "name", "name").collect()
    assert len(got) == 2  # one pair per duplicate left row


def test_oriented_triangle_count_known_graph(spark):
    # K4 (4 triangles) plus a pendant edge: 5 nodes, 7 edges; the
    # pendant contributes no triangle and the degree orientation must
    # not double- or under-count any of K4's four
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.graph import (
        oriented_triangle_count,
    )

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(k4 + [(4, 5)], "u int, v int")
    [row] = oriented_triangle_count(edges).collect()
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (5, 7, 4)


def test_deletion_neighborhood_depth2_exact_set(spark):
    # D_<=2("abcd") must be exactly {every string from deleting <= 2
    # chars}: itself, 4 delete-1, and the 6 distinct delete-2 results
    from pyspark.sql import functions as F

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators.fuzzy import (
        deletion_neighborhood,
    )

    df = spark.createDataFrame([("abcd",)], "s string")
    [row] = df.select(deletion_neighborhood(F.col("s"), 2).alias("v")).collect()
    import itertools

    want = {"abcd"}
    for k in (1, 2):
        for idxs in itertools.combinations(range(4), k):
            want.add("".join(ch for i, ch in enumerate("abcd") if i not in idxs))
    assert set(row.v) == want
