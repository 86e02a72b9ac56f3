"""Physical-plan contracts: the optimizations we rely on at scale must
actually appear in the plan (SURVEY.md §4; catches silent regressions
like a filter that stops pushing down or a window that loses its
partial top-1)."""

from __future__ import annotations

import contextlib
import io

import pytest

from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads import REGISTRY


def plan_of(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def scan_node_count(plan: str) -> int:
    """Number of parquet scan NODES in a formatted plan. Counts the
    numbered detail headers (``(N) Scan parquet``), which appear exactly
    once per node — raw ``plan.count("Scan parquet")`` also matches the
    tree rendering and so depends on explain formatting (r5 advice)."""
    import re

    return len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.MULTILINE))


def test_scan_projection_pushes_filter_and_prunes_columns(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "s1_scan_project")
    assert "EqualTo(l_linenumber,1)" in plan  # filter reached the parquet scan
    assert "l_comment" not in plan  # untouched columns pruned from ReadSchema


def test_top1_window_has_partial_group_limit(spark, sf_dir):
    # WindowGroupLimit below the Exchange = per-mapper top-1 before the
    # shuffle; without it the full table shuffles (100-TB hazard)
    plan = plan_of(spark, sf_dir, "w1_latest_per_group")
    assert "WindowGroupLimit" in plan
    assert plan.index("WindowGroupLimit") < plan.rindex("Exchange")


def test_exact_median_contracts_to_value_counts_first(spark, sf_dir):
    # the exact median contracts rows to (value, count) BEFORE the rank
    # pass, so the expensive machinery sees distinct-cardinality rows,
    # not the corpus. The running-total checkpoint hides the upstream
    # stages from the final plan, so assert both halves separately.
    import pyspark.sql.functions as F

    # (a) final plan: no Window anywhere (the single-task trap), the
    # only cross join is the broadcast 1-row total, and the rank pass
    # feeds from the checkpointed contraction, not a parquet scan.
    plan = plan_of(spark, sf_dir, "stats_exact_median_distributed")
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin Cross BuildRight" in plan  # 1-row n broadcast
    # (b) the contraction half (rebuilt exactly as the query does):
    # partial HashAggregate between scan and exchange — map-side combine
    # means the shuffle carries at most D rows per mapper.
    counts = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .groupBy("n_chars")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    import contextlib as _ctx
    import io as _io

    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        counts.explain("formatted")
    cplan = buf.getvalue()
    scan_pos = cplan.index("Scan parquet")
    pre_scan = cplan[:scan_pos]  # tree prints root->leaf
    assert pre_scan.count("HashAggregate") >= 2, "partial+final pair expected"
    assert pre_scan.rindex("HashAggregate") > pre_scan.rindex("Exchange"), (
        "a HashAggregate must sit below the exchange (map-side combine)"
    )


def test_expression_key_dim_join_broadcasts(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "j7_broadcast_expr_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_group_by_aggregates_partially_before_shuffle(spark, sf_dir):
    # partial + final HashAggregate pair around one Exchange
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2
    first_agg = plan.index("HashAggregate")
    assert "Exchange" in plan[first_agg:]


@pytest.mark.parametrize("name", ["q3_shipping_priority", "j4_left_join_preagg"])
def test_dim_filters_push_below_joins(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "PushedFilters: [" in plan


@pytest.mark.parametrize("name", ["range_event_proximity", "range_order_overlap"])
def test_keyless_range_joins_avoid_nested_loop(spark, sf_dir, name):
    # the whole point of the bucketing rewrite: a keyless range join
    # must plan as a shuffle/broadcast HASH join on the bucket id, never
    # O(n*m) BroadcastNestedLoopJoin / CartesianProduct
    plan = plan_of(spark, sf_dir, name)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_aqe_coalesces_shuffle_partitions(spark, sf_dir):
    # the session factory turns AQE on; a small post-shuffle stage must
    # show AQEShuffleRead (coalesced) instead of 32 tiny reducers
    df = REGISTRY["f4_enum_equality"].fn(spark, sf_dir)
    df.collect()  # AQE re-plans at runtime; materialize first
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan and "coalesced" in plan


def test_package_is_rdd_free():
    """The DataFrame-first contract: no .rdd / parallelize / mapPartitions
    anywhere in the engine package — every operator stays inside Catalyst
    where pushdown, AQE, and whole-stage codegen apply. (mapInPandas /
    applyInPandas are the sanctioned Python escape hatches.)"""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "st_bigdata_consume_batch_ma_with_cr_ecd_spark"
    bad = []
    pat = re.compile(r"\.rdd\b|parallelize\(|\bmapPartitions\(")
    for f in pkg.rglob("*.py"):
        for i, line in enumerate(f.read_text().splitlines(), 1):
            if pat.search(line) and "noqa: rdd" not in line:
                bad.append(f"{f.name}:{i}: {line.strip()}")
    assert not bad, "RDD API leaked into the engine:\n" + "\n".join(bad)


def test_runtime_bloom_filter_engages_on_shuffle_joins(spark, sf_dir):
    """Runtime bloom-filter semi-join reduction is ON in our sessions; its
    10 GB application-side threshold keeps it out of toy runs, so lower
    the thresholds to prove the machinery engages: the fact scan gets a
    might_contain filter built from the dim side before the shuffle."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
            "o_orderpriority = '1-URGENT'"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom" in plan.lower() or "might_contain" in plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_join_strategy_hints_are_honored(spark, sf_dir):
    """§2.10 physical hints: the optimizer obeys explicit per-join
    strategy hints — the manual override for when stats mislead AQE
    (e.g. a filter the planner can't estimate shrinks a 'big' side)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    merge_plan = (
        li.join(orders.hint("merge"), li.l_orderkey == orders.o_orderkey)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" in merge_plan
    shuffle_hash_plan = (
        li.join(orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ShuffledHashJoin" in shuffle_hash_plan


def test_top_k_plans_as_take_ordered_not_global_sort(spark, sf_dir):
    # Q10's ORDER BY ... LIMIT 20 must plan as TakeOrderedAndProject
    # (per-partition local top-k, 20 rows per partition to the driver) —
    # a global Sort + single-partition Exchange would serialize the
    # whole grouped result through one reducer at 100 TB.
    plan = plan_of(spark, sf_dir, "q10_returned_items")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_exists_pair_plans_as_semi_plus_anti(spark, sf_dir):
    # Q21's EXISTS / NOT EXISTS pair must stay semi + anti joins (only
    # keys shuffle, no payload duplication from a full join + dedup).
    plan = plan_of(spark, sf_dir, "q21_waiting_suppliers")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_market_share_dims_all_broadcast(spark, sf_dir):
    # Q8's 8-way join: nation (twice), region, and the filtered part dim
    # must broadcast — any dim falling back to SortMergeJoin would add a
    # full fact shuffle per dim at scale.
    plan = plan_of(spark, sf_dir, "q8_market_share")
    assert plan.count("BroadcastHashJoin") >= 3


def test_disjunctive_join_keeps_hash_join_with_residual(spark, sf_dir):
    # Q19's OR-of-ANDs must not break the equi hash join: the partkey
    # equality drives a broadcast hash join and the disjunction stays a
    # residual/post-join filter, never a nested-loop join.
    plan = plan_of(spark, sf_dir, "q19_disjunctive_revenue")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_embedding_lsh_dedup_has_no_join_at_all(spark, sf_dir):
    # The scale-safe embedding near-dup path groups vectors by LSH bucket
    # id (one hash-partitionable aggregate) and emits candidate pairs from
    # each bucket — there is NO join in the plan at all, and in particular
    # never the O(n^2) `id_a < id_b` nested-loop/cartesian self-join that
    # is the 100-TB scale-killer this query exists to replace.
    plan = plan_of(spark, sf_dir, "dedup_embedding_lsh")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # pairs come from the grouped buckets
    assert "HashAggregate" in plan  # the bucket grouping


def test_minhash_signature_aggregate_is_hash_based(spark, sf_dir):
    # min(string) falls back to SortAggregate (variable-length buffer),
    # sorting the widest stage of the dedup; DECIMAL(20,0) minima must
    # keep every aggregate hash-based.
    plan = plan_of(spark, sf_dir, "dedup_minhash_lsh")
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan


def test_ngram_jaccard_shingle_pipeline_runs_once(spark, sf_dir):
    # r2's plan audit found the shingle-bucket aggregate (the most
    # expensive stage of the whole dedup) recomputed 3x: 22 Exchanges,
    # 0 ReusedExchange. ngram_jaccard_pairs now cuts lineage with an
    # eager localCheckpoint after the bucket aggregate (and after the
    # tiny per-doc sizes aggregate), so every consumer scans the stored
    # partitions. The final plan must be the cheap tail only: the pair
    # shuffle plus the sizes joins — never the shingle pipeline again.
    plan = plan_of(spark, sf_dir, "dedup_ngram_jaccard")
    # collect_list (ObjectHashAggregate) lives BEFORE the checkpoint cut
    assert "ObjectHashAggregate" not in plan
    # the shingle pipeline's fingerprints — a parquet scan and the
    # shingle explode — must be absent from the final plan entirely
    # (r6: the raw Exchange-count bound moved here when the sizes joins
    # took their merge pins, which add honest sort-merge exchanges)
    assert scan_node_count(plan) == 0, f"shingle subtree recomputed?\n{plan}"
    assert plan.count("Exchange") <= 12, f"unexpected extra shuffles\n{plan}"
    assert "Scan ExistingRDD" in plan  # checkpointed buckets/sizes


def test_km_minhash_signature_aggregate_is_hash_based(spark, sf_dir):
    # the Kirsch-Mitzenmacher composition must keep DECIMAL(20,0)
    # minima — same fixed-width contract as the md5-per-function
    # default, else the widest stage regresses to SortAggregate
    plan = plan_of(spark, sf_dir, "dedup_minhash_lsh_km")
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan


def test_semantic_dedup_single_cell_shuffle(spark, sf_dir):
    # SemDeDup's contract: ONE hash shuffle (the cell id) feeding ONE
    # applyInPandas; the centroid assignment must be Arrow-batched
    # projection, never a join against a centroid table
    plan = plan_of(spark, sf_dir, "dedup_semantic_clusters")
    assert "FlatMapGroupsInPandas" in plan
    assert "Join" not in plan
    # formatted explain lists each node twice (tree + details):
    # 2 physical exchanges = repartition + the cell-id hash partitioning
    assert plan.count("Exchange") <= 4


def test_reservoir_sample_has_partial_group_limit(spark, sf_dir):
    # k-per-group sampling must forward at most k candidates per
    # (group, mapper) before the shuffle — WindowGroupLimit below the
    # Exchange, the same contract as top-1 dedup
    plan = plan_of(spark, sf_dir, "sample_reservoir_per_group")
    assert "WindowGroupLimit" in plan
    assert plan.index("WindowGroupLimit") < plan.rindex("Exchange")


def test_expectation_suite_is_one_aggregate_pass(spark, sf_dir):
    # every expectation metric must ride ONE map-side-combined global
    # aggregate over one scan: a single Exchange (SinglePartition),
    # one scan of orders, no joins between per-metric passes
    plan = plan_of(spark, sf_dir, "dq_expectation_suite")
    # ONE physical scan; exactly TWO physical exchanges — the global
    # partial/final pair plus the one the exact countDistinct's
    # double-aggregation inserts. No joins, no per-metric passes.
    assert scan_node_count(plan) == 1
    assert "Join" not in plan
    assert plan.count("Exchange") == 4


def test_temperature_rebalance_broadcasts_counts_no_data_shuffle(spark, sf_dir):
    # the keep decision is a FILTER: per-language counts broadcast back;
    # the documents scan itself must never hash-shuffle
    plan = plan_of(spark, sf_dir, "sample_temperature_rebalance")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bm25_query_join_broadcasts_and_topk_is_group_limited(spark, sf_dir):
    # the query table must broadcast onto the tf rows (scoring cost
    # tracks posting-list length), and the per-query top-k must run as
    # a partial WindowGroupLimit before its Exchange
    # (the tf-to-doclen join on doc_id legitimately sort-merge-joins:
    # both sides are corpus-sized aggregates at scale — only the QUERY
    # table join must broadcast)
    plan = plan_of(spark, sf_dir, "retrieval_bm25_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    assert plan.index("WindowGroupLimit") < plan.rindex("Exchange")


def test_prefix_filter_candidates_generated_not_self_joined(spark, sf_dir):
    # pair generation must come from grouped prefix buckets (no
    # shingle-on-shingle self-join); the only joins in the plan are the
    # candidate-verification equi joins. A cartesian/nested-loop pair
    # path must never appear.
    plan = plan_of(spark, sf_dir, "dedup_jaccard_prefix_filter")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_aqe_splits_skewed_join_partitions(spark):
    # the runtime half of the skew story (operators/skew.py is the
    # manual half): AQE must detect an oversized join partition and
    # split it — SortMergeJoin(skew=true) + an AQEShuffleRead marked
    # skewed in the FINAL adaptive plan. Thresholds are lowered so the
    # toy volume crosses them; production crosses the defaults.
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in overrides.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 400_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(7))
            .otherwise((F.col("id") % 1000) + 100)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(0, 3000).select(
            (F.col("id") % 1500).alias("k"), (F.col("id") * 2).alias("r")
        )
        j = (
            left.join(right, "k")
            .select((F.col("payload") + F.col("r")).alias("v"))
            .agg(F.sum("v"))
        )
        j.collect()  # the final adaptive plan only exists after execution
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
        assert "skewed" in plan  # the AQEShuffleRead marker
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_triangle_count_never_nested_loops_the_closure(spark, sf_dir):
    # wedge closure and degree joins must stay hash joins; the only
    # nested-loop nodes allowed are the 1-row stat crossJoins at the top
    plan = plan_of(spark, sf_dir, "graph_triangle_count")
    assert "CartesianProduct" not in plan
    # the 1-row BroadcastNestedLoopJoin stat assembly is benign; the
    # closure join itself must be a hash join
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_recsys_topk_is_group_limited_before_exchange(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "recsys_item_cooccurrence_topk")
    assert "WindowGroupLimit" in plan
    assert plan.index("WindowGroupLimit") < plan.rindex("Exchange")
    assert "CartesianProduct" not in plan


def test_scd2_windows_share_one_business_key_shuffle(spark, sf_dir):
    # lag-collapse and lead-interval windows both partition by custkey:
    # the plan must carry exactly ONE Exchange (formatted explain lists
    # each physical node twice)
    plan = plan_of(spark, sf_dir, "scd2_dimension_build")
    assert plan.count("Exchange") == 2


def test_component_round_joins_never_broadcast_data_sized_sides(spark):
    # r5 finding: Catalyst severely underestimates the output size of
    # explode-of-transform pair plans (grouped-bucket generators), and
    # checkpointed descendants inherit the estimate — so without an
    # explicit merge hint the closure's per-round join would BROADCAST
    # the data-sized edge list (OOM at scale). Pin the round join of
    # connected_components to sort-merge when fed an explode-generated
    # pair frame whose estimate claims tiny.
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2}") for i in range(50)], "doc_id long, body string"
    )
    # grouped-bucket pair generation (the underestimated plan shape)
    buckets = docs.select(
        F.col("doc_id").alias("doc"), F.explode(F.split("body", " ")).alias("k")
    )
    grouped = buckets.groupBy("k").agg(F.sort_array(F.collect_set("doc")).alias("__d"))
    pairs = (
        grouped.where(F.size("__d") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(__d, (x, i) -> transform("
                    "slice(__d, i + 2, size(__d)), y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .distinct()
    )
    # replicate one closure round the way connected_components builds it
    e = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")).localCheckpoint(
        eager=True
    )
    sym = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    labels = (
        sym.select(F.col("src").alias("node")).distinct().withColumn("label", F.col("node"))
    )
    round_join = sym.hint("merge").join(labels.withColumnRenamed("node", "dst"), on="dst")
    plan = round_join._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    # (the live hazard itself — an unhinted round join broadcasting a
    # 262k-pair edge list off a 75 KB estimate — only reproduces at
    # sf0.1 data volumes; the measurement is recorded in SCALE.md r5.)


def test_duplicate_spans_window_is_per_document_and_gram_agg_partial(spark, sf_dir):
    # the gaps-and-islands window must partition by document (bounded by
    # doc length, never corpus-wide) and the gram-frequency aggregate
    # must carry a map-side partial before its exchange
    import re

    plan = plan_of(spark, sf_dir, "dedup_duplicate_spans")
    assert "CartesianProduct" not in plan
    assert re.search(r"windowspecdefinition\(doc_id#\d+L, __pos#\d+L? ASC", plan)
    assert "partial_count(distinct doc_id" in plan


def test_duplicate_spans_dup_gram_broadcast_is_runtime_demotable(spark, sf_dir):
    # Catalyst statically underestimates the duplicated-gram aggregate
    # and plans BuildRight broadcast; the contract (docstring) is that
    # NO checkpoint hides the agg's shuffle stats, so AQE re-plans the
    # join with the TRUE size at runtime. Prove it: force the runtime
    # threshold to -1 and the executed plan must abandon the static
    # BuildRight broadcast of the dup set.
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads import REGISTRY

    static = plan_of(spark, sf_dir, "dedup_duplicate_spans")
    # the premise is Catalyst ESTIMATOR behavior, not our contract — if a
    # Spark upgrade stops static-planning the broadcast, the hazard this
    # test guards is gone and the demotion proof is vacuous (r5 advice:
    # skip, don't fail, on estimator drift)
    if "BroadcastHashJoin Inner BuildRight" not in static:
        pytest.skip("Catalyst no longer static-plans BuildRight here; hazard absent")
    old = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        df = REGISTRY["dedup_duplicate_spans"].fn(spark, sf_dir)
        df.collect()
        final = (
            df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
        )
        assert "BuildRight" not in final
    finally:
        if old is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old)


def test_dsir_scores_in_two_corpus_scans_with_broadcast_model(spark, sf_dir):
    # the bucket model (64 rows) is checkpointed so the corpus totals
    # derive from it: the scoring plan holds exactly ONE corpus scan —
    # the only other corpus pass happened once, at bucket-build/
    # checkpoint time — the bucket join-back broadcasts, and the 1-row
    # totals cross is a broadcast
    plan = plan_of(spark, sf_dir, "sample_importance_dsir")
    assert scan_node_count(plan) == 1
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin Cross BuildRight" in plan
    assert "CartesianProduct" not in plan


def test_winnowing_is_one_scan_one_doc_window_no_join(spark, sf_dir):
    # winnowing must stay embarrassingly parallel: ONE corpus scan, a
    # per-document window, and no join of any kind
    import re

    plan = plan_of(spark, sf_dir, "text_winnowing_fingerprints")
    assert scan_node_count(plan) == 1
    assert "Join" not in plan
    assert re.search(r"windowspecdefinition\(doc_id#\d+L, __pos#\d+", plan)


def test_heavy_hitters_verify_pass_broadcasts_candidates(spark, sf_dir):
    # pass 2 re-counts ONLY the model-sized candidate set: the join
    # against the stream must be a broadcast hash join (never a shuffle
    # of the full stream against <= capacity rows), and the only
    # nested-loop is the 1-row total cross
    plan = plan_of(spark, sf_dir, "sketch_heavy_hitters_mg")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin Cross BuildRight" in plan


def test_triangle_count_joins_are_merge_pinned(spark, sf_dir):
    # all four triangle-count joins build on node- or edge-sized sides;
    # Catalyst underestimates the checkpointed explode-generated edge
    # list (the r5 mis-broadcast class), so the operator pins SMJ —
    # an unpinned plan broadcasts the edge list and dies at 100 TB
    for name in ("graph_triangle_count", "graph_triangle_count_approx"):
        plan = plan_of(spark, sf_dir, name)
        # the only broadcasts left are the 1-row stat crosses
        assert "BroadcastHashJoin" not in plan, name
        assert plan.count("SortMergeJoin") >= 4, name


def _load_explain_audit():
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "tools" / "explain_audit.py"
    spec = importlib.util.spec_from_file_location("explain_audit", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_checkpoint_broadcast_detector_separates_demotable_builds(spark):
    # tools/explain_audit.py's advisory detector for the mis-broadcast
    # class (SCALE.md round 6): a broadcast build whose subtree is a
    # BARE checkpoint scan must flag (AQE never observes the scan's
    # true size, so a bogus inherited estimate is non-demotable), while
    # a build with a shuffle stage between checkpoint and broadcast
    # must NOT (AQE measures the stage and can demote at runtime — the
    # duplicate-spans precedent)
    from pyspark.sql import functions as F

    mod = _load_explain_audit()

    def fmt(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    big = spark.range(1000).withColumn("k", F.col("id") % 7)
    ckpt = spark.range(100).withColumn("k", F.col("id") % 7).localCheckpoint(
        eager=True
    )

    hazard = big.join(ckpt.hint("broadcast"), "k")
    assert mod.checkpoint_broadcast_flags(fmt(hazard)), (
        "bare checkpoint-scan broadcast build must flag"
    )

    contracted = ckpt.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    demotable = big.join(contracted.hint("broadcast"), "k")
    assert mod.checkpoint_broadcast_flags(fmt(demotable)) == []

    pinned = big.join(ckpt.hint("merge"), "k")
    assert mod.checkpoint_broadcast_flags(fmt(pinned)) == []


def test_pair_verify_joins_are_merge_pinned(spark, sf_dir):
    # the shingle/size/signature checkpoints joined back in each dedup
    # verify stage are CORPUS- or doc-sized, and a bare checkpoint scan
    # has no shuffle stage AQE could measure — so a broadcast chosen
    # off the inherited explode underestimate is never demoted at
    # runtime (and a measurable build doesn't save it either: see
    # test_aqe_broadcast_demotion_is_cost_gated). The merge pins keep
    # every such join sort-merge; the detector must find zero bare
    # checkpoint-scan broadcast builds.
    mod = _load_explain_audit()
    for name in (
        "dedup_jaccard_prefix_filter",
        "dedup_ngram_containment",
        "dedup_ngram_jaccard",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert mod.checkpoint_broadcast_flags(plan) == [], name
        assert "SortMergeJoin" in plan, name
    # dedup_minhash_verified no longer HAS a verify join to pin: the
    # r13 carry path ships the signatures through pair generation and
    # scores agreement in the explode's stage — the hazard is removed,
    # not merely pinned. Assert the join-free shape stays join-free.
    plan = plan_of(spark, sf_dir, "dedup_minhash_verified")
    assert mod.checkpoint_broadcast_flags(plan) == []
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_aqe_broadcast_demotion_is_cost_gated(spark):
    # the round-6 negative result behind the merge pins: AQE
    # re-optimization runs SimpleCostEvaluator (shuffle count) against
    # the old plan, so a statically-planned broadcast whose SMJ
    # alternative would ADD an exchange is KEPT even when the runtime
    # threshold forbids broadcasts entirely — "measurable" is not
    # "demotable". Build the shape: probe side partitioned by (k, j),
    # build side behind a measurable repartition on k; an SMJ on k
    # would re-shuffle the probe side, so demotion costs one exchange.
    from pyspark.sql import functions as F

    probe = (
        spark.range(2000)
        .select((F.col("id") % 50).alias("k"), (F.col("id") % 7).alias("j"))
        .groupBy("k", "j")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    build = (
        spark.range(100)
        .select((F.col("id") % 50).alias("k"), F.col("id").alias("v"))
        .localCheckpoint(eager=True)
        .repartition("k")
    )
    joined = probe.join(build, "k")
    static = io.StringIO()
    with contextlib.redirect_stdout(static):
        joined.explain("formatted")
    if "BroadcastHashJoin" not in static.getvalue():
        pytest.skip("Catalyst no longer static-plans the broadcast; premise absent")
    old = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        joined.collect()
        final = (
            joined._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("== Initial Plan ==")[0]
        )
        # the broadcast SURVIVES the -1 threshold: demotion was
        # cost-rejected. If a Spark upgrade starts demoting here, the
        # pins become a perf choice rather than a safety requirement —
        # revisit SCALE.md round 6 if this assertion ever flips.
        assert "BroadcastHashJoin" in final
    finally:
        if old is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old)


def test_hazard_sweep_clean_on_previously_flagged(spark, sf_dir):
    # the r6 two-pass hazard sweep (tools/explain_audit.py
    # --hazard-sweep) found estimate-driven checkpoint broadcasts in
    # these queries (freq/vocabulary join, star label assembly, caller
    # left-join, triangle stat crosses); all are now pinned or made
    # explicit. Re-run the sweep logic on each and assert zero
    # estimate-driven broadcasts remain.
    mod = _load_explain_audit()
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads import REGISTRY

    def strict_flags(name, threshold):
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        if threshold is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        return mod.checkpoint_broadcast_flags(buf.getvalue(), strict=True)

    for name in (
        "dedup_jaccard_prefix_filter",
        "dedup_cluster_components_star",
        "graph_triangle_count",
        "graph_triangle_count_approx",
    ):
        extra = len(strict_flags(name, None)) - len(strict_flags(name, "-1"))
        assert extra <= 0, f"{name}: {extra} estimate-driven checkpoint broadcast(s)"


def test_html_extraction_is_single_shuffle_no_joins(spark, sf_dir):
    # the extractor is per-row regex/array work + ONE doc-keyed shuffle:
    # the block-numbering window partitions by doc_id and the final
    # per-doc aggregate groups by doc_id, so they must SHARE that
    # partitioning (one physical Exchange), and nothing may join
    plan = plan_of(spark, sf_dir, "text_html_main_content")
    assert "Join" not in plan
    # formatted explain renders each node in tree + details: 1 physical
    # Exchange node = 2 occurrences
    assert plan.count("Exchange") <= 2, f"window/agg stopped sharing the doc shuffle\n{plan}"


def test_web_corpus_prep_dedup_has_group_limit_and_no_unsafe_joins(spark, sf_dir):
    # the mirror dedup is filter(row_number = 1): it must plan with the
    # partial WindowGroupLimit below the canon_url shuffle (the W1
    # contract), and the doc-sized joins must never degrade to
    # cartesian/BNLJ. The joins MAY broadcast here: both sides are
    # scan-derived honest estimates (no checkpoint lineage), the class
    # Catalyst stops broadcasting on its own at real scale.
    plan = plan_of(spark, sf_dir, "pipeline_web_corpus_prep")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_audio_energy_windows_shuffles_ids_only(spark, sf_dir):
    # synth -> encode -> decode -> window features is two chained
    # mapInPandas passes over the same rows. The ONLY exchange allowed
    # is the id-only fan-out below both passes (r13:
    # operators/partitioning.ensure_min_partitions — the single-row-
    # group test tables otherwise serialize the whole Python chain on
    # one core): round-robin over doc_id rows, planned before any
    # payload byte exists. A hash exchange, or a second exchange,
    # would mean the per-clip pipeline started shuffling payload bytes.
    plan = plan_of(spark, sf_dir, "multimodal_wav_energy_windows")
    assert "MapInPandas" in plan
    # formatted explain renders the one physical node twice
    assert plan.count("Exchange") == 2
    assert "RoundRobinPartitioning" in plan


