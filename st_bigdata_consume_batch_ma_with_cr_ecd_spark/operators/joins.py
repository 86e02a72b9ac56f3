"""Join operators (SURVEY.md §2.5, J2-J7).

Plain equi joins (J2/J3) need no wrapper — call ``df.join``. What the
reference does beyond that, generalized:

- ``join_preaggregated``  (J4): left-join a group-by summary onto a fact,
  with COALESCE defaults for unmatched keys
  (reference ``2-basedata_df_query.sql:27-63``).
- ``not_in_anti_join``    (J6/F8): faithful NOT IN subquery semantics —
  null-aware, unlike a bare ``left_anti``
  (reference ``3-basedata_df_final_query.sql:36-39``; SURVEY.md §4).
- ``broadcast_lookup_join`` (J7): broadcast left join on an expression
  key (the geo-prefix joins, reference ``script/main.py:136-150``).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def summarize_for_join(
    detail: DataFrame, keys: Sequence[str], aggs: Mapping[str, Column]
) -> DataFrame:
    """The group-by half of :func:`join_preaggregated`, exposed so a
    caller joining the SAME summary onto several facts (the 4-slice
    consume-batch loop) can build it once and share/materialize it
    instead of re-aggregating the detail table per fact (§2.4)."""
    return detail.groupBy(*keys).agg(*[c.alias(n) for n, c in aggs.items()])


def join_summary(
    fact: DataFrame,
    summary: DataFrame,
    keys: Sequence[str],
    *,
    fill: Mapping[str, object] | None = None,
) -> DataFrame:
    """The join half of :func:`join_preaggregated`: left-join an
    already-aggregated summary and apply the COALESCE defaults."""
    out = fact.join(summary, list(keys), "left")
    for name, default in (fill or {}).items():
        out = out.withColumn(name, F.coalesce(F.col(name), F.lit(default)))
    return out


def join_preaggregated(
    fact: DataFrame,
    detail: DataFrame,
    keys: Sequence[str],
    aggs: Mapping[str, Column],
    *,
    fill: Mapping[str, object] | None = None,
) -> DataFrame:
    """J4: ``fact LEFT JOIN (SELECT keys, aggs FROM detail GROUP BY keys)``.

    The group-by runs *before* the join (partial aggregation map-side),
    so the shuffled volume is one row per key, not per detail row —
    the right shape at 100 TB. ``fill`` maps agg column -> default for
    unmatched fact rows (the reference's ``COALESCE(x, 0)``).
    """
    return join_summary(fact, summarize_for_join(detail, keys, aggs), keys, fill=fill)


def not_in_anti_join(
    left: DataFrame,
    right_keys: DataFrame,
    left_key: str,
    right_key: str | None = None,
    *,
    by: Sequence[str] = (),
) -> DataFrame:
    """J6: SQL ``left_key NOT IN (SELECT right_key FROM ...)``, faithfully.

    NOT IN is null-aware: if the subquery produces ANY null key the
    whole result is empty, and left rows with a null key never match.
    Catalyst gets this right when expressed as a NOT IN subquery — so we
    express it exactly that way via the DataFrame API equivalent:
    a ``left_anti`` join guarded by the two null checks.

    ``by`` correlates the subquery on columns both sides carry:
    ``left_key NOT IN (SELECT right_key FROM r WHERE r.g = l.g)``. A
    NULL key then empties only its own group, and a group with no right
    rows keeps all its left rows, NULL keys included (``x NOT IN ()`` is
    true). Every join is an equi-join on the group columns, so several
    independent NOT INs run as one plan without a nested-loop join.
    """
    rk = right_key or left_key
    if by:
        return _grouped_not_in(left, right_keys, left_key, rk, list(by))
    keys = right_keys.select(F.col(rk).alias("__nik"))
    has_null_key = keys.where(F.col("__nik").isNull()).limit(1)
    # left_anti with null-safe guard: drop left-null keys (3-valued logic
    # makes `x NOT IN (...)` never true when x IS NULL) ...
    filtered = left.where(F.col(left_key).isNotNull()).join(
        keys, F.col(left_key) == F.col("__nik"), "left_anti"
    )
    # ... and return nothing at all if the subquery contains a null.
    # cross-join on the "is empty" marker keeps it fully distributed
    # (no driver-side .count() materialization of the big side).
    marker = has_null_key.select(F.lit(1).alias("__has_null")).limit(1)
    return (
        filtered.join(F.broadcast(marker), F.lit(True), "left")
        .where(F.col("__has_null").isNull())
        .drop("__has_null")
    )


def _grouped_not_in(
    left: DataFrame, right_keys: DataFrame, left_key: str, right_key: str, by: list[str]
) -> DataFrame:
    groups = [f"__nig{i}" for i in range(len(by))]
    keys = right_keys.select(
        *(F.col(g).alias(a) for g, a in zip(by, groups)), F.col(right_key).alias("__nik")
    )
    same_group = [F.col(g) == F.col(a) for g, a in zip(by, groups)]
    # one row per group that has right rows: whether any of its keys is
    # NULL. Broadcast, because group columns are often low-cardinality
    # and a shuffle on them would put a whole group in one task.
    flags = keys.groupBy(*groups).agg(F.max(F.col("__nik").isNull()).alias("__has_null"))
    unmatched = left.join(keys, [*same_group, F.col(left_key) == F.col("__nik")], "left_anti")
    return (
        unmatched.join(F.broadcast(flags), same_group, "left")
        .where(
            F.col("__has_null").isNull()
            | (~F.col("__has_null") & F.col(left_key).isNotNull())
        )
        .drop("__has_null", *groups)
    )


def broadcast_lookup_join(
    fact: DataFrame,
    dim: DataFrame,
    key_expr: Column,
    dim_key: str,
    *,
    how: str = "left",
    dim_cols: Sequence[str] | None = None,
) -> DataFrame:
    """J7: broadcast left join of a small dimension on a computed key.

    The reference joins ``substring(geoid, 1, 5|8)`` against 16- and
    458-row CSV dims with an explicit broadcast hint — expression join
    keys defeat the auto-broadcast heuristics on some stats paths, so we
    keep the hint explicit.
    """
    d = dim.select(*(dim_cols or dim.columns))
    return fact.join(F.broadcast(d), key_expr == d[dim_key], how).drop(d[dim_key])
