"""Join operators (SURVEY.md §2.5, J2-J7).

Plain equi joins (J2/J3) need no wrapper — call ``df.join``. What the
reference does beyond that, generalized:

- ``join_preaggregated``  (J4): left-join a group-by summary onto a fact,
  with COALESCE defaults for unmatched keys
  (reference ``2-basedata_df_query.sql:27-63``).
- ``not_in_anti_join``    (J6/F8): faithful NOT IN subquery semantics —
  null-aware, unlike a bare ``left_anti`` — optionally correlated on
  group columns (reference ``3-basedata_df_final_query.sql:36-39``;
  SURVEY.md §4).
- ``broadcast_lookup_join`` (J7): broadcast left join on an expression
  key (the geo-prefix joins, reference ``script/main.py:136-150``).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


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
    summary = detail.groupBy(*keys).agg(*[c.alias(n) for n, c in aggs.items()])
    out = fact.join(summary, list(keys), "left")
    for name, default in (fill or {}).items():
        out = out.withColumn(name, F.coalesce(F.col(name), F.lit(default)))
    return out


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
    whole result is empty, and a left row with a null key is dropped
    unless the subquery is empty (``NULL NOT IN ()`` is true). Expressed
    as a ``left_anti`` join guarded by one flag per subquery: whether
    it has rows and whether any of its keys is NULL.

    ``by`` correlates the subquery on columns both sides carry:
    ``left_key NOT IN (SELECT right_key FROM r WHERE r.g = l.g)``. A
    NULL key then empties only its own group, and a group with no right
    rows keeps all its left rows. Every join is then an equi-join on the
    group columns, so several independent NOT INs run as one plan
    without a nested-loop join.
    """
    groups = [f"__nig{i}" for i in range(len(by))]
    keys = right_keys.select(
        *(F.col(g).alias(a) for g, a in zip(by, groups)),
        F.col(right_key or left_key).alias("__nik"),
    )
    same_group = [F.col(g) == F.col(a) for g, a in zip(by, groups)]
    # one row per group that has right rows: whether any of its keys is
    # NULL (without ``by``, one global row whose flag is NULL when the
    # subquery is empty). Broadcast, because group columns are often
    # low-cardinality and a shuffle on them would put a whole group in
    # one task.
    flags = keys.groupBy(*groups).agg(F.max(F.col("__nik").isNull()).alias("__has_null"))
    unmatched = left.join(keys, [*same_group, F.col(left_key) == F.col("__nik")], "left_anti")
    return (
        unmatched.join(F.broadcast(flags), same_group or F.lit(True), "left")
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
