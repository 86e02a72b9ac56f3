"""Parallelism guards for compute-heavy operators.

A Spark scan's task count comes from the *file layout* (one task per
split), not from the cost of what runs on top of it. For cheap
projections that's right; for operators that do heavy per-row work
(shingling, per-shingle md5 fan-out, SimHash) a small file count
serializes the whole stage — locally, a single-file 5 000-doc table ran
the entire MinHash compute on 1 of 32 cores.

``ensure_min_partitions`` is the fix: round-robin repartition *only
when* the current partition count is below the session's default
parallelism. At production scale (100 TB => tens of thousands of
splits) the guard is a no-op — the condition is checked plan-side
without running a job — so the extra shuffle is paid exactly when it's
cheapest (input small enough to have few splits) and skipped when it
would hurt. ``pinned_group_repartition`` pins the width of a grouping
exchange that feeds a row-multiplying explode; both size themselves
from ``session_width``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def pinned_group_repartition(df: DataFrame, *key_cols: str) -> DataFrame:
    """Hash-repartition on the grouping keys with an EXPLICIT partition
    count, for a ``groupBy(*key_cols)`` whose output feeds a row-
    multiplying stage (pair-explode generators).

    Why: AQE sizes post-shuffle partitions by the bytes of the GROUPED
    rows, which for pair generators is tiny next to the exploded output
    (a B-doc bucket emits B(B-1)/2 pairs) — so it coalesces the
    exchange to one or two partitions and the quadratic explode runs
    serially (measured: the recsys basket explode on 2 of 32 cores,
    10.7 -> 2.0 s once pinned). An explicit ``repartition(n, keys)`` is
    never coalesced by AQE, and the following ``groupBy`` on the same
    keys REUSES the exchange (hash partitioning on the grouping keys
    satisfies the aggregate's distribution), so this adds NO extra
    shuffle — it only pins the width of the one the aggregate pays
    anyway.

    ``n`` = max(defaultParallelism, spark.sql.shuffle.partitions): the
    session's scale knob, so production clusters keep their configured
    width and local mode keeps core-count parallelism. The trade: tiny
    inputs lose AQE's task-count reduction on this one exchange —
    pennies next to a serialized quadratic explode.
    """
    return df.repartition(session_width(df), *key_cols)


def session_width(df: DataFrame) -> int:
    """The session's scale knob: max(defaultParallelism,
    spark.sql.shuffle.partitions) — production clusters keep their
    configured width, local mode keeps core count. Never a constant."""
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    try:
        n = max(n, int(spark.conf.get("spark.sql.shuffle.partitions")))
    except (TypeError, ValueError):
        pass
    return n


def ensure_min_partitions(df: DataFrame, n: int | None = None) -> DataFrame:
    """Repartition ``df`` round-robin to ``n`` partitions iff it
    currently has fewer; no-op (and no job) otherwise.

    ``n`` defaults to the session's ``sparkContext.defaultParallelism``
    (= total cores in local mode).
    """
    if n is None:
        n = df.sparkSession.sparkContext.defaultParallelism
    # metadata probe only, no compute — the one sanctioned low-level touch
    if df.rdd.getNumPartitions() >= n:  # noqa: rdd
        return df
    return df.repartition(n)
