"""Data-quality gating: declarative row rules -> violation labels ->
quarantine split (beyond reference; the reference pipeline silently
trusts its inputs, which a 100-TB nightly job cannot).

Rules are plain Column predicates (JVM-side, pushdown-friendly); a row's
violations are the names of the rules it fails. The split is two
filters over one cached/shared scan — no UDFs, no shuffle.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

VIOLATIONS_COL = "__violations"


def with_violations(df: DataFrame, rules: Mapping[str, Column]) -> DataFrame:
    """Append an array column naming every rule the row FAILS (empty
    array = clean). NULL rule results count as failures — an
    unevaluable rule must quarantine, not pass."""
    if not rules:
        raise ValueError("rules must be non-empty")
    flags = [
        F.when(~F.coalesce(cond, F.lit(False)), F.lit(name)) for name, cond in rules.items()
    ]
    return df.withColumn(
        VIOLATIONS_COL, F.array_compact(F.array(*flags))
    )


def quarantine_split(df: DataFrame, rules: Mapping[str, Column]) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantined): quarantined rows keep the violation labels
    for triage; valid rows come back clean (no helper column)."""
    labeled = with_violations(df, rules)
    ok = F.size(F.col(VIOLATIONS_COL)) == 0
    return labeled.where(ok).drop(VIOLATIONS_COL), labeled.where(~ok)


def with_observed_metrics(df: DataFrame, name: str | Observation, **metrics: Column) -> DataFrame:
    """Attach streaming/batch-safe in-flight metrics (``df.observe``):
    aggregates computed DURING the action that consumes ``df``, for free
    — no second scan, unlike a separate ``.agg().collect()`` audit pass.
    Read them back from ``QueryExecutionListener`` /
    ``StreamingQueryListener`` or (batch) ``Observation``.
    """
    return df.observe(name, *[c.alias(n) for n, c in metrics.items()])


def expectation_suite(
    df: DataFrame, expectations: Mapping[str, tuple[Column, float, float]]
) -> DataFrame:
    """Dataset-level constraint checking (the deequ/Great-Expectations
    shape) in ONE aggregate pass: every expectation is an aggregate
    metric Column plus an inclusive [lo, hi] acceptance band, all
    metrics computed in a single ``agg`` over one scan, then exploded
    to one result row per expectation.

    Returns (expectation, value, lo, hi, passed). Values are rounded
    to 6 decimals BEFORE the band check so pass/fail is deterministic
    across engines/partitionings. Complements the row-level
    :func:`quarantine_split`: that gates rows, this gates the DATASET
    (uniqueness, null rates, bounds, conformity rates) — the check a
    nightly job alerts on before publishing a partition.

    At 100 TB this is one map-side-combined aggregate over the scan —
    the metrics travel as one partial row per mapper; there is no
    per-expectation pass.
    """
    if not expectations:
        raise ValueError("expectations must be non-empty")
    agg = df.agg(
        *[
            F.round(m.cast("double"), 6).alias(name)
            for name, (m, _lo, _hi) in expectations.items()
        ]
    )
    structs = [
        F.struct(
            F.lit(name).alias("expectation"),
            F.col(name).alias("value"),
            F.lit(float(lo)).alias("lo"),
            F.lit(float(hi)).alias("hi"),
            # NULL metric (empty slice, all-NULL column) fails CLOSED,
            # same principle as with_violations: an unevaluable
            # expectation must not read as passing
            F.coalesce(
                (F.col(name) >= float(lo)) & (F.col(name) <= float(hi)), F.lit(False)
            ).alias("passed"),
        )
        for name, (_m, lo, hi) in expectations.items()
    ]
    return agg.select(F.explode(F.array(*structs)).alias("e")).select("e.*")
