"""The reference's consume-batch pipeline, re-expressed Spark-first.

This is the faithful counterpart of the reference job (a user of
`axel-springer-kugawana/ST_bigdata_consume_batch_ma_with_cr_ecd` can run
the same nightly computation here): the 3-stage SQL chain plus the
DataFrame transforms, on reference-shaped inputs (FIXTURES.md §1-§7),
built from this package's operator library instead of Glue/SQL text.

Stage map (reference citations):

- ``filter_changelog``   — script/main.py:74-89 (F1/F2 filters)
- ``merge_delete``       — script/static_files/queries/0-merge_delete_query.sql
  (delete-event attribute backfill: as-of inner join + top-1 + union)
- ``basedata_first``     — 1-basedata_first_query.sql (per-day latest
  version + text join); keeps the rows of the requested slices and tags
  each with its slice (:data:`SLICE_KEY`)
- ``basedata_enrich``    — 2-basedata_df_query.sql (visibility inner
  join + fraud argmax + counter sums, 3 left joins), inline in the
  slice plan as in the reference's one query
- ``basedata_final``     — 3-basedata_df_final_query.sql (stale-id NOT
  IN elimination, fraud filter, price-change history union)
- ``modify_data``        — script/main.py:157-193 (rooms rounding, city
  regexp, prefix strip, conditional geo broadcast joins, partition cols)
- ``shape_json_output``  — script/helper.py:99-186 (subTypes map,
  distribution price projection, renames/drops, changelog metadata,
  flat->nested struct schema)
- ``build_slices``       — stages 1-3 + modify_data for a set of slices
  as one frame
- ``consume_batch``      — the reference's 4-slice country/distribution
  loop with UNION ALL accumulation (script/main.py:300-368), as one
  lazy pass over all four slices
- ``run_job``            — the nightly job run end to end: stage 0
  staged to parquet, the one-pass slice frame written once as the
  parquet sink, per-slice CSV/JSON derived from that write, all three
  sinks published together (script/main.py:300-416)

The reference runs stages 1-3 once per slice. Here the slice key is one
more column in every window partition, group-by and join key of those
stages, so one plan computes all slices: stage 0 is read once and each
stage shuffles once, not once per slice.

Semantics preserved on purpose (SURVEY.md §4): the visibility join is
multiplicity-preserving INNER (not semi); stale-id elimination is
null-aware NOT IN; ``partitionChangeDate`` compares as ISO *string* in
stage 3 but via ``to_date`` in stage 0; delete rows without a donor are
dropped (inner as-of join); ``fraudLevelId <= 0`` drops null-fraud rows.
"""

from __future__ import annotations

import operator
import os
import shutil
from collections.abc import Sequence
from dataclasses import dataclass
from datetime import date, timedelta
from functools import reduce
from itertools import combinations
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.columns import prefix_select, strip_prefix
from ..functions.maps import keyed_map_column
from ..functions.nesting import nest_columns
from ..functions.quality import with_observed_metrics
from ..functions.whenchain import when_chain
from ..operators.asof import asof_join
from ..operators.dedup import top_n_per_group
from ..operators.joins import broadcast_lookup_join, join_preaggregated, not_in_anti_join
from ..operators.setops import union_slices
from ..sinks import writers

#: script/config.json:141-147 — the payload-column namespace.
VALID_PREFIXES = ("classified_", "cleaned_", "cleanup", "extracted_", "grenzwert_")

#: script/main.py:74-89 — hard filters on the raw change-log.
DISTRIBUTIONS = ("RENT", "BUY")
ESTATE_TYPES = ("HOUSE", "APARTMENT")
GEO_PREFIXES = ("108", "103")

#: script/config.json:156-160
GEO_DROP_COLUMNS = (
    "geoid",
    "classified_geo_userDefined_immoWelt_geoid",
    "classified_geo_countrySpecific_de_iwtLegacyGeoID",
)

_CORE = ("id", "partitionChangeDate", "changeDate", "globalObjectKey", "operation")

#: The keys of the ``tables`` dict that :func:`consume_batch` and
#: :func:`run_job` take: the job's eight input tables.
INPUT_TABLES = (
    "changelog",
    "texts",
    "visibility",
    "fraud",
    "contacts",
    "visits",
    "bundeslaender",
    "stadtlandkreise",
)

@dataclass(frozen=True)
class JobDates:
    """script/main.py:196-217 — the incremental window parameters."""

    partition_date: str  # ISO YYYY-MM-DD
    first_day_current_month: str
    first_day_past: str
    partition_month: str

    @classmethod
    def resolve(cls, partition_date: date, days_ago: int | str = 10) -> "JobDates":
        first = partition_date.replace(day=1)
        if days_ago == "full_refresh":
            past = "2024-05-20"  # data epoch (script/main.py:203-204)
        else:
            past = (first - timedelta(days=int(days_ago))).strftime("%Y-%m-%d")
        return cls(
            partition_date=partition_date.strftime("%Y-%m-%d"),
            first_day_current_month=first.strftime("%Y-%m-%d"),
            first_day_past=past,
            partition_month=partition_date.strftime("%Y-%m"),
        )


@dataclass(frozen=True)
class SliceSpec:
    """One row of the country/distribution matrix
    (script/config.json:161-186 + helper.py:189-201 column binding)."""

    geoid: int  # 108 Germany / 103 Austria
    distribution_type: str  # 'BUY' | 'RENT'

    @property
    def price_amount_column(self) -> str:
        if self.distribution_type == "BUY":
            return "cleaned_classified_prices_buy_price_amount"
        return "cleaned_classified_prices_rent_baseRent_amount"

    @property
    def tag(self) -> str:
        """The slice's name in the text sinks' paths and the row counts."""
        return f"{self.geoid}_{self.distribution_type}"


DEFAULT_SLICES = tuple(
    SliceSpec(geoid, dist) for geoid in (108, 103) for dist in ("BUY", "RENT")
)

#: The columns that name a row's slice from stage 1 on. They lead every
#: window partition, group-by and join key of stages 1-3, so the slices
#: of one frame never see each other's rows.
SLICE_KEY = ("partitionGeoid", "cleaned_classified_distributionType")


def _in_slice(spec: SliceSpec) -> Column:
    """Whether a stage-0 row belongs to ``spec``."""
    return F.col("classified_geo_countrySpecific_de_iwtLegacyGeoID").startswith(
        str(spec.geoid)
    ) & (F.col("cleaned_classified_distributionType") == spec.distribution_type)


def _tagged_as(spec: SliceSpec) -> Column:
    """Whether a row tagged by :func:`basedata_first` belongs to ``spec``."""
    return (F.col(SLICE_KEY[0]) == spec.geoid) & (F.col(SLICE_KEY[1]) == spec.distribution_type)


def _check_disjoint(slices: Sequence[SliceSpec]) -> None:
    if not slices:
        raise ValueError("at least one slice is required")
    for a, b in combinations(slices, 2):
        ga, gb = str(a.geoid), str(b.geoid)
        if a.distribution_type == b.distribution_type and (ga.startswith(gb) or gb.startswith(ga)):
            raise ValueError(f"slices {a} and {b} overlap: a row would belong to both")


def payload_columns(df: DataFrame) -> list[str]:
    """script/main.py:96-110 — dynamic prefix-driven payload selection."""
    return prefix_select(df, list(VALID_PREFIXES))


def filter_changelog(df: DataFrame) -> DataFrame:
    """script/main.py:74-89."""
    geo = F.col("classified_geo_countrySpecific_de_iwtLegacyGeoID")
    return df.where(
        F.col("cleaned_classified_distributionType").isin(*DISTRIBUTIONS)
        & (geo.startswith(GEO_PREFIXES[0]) | geo.startswith(GEO_PREFIXES[1]))
        & F.col("classified_estateType").isin(*ESTATE_TYPES)
    )


def merge_delete(filtered: DataFrame, first_day_past: str) -> DataFrame:
    """0-merge_delete_query.sql — repair Delete events (NULL payload) by
    copying the payload of the latest earlier non-delete row of the same
    ``globalObjectKey``; deletes with no donor are dropped (inner as-of
    join, reference line 24-40); union with the non-deleted stream."""
    payload = payload_columns(filtered)
    date_ok = F.col("partitionChangeDate") >= F.to_date(F.lit(first_day_past))

    deleted = filtered.where(
        (F.col("operation") == "Delete")
        & F.col("classified_metaData_classifiedId").isNull()
        & date_ok
    ).select(*_CORE)
    non_deleted = filtered.where(
        (F.col("operation") != "Delete") & F.col("classified_metaData_classifiedId").isNotNull()
    )

    # donors carry id so the latest-donor pick is TOTAL under equal
    # changeDates (same-timestamp updates are routine in change logs);
    # matches the e2e oracle's ORDER BY changeDate DESC, id DESC
    donors = non_deleted.select(
        "globalObjectKey", F.col("changeDate"), F.col("id"), *payload
    )
    backfilled = asof_join(
        deleted,
        donors,
        on=["globalObjectKey"],
        left_ts="changeDate",
        right_ts="changeDate",
        how="inner",
        left_id="id",
        tiebreak="id",
    ).drop("changeDate_right").drop("id_right")

    healthy = non_deleted.where(date_ok).select(*_CORE, *payload)
    return union_slices([backfilled.select(*_CORE, *payload), healthy], "ALL")


def basedata_first(
    merged: DataFrame, texts: DataFrame, slices: Sequence[SliceSpec]
) -> DataFrame:
    """1-basedata_first_query.sql — slice filters, latest version per
    (slice, classifiedId, change-day), 8-column text enrichment.

    Keeps the rows of ``slices``, which must be disjoint, and adds
    ``partitionGeoid``: the geoid of the slice each row belongs to."""
    _check_disjoint(slices)
    matches = [_in_slice(spec) for spec in slices]
    sliced = merged.where(
        reduce(operator.or_, matches) & (F.col("cleanupdataproblems") <= 3)
    ).withColumn(
        # the otherwise is never reached (the filter kept matching rows
        # only); a literal there keeps the column non-nullable, so the
        # parquet sink stores it as a required column
        SLICE_KEY[0],
        when_chain(
            [(m, spec.geoid) for m, spec in zip(matches, slices)], otherwise=slices[-1].geoid
        ),
    )
    latest = top_n_per_group(
        sliced,
        [
            *map(F.col, SLICE_KEY),
            F.col("classified_metaData_classifiedId"),
            F.to_date(F.col("classified_metaData_changeDate")),
        ],
        [
            F.col("classified_metaData_changeDate").desc(),
            F.col("partitionChangeDate").desc(),
            F.col("id").desc(),  # determinism tiebreak beyond the reference (SURVEY §4 #1)
        ],
        rank_col="baseRank",
    )
    text_cols = [c for c in texts.columns if c.startswith("classified_texts_")]
    return latest.join(texts.select("id", *text_cols), "id", "left")


def basedata_enrich(
    first: DataFrame,
    visibility: DataFrame,
    fraud_events: DataFrame,
    contacts: DataFrame,
    visits: DataFrame,
    dates: JobDates,
) -> DataFrame:
    """2-basedata_df_query.sql — active-visibility inner join (kept
    multiplicity-preserving), latest fraud level argmax, contact/visit
    counter sums, three left joins."""
    cid = "classified_metaData_classifiedId"

    active = visibility.where(
        (F.col("aktivbis") >= F.to_date(F.lit(dates.first_day_current_month)))
        & (F.col("aktivab") < F.to_date(F.lit(dates.partition_date)))
    ).select("classifiedId")
    oc = first.join(active, first[cid] == active["classifiedId"]).drop("classifiedId")

    fraud = (
        fraud_events.where(F.col("operation") != "Delete")
        .groupBy("globalObjectKey")
        .agg(
            F.max_by(
                F.col("controlData.FraudLevelId"),
                # struct order = (changeDate, FraudLevelId): total under
                # equal changeDates, so the <= 0 gate is deterministic
                F.struct(F.col("changeDate"), F.col("controlData.FraudLevelId")),
            ).alias("fraudLevelId")
        )
    )
    out = oc.join(fraud, oc[cid] == fraud["globalObjectKey"], "left").drop(
        fraud["globalObjectKey"]
    )

    # reference lines 27-63: COALESCE(SUM(COALESCE(x, 0)), 0) per counter
    out = out.withColumn("classifiedId", F.col(cid))
    for detail, counters in (
        (contacts, {
            "userDefined_immoWelt_contact_requests": "emailContactRequest",
            "userDefined_immoWelt_iw_contact_requests": "emailContactRequestIW",
            "userDefined_immoWelt_in_contact_requests": "emailContactRequestIN",
        }),
        (visits, {
            "userDefined_immoWelt_expose_visits": "exposeVisits",
            "userDefined_immoWelt_iw_expose_visits": "exposeVisitsIW",
            "userDefined_immoWelt_in_expose_visits": "exposeVisitsIN",
        }),
    ):
        out = join_preaggregated(
            out,
            detail,
            ["classifiedId"],
            {name: F.sum(F.coalesce(F.col(src), F.lit(0))) for name, src in counters.items()},
            fill=dict.fromkeys(counters, 0),
        )
    return out.drop("classifiedId")


def basedata_final(
    base: DataFrame, first: DataFrame, dates: JobDates, slices: Sequence[SliceSpec]
) -> DataFrame:
    """3-basedata_df_final_query.sql — stale-id NOT IN elimination,
    fraud filter, per-(id, price) current-month latest UNION last
    pre-month record, each within its slice; the price is the column of
    the row's slice (:attr:`SliceSpec.price_amount_column`).
    ``partitionChangeDate`` compares as ISO string here (reference lines
    54/65), unlike stage 0's ``to_date``."""
    cid = "classified_metaData_classifiedId"
    ts = "classified_metaData_changeDate"
    key = [*SLICE_KEY, cid]

    base_max = base.groupBy(*key).agg(F.max(ts).alias("m"))
    all_max = (
        first.where(F.col(ts) < dates.first_day_current_month)
        .groupBy(*key)
        .agg(F.max(ts).alias("m_all"))
    )
    invalid = (
        base_max.join(all_max, key, "left")
        .where(F.col("m") < F.col("m_all"))
        .select(*SLICE_KEY, F.col(cid).alias("invalid_id"))
    )
    final = not_in_anti_join(base, invalid, cid, "invalid_id", by=SLICE_KEY).where(
        F.col("fraudLevelId") <= 0
    )

    price = when_chain([(_tagged_as(spec), F.col(spec.price_amount_column)) for spec in slices])
    order = [F.col(ts).desc(), F.col("partitionChangeDate").desc(), F.col("id").desc()]
    current = top_n_per_group(
        final.where(F.col("partitionChangeDate") >= dates.first_day_current_month),
        [*map(F.col, key), price],
        order,
        rank_col="row_num",
    )
    previous = top_n_per_group(
        final.where(F.col("partitionChangeDate") < dates.first_day_current_month),
        list(map(F.col, key)),
        order,
        rank_col="row_num",
    )
    return union_slices([current, previous], "ALL")


def modify_data(
    final: DataFrame,
    partition_month: str,
    bundeslaender: DataFrame,
    stadtlandkreise: DataFrame,
) -> DataFrame:
    """script/main.py:157-193 — numeric/text cleanup, cleaned_ prefix
    strip (single projection, not N renames), geo enrichment for rows
    with ``partitionGeoid`` 108 (Germany) only, drop list, partition
    columns last."""
    df = final.withColumn(
        "cleaned_classified_structure_rooms_numberofrooms",
        F.round(F.col("cleaned_classified_structure_rooms_numberofrooms")).cast("int"),
    ).withColumn(
        "classified_geo_city", F.regexp_replace(F.col("classified_geo_city"), r"\\", "")
    )
    df = strip_prefix(df, "cleaned_")

    # other countries get a NULL key, which matches nothing, so their
    # geo columns stay NULL
    germany = F.col("partitionGeoid") == 108
    geo = F.col("classified_geo_countrySpecific_de_iwtLegacyGeoID")
    df = broadcast_lookup_join(
        df, bundeslaender, F.when(germany, F.substring(geo, 1, 5).cast("int")), "geoid",
        dim_cols=["geoid", "bundesland"],
    )
    df = broadcast_lookup_join(
        df, stadtlandkreise, F.when(germany, F.substring(geo, 1, 8).cast("int")), "geoid",
        dim_cols=["geoid", "landkreis"],
    )
    df = df.withColumnsRenamed(
        {"bundesland": "geo_state", "landkreis": "geo_userDefined_immoWelt_county"}
    )
    df = df.drop(*[c for c in GEO_DROP_COLUMNS if c in df.columns])
    return df.select(
        *[c for c in df.columns if c != "partitionGeoid"], "partitionGeoid"
    ).withColumn("partitionMonth", F.lit(partition_month))


ESTATE_SUBTYPE_SOURCE = {
    "HOUSE": "classified_estateSubTypes_house",
    "APARTMENT": "classified_estateSubTypes_apartment",
}


def shape_json_output(
    df: DataFrame, distribution_type: str, *, clock: str | None = None
) -> DataFrame:
    """script/helper.py:99-186 — the JSON sink shaping: subTypes
    when-chain + map, distribution-specific price projection,
    classified_ prefix strip, changelog metadata (injectable clock),
    flat->nested struct schema."""
    sub = when_chain(
        [
            (
                F.col("classified_estateType") == et,
                F.coalesce(F.col(src), F.lit("NOT_APPLICABLE")),
            )
            for et, src in ESTATE_SUBTYPE_SOURCE.items()
        ],
        otherwise="NOT_APPLICABLE",
    )
    out = df.withColumn("subTypes", sub)

    if distribution_type == "BUY":
        out = (
            out.withColumn("prices_buy_price_amount", F.col("classified_prices_buy_price_amount"))
            .withColumn("prices_buy_price_currency", F.col("classified_prices_currency"))
            .withColumn(
                "prices_buy_serviceCharge_amount",
                F.coalesce(F.col("classified_prices_buy_operatingCosts_amount"), F.lit(0.00)).cast(
                    "float"
                ),
            )
        )
    else:
        out = (
            out.withColumn(
                "prices_rent_baseRent_amount", F.col("classified_prices_rent_baseRent_amount")
            )
            .withColumn("prices_rent_baseRent_currency", F.col("classified_prices_currency"))
            .withColumn(
                "prices_rent_operatingCosts_amount",
                F.col("classified_prices_rent_operatingCosts_amount"),
            )
        )

    renames = {
        c: c[len("classified_"):]
        for c in ("classified_estateType", "classified_metaData_classifiedId", "classified_geo_city")
        if c in out.columns
    }
    out = out.withColumnsRenamed(renames)
    out = out.drop(*[c for c in out.columns if c.startswith("classified_")])

    ts = F.current_timestamp() if clock is None else F.lit(clock).cast("timestamp")
    out = (
        out.withColumn("metaData_changeLog_timestamp", ts)
        .withColumn("metaData_changeLog_system", F.lit("SparkEngineExport"))
        .withColumn("metaData_changeLog_operation", F.lit("UPDATE"))
    )
    out = out.withColumn(
        "subTypes", keyed_map_column(F.col("estateType"), F.col("subTypes"), lower_key=True)
    )
    return nest_columns(out, sep="_")


def build_slices(
    merged: DataFrame,
    tables: dict[str, DataFrame],
    slices: Sequence[SliceSpec],
    dates: JobDates,
) -> DataFrame:
    """Stages 1-3 + ``modify_data`` for ``slices`` of the
    country/distribution matrix as one frame, built on the stage-0
    ``merged``. Each row carries its slice in ``partitionGeoid`` and
    ``classified_distributionType``."""
    first = basedata_first(merged, tables["texts"], slices)
    base = basedata_enrich(
        first, tables["visibility"], tables["fraud"], tables["contacts"],
        tables["visits"], dates,
    )
    final = basedata_final(base, first, dates, slices)
    return modify_data(
        final, dates.partition_month, tables["bundeslaender"], tables["stadtlandkreise"]
    )


def consume_batch(tables: dict[str, DataFrame], dates: JobDates) -> DataFrame:
    """The full job as one lazy plan (script/main.py:300-368) over the
    :data:`INPUT_TABLES` in ``tables``: stage 0, then stages 1-3 +
    modify_data over all :data:`DEFAULT_SLICES` in one pass; its rows
    are the UNION ALL of the reference's per-slice results.

    Nothing is staged, cached or written, so this is the reference plan
    that tests and plan audits compare against; :func:`run_job` builds
    the same frame on the staged stage 0."""
    merged = merge_delete(filter_changelog(tables["changelog"]), dates.first_day_past)
    return build_slices(merged, tables, DEFAULT_SLICES, dates)


def prepare_job(tables: dict[str, DataFrame], dates: JobDates, out_root: str) -> DataFrame:
    """Stage 0 written once to ``<out_root>/_stage0_staging/merged`` and
    read back, so the slice frame scans the files instead of re-planning
    the merge. The table sits one level below the ``_``-prefixed
    directory because Spark's file index treats a leaf whose name
    starts with ``_`` or ``.`` as hidden and warns on every read. A
    parquet staging table has no cache-residency limit and gets
    columnar scans with pruning; the block-manager cache it replaced
    lost at every measured scale >= sf0.1 (6.9 s vs 11.8 s at sf0.1,
    86.5 s vs 230.8 s at 64x, SCALE.md). Stage 2's small side inputs
    are not staged: they stay in the slice plan, as in the reference's
    one query."""
    merged = merge_delete(filter_changelog(tables["changelog"]), dates.first_day_past)
    staging = f"{out_root}/_stage0_staging/merged"
    merged.write.mode("overwrite").parquet(staging)
    return tables["changelog"].sparkSession.read.parquet(staging)


def _slice_tag(distribution: Column) -> Column:
    """A row's :attr:`SliceSpec.tag`, from its ``partitionGeoid``."""
    return F.concat_ws("_", F.col("partitionGeoid").cast("string"), distribution)


def _move(src: str, dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.rename(src, dst)


def run_job(
    tables: dict[str, DataFrame],
    dates: JobDates,
    out_root: str,
    *,
    json_clock: str | None = None,
) -> dict[str, int]:
    """The nightly job end to end (script/main.py:300-416) over the
    :data:`INPUT_TABLES` in ``tables``: on :func:`prepare_job`'s stage 0,
    the one-pass slice frame is written once, as the month-partitioned
    parquet sink, into ``<out_root>/_run_staging``, counting each
    slice's rows in flight; each slice's gzip CSV and JSON derive from
    that write. Once every write has succeeded, renames publish them to
    ``csv/<tag>``, ``json/<tag>`` and ``parquet/``, so a failed write
    leaves all three sinks as they were. ``json_clock`` pins the JSON
    changelog timestamp. Returns the row count of each slice by tag."""
    merged = prepare_job(tables, dates, out_root)
    staging = f"{out_root}/_run_staging"
    # the partitioned writes below replace only the partitions they
    # write, so a slice left from an earlier run would survive them
    shutil.rmtree(staging, ignore_errors=True)

    frame = build_slices(merged, tables, DEFAULT_SLICES, dates)
    tag = _slice_tag(F.col("classified_distributionType"))
    observed = Observation()
    per_slice = {spec.tag: F.count_if(tag == spec.tag) for spec in DEFAULT_SLICES}
    # written from the frame itself: a read-back would lose
    # partitionGeoid's not-null flag
    observed_frame = with_observed_metrics(frame, observed, **per_slice)
    writers.overwrite_partitions(observed_frame, f"{staging}/parquet", ["partitionMonth"])
    counts = {spec.tag: observed.get[spec.tag] for spec in DEFAULT_SLICES}

    # the staged table holds this run's month only, none if it has no rows
    rows = frame.sparkSession.read.schema(frame.schema).parquet(f"{staging}/parquet")
    writers.write_csv_gzip(rows.withColumn("slice", tag), f"{staging}/csv", ["slice"])
    # both distributions write into one directory: the session's dynamic
    # partition overwrite, which overwrite_partitions checked, keeps the
    # slices the other one wrote
    for dist in DISTRIBUTIONS:
        shaped = shape_json_output(
            rows.where(F.col("classified_distributionType") == dist), dist, clock=json_clock
        )
        writers.write_json_gzip(
            shaped.withColumn("slice", _slice_tag(F.lit(dist))), f"{staging}/json", ["slice"]
        )
    empty = rows.where(F.lit(False))
    for spec in DEFAULT_SLICES:
        if not counts[spec.tag]:  # a header-only CSV and an empty JSON file
            writers.write_csv_gzip(empty, f"{staging}/csv/slice={spec.tag}", [])
            writers.write_json_gzip(empty, f"{staging}/json/slice={spec.tag}", [])

    for spec in DEFAULT_SLICES:
        for sink in ("csv", "json"):
            _move(f"{staging}/{sink}/slice={spec.tag}", f"{out_root}/{sink}/{spec.tag}")
            Path(out_root, sink, spec.tag, "_SUCCESS").touch()
    month = f"partitionMonth={dates.partition_month}"
    if any(counts.values()):
        _move(f"{staging}/parquet/{month}", f"{out_root}/parquet/{month}")
    else:  # as a dynamic overwrite with no rows: the sink's partitions stay
        os.makedirs(f"{out_root}/parquet", exist_ok=True)
    return counts
