"""End-to-end consume-batch under the driver gate and the bench.

``pipelines/consume_batch.py`` is pytest-golden-tested on hand-built
fixtures, and ``pipeline_market_analytics`` oracle-checks an analogous
chain over the star schema; this module hash-verifies and benchmarks
the FAITHFUL pipeline end to end: the staged stage-0 merge, then
stages 1-3 and modify_data for the 4 slices in one pass (stage 2's
visibility, fraud and counter inputs built inside it, as in the
reference's one query), and all three sinks (reference
``script/main.py:300-416``).

``derive_consume_inputs`` builds the eight reference-shaped input
tables deterministically from the ``events`` testdata table (pure
integer/floor arithmetic — every derived value is engine-exact), and
``pipeline_consume_batch_e2e`` runs the job through
``pipelines.consume_batch.run_job``, the path the CLI runs, then
returns the parquet sink's read-back. The oracle replays the
derivation AND the full pipeline in DuckDB, so the driver's value hash
covers the whole job including the storage roundtrip.

Scale notes: identical to the pipeline module's — ONE scan+shuffle for
the stage-0 merge, staged once; the four slices are one plan, so each
stage shuffles once for all of them; both geo dims broadcast. The gzip
sinks write one file per slice, per the reference's contract, by
hash-partitioning on the slice, never ``coalesce(1)``.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipelines.consume_batch import (
    DEFAULT_SLICES,
    JobDates,
    run_job,
)
from ..sources.readers import read_testdata
from .registry import register

# The incremental window, pinned so results are reproducible: data in
# `events` spans 2024-01-01 .. 2024-01-30.
_DATES = JobDates.resolve(date(2024, 1, 30), days_ago=10)
# -> partition_date 2024-01-30, month start 2024-01-01,
#    first_day_past 2023-12-22, partition_month 2024-01

#: payload columns in changelog-derivation order (everything matching
#: the VALID_PREFIXES namespace: classified_* / cleaned_* / cleanup*).
PAYLOAD_COLS = (
    "classified_metaData_classifiedId",
    "classified_metaData_changeDate",
    "cleaned_classified_distributionType",
    "classified_estateType",
    "classified_geo_countrySpecific_de_iwtLegacyGeoID",
    "cleanupdataproblems",
    "cleaned_classified_prices_buy_price_amount",
    "cleaned_classified_prices_rent_baseRent_amount",
    "cleaned_classified_prices_buy_operatingCosts_amount",
    "cleaned_classified_prices_rent_operatingCosts_amount",
    "cleaned_classified_structure_rooms_numberofrooms",
    "classified_geo_city",
    "classified_prices_currency",
    "classified_estateSubTypes_house",
    "classified_estateSubTypes_apartment",
)


def derive_consume_inputs(
    spark: SparkSession, sf_dir: str, events: DataFrame | None = None
) -> dict[str, DataFrame]:
    """The eight reference-shaped inputs, derived from ``events``
    (or from a caller-supplied events frame — the scale probe passes an
    amplified one).

    Every column is a deterministic integer/floor function of
    (event_id, user_id, ts, event_type, value), chosen to exercise the
    pipeline's semantics: Delete events with NULL classifiedId (the
    merge-delete repair path), out-of-window partitionChangeDates (the
    incremental filter), pre-month rows (the price-history "previous"
    branch), filtered distribution/estate/geo values, visibility
    windows that include and exclude, fraud levels that pass and trip
    the ``<= 0`` gate, NULLable contact counters.
    """
    ev = events if events is not None else read_testdata(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    gok = F.concat(F.lit("obj-"), u.cast("string"))
    geoid = F.concat(
        F.when(u % 4 == 3, F.lit("103")).otherwise(F.lit("108")),
        ((u * 37) % 80000 + 10000).cast("string"),  # always 5 digits
    )
    is_del = F.col("event_type") == "error"
    pcd = F.when(u % 6 == 0, F.date_sub(F.to_date("ts"), 20)).otherwise(F.to_date("ts"))

    changelog = ev.select(
        e.alias("id"),
        F.date_format(pcd, "yyyy-MM-dd").alias("partitionChangeDate"),
        F.col("ts").alias("changeDate"),
        gok.alias("globalObjectKey"),
        F.when(is_del, F.lit("Delete")).otherwise(F.lit("Update")).alias("operation"),
        F.when(is_del, F.lit(None).cast("string"))
        .otherwise(gok)
        .alias("classified_metaData_classifiedId"),
        F.col("ts").alias("classified_metaData_changeDate"),
        F.when(u % 11 == 0, F.lit("OTHER"))
        .when(u % 2 == 0, F.lit("BUY"))
        .otherwise(F.lit("RENT"))
        .alias("cleaned_classified_distributionType"),
        F.when(u % 3 == 0, F.lit("HOUSE"))
        .when(u % 3 == 1, F.lit("APARTMENT"))
        .otherwise(F.lit("COMMERCIAL"))
        .alias("classified_estateType"),
        geoid.alias("classified_geo_countrySpecific_de_iwtLegacyGeoID"),
        (e % 6).cast("int").alias("cleanupdataproblems"),
        (F.floor("value") * 1000 + u % 7)
        .cast("double")
        .alias("cleaned_classified_prices_buy_price_amount"),
        (F.floor("value") * 10 + u % 5)
        .cast("double")
        .alias("cleaned_classified_prices_rent_baseRent_amount"),
        (u % 9).cast("double").alias("cleaned_classified_prices_buy_operatingCosts_amount"),
        (u % 8).cast("double").alias("cleaned_classified_prices_rent_operatingCosts_amount"),
        (u % 7 + F.lit(0.25)).cast("double").alias(
            "cleaned_classified_structure_rooms_numberofrooms"
        ),
        F.concat(F.lit("city-"), (u % 40).cast("string")).alias("classified_geo_city"),
        F.lit("EUR").alias("classified_prices_currency"),
        F.concat(F.lit("hsub-"), (u % 4).cast("string")).alias("classified_estateSubTypes_house"),
        F.concat(F.lit("asub-"), (u % 4).cast("string")).alias(
            "classified_estateSubTypes_apartment"
        ),
    )

    texts = ev.select(
        e.alias("id"),
        F.concat(F.lit("title-"), (e % 97).cast("string")).alias("classified_texts_title"),
        F.concat(F.lit("desc-"), (e % 31).cast("string")).alias("classified_texts_description"),
    )

    users = ev.select(u.alias("uid")).distinct()
    uid = F.col("uid")
    ugok = F.concat(F.lit("obj-"), uid.cast("string"))
    visibility = users.select(
        ugok.alias("classifiedId"),
        F.date_add(F.to_date(F.lit("2023-12-25")), (uid % 40).cast("int")).alias("aktivab"),
        F.date_add(F.to_date(F.lit("2023-12-20")), (uid % 50).cast("int")).alias("aktivbis"),
    )
    fraud = users.select(
        ugok.alias("globalObjectKey"),
        F.lit("Update").alias("operation"),
        F.lit("2024-01-15 00:00:00").cast("timestamp").alias("changeDate"),
        F.struct(
            F.when(uid % 5 == 1, F.lit(1)).otherwise(F.lit(-1)).cast("int").alias("FraudLevelId")
        ).alias("controlData"),
    )

    contacts = ev.where(F.col("event_type") == "click").select(
        gok.alias("classifiedId"),
        F.when(e % 5 == 0, F.lit(None)).otherwise(e % 3).cast("int").alias("emailContactRequest"),
        (e % 4).cast("int").alias("emailContactRequestIW"),
        (e % 2).cast("int").alias("emailContactRequestIN"),
    )
    visits = ev.where(F.col("event_type") == "view").select(
        gok.alias("classifiedId"),
        (e % 10).cast("int").alias("exposeVisits"),
        F.when(e % 7 == 0, F.lit(None)).otherwise(u % 3).cast("int").alias("exposeVisitsIW"),
        F.lit(1).cast("int").alias("exposeVisitsIN"),
    )

    de_geo = (
        ev.where(u % 4 != 3)
        .select(
            F.concat(F.lit("108"), ((u * 37) % 80000 + 10000).cast("string")).alias("g8")
        )
        .distinct()
    )
    bundeslaender = (
        de_geo.select(F.substring("g8", 1, 5).cast("int").alias("geoid"))
        .distinct()
        .withColumn("bundesland", F.concat(F.lit("BL-"), (F.col("geoid") % 16).cast("string")))
    )
    stadtlandkreise = de_geo.select(F.col("g8").cast("int").alias("geoid")).withColumn(
        "landkreis", F.concat(F.lit("LK-"), (F.col("geoid") % 33).cast("string"))
    )

    return {
        "changelog": changelog,
        "texts": texts,
        "visibility": visibility,
        "fraud": fraud,
        "contacts": contacts,
        "visits": visits,
        "bundeslaender": bundeslaender,
        "stadtlandkreise": stadtlandkreise,
    }


#: the modify_data output projection (post `cleaned_` strip, post geo
#: drop list) — the exact column set the query returns and the oracle
#: replays, in one place so both sides stay in sync.
OUTPUT_COLS = (
    "id",
    "partitionChangeDate",
    "changeDate",
    "globalObjectKey",
    "operation",
    "classified_metaData_classifiedId",
    "classified_metaData_changeDate",
    "classified_distributionType",
    "classified_estateType",
    "classified_geo_city",
    "classified_prices_currency",
    "classified_estateSubTypes_house",
    "classified_estateSubTypes_apartment",
    "cleanupdataproblems",
    "classified_prices_buy_price_amount",
    "classified_prices_rent_baseRent_amount",
    "classified_prices_buy_operatingCosts_amount",
    "classified_prices_rent_operatingCosts_amount",
    "classified_structure_rooms_numberofrooms",
    "classified_texts_title",
    "classified_texts_description",
    "fraudLevelId",
    "userDefined_immoWelt_contact_requests",
    "userDefined_immoWelt_iw_contact_requests",
    "userDefined_immoWelt_in_contact_requests",
    "userDefined_immoWelt_expose_visits",
    "userDefined_immoWelt_iw_expose_visits",
    "userDefined_immoWelt_in_expose_visits",
    "geo_state",
    "geo_userDefined_immoWelt_county",
    "partitionGeoid",
    "partitionMonth",
)


def _derivation_sql() -> str:
    """The input tables as DuckDB CTEs — line-for-line the SQL twin of
    :func:`derive_consume_inputs`."""
    return f"""
    changelog AS (
        SELECT
            event_id AS id,
            strftime(CASE WHEN user_id % 6 = 0 THEN CAST(ts AS DATE) - 20
                          ELSE CAST(ts AS DATE) END, '%Y-%m-%d') AS partitionChangeDate,
            ts AS changeDate,
            'obj-' || CAST(user_id AS VARCHAR) AS globalObjectKey,
            CASE WHEN event_type = 'error' THEN 'Delete' ELSE 'Update' END AS operation,
            CASE WHEN event_type = 'error' THEN NULL
                 ELSE 'obj-' || CAST(user_id AS VARCHAR) END AS classified_metaData_classifiedId,
            ts AS classified_metaData_changeDate,
            CASE WHEN user_id % 11 = 0 THEN 'OTHER'
                 WHEN user_id % 2 = 0 THEN 'BUY' ELSE 'RENT' END AS cleaned_classified_distributionType,
            CASE WHEN user_id % 3 = 0 THEN 'HOUSE'
                 WHEN user_id % 3 = 1 THEN 'APARTMENT'
                 ELSE 'COMMERCIAL' END AS classified_estateType,
            (CASE WHEN user_id % 4 = 3 THEN '103' ELSE '108' END)
                || CAST((user_id * 37) % 80000 + 10000 AS VARCHAR) AS classified_geo_countrySpecific_de_iwtLegacyGeoID,
            CAST(event_id % 6 AS INT) AS cleanupdataproblems,
            CAST(floor(value) * 1000 + user_id % 7 AS DOUBLE) AS cleaned_classified_prices_buy_price_amount,
            CAST(floor(value) * 10 + user_id % 5 AS DOUBLE) AS cleaned_classified_prices_rent_baseRent_amount,
            CAST(user_id % 9 AS DOUBLE) AS cleaned_classified_prices_buy_operatingCosts_amount,
            CAST(user_id % 8 AS DOUBLE) AS cleaned_classified_prices_rent_operatingCosts_amount,
            CAST(user_id % 7 + 0.25 AS DOUBLE) AS cleaned_classified_structure_rooms_numberofrooms,
            'city-' || CAST(user_id % 40 AS VARCHAR) AS classified_geo_city,
            'EUR' AS classified_prices_currency,
            'hsub-' || CAST(user_id % 4 AS VARCHAR) AS classified_estateSubTypes_house,
            'asub-' || CAST(user_id % 4 AS VARCHAR) AS classified_estateSubTypes_apartment
        FROM events
    ),
    texts AS (
        SELECT event_id AS id,
               'title-' || CAST(event_id % 97 AS VARCHAR) AS classified_texts_title,
               'desc-' || CAST(event_id % 31 AS VARCHAR) AS classified_texts_description
        FROM events
    ),
    vusers AS (SELECT DISTINCT user_id AS uid FROM events),
    visibility AS (
        SELECT 'obj-' || CAST(uid AS VARCHAR) AS classifiedId,
               DATE '2023-12-25' + CAST(uid % 40 AS INT) AS aktivab,
               DATE '2023-12-20' + CAST(uid % 50 AS INT) AS aktivbis
        FROM vusers
    ),
    fraud AS (
        SELECT 'obj-' || CAST(uid AS VARCHAR) AS globalObjectKey,
               CAST(CASE WHEN uid % 5 = 1 THEN 1 ELSE -1 END AS INT) AS fraudLevelId
        FROM vusers
    ),
    contacts AS (
        SELECT 'obj-' || CAST(user_id AS VARCHAR) AS classifiedId,
               CAST(CASE WHEN event_id % 5 = 0 THEN NULL ELSE event_id % 3 END AS INT) AS emailContactRequest,
               CAST(event_id % 4 AS INT) AS emailContactRequestIW,
               CAST(event_id % 2 AS INT) AS emailContactRequestIN
        FROM events WHERE event_type = 'click'
    ),
    visits AS (
        SELECT 'obj-' || CAST(user_id AS VARCHAR) AS classifiedId,
               CAST(event_id % 10 AS INT) AS exposeVisits,
               CAST(CASE WHEN event_id % 7 = 0 THEN NULL ELSE user_id % 3 END AS INT) AS exposeVisitsIW,
               CAST(1 AS INT) AS exposeVisitsIN
        FROM events WHERE event_type = 'view'
    ),
    de_geo AS (
        SELECT DISTINCT '108' || CAST((user_id * 37) % 80000 + 10000 AS VARCHAR) AS g8
        FROM events WHERE user_id % 4 <> 3
    ),
    bundeslaender AS (
        SELECT geoid, 'BL-' || CAST(geoid % 16 AS VARCHAR) AS bundesland
        FROM (SELECT DISTINCT CAST(substr(g8, 1, 5) AS INT) AS geoid FROM de_geo)
    ),
    stadtlandkreise AS (
        SELECT CAST(g8 AS INT) AS geoid, 'LK-' || CAST(CAST(g8 AS INT) % 33 AS VARCHAR) AS landkreis
        FROM de_geo
    )"""


_P = ", ".join(PAYLOAD_COLS)


def _pipeline_sql() -> str:
    """Stages 0-2 (slice-independent parts factored once)."""
    return f"""
    kept AS (
        SELECT * FROM changelog
        WHERE cleaned_classified_distributionType IN ('RENT', 'BUY')
          AND (classified_geo_countrySpecific_de_iwtLegacyGeoID LIKE '108%'
               OR classified_geo_countrySpecific_de_iwtLegacyGeoID LIKE '103%')
          AND classified_estateType IN ('HOUSE', 'APARTMENT')
    ),
    broken AS (
        SELECT id, partitionChangeDate, changeDate, globalObjectKey, operation
        FROM kept
        WHERE operation = 'Delete' AND classified_metaData_classifiedId IS NULL
          AND CAST(partitionChangeDate AS DATE) >= DATE '{_DATES.first_day_past}'
    ),
    alive AS (
        SELECT * FROM kept
        WHERE operation <> 'Delete' AND classified_metaData_classifiedId IS NOT NULL
    ),
    repaired AS (
        SELECT id, partitionChangeDate, changeDate, globalObjectKey, operation, {_P}
        FROM (
            SELECT d.id, d.partitionChangeDate, d.changeDate, d.globalObjectKey, d.operation,
                   {", ".join("a." + c for c in PAYLOAD_COLS)},
                   row_number() OVER (PARTITION BY d.globalObjectKey, d.changeDate, d.id
                                      ORDER BY a.changeDate DESC, a.id DESC) AS pick
            FROM broken d JOIN alive a
              ON d.globalObjectKey = a.globalObjectKey AND d.changeDate >= a.changeDate
        ) WHERE pick = 1
    ),
    merged AS (
        SELECT * FROM repaired
        UNION ALL
        SELECT id, partitionChangeDate, changeDate, globalObjectKey, operation, {_P}
        FROM alive WHERE CAST(partitionChangeDate AS DATE) >= DATE '{_DATES.first_day_past}'
    ),
    vis_ok AS (
        SELECT classifiedId FROM visibility
        WHERE aktivbis >= DATE '{_DATES.first_day_current_month}'
          AND aktivab < DATE '{_DATES.partition_date}'
    ),
    crs AS (
        SELECT classifiedId,
               CAST(sum(coalesce(emailContactRequest, 0))   AS BIGINT) AS userDefined_immoWelt_contact_requests,
               CAST(sum(coalesce(emailContactRequestIW, 0)) AS BIGINT) AS userDefined_immoWelt_iw_contact_requests,
               CAST(sum(coalesce(emailContactRequestIN, 0)) AS BIGINT) AS userDefined_immoWelt_in_contact_requests
        FROM contacts GROUP BY classifiedId
    ),
    evs AS (
        SELECT classifiedId,
               CAST(sum(coalesce(exposeVisits, 0))   AS BIGINT) AS userDefined_immoWelt_expose_visits,
               CAST(sum(coalesce(exposeVisitsIW, 0)) AS BIGINT) AS userDefined_immoWelt_iw_expose_visits,
               CAST(sum(coalesce(exposeVisitsIN, 0)) AS BIGINT) AS userDefined_immoWelt_in_expose_visits
        FROM visits GROUP BY classifiedId
    )"""


def _slice_sql(i: int, geoid: int, dist: str, price_col: str) -> str:
    """Stages 1-3 + modify_data for one (geoid, distribution) slice."""
    if geoid == 108:
        geo_state = "b.bundesland"
        county = "slk.landkreis"
        geo_joins = f"""
        LEFT JOIN bundeslaender b
          ON CAST(substr(s.classified_geo_countrySpecific_de_iwtLegacyGeoID, 1, 5) AS INT) = b.geoid
        LEFT JOIN stadtlandkreise slk
          ON CAST(substr(s.classified_geo_countrySpecific_de_iwtLegacyGeoID, 1, 8) AS INT) = slk.geoid"""
    else:
        geo_state = "CAST(NULL AS VARCHAR)"
        county = "CAST(NULL AS VARCHAR)"
        geo_joins = ""
    return f"""
    day_latest_{i} AS (
        SELECT * EXCLUDE (v_rank) FROM (
            SELECT m.*,
                   row_number() OVER (
                       PARTITION BY classified_metaData_classifiedId,
                                    CAST(classified_metaData_changeDate AS DATE)
                       ORDER BY classified_metaData_changeDate DESC,
                                partitionChangeDate DESC, id DESC) AS v_rank
            FROM merged m
            WHERE classified_geo_countrySpecific_de_iwtLegacyGeoID LIKE '{geoid}%'
              AND cleanupdataproblems <= 3
              AND cleaned_classified_distributionType = '{dist}'
        ) WHERE v_rank = 1
    ),
    with_texts_{i} AS (
        SELECT d.*, t.classified_texts_title, t.classified_texts_description
        FROM day_latest_{i} d LEFT JOIN texts t ON d.id = t.id
    ),
    enriched_{i} AS (
        SELECT w.*, f.fraudLevelId,
               coalesce(crs.userDefined_immoWelt_contact_requests, 0)    AS userDefined_immoWelt_contact_requests,
               coalesce(crs.userDefined_immoWelt_iw_contact_requests, 0) AS userDefined_immoWelt_iw_contact_requests,
               coalesce(crs.userDefined_immoWelt_in_contact_requests, 0) AS userDefined_immoWelt_in_contact_requests,
               coalesce(evs.userDefined_immoWelt_expose_visits, 0)       AS userDefined_immoWelt_expose_visits,
               coalesce(evs.userDefined_immoWelt_iw_expose_visits, 0)    AS userDefined_immoWelt_iw_expose_visits,
               coalesce(evs.userDefined_immoWelt_in_expose_visits, 0)    AS userDefined_immoWelt_in_expose_visits
        FROM with_texts_{i} w
        JOIN vis_ok v ON w.classified_metaData_classifiedId = v.classifiedId
        LEFT JOIN fraud f ON w.classified_metaData_classifiedId = f.globalObjectKey
        LEFT JOIN crs ON w.classified_metaData_classifiedId = crs.classifiedId
        LEFT JOIN evs ON w.classified_metaData_classifiedId = evs.classifiedId
    ),
    newest_kept_{i} AS (
        SELECT classified_metaData_classifiedId AS cid_k,
               max(classified_metaData_changeDate) AS m
        FROM enriched_{i} GROUP BY 1
    ),
    newest_any_{i} AS (
        SELECT classified_metaData_classifiedId AS cid_a,
               max(classified_metaData_changeDate) AS m
        FROM with_texts_{i}
        WHERE classified_metaData_changeDate < TIMESTAMP '{_DATES.first_day_current_month} 00:00:00'
        GROUP BY 1
    ),
    gone_stale_{i} AS (
        SELECT cid_k FROM newest_kept_{i} LEFT JOIN newest_any_{i} ON cid_k = cid_a
        WHERE newest_kept_{i}.m < newest_any_{i}.m
    ),
    survivors_{i} AS (
        SELECT * FROM enriched_{i}
        WHERE classified_metaData_classifiedId NOT IN (SELECT cid_k FROM gone_stale_{i})
          AND fraudLevelId <= 0
    ),
    final_{i} AS (
        SELECT * EXCLUDE (pr) FROM (
            SELECT s.*, row_number() OVER (
                PARTITION BY classified_metaData_classifiedId, {price_col}
                ORDER BY classified_metaData_changeDate DESC, partitionChangeDate DESC, id DESC) AS pr
            FROM survivors_{i} s
            WHERE partitionChangeDate >= '{_DATES.first_day_current_month}'
        ) WHERE pr = 1
        UNION ALL
        SELECT * EXCLUDE (pr) FROM (
            SELECT s.*, row_number() OVER (
                PARTITION BY classified_metaData_classifiedId
                ORDER BY classified_metaData_changeDate DESC, partitionChangeDate DESC, id DESC) AS pr
            FROM survivors_{i} s
            WHERE partitionChangeDate < '{_DATES.first_day_current_month}'
        ) WHERE pr = 1
    ),
    mod_{i} AS (
        SELECT s.id, s.partitionChangeDate, s.changeDate, s.globalObjectKey, s.operation,
               s.classified_metaData_classifiedId, s.classified_metaData_changeDate,
               s.cleaned_classified_distributionType AS classified_distributionType,
               s.classified_estateType, s.classified_geo_city, s.classified_prices_currency,
               s.classified_estateSubTypes_house, s.classified_estateSubTypes_apartment,
               s.cleanupdataproblems,
               s.cleaned_classified_prices_buy_price_amount AS classified_prices_buy_price_amount,
               s.cleaned_classified_prices_rent_baseRent_amount AS classified_prices_rent_baseRent_amount,
               s.cleaned_classified_prices_buy_operatingCosts_amount AS classified_prices_buy_operatingCosts_amount,
               s.cleaned_classified_prices_rent_operatingCosts_amount AS classified_prices_rent_operatingCosts_amount,
               CAST(round(s.cleaned_classified_structure_rooms_numberofrooms) AS INT) AS classified_structure_rooms_numberofrooms,
               s.classified_texts_title, s.classified_texts_description,
               s.fraudLevelId,
               s.userDefined_immoWelt_contact_requests, s.userDefined_immoWelt_iw_contact_requests,
               s.userDefined_immoWelt_in_contact_requests,
               s.userDefined_immoWelt_expose_visits, s.userDefined_immoWelt_iw_expose_visits,
               s.userDefined_immoWelt_in_expose_visits,
               {geo_state} AS geo_state, {county} AS geo_userDefined_immoWelt_county,
               {geoid} AS partitionGeoid, '{_DATES.partition_month}' AS partitionMonth
        FROM final_{i} s{geo_joins}
    )"""


def _e2e_oracle() -> str:
    parts = [_derivation_sql(), _pipeline_sql()]
    selects = []
    for i, spec in enumerate(DEFAULT_SLICES):
        parts.append(_slice_sql(i, spec.geoid, spec.distribution_type, spec.price_amount_column))
        selects.append(f"SELECT * FROM mod_{i}")
    return "WITH " + ",".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@register(
    "pipeline_consume_batch_e2e",
    oracle=_e2e_oracle(),
    doc="The faithful consume-batch job END TO END under one value hash: "
    "derived reference-shaped inputs, then the CLI's run_job: stage-0 "
    "merge staged to a snappy-parquet table, stages 1-3 + modify_data "
    "for all 4 slices in one uncached pass (the enrichment inputs built "
    "inside it) written once as the parquet sink, per-slice gzip CSV + "
    "JSON derived from it, all three sinks published together, "
    "result read back FROM THE PARQUET SINK. "
    "Oracle replays the derivation and every stage in DuckDB "
    "(reference script/main.py:300-416).",
    tags=("bench", "eager"),
)
def pipeline_consume_batch_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE stable output tree per process, replaced on each call: a fresh
    # tmp dir per call would leak a full three-sink output copy per
    # bench iteration
    out_root = os.path.join(tempfile.gettempdir(), "spark_graft_consume_e2e")
    shutil.rmtree(out_root, ignore_errors=True)
    os.makedirs(out_root, exist_ok=True)
    run_job(
        derive_consume_inputs(spark, sf_dir), _DATES, out_root,
        json_clock="2024-01-30 00:00:00",
    )
    return spark.read.parquet(f"{out_root}/parquet").select(*OUTPUT_COLS)
