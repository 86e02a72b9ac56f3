"""Pipeline-level golden test (SURVEY.md §5 point 2): the faithful
consume-batch re-expression over reference-shaped fixtures
(FIXTURES.md §1-§7), checked per slice against an independently
written DuckDB formulation of the same semantics.

Fixture coverage: delete backfill (with and without donor), date-window
exclusions on both string and to_date comparisons, per-day version
dedup, filtered-out distributions/estate types/geo prefixes,
cleanupdataproblems threshold, visibility multiplicity + expiry +
absence, fraud levels (pass / fail / missing / delete-op), nullable
counters, price changes across the month boundary, geo lookup hit and
miss (and an AT prefix present in the lookups), backslashed city names,
non-integral room counts, a listing whose rows fall in two slices.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from st_bigdata_consume_batch_ma_with_cr_ecd_spark.pipelines.consume_batch import (
    DEFAULT_SLICES,
    JobDates,
    SliceSpec,
    basedata_enrich,
    basedata_final,
    basedata_first,
    consume_batch,
    filter_changelog,
    merge_delete,
    modify_data,
    run_job,
    shape_json_output,
)

DATES = JobDates.resolve(dt.date(2024, 7, 15), days_ago=10)

# ---------------------------------------------------------------- fixtures

PAYLOAD_COLS = [
    "classified_metaData_classifiedId",
    "classified_metaData_changeDate",
    "classified_estateType",
    "classified_estateSubTypes_house",
    "classified_estateSubTypes_apartment",
    "classified_geo_countrySpecific_de_iwtLegacyGeoID",
    "classified_geo_city",
    "classified_prices_currency",
    "cleaned_classified_distributionType",
    "cleaned_classified_prices_buy_price_amount",
    "cleaned_classified_prices_buy_operatingCosts_amount",
    "cleaned_classified_prices_rent_baseRent_amount",
    "cleaned_classified_prices_rent_operatingCosts_amount",
    "cleaned_classified_structure_rooms_numberofrooms",
    "cleanupdataproblems",
    "extracted_quality_tag",
    "grenzwert_limit_tag",
]
CORE_COLS = ["id", "partitionChangeDate", "changeDate", "globalObjectKey", "operation"]

_DE, _AT = "10801123", "10301543"  # 8-digit county prefixes (DE hits the lookup)


def _row(
    rid,
    pcd,
    cd,
    gok,
    op="Update",
    cid=None,
    mcd=None,
    estate="HOUSE",
    sub_house="VILLA",
    sub_apt=None,
    geo=_DE + "45",
    city="Ham\\\\burg",
    dist="BUY",
    buy=None,
    buy_oc=None,
    rent=None,
    rent_oc=None,
    rooms=3.5,
    problems=1,
):
    return dict(
        id=rid,
        partitionChangeDate=pcd,
        changeDate=dt.datetime.fromisoformat(cd),
        globalObjectKey=gok,
        operation=op,
        classified_metaData_classifiedId=cid,
        classified_metaData_changeDate=dt.datetime.fromisoformat(mcd or cd),
        classified_estateType=estate,
        classified_estateSubTypes_house=sub_house,
        classified_estateSubTypes_apartment=sub_apt,
        classified_geo_countrySpecific_de_iwtLegacyGeoID=geo,
        classified_geo_city=city,
        classified_prices_currency="EUR",
        cleaned_classified_distributionType=dist,
        cleaned_classified_prices_buy_price_amount=buy,
        cleaned_classified_prices_buy_operatingCosts_amount=buy_oc,
        cleaned_classified_prices_rent_baseRent_amount=rent,
        cleaned_classified_prices_rent_operatingCosts_amount=rent_oc,
        cleaned_classified_structure_rooms_numberofrooms=rooms,
        cleanupdataproblems=problems,
        extracted_quality_tag="q1",
        grenzwert_limit_tag="g1",
    )


def changelog_rows():
    R = _row
    return [
        # C1: version history with a same-day duplicate and a price change
        R("r01", "2024-06-10", "2024-06-10 08:00:00", "G1", cid="C1", buy=90000.0),  # pre-window: excluded
        R("r02", "2024-06-25", "2024-06-25 08:00:00", "G1", cid="C1", buy=100000.0),
        R("r03", "2024-07-05", "2024-07-05 08:00:00", "G1", cid="C1", buy=100000.0),
        R("r04", "2024-07-10", "2024-07-10 07:00:00", "G1", cid="C1", buy=108000.0),  # same-day loser
        R("r05", "2024-07-10", "2024-07-10 09:00:00", "G1", cid="C1", buy=110000.0),
        # C2: delete backfill (donor r06), plus a too-old delete (excluded)
        R("r06", "2024-06-28", "2024-06-28 10:00:00", "G2", cid="C2", buy=200000.0, buy_oc=150.0),
        R("r07", "2024-07-03", "2024-07-03 11:00:00", "G2", op="Delete", cid=None),
        R("r08", "2024-06-10", "2024-06-10 11:00:00", "G2", op="Delete", cid=None),  # < first_day_past
        # C3: RENT with duplicated visibility rows
        R("r09", "2024-06-22", "2024-06-22 09:00:00", "G3", cid="C3", dist="RENT",
          estate="APARTMENT", sub_house=None, sub_apt="PENTHOUSE", rent=1000.0, rent_oc=80.0),
        R("r10", "2024-07-06", "2024-07-06 09:00:00", "G3", cid="C3", dist="RENT",
          estate="APARTMENT", sub_house=None, sub_apt="PENTHOUSE", rent=1100.0, rent_oc=None),
        # C4: fraud level > 0 -> dropped in stage 3
        R("r11", "2024-07-04", "2024-07-04 09:00:00", "G4", cid="C4", buy=400000.0),
        # C5: no fraud record at all -> NULL fraudLevelId -> dropped
        R("r12", "2024-07-04", "2024-07-04 10:00:00", "G5", cid="C5", dist="RENT",
          estate="APARTMENT", sub_house=None, rent=900.0),
        # C6: no visibility row; C7: expired visibility -> both dropped in stage 2
        R("r13", "2024-07-05", "2024-07-05 10:00:00", "G6", cid="C6", buy=600000.0),
        R("r14", "2024-07-05", "2024-07-05 11:00:00", "G7", cid="C7", buy=700000.0),
        # C8/C9: Austria
        R("r15", "2024-07-02", "2024-07-02 09:00:00", "G8", cid="C8", geo=_AT + "21", buy=300000.0),
        R("r16", "2024-06-23", "2024-06-23 09:00:00", "G9", cid="C9", geo=_AT + "21", dist="RENT",
          estate="APARTMENT", sub_house=None, sub_apt=None, rent=800.0, rooms=2.4),
        # C10: bad quality only -> excluded by cleanupdataproblems <= 3
        R("r17", "2024-07-06", "2024-07-06 10:00:00", "G10", cid="C10", buy=555000.0, problems=7),
        # filtered out entirely: wrong distribution / estate / geo prefix
        R("r18", "2024-07-06", "2024-07-06 11:00:00", "G11", cid="C11", dist="SHARE", buy=1.0),
        R("r19", "2024-07-06", "2024-07-06 12:00:00", "G12", cid="C12", estate="OFFICE", buy=1.0),
        R("r20", "2024-07-06", "2024-07-06 13:00:00", "G13", cid="C13", geo="99912345", buy=1.0),
        # delete with no donor -> dropped by the inner as-of join
        R("r21", "2024-07-04", "2024-07-04 12:00:00", "G14", op="Delete", cid=None),
        # C15 switches between BUY and RENT: rows in two slices, before
        # and inside the month, two on one day; each slice keeps its own
        R("r22", "2024-06-24", "2024-06-24 09:00:00", "G15", cid="C15", buy=250000.0),
        R("r23", "2024-06-26", "2024-06-26 09:00:00", "G15", cid="C15", dist="RENT", rent=1200.0),
        R("r24", "2024-07-08", "2024-07-08 09:00:00", "G15", cid="C15", dist="RENT", rent=1250.0),
        R("r25", "2024-07-08", "2024-07-08 10:00:00", "G15", cid="C15", buy=260000.0),
    ]


TEXT_IDS = {"r02", "r03", "r04", "r05", "r06"}  # C3 has no texts -> NULLs
TEXT_COLS = [f"classified_texts_{n}_de" for n in ("headline", "description")]


@pytest.fixture(scope="module")
def fixture_tables(spark):
    changelog_pd = pd.DataFrame(changelog_rows())
    texts_pd = pd.DataFrame(
        [{"id": i, TEXT_COLS[0]: f"head-{i}", TEXT_COLS[1]: f"desc-{i}"} for i in sorted(TEXT_IDS)]
    )
    visibility_pd = pd.DataFrame(
        [
            {"classifiedId": "C1", "aktivab": dt.date(2024, 6, 1), "aktivbis": dt.date(2024, 8, 1)},
            {"classifiedId": "C2", "aktivab": dt.date(2024, 6, 1), "aktivbis": dt.date(2024, 7, 20)},
            # C3 duplicated on purpose (multiplicity-preserving inner join)
            {"classifiedId": "C3", "aktivab": dt.date(2024, 6, 1), "aktivbis": dt.date(2024, 8, 1)},
            {"classifiedId": "C3", "aktivab": dt.date(2024, 6, 5), "aktivbis": dt.date(2024, 7, 25)},
            {"classifiedId": "C4", "aktivab": dt.date(2024, 6, 1), "aktivbis": dt.date(2024, 8, 1)},
            {"classifiedId": "C5", "aktivab": dt.date(2024, 6, 1), "aktivbis": dt.date(2024, 8, 1)},
            # C7 expired before the current month; C6 absent
            {"classifiedId": "C7", "aktivab": dt.date(2024, 5, 1), "aktivbis": dt.date(2024, 6, 15)},
            {"classifiedId": "C8", "aktivab": dt.date(2024, 6, 1), "aktivbis": dt.date(2024, 8, 1)},
            {"classifiedId": "C9", "aktivab": dt.date(2024, 6, 1), "aktivbis": dt.date(2024, 8, 1)},
            {"classifiedId": "C15", "aktivab": dt.date(2024, 6, 1), "aktivbis": dt.date(2024, 8, 1)},
        ]
    )
    fraud_pd = pd.DataFrame(
        [
            {"globalObjectKey": "C1", "changeDate": dt.datetime(2024, 7, 1), "operation": "Insert", "fraud_level": 1},
            {"globalObjectKey": "C1", "changeDate": dt.datetime(2024, 7, 9), "operation": "Update", "fraud_level": 0},
            {"globalObjectKey": "C1", "changeDate": dt.datetime(2024, 7, 11), "operation": "Delete", "fraud_level": 9},
            {"globalObjectKey": "C2", "changeDate": dt.datetime(2024, 7, 2), "operation": "Insert", "fraud_level": -1},
            {"globalObjectKey": "C3", "changeDate": dt.datetime(2024, 7, 2), "operation": "Insert", "fraud_level": 0},
            {"globalObjectKey": "C4", "changeDate": dt.datetime(2024, 7, 2), "operation": "Insert", "fraud_level": 2},
            {"globalObjectKey": "C8", "changeDate": dt.datetime(2024, 7, 2), "operation": "Insert", "fraud_level": 0},
            {"globalObjectKey": "C9", "changeDate": dt.datetime(2024, 7, 2), "operation": "Insert", "fraud_level": 0},
            {"globalObjectKey": "C15", "changeDate": dt.datetime(2024, 7, 2), "operation": "Insert", "fraud_level": 0},
        ]
    )
    contacts_pd = pd.DataFrame(
        [
            {"classifiedId": "C1", "emailContactRequest": 5, "emailContactRequestIW": None, "emailContactRequestIN": 1},
            {"classifiedId": "C1", "emailContactRequest": None, "emailContactRequestIW": 2, "emailContactRequestIN": None},
            {"classifiedId": "C3", "emailContactRequest": 7, "emailContactRequestIW": 1, "emailContactRequestIN": None},
        ],
        dtype="object",
    )
    visits_pd = pd.DataFrame(
        [
            {"classifiedId": "C1", "exposeVisits": 10, "exposeVisitsIW": 4, "exposeVisitsIN": None},
            {"classifiedId": "C8", "exposeVisits": None, "exposeVisitsIW": None, "exposeVisitsIN": 3},
        ],
        dtype="object",
    )
    # the AT rows' prefixes (10301, 10301543) are in the dims too: only
    # the Germany gate keeps them from matching
    bundeslaender_pd = pd.DataFrame(
        [
            {"geoid": 10801, "bundesland": "BL1"},
            {"geoid": 10399, "bundesland": "BLX"},
            {"geoid": 10301, "bundesland": "BL-AT"},
        ]
    )
    stadtlandkreise_pd = pd.DataFrame(
        [
            {"geoid": 10801123, "landkreis": "LK1", "stadtkreis": True},
            {"geoid": 10301543, "landkreis": "LK-AT", "stadtkreis": False},
        ]
    )

    con = duckdb.connect()
    sdfs = {}
    for name, pdf, schema in [
        ("changelog", changelog_pd, None),
        ("texts", texts_pd, None),
        ("visibility", visibility_pd, None),
        ("contacts", contacts_pd, "classifiedId string, emailContactRequest int, emailContactRequestIW int, emailContactRequestIN int"),
        ("visits", visits_pd, "classifiedId string, exposeVisits int, exposeVisitsIW int, exposeVisitsIN int"),
        ("bundeslaender", bundeslaender_pd, None),
        ("stadtlandkreise", stadtlandkreise_pd, None),
    ]:
        con.register(name, pdf)
        sdfs[name] = (
            spark.createDataFrame(pdf, schema=schema) if schema else spark.createDataFrame(pdf)
        )
    # fraud: Spark wants the nested controlData struct; DuckDB gets it flat
    con.register("fraud", fraud_pd)
    sdfs["fraud"] = spark.createDataFrame(fraud_pd).select(
        "globalObjectKey", "changeDate", "operation", F.struct(F.col("fraud_level").alias("FraudLevelId")).alias("controlData")
    )
    return con, sdfs


# ---------------------------------------------------------------- oracle SQL

_P = ", ".join(PAYLOAD_COLS)


def slice_oracle(geo_prefix: str, dist: str, price_col: str) -> str:
    """An independent DuckDB formulation of stages 0-3 for one slice."""
    return f"""
    WITH kept AS (
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
          AND CAST(partitionChangeDate AS DATE) >= DATE '{DATES.first_day_past}'
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
                   row_number() OVER (PARTITION BY d.id
                                      ORDER BY a.changeDate DESC, a.id DESC) AS pick
            FROM broken d JOIN alive a
              ON d.globalObjectKey = a.globalObjectKey AND d.changeDate >= a.changeDate
        ) WHERE pick = 1
    ),
    merged AS (
        SELECT * FROM repaired
        UNION ALL
        SELECT id, partitionChangeDate, changeDate, globalObjectKey, operation, {_P}
        FROM alive WHERE CAST(partitionChangeDate AS DATE) >= DATE '{DATES.first_day_past}'
    ),
    day_latest AS (
        SELECT * EXCLUDE (v_rank) FROM (
            SELECT m.*, {geo_prefix} AS partitionGeoid,
                   row_number() OVER (
                       PARTITION BY classified_metaData_classifiedId,
                                    CAST(classified_metaData_changeDate AS DATE)
                       ORDER BY classified_metaData_changeDate DESC,
                                partitionChangeDate DESC, id DESC) AS v_rank
            FROM merged m
            WHERE classified_geo_countrySpecific_de_iwtLegacyGeoID LIKE '{geo_prefix}%'
              AND cleanupdataproblems <= 3
              AND cleaned_classified_distributionType = '{dist}'
        ) WHERE v_rank = 1
    ),
    with_texts AS (
        SELECT d.*, t.{TEXT_COLS[0]}, t.{TEXT_COLS[1]}
        FROM day_latest d LEFT JOIN texts t ON d.id = t.id
    ),
    vis_ok AS (
        SELECT classifiedId FROM visibility
        WHERE aktivbis >= DATE '{DATES.first_day_current_month}'
          AND aktivab < DATE '{DATES.partition_date}'
    ),
    latest_fraud AS (
        SELECT globalObjectKey, max_by(fraud_level, changeDate) AS fraudLevelId
        FROM fraud WHERE operation <> 'Delete' GROUP BY globalObjectKey
    ),
    crs AS (
        SELECT classifiedId,
               sum(coalesce(emailContactRequest, 0))   AS userDefined_immoWelt_contact_requests,
               sum(coalesce(emailContactRequestIW, 0)) AS userDefined_immoWelt_iw_contact_requests,
               sum(coalesce(emailContactRequestIN, 0)) AS userDefined_immoWelt_in_contact_requests
        FROM contacts GROUP BY classifiedId
    ),
    evs AS (
        SELECT classifiedId,
               sum(coalesce(exposeVisits, 0))   AS userDefined_immoWelt_expose_visits,
               sum(coalesce(exposeVisitsIW, 0)) AS userDefined_immoWelt_iw_expose_visits,
               sum(coalesce(exposeVisitsIN, 0)) AS userDefined_immoWelt_in_expose_visits
        FROM evs_src GROUP BY classifiedId
    ),
    enriched AS (
        SELECT w.*, lf.fraudLevelId,
               coalesce(crs.userDefined_immoWelt_contact_requests, 0)    AS userDefined_immoWelt_contact_requests,
               coalesce(crs.userDefined_immoWelt_iw_contact_requests, 0) AS userDefined_immoWelt_iw_contact_requests,
               coalesce(crs.userDefined_immoWelt_in_contact_requests, 0) AS userDefined_immoWelt_in_contact_requests,
               coalesce(evs.userDefined_immoWelt_expose_visits, 0)       AS userDefined_immoWelt_expose_visits,
               coalesce(evs.userDefined_immoWelt_iw_expose_visits, 0)    AS userDefined_immoWelt_iw_expose_visits,
               coalesce(evs.userDefined_immoWelt_in_expose_visits, 0)    AS userDefined_immoWelt_in_expose_visits
        FROM with_texts w
        JOIN vis_ok v ON w.classified_metaData_classifiedId = v.classifiedId
        LEFT JOIN latest_fraud lf ON w.classified_metaData_classifiedId = lf.globalObjectKey
        LEFT JOIN crs ON w.classified_metaData_classifiedId = crs.classifiedId
        LEFT JOIN evs ON w.classified_metaData_classifiedId = evs.classifiedId
    ),
    newest_kept AS (
        SELECT classified_metaData_classifiedId AS cid_k, max(classified_metaData_changeDate) AS m
        FROM enriched GROUP BY 1
    ),
    newest_any AS (
        SELECT classified_metaData_classifiedId AS cid_a, max(classified_metaData_changeDate) AS m
        FROM with_texts
        WHERE classified_metaData_changeDate < TIMESTAMP '{DATES.first_day_current_month} 00:00:00'
        GROUP BY 1
    ),
    gone_stale AS (
        SELECT cid_k FROM newest_kept LEFT JOIN newest_any ON cid_k = cid_a
        WHERE newest_kept.m < newest_any.m
    ),
    survivors AS (
        SELECT * FROM enriched
        WHERE classified_metaData_classifiedId NOT IN (SELECT cid_k FROM gone_stale)
          AND fraudLevelId <= 0
    ),
    month_prices AS (
        SELECT * EXCLUDE (pr) FROM (
            SELECT s.*, row_number() OVER (
                PARTITION BY classified_metaData_classifiedId, {price_col}
                ORDER BY classified_metaData_changeDate DESC, partitionChangeDate DESC, id DESC) AS pr
            FROM survivors s
            WHERE partitionChangeDate >= '{DATES.first_day_current_month}'
        ) WHERE pr = 1
    ),
    prior_price AS (
        SELECT * EXCLUDE (pr) FROM (
            SELECT s.*, row_number() OVER (
                PARTITION BY classified_metaData_classifiedId
                ORDER BY classified_metaData_changeDate DESC, partitionChangeDate DESC, id DESC) AS pr
            FROM survivors s
            WHERE partitionChangeDate < '{DATES.first_day_current_month}'
        ) WHERE pr = 1
    )
    SELECT * FROM month_prices UNION ALL SELECT * FROM prior_price
    """.replace("FROM evs_src", "FROM visits")


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "∅"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, (dt.datetime, dt.date)):
            return v.isoformat()
        return str(v)

    return sorted("|".join(cell(r[i]) for i in order) for r in rows)


# ---------------------------------------------------------------- golden tests


def _stages_0_to_3(t, slices):
    merged = merge_delete(filter_changelog(t["changelog"]), DATES.first_day_past)
    first = basedata_first(merged, t["texts"], slices)
    base = basedata_enrich(first, t["visibility"], t["fraud"], t["contacts"], t["visits"], DATES)
    return basedata_final(base, first, DATES, slices)


def _oracle_rows(con, specs):
    rows, cols = [], None
    for spec in specs:
        res = con.execute(slice_oracle(str(spec.geoid), spec.distribution_type, spec.price_amount_column))
        cols = [d[0] for d in res.description]
        rows += res.fetchall()
    return rows, cols


_SPEC_IDS = [f"{s.geoid}-{s.distribution_type}" for s in DEFAULT_SLICES]


@pytest.mark.parametrize(
    "specs", [(s,) for s in DEFAULT_SLICES] + [DEFAULT_SLICES], ids=_SPEC_IDS + ["all"]
)
def test_slice_matches_independent_duckdb_formulation(spark, fixture_tables, specs):
    """One slice at a time, and all slices in one pass, which must equal
    the union of the per-slice oracle results."""
    con, t = fixture_tables
    final = _stages_0_to_3(t, specs)
    d_rows, d_cols = _oracle_rows(con, specs)

    s_cols = final.columns
    s_rows = [tuple(r) for r in final.collect()]
    assert sorted(map(str.lower, s_cols)) == sorted(map(str.lower, d_cols))
    assert canon(s_rows, [c.lower() for c in s_cols]) == canon(d_rows, [c.lower() for c in d_cols])
    assert len(s_rows) > 0 or specs[0].geoid == 103  # DE slices must be non-empty


def test_overlapping_slices_are_rejected(spark, fixture_tables):
    # a row under geo prefix 108 would belong to both slices
    _, t = fixture_tables
    with pytest.raises(ValueError, match="overlap"):
        basedata_first(t["changelog"], t["texts"], (SliceSpec(10, "BUY"), SliceSpec(108, "BUY")))


def test_expected_listing_level_outcomes(spark, fixture_tables):
    con, t = fixture_tables
    rows = _stages_0_to_3(t, (SliceSpec(108, "BUY"),)).collect()
    by_cid = {}
    for r in rows:
        by_cid.setdefault(r.classified_metaData_classifiedId, []).append(r)

    # C1: previous price (100k) + two current-month price rows (100k, 110k);
    # the same-day 108k version lost the per-day dedup
    c1_prices = sorted(r.cleaned_classified_prices_buy_price_amount for r in by_cid["C1"])
    assert c1_prices == [100000.0, 100000.0, 110000.0]
    assert not any(r.cleaned_classified_prices_buy_price_amount == 108000.0 for r in rows)
    # C2: the backfilled delete carries the donor's payload INCLUDING its
    # metaData_changeDate, so it lands in the donor's day-partition and
    # wins the per-day dedup on partitionChangeDate — the donor row is
    # superseded (faithful stage-0/stage-1 interaction)
    assert [r.operation for r in by_cid["C2"]] == ["Delete"]
    assert by_cid["C2"][0].cleaned_classified_prices_buy_price_amount == 200000.0
    assert by_cid["C2"][0].cleaned_classified_prices_buy_operatingCosts_amount == 150.0
    # dropped for fraud (C4), missing fraud (C5), no/expired visibility (C6, C7),
    # quality threshold (C10), hard filters (C11-C13)
    for gone in ("C4", "C5", "C6", "C7", "C10", "C11", "C12", "C13"):
        assert gone not in by_cid
    # C1 counters aggregated with COALESCE defaults
    r = by_cid["C1"][0]
    assert r.userDefined_immoWelt_contact_requests == 5
    assert r.userDefined_immoWelt_iw_contact_requests == 2
    assert r.userDefined_immoWelt_expose_visits == 10


def test_modify_data_output_shape(spark, fixture_tables):
    con, t = fixture_tables
    final = _stages_0_to_3(t, (SliceSpec(108, "BUY"), SliceSpec(103, "BUY")))
    out = modify_data(final, DATES.partition_month, t["bundeslaender"], t["stadtlandkreise"])

    rows = {r.classified_metaData_classifiedId: r for r in out.collect()}
    r = rows["C1"]
    assert r.geo_state == "BL1" and r.geo_userDefined_immoWelt_county == "LK1"
    assert r.classified_geo_city == "Hamburg"  # double backslash stripped
    assert r.classified_structure_rooms_numberofrooms == 4  # 3.5 -> 4, int
    assert r.partitionGeoid == 108 and r.partitionMonth == "2024-07"
    assert "classified_geo_countrySpecific_de_iwtLegacyGeoID" not in out.columns
    assert not any(c.startswith("cleaned_") for c in out.columns)
    assert out.columns[-2:] == ["partitionGeoid", "partitionMonth"]
    # a real AT row gets NULL geo columns although its prefixes are in
    # both dims: the lookups apply to Germany only
    at = rows["C8"]
    assert at.partitionGeoid == 103
    assert at.geo_state is None and at.geo_userDefined_immoWelt_county is None


def test_consume_batch_end_to_end_and_json_shape(spark, fixture_tables):
    con, t = fixture_tables
    union = consume_batch(t, DATES)
    rows = union.collect()
    assert len(rows) > 0
    assert {r.partitionGeoid for r in rows} <= {108, 103}
    # slices union by name: every row has the full output schema
    assert "userDefined_immoWelt_expose_visits" in union.columns

    shaped = shape_json_output(
        union.where(F.col("partitionGeoid") == 108), "BUY", clock="2026-01-01 00:00:00"
    )
    schema = {f.name: f.dataType for f in shaped.schema.fields}
    assert schema["subTypes"].simpleString() == "map<string,string>"
    assert schema["prices"].simpleString().startswith("struct<")
    assert "metaData" in schema and "changeLog" in schema["metaData"].simpleString()
    first_shaped = shaped.collect()[0]
    assert first_shaped.subTypes in ({"house": "VILLA"}, {"apartment": "PENTHOUSE"})


def test_cli_driver_writes_all_three_sinks(spark, fixture_tables, tmp_path, capsys):
    """tools/run_consume_batch.py end-to-end: same fixtures via parquet
    inputs, all three reference sinks written, and the parquet sink's
    rows equal the lazy reference plan's. The change-log input has no
    AT BUY rows, so one slice is empty. Output contract: every slice
    commits one gzip file per text sink (the empty one too), its CSV
    header is the parquet sink's column order and its CSV row count is
    the one the CLI reports, and ``partitionGeoid`` is a required
    (non-nullable) parquet column. Row order inside a file is not part
    of the contract."""
    import gzip
    import json
    import sys
    from pathlib import Path

    import pyarrow.parquet as pq

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import run_consume_batch as cli

    _, t = fixture_tables
    geo = F.col("classified_geo_countrySpecific_de_iwtLegacyGeoID")
    t = {
        **t,
        "changelog": t["changelog"].where(
            ~(geo.startswith("103") & (F.col("cleaned_classified_distributionType") == "BUY"))
        ),
    }
    in_dir, out_dir = tmp_path / "in", tmp_path / "out"
    for name in cli.INPUT_TABLES:
        t[name].write.mode("overwrite").parquet(str(in_dir / name))

    capsys.readouterr()
    rc = cli.main(
        [
            "--input-dir", str(in_dir),
            "--output-dir", str(out_dir),
            "--partition-date", "2024-07-15",
            "--days-ago", "10",
        ]
    )
    assert rc == 0
    rows_per_slice = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["rows_per_slice"]
    assert rows_per_slice["103_BUY"] == 0
    assert all(n > 0 for tag, n in rows_per_slice.items() if tag != "103_BUY")

    expected = consume_batch(t, DATES)
    parquet = spark.read.parquet(str(out_dir / "parquet"))
    assert parquet.columns == expected.columns
    canon = lambda df: sorted(map(str, (tuple(r) for r in df.collect())))  # noqa: E731
    want = canon(expected)
    assert len(want) > 0
    assert canon(parquet) == want
    for f in (out_dir / "parquet").rglob("*.parquet"):
        assert not pq.read_schema(f).field("partitionGeoid").nullable

    for spec in DEFAULT_SLICES:
        tag = f"{spec.geoid}_{spec.distribution_type}"
        for kind in ("csv", "json"):
            sink = out_dir / kind / tag
            assert (sink / "_SUCCESS").exists()
            assert len([p for p in sink.iterdir() if p.name.endswith(".gz")]) == 1
        (csv_gz,) = (out_dir / "csv" / tag).glob("*.gz")
        with gzip.open(csv_gz, "rt") as fh:
            header, *data = fh.read().splitlines()
        assert header.split(",") == parquet.columns
        assert len(data) == rows_per_slice[tag]


def test_run_job_leaves_no_persistent_rdds(spark, fixture_tables, tmp_path):
    """A driver that runs the job again and again must not pile up
    blocks: run_job leaves the persistent-RDD registry as it found it."""
    _, t = fixture_tables
    jsc = spark.sparkContext._jsc
    before = len(jsc.getPersistentRDDs())
    run_job(t, DATES, str(tmp_path / "out"))
    assert len(jsc.getPersistentRDDs()) == before


@pytest.fixture(scope="module")
def prepared_e2e(spark, sf_dir, tmp_path_factory):
    """``prepare_job`` run on the sf-derived e2e inputs."""
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.pipelines.consume_batch import (
        prepare_job,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads.consume_e2e import (
        _DATES,
        derive_consume_inputs,
    )

    out = tmp_path_factory.mktemp("e2e_prep")
    t = derive_consume_inputs(spark, sf_dir)
    merged = prepare_job(t, _DATES, str(out))
    return t, merged, out, _DATES


def test_e2e_slices_reuse_cached_merge(spark, prepared_e2e):
    """Stage 0 is computed once and REUSED by the slices (reference
    C1): stage 1 built on run_job's prep must scan the
    ``_stage0_staging`` parquet table and must not re-plan any part of
    the merge (its union, as-of join or change-log scan)."""
    t, merged, out, _ = prepared_e2e
    assert any((out / "_stage0_staging").rglob("*.parquet"))
    first = basedata_first(merged, t["texts"], (SliceSpec(108, "BUY"),))
    # every file stage 1 reads is the staged stage 0 or the texts input
    files = first.inputFiles()
    texts = set(t["texts"].inputFiles())
    assert any("/_stage0_staging/" in f for f in files)
    assert all("/_stage0_staging/" in f or f in texts for f in files)
    plan = first._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    assert "InMemoryTableScan" not in plan


def test_stage0_staging_root_is_not_hidden(prepared_e2e):
    """No directory holding the staged stage 0 starts with ``_`` or
    ``.``: Spark's file index treats such a leaf as hidden and logs
    "All paths were ignored" on every read-back."""
    _, merged, _, _ = prepared_e2e
    parents = {f.rsplit("/", 2)[-2] for f in merged.inputFiles()}
    assert parents and not any(p.startswith(("_", ".")) for p in parents), parents


def test_one_pass_frame_scans_stage0_as_often_as_one_slice(spark, prepared_e2e):
    """All four slices are one plan: its executed plan scans the staged
    stage 0 and the texts input exactly as often as a single slice's
    plan, and shuffles no more often. A per-slice union would repeat
    them four times."""
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.pipelines.consume_batch import (
        build_slices,
    )

    t, merged, _, dates = prepared_e2e
    # the directory name of the texts input, as the plan prints it
    texts_path = t["texts"].inputFiles()[0].rsplit("/", 2)[-2]

    def plan(slices):
        df = build_slices(merged, t, slices, dates)
        return df._jdf.queryExecution().executedPlan().toString()

    one, every = plan(DEFAULT_SLICES[:1]), plan(DEFAULT_SLICES)
    assert one.count("_stage0_staging") > 0 and one.count(texts_path) > 0
    assert every.count("_stage0_staging") == one.count("_stage0_staging")
    assert every.count(texts_path) == one.count(texts_path)
    assert every.count("Exchange") <= one.count("Exchange")
