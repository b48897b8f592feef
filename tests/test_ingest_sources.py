"""Tests for the flatten transforms (vs the reference's mock payloads,
tests/test_extractors.py), the REST fetch layer (mocked transport), the
lake IO round-trip, the pipeline runner, and the streaming path."""

import datetime as dt

import pytest

from cloud_native_medical_data_etl_pipeline_spark import schemas
from cloud_native_medical_data_etl_pipeline_spark.operators import ingest
from cloud_native_medical_data_etl_pipeline_spark.sources import lake, rest

from conftest import ORACLE_SF_DIR

# Mirrors the reference FDA mock payload (tests/test_extractors.py:32-52).
FDA_MOCK = {
    "application_number": "NDA123456",
    "sponsor_name": "TEST PHARMA",
    "openfda": {
        "brand_name": ["TEST DRUG"],
        "generic_name": ["testdrugium"],
        "manufacturer_name": ["TEST PHARMA INC"],
    },
    "products": [
        {
            "brand_name": "TEST DRUG",
            "active_ingredients": [{"name": "TESTICUM"}, {"name": "SECONDUM"}],
            "dosage_form": "TABLET",
            "marketing_status": "Prescription",
        }
    ],
    "submissions": [
        {"submission_status_date": "20240110", "submission_type": "SUPPL"},
        {"submission_status_date": "20250115", "submission_type": "ORIGINAL"},
    ],
}

# Mirrors the reference CT mock payload (tests/test_extractors.py:115-130).
CT_MOCK = {
    "protocolSection": {
        "identificationModule": {
            "nctId": "NCT12345678",
            "orgStudyIdInfo": {"id": "ORG001"},
            "briefTitle": "Test Study",
            "officialTitle": "A Test Study",
        },
        "statusModule": {
            "overallStatus": "RECRUITING",
            "studyFirstPostDateStruct": {"date": "2024-01-01"},
            "lastUpdatePostDateStruct": {"date": "2024-02-01"},
            "startDateStruct": {"date": "2024-03-01"},
            "completionDateStruct": {"date": "2025-03-01"},
        },
        "descriptionModule": {"briefSummary": "s", "detailedDescription": "d"},
        "conditionsModule": {"conditions": ["Diabetes", "Obesity"], "keywords": ["k1"]},
        "designModule": {
            "studyType": "INTERVENTIONAL",
            "phases": ["PHASE2", "PHASE3"],
            "enrollmentInfo": {"count": 150},
            "designInfo": {
                "allocation": "RANDOMIZED",
                "interventionModel": "PARALLEL",
                "primaryPurpose": "TREATMENT",
                "masking": {"masking": "DOUBLE"},
            },
        },
        "armsInterventionsModule": {
            "interventions": [{"type": "DRUG"}, {"type": "DRUG"}, {"type": ""}]
        },
        "outcomesModule": {
            "primaryOutcomes": [
                {"measure": "m1"}, {"measure": "m2"}, {"measure": "m3"},
                {"measure": "m4"},
            ]
        },
        "eligibilityModule": {
            "sex": "ALL", "minimumAge": "18 Years", "maximumAge": "65 Years",
            "healthyVolunteers": False,
        },
        "contactsLocationsModule": {
            "locations": [{"country": "United States"}, {"country": "Canada"}]
        },
        "sponsorCollaboratorsModule": {"leadSponsor": {"name": "TEST PHARMA"}},
    }
}


def test_flatten_fda(spark):
    raw = rest.fda_raw_df(spark, [FDA_MOCK])
    row = ingest.flatten_fda(raw).collect()[0]
    assert row["application_number"] == "NDA123456"
    assert row["openfda_brand_name"] == "TEST DRUG"
    assert row["brand_name"] == "TEST DRUG"
    assert row["active_ingredients"] == "TESTICUM, SECONDUM"
    # argmax: latest submission by status date
    assert row["latest_submission_date"] == dt.date(2025, 1, 15)
    assert row["submission_type"] == "ORIGINAL"


def test_flatten_fda_malformed(spark):
    # record with only an application number — everything else defaults
    raw = rest.fda_raw_df(spark, [{"application_number": "X"}])
    row = ingest.flatten_fda(raw).collect()[0]
    assert row["brand_name"] == ""
    assert row["latest_submission_date"] is None
    assert row["active_ingredients"] == ""


def test_flatten_ct(spark):
    raw = rest.ct_raw_df(spark, [CT_MOCK])
    row = ingest.flatten_ct(raw).collect()[0]
    assert row["nct_id"] == "NCT12345678"
    assert row["conditions"] == "Diabetes, Obesity"
    assert row["phase"] == "PHASE2, PHASE3"
    assert row["enrollment_count"] == 150.0
    assert row["intervention_types"] == "DRUG"  # distinct, empty filtered
    assert row["primary_outcome_measures"] == "m1 | m2 | m3"  # top-3
    assert row["location_countries"] == "United States, Canada"
    assert row["start_date"] == dt.date(2024, 3, 1)
    # 28 columns (reference clinicaltrials_extractor.py:147-200 emits
    # 28, not the 26 SURVEY §1.4 miscounted)
    assert len(row.asDict()) == 28


def test_fetch_fda_pagination():
    pages = [
        {"results": [{"application_number": f"A{i}"} for i in range(99)]},
        {"results": [{"application_number": "B0"}]},  # short page -> stop
    ]
    calls = []

    def fake_get(url, params):
        calls.append(dict(params))
        return pages[len(calls) - 1]

    out = rest.fetch_fda_records(
        "20240101", "20240131", limit=500, http_get=fake_get, sleep=lambda s: None
    )
    assert len(out) == 100
    assert calls[0]["skip"] == 0 and calls[1]["skip"] == 99
    assert "20240101 TO 20240131" in calls[0]["search"]  # pushdown


def test_fetch_fda_retry_then_fail():
    attempts = []

    def flaky(url, params):
        attempts.append(1)
        raise OSError("boom")

    sleeps = []
    out = rest.fetch_fda_records(
        "20240101", "20240131", limit=10, http_get=flaky, sleep=sleeps.append
    )
    assert out == []
    assert len(attempts) == 3  # reference retry count
    # linear backoff 2*(attempt+1), none after the last attempt, and no
    # rate-limit pause once the scan gives up (fda_extractor.py:102-123)
    assert sleeps == [2, 4]


def test_fetch_ct_cursor():
    pages = {
        None: {"studies": [{"s": 1}, {"s": 2}], "nextPageToken": "T1"},
        "T1": {"studies": [{"s": 3}]},
    }
    def fake_get(url, params):
        return pages[params.get("pageToken")]

    out = rest.fetch_ct_studies(
        "2024-01-01", page_size=2, http_get=fake_get, sleep=lambda s: None
    )
    assert len(out) == 3


def test_lake_roundtrip(spark, tmp_path):
    base = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], "name string, value double"
    )
    lake.write_partitioned(df, base, "2024-01-15")
    back = lake.read_partition(spark, base, "2024-01-15")
    assert {tuple(r) for r in back.collect()} == {("a", 1.0), ("b", 2.0)}
    # missing partition day -> empty with schema
    empty = lake.read_partition(
        spark, base, "2024-01-16", schema=df.schema
    )
    assert empty.count() == 0
    # missing base entirely -> empty with schema
    empty2 = lake.read_partition(
        spark, str(tmp_path / "nope"), "2024-01-15", schema=df.schema
    )
    assert empty2.count() == 0 and empty2.schema == df.schema


def test_pipeline_run(spark, tmp_path):
    from cloud_native_medical_data_etl_pipeline_spark.plans import pipeline

    fda = spark.createDataFrame(
        [
            {
                "safetyreportid": f"r{i}",
                "receivedate": dt.date(2024, 1, 10),
                "serious": 1,
                "seriousnessdeath": 0,
                "seriousnesshospitalization": 1,
                "drug_name": "ASPIRIN",
                "drug_indication": "Headache",
                "reaction": "X",
                "patient_age": 40.0,
                "patient_sex": "1",
            }
            for i in range(6)
        ],
        schema=schemas.FDA_EVENTS,
    )
    ct = spark.createDataFrame(
        [
            {
                "nct_id": f"NCT{i}",
                "brief_title": "T",
                "overall_status": "COMPLETED",
                "phase": "PHASE 2",
                "enrollment_count": 100.0,
                "conditions": "HEADACHE",
                "start_date": dt.date(2023, 1, 1),
                "completion_date": dt.date(2024, 1, 1),
            }
            for i in range(6)
        ],
        schema=schemas.CLINICAL_TRIALS,
    )
    result = pipeline.run(
        spark, "2024-01-15", fda, ct, str(tmp_path / "out"),
        processed_ts="2024-01-15 12:00:00",
    )
    assert result.status == "success"
    assert result.enriched_records == 1
    back = lake.read_partition(spark, str(tmp_path / "out" / "processed"), "2024-01-15")
    row = back.collect()[0]
    assert row["drug_name"] == "ASPIRIN"
    assert row["trial_count"] == 6
    assert row["total_enrollment"] == 600.0

    msg = pipeline.completion_summary(result, str(tmp_path / "out"))
    assert "Completed Successfully" in msg
    assert "Date: 2024-01-15" in msg
    assert "FDA Records: 6" in msg and "Clinical Trials: 6" in msg
    assert "year=2024/month=01/day=15" in msg


def test_streaming_hourly_counts(spark, tmp_path):
    import shutil

    from cloud_native_medical_data_etl_pipeline_spark.streaming import events as se

    # stage the sf0.001 events as a stream input dir (re-encoded to
    # micros, since the file-stream schema declares TimestampType)
    import __spark_entry__ as em

    src = em._t(spark, ORACLE_SF_DIR, "events")
    in_dir = str(tmp_path / "in")
    src.write.parquet(in_dir)
    out_dir = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    se.run_available_now(spark, in_dir, out_dir, cp)
    got = spark.read.parquet(out_dir)
    batch = em.q14_hourly_windows(spark, ORACLE_SF_DIR)
    # append mode only emits windows the watermark has closed; every
    # emitted window must match the batch result exactly
    emitted = {tuple(r) for r in got.collect()}
    expected = {tuple(r) for r in batch.collect()}
    assert emitted <= expected
    assert len(emitted) > 0
    shutil.rmtree(cp, ignore_errors=True)


def test_upsert_partition_merges_by_key(spark, tmp_path):
    base = str(tmp_path / "lake_upsert")
    day1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    other_day = spark.createDataFrame([(9, "z")], "id long, v string")
    lake.write_partitioned(day1, base, "2024-01-15")
    lake.write_partitioned(other_day, base, "2024-01-16")

    updates = spark.createDataFrame(
        [(2, "B2"), (4, "d")], "id long, v string"
    )
    lake.upsert_partition(spark, base, updates, "2024-01-15", ["id"])

    got = {
        r["id"]: r["v"]
        for r in lake.read_partition(spark, base, "2024-01-15").collect()
    }
    assert got == {1: "a", 2: "B2", 3: "c", 4: "d"}
    # the neighboring day is untouched
    other = lake.read_partition(spark, base, "2024-01-16").collect()
    assert [(r["id"], r["v"]) for r in other] == [(9, "z")]
    # idempotent re-run (at-least-once ingest replay)
    lake.upsert_partition(spark, base, updates, "2024-01-15", ["id"])
    again = {
        r["id"]: r["v"]
        for r in lake.read_partition(spark, base, "2024-01-15").collect()
    }
    assert again == got


def test_upsert_partition_refuses_schema_narrowing(spark, tmp_path):
    """An updates batch missing an on-disk column must fail loudly:
    the old behavior read the partition with the UPDATES schema, so
    the dynamic overwrite silently rewrote the day without the
    missing column."""
    import pytest as _pytest

    base = str(tmp_path / "lake_upsert_narrow")
    day1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id long, v string, score double"
    )
    lake.write_partitioned(day1, base, "2024-01-15")
    narrow = spark.createDataFrame([(2, "B2")], "id long, v string")
    with _pytest.raises(ValueError, match="score"):
        lake.upsert_partition(spark, base, narrow, "2024-01-15", ["id"])
    # the day is intact (no partial write happened)
    got = {
        r["id"]: (r["v"], r["score"])
        for r in lake.read_partition(spark, base, "2024-01-15").collect()
    }
    assert got == {1: ("a", 10.0), 2: ("b", 20.0)}


def test_upsert_partition_widening_nulls_survivors(spark, tmp_path):
    """Updates may ADD columns: survivors get nulls for the new column
    (unionByName allowMissingColumns), nothing is dropped."""
    base = str(tmp_path / "lake_upsert_widen")
    day1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    lake.write_partitioned(day1, base, "2024-01-15")
    wide = spark.createDataFrame(
        [(2, "B2", "extra")], "id long, v string, note string"
    )
    lake.upsert_partition(spark, base, wide, "2024-01-15", ["id"])
    got = {
        r["id"]: (r["v"], r["note"])
        for r in lake.read_partition(spark, base, "2024-01-15").collect()
    }
    assert got == {1: ("a", None), 2: ("B2", "extra")}


def test_catalog_helpers(spark, tmp_path):
    base = str(tmp_path / "catalog_lake")
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    for d in ("2024-01-15", "2024-01-16", "2024-02-01"):
        lake.write_partitioned(df, base, d)

    assert lake.list_partition_dates(spark, base) == [
        "2024-01-15", "2024-01-16", "2024-02-01",
    ]
    assert lake.latest_partition_date(spark, base) == "2024-02-01"
    assert lake.latest_partition_date(spark, base + "_missing") is None

    objs = lake.list_objects(spark, base)
    assert objs and all("year=" in o for o in objs)
    some_file = next(o for o in objs if o.endswith(".parquet"))
    assert lake.object_exists(spark, some_file)
    assert lake.object_size(spark, some_file) > 0
    assert not lake.object_exists(spark, base + "/nope.parquet")
    assert lake.object_size(spark, base + "/nope.parquet") is None

    day_dir = lake.partition_path(base, "2024-02-01")
    assert lake.delete_object(spark, day_dir, recursive=True)
    assert lake.latest_partition_date(spark, base) == "2024-01-16"


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json"])
def test_lake_formats_roundtrip(spark, tmp_path, fmt):
    """write_partitioned/read_partition/upsert_partition are
    format-agnostic: parquet (default), ORC, and JSON lines all
    round-trip through the same Hive layout."""
    base = str(tmp_path / f"lake_{fmt}")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    lake.write_partitioned(df, base, "2024-01-15", fmt=fmt)
    back = lake.read_partition(spark, base, "2024-01-15", schema=df.schema, fmt=fmt)
    assert {tuple(r) for r in back.collect()} == {(1, "a"), (2, "b")}
    updates = spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string")
    lake.upsert_partition(spark, base, updates, "2024-01-15", ["id"], fmt=fmt)
    got = {
        r["id"]: r["v"]
        for r in lake.read_partition(
            spark, base, "2024-01-15", schema=df.schema, fmt=fmt
        ).collect()
    }
    assert got == {1: "a", 2: "B", 3: "c"}


def test_compact_partition_reduces_file_count(spark, tmp_path):
    base = str(tmp_path / "lake_compact")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(200)], "id long, v string"
    ).repartition(40)  # simulate a streaming sink's many small files
    lake.write_partitioned(df, base, "2024-01-15")
    day_dir = lake.partition_path(base, "2024-01-15")
    before = [f for f in lake.list_objects(spark, day_dir) if f.endswith(".parquet")]
    assert len(before) >= 30

    n = lake.compact_partition(spark, base, "2024-01-15")
    after = [f for f in lake.list_objects(spark, day_dir) if f.endswith(".parquet")]
    assert len(after) == n == 1  # tiny data -> one file
    back = lake.read_partition(spark, base, "2024-01-15")
    assert back.count() == 200
    assert {r["id"] for r in back.collect()} == set(range(200))


def test_write_sharded_caps_file_rows(spark, tmp_path):
    path = str(tmp_path / "shards")
    df = spark.createDataFrame([(i,) for i in range(1000)], "id long")
    lake.write_sharded(df, path, rows_per_shard=150)
    files = [f for f in lake.list_objects(spark, path) if f.endswith(".parquet")]
    assert len(files) >= 7  # 1000 / 150
    for f in files:
        assert spark.read.parquet(f).count() <= 150
    assert spark.read.parquet(path).count() == 1000


def test_flatten_fda_submission_date_tie_keeps_first_listed(spark):
    """The reference stable-sorts by status date only (reverse=True)
    and takes submissions[0]: among equal dates the EARLIEST-LISTED
    submission wins — not the max type."""
    payload = dict(FDA_MOCK)
    payload = {**FDA_MOCK, "submissions": [
        {"submission_status_date": "20240101", "submission_type": "ORIG"},
        {"submission_status_date": "20240101", "submission_type": "SUPPL"},
    ]}
    row = ingest.flatten_fda(rest.fda_raw_df(spark, [payload])).collect()[0]
    assert row["submission_type"] == "ORIG"
    assert row["latest_submission_date"] == dt.date(2024, 1, 1)


def test_flatten_ct_locations_keep_per_site_duplicates(spark):
    """Reference joins one entry PER SITE ('' for a missing country),
    duplicates preserved — the site-count signal."""
    p = {"protocolSection": {
        **CT_MOCK["protocolSection"],
        "contactsLocationsModule": {"locations": [
            {"country": "United States"}, {"country": "United States"},
            {"country": None}, {"country": "Canada"},
        ]},
    }}
    row = ingest.flatten_ct(rest.ct_raw_df(spark, [p])).collect()[0]
    assert row["location_countries"] == "United States, United States, , Canada"


def test_flatten_ct_outcomes_slice_then_filter_empty(spark):
    """Reference takes outcomes[:3] THEN filter(None): a null measure
    inside the top-3 is dropped from the join, and the 4th outcome is
    never admitted."""
    p = {"protocolSection": {
        **CT_MOCK["protocolSection"],
        "outcomesModule": {"primaryOutcomes": [
            {"measure": "OS"}, {"measure": None}, {"measure": "PFS"},
            {"measure": "ORR"},
        ]},
    }}
    row = ingest.flatten_ct(rest.ct_raw_df(spark, [p])).collect()[0]
    assert row["primary_outcome_measures"] == "OS | PFS"


def test_q140_lake_roundtrip_oracle_shape(spark):
    """The staged lake-IO registration candidate (q140, written but
    deliberately unregistered in r12): JSON through the Hive layout
    and the header-bearing head-1000 CSV extract must round-trip
    LOSSLESSLY — exact per-row equality, doubles included, against
    DuckDB reading the source parquet directly.  Pins the staged
    probe + SQL pair so it cannot rot before its window seat."""
    import duckdb

    import __spark_entry__ as E

    sf = ORACLE_SF_DIR
    got = sorted(
        tuple(r) for r in E.q140_lake_roundtrip(spark, sf).collect()
    )
    want = sorted(
        tuple(r)
        for r in duckdb.sql(
            # str.replace hits both legs' "FROM events" occurrences
            E.Q140_SQL.replace(
                "FROM events",
                f"FROM read_parquet('{sf}/events.parquet')",
            )
        ).fetchall()
    )
    assert got == want and len(got) > 0
    legs = {t[0] for t in got}
    assert legs == {"json", "csv_head_1000"}


def test_q142_catalog_ops_oracle_shape(spark):
    """The staged catalog-ops registration candidate (q142, written in
    r14 but deliberately unregistered — it leads the r15 plan's
    registration seat): the Hadoop-FS metadata answers (partition
    listing, latest-date probe, exists/delete, per-partition file and
    row counts) on a lake built from the events table must equal the
    pure data-derived values DuckDB computes from the source parquet.
    Pins the staged probe + SQL pair so it cannot rot before its
    window seat."""
    import duckdb

    import __spark_entry__ as E

    sf = ORACLE_SF_DIR
    got = sorted(tuple(r) for r in E.q142_catalog_ops(spark, sf).collect())
    want = sorted(
        tuple(r)
        for r in duckdb.sql(
            E.Q142_SQL.replace(
                "FROM events",
                f"FROM read_parquet('{sf}/events.parquet')",
            )
        ).fetchall()
    )
    assert got == want and len(got) > 0
    legs = [t[0] for t in got]
    assert legs.count("partition") == 3 and "after_delete" in legs


def test_upsert_partition_refuses_null_keys(spark, tmp_path):
    """A NULL-key update can never REPLACE a stored row (the anti-
    join's SQL equality never matches NULL), only append a fresh copy
    per retried batch — the exact duplicate accumulation upsert
    exists to prevent.  It must raise (r16, the apply_cdc contract);
    NULL-key rows already on disk survive untouched."""
    import pytest as _pytest

    base = str(tmp_path / "lake_upsert_nullkey")
    day1 = spark.createDataFrame(
        [(1, "a"), (None, "stored-null")], "id long, v string"
    )
    lake.write_partitioned(day1, base, "2024-01-15")
    bad = spark.createDataFrame([(None, "x"), (2, "b")], "id long, v string")
    with _pytest.raises(Exception, match="NULL in key"):
        lake.upsert_partition(spark, base, bad, "2024-01-15", ["id"])
    # a clean batch still merges, and the stored null-key row survives
    ok = spark.createDataFrame([(2, "b")], "id long, v string")
    lake.upsert_partition(spark, base, ok, "2024-01-15", ["id"])
    got = {
        r["id"]: r["v"]
        for r in lake.read_partition(spark, base, "2024-01-15").collect()
    }
    assert got == {1: "a", None: "stored-null", 2: "b"}
