"""The four golden enrichment-join cases that define J1's semantics
(reference tests/test_enrichment.py:16-123), plus the multi-indication
count-once rule (SURVEY.md §7.5.2) and the fallback shapes."""

import datetime as dt

from pyspark.sql import Row

from cloud_native_medical_data_etl_pipeline_spark import schemas
from cloud_native_medical_data_etl_pipeline_spark.operators import enrich, transforms


def _fda(spark, rows):
    defaults = dict(
        receivedate=dt.date(2024, 1, 1),
        serious=1,
        seriousnessdeath=0,
        seriousnesshospitalization=0,
        reaction="X",
        patient_age=40.0,
        patient_sex="1",
    )
    full = [{**defaults, **r} for r in rows]
    return transforms.transform_fda_events(
        spark.createDataFrame(full, schema=schemas.FDA_EVENTS)
    )


def _ct(spark, rows):
    defaults = dict(
        brief_title="T",
        overall_status="COMPLETED",
        phase="PHASE 2",
        start_date=dt.date(2023, 1, 1),
        completion_date=dt.date(2024, 1, 1),
    )
    full = [{**defaults, **r, "enrollment_count": float(r["enrollment_count"])} for r in rows]
    return transforms.transform_clinical_trials(
        spark.createDataFrame(full, schema=schemas.CLINICAL_TRIALS)
    )


def _one(df, drug):
    rows = {r["drug_name"]: r for r in df.collect()}
    return rows[drug]


def test_exact_match(spark):
    # case 1: 'Headache' <-> 'HEADACHE' -> trial_count=1, enrollment=100
    fda = _fda(spark, [dict(safetyreportid="1", drug_name="ASPIRIN", drug_indication="Headache")])
    ct = _ct(spark, [dict(nct_id="NCT1", enrollment_count=100, conditions="HEADACHE")])
    r = _one(enrich.enrich(fda, ct), "ASPIRIN")
    assert r["trial_count"] == 1
    assert r["total_enrollment"] == 100.0
    assert r["completed_trials"] == 1


def test_case_insensitive(spark):
    # case 2: 'Type 2 Diabetes' <-> 'TYPE 2 DIABETES'
    fda = _fda(spark, [dict(safetyreportid="1", drug_name="METFORMIN", drug_indication="Type 2 Diabetes")])
    ct = _ct(spark, [dict(nct_id="NCT1", enrollment_count=250, conditions="TYPE 2 DIABETES")])
    r = _one(enrich.enrich(fda, ct), "METFORMIN")
    assert r["trial_count"] == 1


def test_partial_containment(spark):
    # case 3: 'Lung Cancer' matches 'NON-SMALL CELL LUNG CANCER'
    fda = _fda(spark, [dict(safetyreportid="1", drug_name="DRUGX", drug_indication="Lung Cancer")])
    ct = _ct(spark, [dict(nct_id="NCT1", enrollment_count=300, conditions="NON-SMALL CELL LUNG CANCER")])
    r = _one(enrich.enrich(fda, ct), "DRUGX")
    assert r["trial_count"] == 1
    assert r["total_enrollment"] == 300.0


def test_no_match_zeros_not_null(spark):
    # case 4: 'Flu' vs 'BROKEN LEG' -> zeros, not nulls
    fda = _fda(spark, [dict(safetyreportid="1", drug_name="DRUGY", drug_indication="Flu")])
    ct = _ct(spark, [dict(nct_id="NCT1", enrollment_count=50, conditions="BROKEN LEG")])
    r = _one(enrich.enrich(fda, ct), "DRUGY")
    assert r["trial_count"] == 0
    assert r["total_enrollment"] == 0.0
    assert r["completed_trials"] == 0


def test_multi_indication_counts_condition_once(spark):
    # Two indications of the same drug both match one condition -> that
    # condition's stats count ONCE (reference any() row filter).
    fda = _fda(
        spark,
        [
            dict(safetyreportid="1", drug_name="DRUGZ", drug_indication="Lung Cancer"),
            dict(safetyreportid="2", drug_name="DRUGZ", drug_indication="Cell Lung"),
        ],
    )
    ct = _ct(spark, [dict(nct_id="NCT1", enrollment_count=300, conditions="NON-SMALL CELL LUNG CANCER")])
    r = _one(enrich.enrich(fda, ct), "DRUGZ")
    assert r["trial_count"] == 1
    assert r["total_enrollment"] == 300.0


def test_different_conditions_sum(spark):
    fda = _fda(spark, [dict(safetyreportid="1", drug_name="DRUGW", drug_indication="Cancer")])
    ct = _ct(
        spark,
        [
            dict(nct_id="NCT1", enrollment_count=100, conditions="LUNG CANCER"),
            dict(nct_id="NCT2", enrollment_count=200, conditions="BREAST CANCER", overall_status="RECRUITING"),
        ],
    )
    r = _one(enrich.enrich(fda, ct), "DRUGW")
    assert r["trial_count"] == 2
    assert r["total_enrollment"] == 300.0
    assert r["completed_trials"] == 1


def test_fda_only_fallback(spark):
    fda = _fda(spark, [dict(safetyreportid="1", drug_name="SOLO", drug_indication="Pain")])
    out = enrich.enrich(fda, None)
    assert set(out.columns) == {
        "drug_name", "adverse_event_count", "avg_severity_score", "death_count",
        "hospitalization_count",
    }
    assert out.count() == 1


def test_ct_only_fallback(spark):
    ct = _ct(spark, [dict(nct_id="NCT1", enrollment_count=10, conditions="FLU")])
    out = enrich.enrich(None, ct)
    assert set(out.columns) == {
        "condition", "trial_count", "total_enrollment", "completed_trials",
    }
    assert out.collect()[0]["condition"] == "FLU"


def test_empty_condition_matches_every_drug(spark):
    """An empty-normalized condition ('' is a substring of everything)
    matches every drug with a non-empty indication under the reference
    predicate."""
    fda = _fda(
        spark,
        [
            dict(safetyreportid="1", drug_name="A", drug_indication="Flu"),
            dict(safetyreportid="2", drug_name="B", drug_indication="Headache"),
        ],
    )
    ct = _ct(
        spark,
        [
            dict(nct_id="NCT1", enrollment_count=50, conditions=""),
            dict(nct_id="NCT2", enrollment_count=100, conditions="HEADACHE"),
        ],
    )
    exact = {
        (r["drug_name"], r["trial_count"], r["total_enrollment"])
        for r in enrich.enrich(fda, ct).collect()
    }
    assert ("A", 1, 50.0) in exact          # '' condition reaches A
    assert ("B", 2, 150.0) in exact         # B gets both


def test_summary_sums_zero_fill_like_pandas(spark):
    """pandas groupby sum of an all-NaN group is 0 (min_count=0): the
    reference emits death_count=0, never NULL."""
    fda = _fda(
        spark,
        [dict(safetyreportid="1", drug_name="A", drug_indication="Flu",
              seriousnessdeath=None, seriousnesshospitalization=None)],
    )
    r = enrich.fda_summary(fda).collect()[0]
    assert r["death_count"] == 0 and r["hospitalization_count"] == 0


def test_normalize_for_join_strips_all_whitespace(spark):
    """Reference normalize() is Python str.strip(): a trailing newline
    in a free-text field must not break the containment match."""
    fda = _fda(
        spark,
        [dict(safetyreportid="1", drug_name="A", drug_indication="Lung Cancer\n")],
    )
    ct = _ct(
        spark,
        [dict(nct_id="NCT1", enrollment_count=10,
              conditions="NON-SMALL CELL LUNG CANCER")],
    )
    r = _one(enrich.enrich(fda, ct), "A")
    assert r["trial_count"] == 1
