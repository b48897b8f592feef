"""plans.pipeline.run: its record counts and its per-day driver work.

The counts come from passes the day runs anyway (an Observation on the
processed write, the quality suite's aggregation pass); these tests pin
them to what a plain ``count()`` of each frame returns, and pin that a
warm day reuses the classes generated for the day before it.
"""

import datetime as dt
from pathlib import Path

import pytest
from pyspark.sql import DataFrame

from cloud_native_medical_data_etl_pipeline_spark import schemas
from cloud_native_medical_data_etl_pipeline_spark.operators import (
    enrich,
    transforms,
)
from cloud_native_medical_data_etl_pipeline_spark.plans import pipeline

PROCESSED_TS = "2024-01-15 12:00:00"


def _inputs(spark, seed: int, n_fda: int = 30, n_ct: int = 16):
    """One synthetic raw day. Every tenth report and every fourth trial
    repeats the row before it exactly, so the transforms' dedup changes
    the counts."""
    fda_rows, ct_rows = [], []
    for i in range(n_fda):
        j = i - (i % 10 == 9)
        fda_rows.append(
            {
                "safetyreportid": f"r{seed}_{j}",
                "receivedate": dt.date(2024, 1, 10),
                "serious": 1,
                "seriousnessdeath": 0,
                "seriousnesshospitalization": 1,
                "drug_name": f"DRUG{j % 7}",
                "drug_indication": ("Headache", "Pain", "Fever")[j % 3],
                "reaction": "X",
                "patient_age": 40.0,
                "patient_sex": "1",
            }
        )
    for i in range(n_ct):
        j = i - (i % 4 == 3)
        ct_rows.append(
            {
                "nct_id": f"NCT{seed}_{j}",
                "brief_title": "T",
                "overall_status": "COMPLETED",
                "phase": "PHASE 2",
                "enrollment_count": 100.0,
                "conditions": ("HEADACHE", "FEVER AND PAIN", "OTHER")[j % 3],
                "start_date": dt.date(2023, 1, 1),
                "completion_date": dt.date(2024, 1, 1),
            }
        )
    return (
        spark.createDataFrame(fda_rows, schema=schemas.FDA_EVENTS),
        spark.createDataFrame(ct_rows, schema=schemas.CLINICAL_TRIALS),
    )


def _count_queries(fda, ct) -> tuple[int, int, int]:
    """The counts as ``run`` used to take them: one ``count()`` each of
    the transformed inputs and of the enriched frame."""
    fda_t = (
        transforms.transform_fda_events(fda, processed_ts=PROCESSED_TS)
        if fda is not None
        else None
    )
    ct_t = (
        transforms.transform_clinical_trials(ct, processed_ts=PROCESSED_TS)
        if ct is not None
        else None
    )
    return (
        fda_t.count() if fda_t is not None else 0,
        ct_t.count() if ct_t is not None else 0,
        enrich.enrich(fda_t, ct_t).count(),
    )


@pytest.mark.parametrize("sources", ["both", "fda", "ct"])
def test_run_counts_match_count_queries(spark, tmp_path, sources):
    fda, ct = _inputs(spark, seed=1)
    fda = fda if sources in ("both", "fda") else None
    ct = ct if sources in ("both", "ct") else None
    expected = _count_queries(fda, ct)

    r = pipeline.run(
        spark, "2024-01-15", fda, ct, str(tmp_path), processed_ts=PROCESSED_TS
    )
    assert r.status == "success"
    assert (r.fda_records, r.ct_records, r.enriched_records) == expected
    # the dedup dropped the duplicates
    assert expected[:2] == (27 if fda is not None else 0, 12 if ct is not None else 0)
    assert r.quality != {}


def test_run_counts_on_a_day_that_fails_the_quality_gate(spark, tmp_path):
    fda, ct = _inputs(spark, seed=2)
    expected = _count_queries(fda, ct)

    r = pipeline.run(
        spark, "2024-01-15", fda, ct, str(tmp_path), processed_ts=PROCESSED_TS,
        quality_config={"min_total_records": 10_000},
    )
    assert r.status == "quality_failed"
    assert (r.fda_records, r.ct_records, r.enriched_records) == expected


def test_validated_run_issues_no_count_query(spark, tmp_path, monkeypatch):
    fda, ct = _inputs(spark, seed=3)
    expected = _count_queries(fda, ct)

    def no_count(self):
        raise AssertionError("pipeline.run must not call DataFrame.count")

    for cls in {type(fda), DataFrame}:
        monkeypatch.setattr(cls, "count", no_count)
    r = pipeline.run(
        spark, "2024-01-15", fda, ct, str(tmp_path), processed_ts=PROCESSED_TS
    )
    assert r.status == "success"
    assert (r.fda_records, r.ct_records, r.enriched_records) == expected


def test_warm_day_reuses_generated_classes(spark, tmp_path):
    """A second day of the same shape compiles (almost) no new code:
    the codegen cache in session.get_spark holds a whole day's classes.
    The production default processed_ts=None stamps rows with
    current_timestamp(), which Catalyst folds into a long literal that
    the generated source inlines; the two transformed inputs' projection
    classes therefore differ every day, and those two are all a warm day
    may compile. Generated source depends on the plan, not on the number
    of cores or partitions."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    out = str(tmp_path)

    fda, ct = _inputs(spark, seed=4)
    assert pipeline.run(spark, "2024-01-15", fda, ct, out).status == "success"

    fda, ct = _inputs(spark, seed=5)
    before = codegen.METRIC_COMPILATION_TIME().getCount()
    assert pipeline.run(spark, "2024-01-16", fda, ct, out).status == "success"
    compiled = codegen.METRIC_COMPILATION_TIME().getCount() - before
    assert compiled <= 2, f"warm day compiled {compiled} classes"


def test_a_small_day_writes_one_file_per_partition(spark, tmp_path):
    """AQE sizes the day's cached frames by bytes (session.get_spark sets
    spark.sql.optimizer.canChangeCachedPlanOutputPartitioning), so a
    small day's processed and summary partitions each hold one file,
    like the reference's one pandas file per partition, instead of one
    per shuffle partition."""
    from cloud_native_medical_data_etl_pipeline_spark.sources import lake

    out = tmp_path / "lake"
    fda, ct = _inputs(spark, seed=6)
    r = pipeline.run(
        spark, "2024-01-15", fda, ct, str(out), processed_ts=PROCESSED_TS
    )
    assert r.status == "success"
    processed = lake.partition_path(str(out / "processed"), r.date)
    summary = lake.partition_path(str(out / "summary"), r.date)
    assert len(list(Path(processed).glob("part-*.parquet"))) == 1
    assert len(list(Path(summary).glob("part-*.csv"))) == 1
