"""Core DataFrame -> DataFrame transforms for the two medical inputs.

Reproduces the reference transformer's declared semantics
(drug_transformer.py:92-187) with schema-conditional assembly: every
derivation is guarded by column presence, exactly like the reference's
`if col in df.columns` guards (SURVEY.md §7.5.6), so both the
adverse-event shape and the Drugs@FDA shape flow through.

Everything is lazy column expressions; the transforms add columns and
run one dropDuplicates — Catalyst fuses the rest into the surrounding
plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import medical as M


def transform_fda_events(df: DataFrame, processed_ts=None) -> DataFrame:
    """FDA adverse-event transform (drug_transformer.py:92-136).

    processed_ts: optional fixed literal for deterministic tests; the
    production default is current_timestamp() (per-query constant).
    The dedup keeps an arbitrary row per key, not the reference's
    keep='first' (SURVEY.md §7.5.3).
    """
    cols = set(df.columns)
    out = df.withColumn(
        "processed_date",
        # `is not None`: a falsy-but-valid fixed stamp (epoch 0) must
        # not silently fall back to nondeterministic current_timestamp
        F.lit(processed_ts).cast(T.TimestampType())
        if processed_ts is not None
        else F.current_timestamp(),
    ).withColumn("data_source", F.lit("FDA_OpenFDA"))

    if "drug_name" in cols:
        out = out.withColumn("drug_name_clean", M.clean_upper("drug_name"))

    out = out.withColumn(
        "severity_score",
        M.severity_score(
            "serious" if "serious" in cols else None,
            "seriousnessdeath" if "seriousnessdeath" in cols else None,
            "seriousnesshospitalization"
            if "seriousnesshospitalization" in cols
            else None,
        ),
    )

    if "patient_age" in cols:
        out = out.withColumn("age_group", M.age_group("patient_age"))

    for field in ("drug_indication", "reaction"):
        if field in cols:
            out = out.withColumn(field, M.fill_trim(field))

    required_present = [
        c for c in ("safetyreportid", "drug_name", "receivedate") if c in cols
    ]
    out = out.withColumn("is_complete", M.completeness_flag(required_present))

    if "safetyreportid" in cols:
        out = out.dropDuplicates(["safetyreportid"])
    return out


def transform_clinical_trials(df: DataFrame, processed_ts=None) -> DataFrame:
    """Clinical-trials transform (drug_transformer.py:138-187)."""
    cols = set(df.columns)
    out = df.withColumn(
        "processed_date",
        F.lit(processed_ts).cast(T.TimestampType())
        if processed_ts is not None
        else F.current_timestamp(),
    ).withColumn("data_source", F.lit("ClinicalTrials_gov"))

    if "start_date" in cols and "completion_date" in cols:
        out = out.withColumn(
            "study_duration_days", F.datediff("completion_date", "start_date")
        )
    if "phase" in cols:
        out = out.withColumn("phase_numeric", M.phase_numeric("phase"))
    if "enrollment_count" in cols:
        out = out.withColumn(
            "study_size_category", M.study_size_category("enrollment_count")
        )
    if "overall_status" in cols:
        out = out.withColumn("is_active", M.is_active("overall_status")).withColumn(
            "is_completed", M.is_completed("overall_status")
        )
    if "conditions" in cols:
        out = out.withColumn("conditions_clean", F.upper(F.col("conditions")))
    if "nct_id" in cols:
        out = out.dropDuplicates(["nct_id"])
    return out

