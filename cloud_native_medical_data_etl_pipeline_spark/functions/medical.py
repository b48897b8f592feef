"""Medical-domain scalar kernels as native Spark Column expressions.

Every function here reproduces a reference semantic exactly (citations
into /root/reference in each docstring) while compiling to JVM-side
expressions — no Python UDFs, so the whole pipeline stays inside
whole-stage codegen at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Severity weights (reference drug_transformer.py:310-321 and
# pipeline_config.yaml:21-24).
SEVERITY_WEIGHTS = {
    "serious": 2,
    "seriousnessdeath": 10,
    "seriousnesshospitalization": 5,
}

# Age bins, right-closed like pandas.cut (drug_transformer.py:115-120,
# pipeline_config.yaml:27-32): (0,18] (18,30] (30,50] (50,65] (65,100].
AGE_BINS = [
    (0, 18, "Pediatric"),
    (18, 30, "Young Adult"),
    (30, 50, "Adult"),
    (50, 65, "Senior"),
    (65, 100, "Elderly"),
]

# Study-size bins (drug_transformer.py:164-169, pipeline_config.yaml:35-39).
STUDY_SIZE_BINS = [
    (0, 50, "Small"),
    (50, 200, "Medium"),
    (200, 1000, "Large"),
    (1000, float("inf"), "Very Large"),
]

ACTIVE_STATUSES = ["RECRUITING", "ACTIVE_NOT_RECRUITING", "ENROLLING_BY_INVITATION"]


def severity_score(
    serious: Column | str | None = "serious",
    death: Column | str | None = "seriousnessdeath",
    hospitalization: Column | str | None = "seriousnesshospitalization",
) -> Column:
    """Weighted severity: 2*serious + 10*death + 5*hospitalization.

    Nulls count as 0 (reference fillna(0), drug_transformer.py:310-321).
    Pass None for a component that is absent from the input schema —
    the reference guards each term with `if col in df.columns`.
    """
    score = F.lit(0.0)
    for c, w in (
        (serious, SEVERITY_WEIGHTS["serious"]),
        (death, SEVERITY_WEIGHTS["seriousnessdeath"]),
        (hospitalization, SEVERITY_WEIGHTS["seriousnesshospitalization"]),
    ):
        if c is not None:
            col = F.col(c) if isinstance(c, str) else c
            score = score + F.coalesce(col.cast(T.DoubleType()), F.lit(0.0)) * w
    return score


def _cut(col: Column, bins: list[tuple[float, float, str]]) -> Column:
    """pandas.cut semantics: left-open/right-closed intervals, null
    outside all bins and on null input (SURVEY.md §7.5.1)."""
    expr = F.lit(None).cast(T.StringType())
    # Build the when-ladder from the last bin backwards so the first
    # matching interval wins, exactly like an if/elif chain.
    for lo, hi, label in reversed(bins):
        if hi == float("inf"):
            cond = col > F.lit(lo)
        else:
            cond = (col > F.lit(lo)) & (col <= F.lit(hi))
        expr = F.when(cond, F.lit(label)).otherwise(expr)
    return expr


def age_group(age: Column | str = "patient_age") -> Column:
    """Age bucket with pd.cut right-closed semantics: age 18 ->
    'Pediatric', age 0 or >100 -> null (drug_transformer.py:115-120)."""
    col = F.col(age) if isinstance(age, str) else age
    return _cut(col.cast(T.DoubleType()), AGE_BINS)


def study_size_category(enrollment: Column | str = "enrollment_count") -> Column:
    """Study-size bucket: enrollment 50 -> 'Small', 0 -> null
    (drug_transformer.py:164-169)."""
    col = F.col(enrollment) if isinstance(enrollment, str) else enrollment
    return _cut(col.cast(T.DoubleType()), STUDY_SIZE_BINS)


def phase_numeric(phase: Column | str = "phase") -> Column:
    """Phase string -> numeric (drug_transformer.py:334-352).

    Substring checks on the uppercased string, in the reference's exact
    order (4, 3, 2, EARLY, 1) — order matters because 'PHASE I' is a
    substring of 'PHASE III'/'PHASE IV' and EARLY_PHASE1 contains
    'PHASE 1'. Null/empty/unknown -> 0.0.
    """
    col = F.col(phase) if isinstance(phase, str) else phase
    p = F.upper(col.cast(T.StringType()))
    return (
        F.when(p.isNull() | (p == ""), F.lit(0.0))
        .when(p.contains("PHASE 4") | p.contains("PHASE IV"), F.lit(4.0))
        .when(p.contains("PHASE 3") | p.contains("PHASE III"), F.lit(3.0))
        .when(p.contains("PHASE 2") | p.contains("PHASE II"), F.lit(2.0))
        .when(p.contains("EARLY"), F.lit(0.5))
        .when(p.contains("PHASE 1") | p.contains("PHASE I"), F.lit(1.0))
        .otherwise(F.lit(0.0))
    )


def completeness_flag(present_required: list[str]) -> Column:
    """is_complete = AND of isNotNull over the required fields that are
    present in the schema (drug_transformer.py:323-332); vacuously true
    when none are present, like the reference's all-True seed."""
    flag = F.lit(True)
    for c in present_required:
        flag = flag & F.col(c).isNotNull()
    return flag


def _strip_ws(c: Column) -> Column:
    """Python ``str.strip()`` equivalent for the reference's free-text
    fields: regexp edge-trim of ``\\s`` ([ \\t\\n\\x0B\\f\\r] in both
    Java and DuckDB RE2).  ``F.trim`` strips ONLY 0x20 spaces, so a
    trailing tab/newline in a free-text FDA field would survive
    normalization and silently break the containment join the
    reference's strip() would have matched.  (Unicode whitespace is
    the q59-documented common-subset residue.)"""
    return F.regexp_replace(c, r"^\s+|\s+$", "")


def clean_upper(col: Column | str) -> Column:
    """upper+strip normalization (drug_transformer.py:108-109)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.upper(_strip_ws(c))


def fill_trim(col: Column | str) -> Column:
    """fillna('') then strip (drug_transformer.py:123-126)."""
    c = F.col(col) if isinstance(col, str) else col
    return _strip_ws(F.coalesce(c, F.lit("")))


def normalize_for_join(col: Column | str) -> Column:
    """lower().strip().replace(' ','') with non-string/null -> ''
    (reference normalize(), drug_transformer.py:237-243)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.replace(
        F.lower(_strip_ws(F.coalesce(c.cast(T.StringType()), F.lit("")))),
        F.lit(" "),
        F.lit(""),
    )


def is_active(status: Column | str = "overall_status") -> Column:
    """Membership flag (drug_transformer.py:172-175). Null status ->
    False (pandas isin semantics), hence the coalesce — Spark's IN
    yields null on null input."""
    c = F.col(status) if isinstance(status, str) else status
    return F.coalesce(c.isin(ACTIVE_STATUSES), F.lit(False))


def is_completed(status: Column | str = "overall_status") -> Column:
    """Equality flag (drug_transformer.py:176); null -> False like
    pandas ==."""
    c = F.col(status) if isinstance(status, str) else status
    return F.coalesce(c == F.lit("COMPLETED"), F.lit(False))
