"""Data-quality suite: the reference's six checks (data_quality.py:27-90,
100-296) recast as aggregation queries.

Instead of six sequential pandas passes, we compute the completeness /
data-type / value-range / record-count / date-consistency metrics in
ONE aggregation pass over the data (a single conditional-count `agg`)
plus one group-by pass for duplicate detection — two Spark jobs total
regardless of table width, which is what survives a 100 TB scan.

Returns the reference's results-dict shape:
  {"date": ..., "overall_passed": bool,
   "checks": [{"check": name, "passed": bool, "failures": [...]}, ...]}
plus "record_counts" ({"total", "fda", "clinical_trials"}) from the
same aggregation pass.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

REQUIRED_FDA = ["safetyreportid", "receivedate", "drug_name"]
REQUIRED_CT = ["nct_id", "brief_title", "overall_status"]
MAX_NULL_PCT = 10.0
MIN_RECORDS_TOTAL = 10
MIN_RECORDS_PER_SOURCE = 5
AGE_RANGE = (0, 120)
SEVERITY_RANGE = (0, 100)

#: Defaults keyed exactly like the reference's `quality:` section
#: (pipeline_config.yaml:42-63) so a user can hand their existing YAML
#: straight to `run_quality_checks(df, config=...)`.
DEFAULT_QUALITY_CONFIG: dict = {
    "max_missing_percentage": MAX_NULL_PCT,
    "min_total_records": MIN_RECORDS_TOTAL,
    "min_records_per_source": MIN_RECORDS_PER_SOURCE,
    "age_range": list(AGE_RANGE),
    "severity_range": list(SEVERITY_RANGE),
    "required_fields": {"fda": REQUIRED_FDA, "clinical_trials": REQUIRED_CT},
}


def load_quality_config(path: str) -> dict:
    """Read the `quality:` section from a reference-shaped pipeline
    config file (pipeline_config.yaml:42-63).  Accepts either the full
    pipeline config (returns its `quality` key) or a bare quality
    mapping; YAML when pyyaml is present, JSON otherwise.
    """
    with open(path) as fh:
        text = fh.read()
    try:
        import yaml  # optional dep; JSON is always a valid fallback
    except ImportError:
        yaml = None
    if yaml is not None:
        try:
            data = yaml.safe_load(text)
        except yaml.YAMLError as exc:
            raise ValueError(
                f"quality config {path!r} is not valid YAML (JSON is "
                f"also accepted): {exc}"
            ) from exc
    else:
        import json

        try:
            data = json.loads(text)
        except json.JSONDecodeError as exc:
            raise ValueError(
                f"quality config {path!r} could not be parsed: pyyaml "
                f"is not installed, so only JSON is accepted here "
                f"(JSON error: {exc})"
            ) from exc
    if not isinstance(data, dict):
        raise ValueError(f"quality config {path!r} is not a mapping")
    return data.get("quality", data)


def _resolve_config(config: dict | None) -> dict:
    merged = dict(DEFAULT_QUALITY_CONFIG, **(config or {}))
    req = merged.get("required_fields") or {}
    merged["required_fields"] = {
        "fda": list(req.get("fda", REQUIRED_FDA)),
        "clinical_trials": list(req.get("clinical_trials", REQUIRED_CT)),
    }
    return merged


_NUMERIC_COLS = ["severity_score", "adverse_event_count", "enrollment_count"]
_DATE_COLS = ["receivedate", "processed_date", "start_date", "completion_date"]
_NUMERIC_TYPES = (
    T.IntegerType, T.LongType, T.DoubleType, T.FloatType, T.ShortType,
    T.ByteType, T.DecimalType,
)
_DATETIME_TYPES = (T.DateType, T.TimestampType, T.TimestampNTZType)


def _cnt(cond) -> F.Column:
    return F.sum(F.when(cond, 1).otherwise(0))


def run_quality_checks(
    df: DataFrame, date: str | None = None, config: dict | None = None
) -> dict:
    """Run all six checks; see module docstring for the plan shape.

    `config` overrides thresholds using the reference's YAML keys
    (pipeline_config.yaml:42-63): max_missing_percentage,
    min_total_records, min_records_per_source, age_range,
    severity_range, required_fields.{fda,clinical_trials}.  Omitted
    keys keep the module defaults, so existing callers are unchanged.
    """
    cfg = _resolve_config(config)
    max_null_pct = float(cfg["max_missing_percentage"])
    min_total = int(cfg["min_total_records"])
    min_per_source = int(cfg["min_records_per_source"])
    age_lo, age_hi = cfg["age_range"]
    sev_lo, sev_hi = cfg["severity_range"]
    required_fda = cfg["required_fields"]["fda"]
    required_ct = cfg["required_fields"]["clinical_trials"]

    cols = set(df.columns)
    has_source = "data_source" in cols
    fda_rows = F.col("data_source") == "FDA_OpenFDA" if has_source else F.lit(True)
    ct_rows = F.col("data_source") == "ClinicalTrials_gov" if has_source else F.lit(True)

    aggs: list[F.Column] = [F.count(F.lit(1)).alias("total")]
    if has_source:
        aggs += [
            _cnt(fda_rows).alias("n_fda"),
            _cnt(ct_rows).alias("n_ct"),
        ]
        for c in required_fda:
            if c in cols:
                aggs.append(_cnt(fda_rows & F.col(c).isNull()).alias(f"nullfda_{c}"))
        for c in required_ct:
            if c in cols:
                aggs.append(_cnt(ct_rows & F.col(c).isNull()).alias(f"nullct_{c}"))
    # value ranges (data_quality.py:168-202)
    if "severity_score" in cols:
        aggs.append(
            _cnt(
                (F.col("severity_score") < sev_lo) | (F.col("severity_score") > sev_hi)
            ).alias(
                "bad_severity"
            )
        )
    if "patient_age" in cols:
        aggs.append(
            _cnt(
                (F.col("patient_age") < age_lo) | (F.col("patient_age") > age_hi)
            ).alias(
                "bad_age"
            )
        )
    if "enrollment_count" in cols:
        aggs.append(_cnt(F.col("enrollment_count") < 0).alias("bad_enrollment"))
    # date consistency (data_quality.py:262-296)
    if "start_date" in cols and "completion_date" in cols:
        aggs.append(
            _cnt(
                F.col("start_date").isNotNull()
                & F.col("completion_date").isNotNull()
                & (F.col("start_date") > F.col("completion_date"))
            ).alias("bad_date_order")
        )
    for c in ("receivedate", "start_date", "completion_date"):
        if c in cols:
            aggs.append(
                _cnt(F.col(c).cast(T.TimestampType()) > F.current_timestamp()).alias(
                    f"future_{c}"
                )
            )

    m = df.agg(*aggs).collect()[0].asDict()

    checks: list[dict] = []

    # 1. completeness (data_quality.py:100-140)
    failures = []
    if has_source:
        for src, req, n_key, pfx, label in (
            ("FDA_OpenFDA", required_fda, "n_fda", "nullfda", "FDA"),
            ("ClinicalTrials_gov", required_ct, "n_ct", "nullct", "CT"),
        ):
            n_src = m.get(n_key, 0) or 0
            if n_src == 0:
                continue
            for c in req:
                if c not in cols:
                    failures.append(f"Missing required {label} column: {c}")
                else:
                    nulls = m.get(f"{pfx}_{c}", 0) or 0
                    if nulls > 0:
                        pct = nulls / n_src * 100
                        if pct > max_null_pct:
                            failures.append(
                                f"{label} column {c} has {pct:.1f}% missing values"
                            )
    checks.append({"check": "completeness", "passed": not failures, "failures": failures})

    # 2. data types — schema inspection, no scan needed
    # (data_quality.py:142-166; schemas are declared upstream so this
    # is a static check here).
    failures = []
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    for c in _NUMERIC_COLS:
        if c in dtypes and not isinstance(dtypes[c], _NUMERIC_TYPES):
            failures.append(f"Column {c} should be numeric")
    for c in _DATE_COLS:
        if c in dtypes and not isinstance(dtypes[c], _DATETIME_TYPES):
            failures.append(f"Column {c} should be datetime")
    checks.append({"check": "data_types", "passed": not failures, "failures": failures})

    # 3. value ranges
    failures = []
    if m.get("bad_severity"):
        failures.append(f"Found {m['bad_severity']} records with invalid severity_score")
    if m.get("bad_age"):
        failures.append(f"Found {m['bad_age']} records with invalid patient_age")
    if m.get("bad_enrollment"):
        failures.append(
            f"Found {m['bad_enrollment']} records with negative enrollment_count"
        )
    checks.append({"check": "value_ranges", "passed": not failures, "failures": failures})

    # 4. duplicates (data_quality.py:204-231): counts ALL rows in
    # duplicated groups (pandas keep=False semantics).  Both key
    # columns ride ONE job — a (label, key) union aggregated once —
    # instead of a full scan per key.
    failures = []
    dup_specs = [
        (key, rows_pred, label)
        for key, rows_pred, label in (
            ("safetyreportid", fda_rows, "FDA safety reports"),
            ("nct_id", ct_rows, "clinical trial records"),
        )
        if key in cols
    ]
    if dup_specs:
        sides = [
            df.where(pred).select(
                F.lit(label).alias("__lbl"), F.col(key).alias("__key")
            )
            for key, pred, label in dup_specs
        ]
        u = sides[0]
        for s in sides[1:]:
            u = u.unionByName(s)
        by_label = {
            r["__lbl"]: r["n"]
            for r in u.groupBy("__lbl", "__key")
            .count()
            .where(F.col("count") > 1)
            .groupBy("__lbl")
            .agg(F.sum("count").alias("n"))
            .collect()
        }
        for key, pred, label in dup_specs:
            dup_rows = by_label.get(label, 0)
            if dup_rows:
                failures.append(f"Found {dup_rows} duplicate {label}")
    checks.append({"check": "duplicates", "passed": not failures, "failures": failures})

    # 5. record count (data_quality.py:233-260)
    failures = []
    total = m["total"]
    if total < min_total:
        failures.append(
            f"Record count ({total}) is below minimum threshold ({min_total})"
        )
    if has_source:
        for n_key, src in (("n_fda", "FDA_OpenFDA"), ("n_ct", "ClinicalTrials_gov")):
            n_src = m.get(n_key, 0) or 0
            if 0 < n_src < min_per_source:
                failures.append(f"Data source {src} has only {n_src} records")
    checks.append({"check": "record_count", "passed": not failures, "failures": failures})

    # 6. date consistency
    failures = []
    if m.get("bad_date_order"):
        failures.append(
            f"Found {m['bad_date_order']} records where start_date > completion_date"
        )
    for c in ("receivedate", "start_date", "completion_date"):
        if m.get(f"future_{c}"):
            failures.append(f"Found {m[f'future_{c}']} records with future {c}")
    checks.append(
        {"check": "date_consistency", "passed": not failures, "failures": failures}
    )

    # the aggregation pass's row counts, so a caller that needs them
    # (pipeline.run) runs no count() of its own; per-source counts need
    # the data_source column
    record_counts = {"total": total}
    if has_source:
        record_counts["fda"] = m["n_fda"] or 0
        record_counts["clinical_trials"] = m["n_ct"] or 0

    return {
        "date": date or _dt.date.today().isoformat(),
        "overall_passed": all(c["passed"] for c in checks),
        "checks": checks,
        "record_counts": record_counts,
    }


def pii_report(
    df: DataFrame,
    content_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-group PII incidence: how many documents contain each PII
    class (URL / email / phone / long-id) and how many total spans —
    the compliance-reporting companion to `functions.text.redact_pii`
    (which removes them, q59). The reference's quality suite counts
    nulls and dupes (data_quality.py:101-140); this extends the same
    reporting shape to content-level risk.

    Counting model mirrors redaction EXACTLY: pattern i is counted on
    the text with patterns 0..i-1 already replaced (the sequential
    `redact_pii` semantics), so a span never double-counts across
    classes (a phone inside a URL counts as URL) and the class totals
    sum to the number of placeholders redaction would have inserted.

    Pure map-side expression battery (one regexp_extract_all +
    regexp_replace chain per pattern, all codegen) + one group_col
    aggregate — the q113 Gopher-flags scale shape.
    """
    from ..functions.text import PII_PATTERNS
    from ._common import col_ref

    cur = F.coalesce(col_ref(content_col), F.lit(""))
    class_counts: dict[str, Column] = {}
    for pat, repl in PII_PATTERNS:
        name = repl.strip("<>").lower()
        cnt = F.size(F.regexp_extract_all(cur, F.lit(pat), 0))
        class_counts[name] = class_counts.get(name, F.lit(0)) + cnt
        cur = F.regexp_replace(cur, pat, repl)
    counted = df.select(
        col_ref(group_col).alias("grp"),
        *[c.alias(f"n_{name}") for name, c in class_counts.items()],
    )
    aggs = []
    for name in class_counts:
        aggs.append(F.sum(f"n_{name}").cast(T.LongType()).alias(f"n_{name}"))
        aggs.append(
            F.count_if(F.col(f"n_{name}") > 0).cast(T.LongType()).alias(f"docs_{name}")
        )
    aggs.append(
        F.count_if(
            sum((F.col(f"n_{n}") for n in class_counts), F.lit(0)) > 0
        )
        .cast(T.LongType())
        .alias("docs_any_pii")
    )
    aggs.append(F.count(F.lit(1)).cast(T.LongType()).alias("n_docs"))
    return counted.groupBy(F.col("grp").alias(group_col)).agg(*aggs)
