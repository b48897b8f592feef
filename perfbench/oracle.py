"""Independent DuckDB replay of one raw day through transform and
enrichment, the same oracle pattern the repo uses for q02: the SQL
restates ``operators/transforms.py`` and ``operators/enrich.py`` from
their documented semantics and never calls Spark.

:func:`expected_days` returns, per date, the transformed row counts and
checksums of the enriched table that ``pipeline.run`` must write.
"""

from __future__ import annotations

import duckdb

# Python str.strip() on the free-text fields, as in functions/medical.py
_STRIP = r"regexp_replace({}, '^\s+|\s+$', '', 'g')"
_NORM = "replace(lower(" + _STRIP.format("coalesce({}, '')") + "), ' ', '')"

_FDA_COLUMNS = (
    "{safetyreportid: 'VARCHAR', receivedate: 'DATE', serious: 'INTEGER', "
    "seriousnessdeath: 'INTEGER', seriousnesshospitalization: 'INTEGER', "
    "drug_name: 'VARCHAR', drug_indication: 'VARCHAR', reaction: 'VARCHAR', "
    "patient_age: 'DOUBLE', patient_sex: 'VARCHAR'}"
)
_CT_COLUMNS = (
    "{nct_id: 'VARCHAR', brief_title: 'VARCHAR', overall_status: 'VARCHAR', "
    "phase: 'VARCHAR', enrollment_count: 'DOUBLE', conditions: 'VARCHAR', "
    "start_date: 'DATE', completion_date: 'DATE'}"
)


def _read(glob: str, columns: str) -> str:
    return (
        f"SELECT *, year || '-' || month || '-' || day AS d FROM read_json("
        f"'{glob}', format='newline_delimited', hive_partitioning=true, "
        f"hive_types_autocast=false, columns={columns})"
    )


def replay_sql(raw: str) -> str:
    return f"""
WITH fda AS (
  SELECT DISTINCT ON (d, safetyreportid) * FROM ({_read(raw + '/fda/*/*/*/*.json', _FDA_COLUMNS)})
),
ct AS (
  SELECT DISTINCT ON (d, nct_id) * FROM ({_read(raw + '/clinicaltrials/*/*/*/*.json', _CT_COLUMNS)})
),
fda_t AS (
  SELECT d, safetyreportid, seriousnessdeath, seriousnesshospitalization,
         upper({_STRIP.format('drug_name')}) AS drug_name,
         2.0 * coalesce(serious, 0) + 10.0 * coalesce(seriousnessdeath, 0)
           + 5.0 * coalesce(seriousnesshospitalization, 0) AS severity_score,
         {_NORM.format(_STRIP.format("coalesce(drug_indication, '')"))} AS indication_norm
  FROM fda
),
drugs AS (
  SELECT d, drug_name, count(safetyreportid) AS adverse_event_count,
         avg(severity_score) AS avg_severity_score,
         coalesce(sum(seriousnessdeath), 0) AS death_count,
         coalesce(sum(seriousnesshospitalization), 0) AS hospitalization_count
  FROM fda_t GROUP BY d, drug_name
),
conds AS (
  SELECT d, upper(conditions) AS condition, count(nct_id) AS trial_count,
         coalesce(sum(enrollment_count), 0) AS total_enrollment,
         sum(CASE WHEN overall_status = 'COMPLETED' THEN 1 ELSE 0 END) AS completed_trials,
         {_NORM.format('upper(conditions)')} AS condition_norm
  FROM ct GROUP BY d, upper(conditions)
),
indications AS (
  SELECT DISTINCT d, drug_name, indication_norm FROM fda_t WHERE indication_norm <> ''
),
matched AS (
  SELECT DISTINCT i.d, i.drug_name, c.condition, c.trial_count,
         c.total_enrollment, c.completed_trials
  FROM indications i JOIN conds c
    ON i.d = c.d AND (contains(c.condition_norm, i.indication_norm)
                      OR contains(i.indication_norm, c.condition_norm))
),
stats AS (
  SELECT d, drug_name, sum(trial_count) AS trial_count,
         sum(total_enrollment) AS total_enrollment,
         sum(completed_trials) AS completed_trials
  FROM matched GROUP BY d, drug_name
),
enriched AS (
  SELECT g.*, coalesce(s.trial_count, 0) AS trial_count,
         coalesce(s.total_enrollment, 0.0) AS total_enrollment,
         coalesce(s.completed_trials, 0) AS completed_trials
  FROM drugs g LEFT JOIN stats s ON g.d = s.d AND g.drug_name = s.drug_name
),
pairs AS (
  SELECT i.d, count(*) AS indication_pairs, any_value(n.conditions) AS conditions
  FROM indications i JOIN (SELECT d, count(*) AS conditions FROM conds GROUP BY d) n
    ON i.d = n.d GROUP BY i.d
),
hits AS (
  SELECT i.d, count(*) AS matched_pairs
  FROM indications i JOIN conds c
    ON i.d = c.d AND (contains(c.condition_norm, i.indication_norm)
                      OR contains(i.indication_norm, c.condition_norm))
  GROUP BY i.d
)
SELECT e.d,
       (SELECT count(*) FROM fda WHERE fda.d = e.d) AS fda_records,
       (SELECT count(*) FROM ct WHERE ct.d = e.d) AS ct_records,
       count(*) AS enriched_records,
       sum(adverse_event_count) AS adverse_event_count,
       sum(death_count) AS death_count,
       sum(hospitalization_count) AS hospitalization_count,
       sum(trial_count) AS trial_count,
       sum(completed_trials) AS completed_trials,
       sum(total_enrollment) AS total_enrollment,
       sum(avg_severity_score) AS avg_severity_score,
       any_value(p.indication_pairs) AS indication_pairs,
       any_value(p.conditions) AS conditions,
       coalesce(any_value(h.matched_pairs), 0) AS matched_pairs
FROM enriched e LEFT JOIN pairs p ON e.d = p.d LEFT JOIN hits h ON e.d = h.d
GROUP BY e.d ORDER BY e.d
"""


def expected_days(raw: str) -> dict[str, dict]:
    """Per-date expectations for every raw day under ``raw``."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        cur = con.execute(replay_sql(raw))
        names = [c[0] for c in cur.description]
        return {row[0]: dict(zip(names[1:], row[1:])) for row in cur.fetchall()}
    finally:
        con.close()
