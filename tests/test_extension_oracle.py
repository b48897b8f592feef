"""DuckDB oracle checks for the round-2 extension operators, written
before registry slots opened.  As of round 3 all four ARE registered
(q59 redaction, q60 contamination, q61 capping, q62 resample_fill —
the registry copies live in __spark_entry__.py); these stay as
independent parameterization coverage (different SFs via
ORACLE_SF_DIR, plus the extra invariants asserted below).  Same
compare discipline as tests/test_oracle.py: identical aliases,
order-insensitive row sets.
"""


import duckdb
import pytest
from pyspark.sql import functions as F

from cloud_native_medical_data_etl_pipeline_spark.functions import text as X
from cloud_native_medical_data_etl_pipeline_spark.operators import curate, dedup

from conftest import ORACLE_SF_DIR

SF_DIR = ORACLE_SF_DIR


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    return con


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def _duck_rows(con, sql, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(str(r[i]) for i in order) for r in con.execute(sql).fetchall()
    )


def test_redacted_text_matches_oracle(spark, duck):
    got = _rows(
        spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id",
            X.normalize_text(X.redact_pii("text")).alias("clean"),
        )
    )
    # lifted verbatim from __spark_entry__.Q59_SQL so test and driver
    # oracle can never drift (whitespace class pinned on both engines)
    import __spark_entry__ as entry_mod

    assert got == _duck_rows(duck, entry_mod.Q59_SQL, ["doc_id", "clean"])


def test_contamination_md5_matches_oracle(spark, duck):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    probe = docs.where(F.col("doc_id") % 100 == 0)
    got = _rows(
        dedup.ngram_contamination(docs, probe, ngram_n=8)
    )
    n = 8
    sql = f"""
WITH toks AS (
  SELECT doc_id AS k,
         list_transform(string_split_regex(regexp_replace(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+'),
                        t -> t) AS tk
  FROM documents WHERE regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g') <> ''
),
grams AS (
  SELECT k,
         unnest(list_distinct(list_transform(range(1, len(tk) - {n - 2}),
                i -> md5(array_to_string(tk[i:i+{n - 1}], ' '))))) AS gh
  FROM toks WHERE len(tk) >= {n}
),
probe_g AS (SELECT DISTINCT gh FROM grams WHERE k % 100 = 0)
SELECT DISTINCT k AS doc_id FROM grams SEMI JOIN probe_g USING (gh)
"""
    assert got == _duck_rows(duck, sql, ["doc_id"])


def test_cap_per_group_matches_oracle(spark, duck):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
        "domain", F.col("doc_id") % 7
    )
    got = _rows(curate.cap_per_group(docs, "domain", 10).select("doc_id", "domain"))
    sql = """
WITH ranked AS (
  SELECT doc_id, doc_id % 7 AS domain,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id % 7
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
)
SELECT doc_id, domain FROM ranked WHERE rn <= 10
"""
    assert got == _duck_rows(duck, sql, ["doc_id", "domain"])


def test_resample_fill_matches_oracle(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators.timeseries import (
        resample_fill,
    )
    from cloud_native_medical_data_etl_pipeline_spark.sources.events_io import (
        read_events,
    )

    ev = read_events(spark, f"{SF_DIR}/events.parquet")
    got = _rows(resample_fill(ev, "ts", "event_type", "1 hour", "value"))

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/events.parquet')"
    )
    sql = """
WITH sparse AS (
  SELECT event_type, DATE_TRUNC('hour', ts) AS bucket,
         COUNT(*) AS n, ROUND(SUM(value), 4) AS total
  FROM events GROUP BY 1, 2
),
span AS (SELECT MIN(bucket) AS lo, MAX(bucket) AS hi FROM sparse),
grid AS (
  SELECT g.event_type, t.bucket
  FROM (SELECT DISTINCT event_type FROM sparse) g
  CROSS JOIN (
    SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
    FROM span
  ) t
)
SELECT grid.event_type, grid.bucket,
       COALESCE(sparse.n, 0) AS n,
       COALESCE(sparse.total, 0.0) AS total
FROM grid LEFT JOIN sparse USING (event_type, bucket)
"""
    assert got == _duck_rows(con, sql, ["event_type", "bucket", "n", "total"])
    # the dense grid is strictly larger than the sparse aggregate
    n_sparse = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts")).count().count()
    )
    assert len(got) >= n_sparse
