"""Driver contract: queries() + oracle_sql() + entry().

Every query exercises an operator class from SURVEY.md §2 (citation in
each builder's docstring) or one of the training-data-pipeline
operators (dedup / similarity / text analysis), implemented with the
cloud_native_medical_data_etl_pipeline_spark package and mirrored by an
ANSI-SQL oracle that DuckDB runs on the same parquet tables.

Determinism rules used throughout (so value-hashes match):
  * every computed column is aliased identically in Spark and SQL;
  * double aggregates are rounded (sum->4dp after per-group rounding,
    avg->6dp) — at sf<=0.1 the fp summation-order noise is orders of
    magnitude below the rounding grain;
  * DuckDB integer sums are CAST(... AS BIGINT) (they default to
    HUGEINT, which would be a schema mismatch);
  * embeddings are cast to DOUBLE[] on the DuckDB side (list_cosine_
    similarity on FLOAT[] computes in float32 and diverges);
  * ties in top-k / argmax are broken by key columns;
  * internal column names avoid case-only collisions (Nb vs nb):
    BOTH engines resolve identifiers case-insensitively.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloud_native_medical_data_etl_pipeline_spark.functions import medical as M
from cloud_native_medical_data_etl_pipeline_spark.functions import text as X
from cloud_native_medical_data_etl_pipeline_spark.functions import vectors as V
from cloud_native_medical_data_etl_pipeline_spark.operators import dedup as D
from cloud_native_medical_data_etl_pipeline_spark.operators import enrich as E
from cloud_native_medical_data_etl_pipeline_spark.operators import similarity as S


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Pin UTC on EVERY table read, not only events: read_events sets it
    # as a side effect, so setting it unconditionally here makes every
    # query's timestamp semantics identical regardless of the order the
    # harness runs them in (and of the host's default tz).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # ts has shipped as both TIMESTAMP(MICROS) and TIMESTAMP(NANOS);
        # read_events probes the footer and normalizes either encoding.
        from cloud_native_medical_data_etl_pipeline_spark.sources.events_io import (
            read_events,
        )

        return read_events(spark, f"{sf_dir}/events.parquet")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# q01 — multi-agg group-by (A1/A2/P14; TPC-H Q1 shape on lineitem)
# ---------------------------------------------------------------------------
def q01_pricing_summary(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= "2000-12-01")
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       SUM(l_quantity) AS sum_qty,
       ROUND(SUM(l_extendedprice), 4) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(AVG(l_extendedprice), 6) AS avg_price,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# q02 — fuzzy containment theta-join + re-aggregation (J1, the
# reference centerpiece, drug_transformer.py:230-282) mapped onto the
# part table: brand=drug, p_type=indication, "condition" strings are
# p_type||' '||p_brand summaries. Exercises normalize-for-join (P21),
# any-of containment, per-condition count-once dedupe, zero-fill.
# ---------------------------------------------------------------------------
def q02_containment_enrich(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    drugs = part.groupBy(F.col("p_brand").alias("drug_name")).agg(
        F.count(F.lit(1)).alias("part_count"),
        F.round(F.avg("p_retailprice"), 6).alias("avg_retail"),
    )
    indications = part.select(
        F.col("p_brand").alias("drug_name"),
        M.normalize_for_join("p_type").alias("indication_norm"),
    ).where(F.col("indication_norm") != "").distinct()
    conditions = (
        part.groupBy(
            F.concat_ws(" ", "p_type", "p_brand").alias("condition")
        )
        .agg(
            F.count(F.lit(1)).alias("trial_count"),
            F.round(F.sum("p_retailprice"), 4).alias("total_enrollment"),
            F.sum(F.when(F.col("p_size") > 25, 1).otherwise(0))
            .cast("long")
            .alias("completed_trials"),
        )
        .withColumn("condition_norm", M.normalize_for_join("condition"))
    )
    matched = E.containment_match(indications, conditions)
    stats = matched.groupBy("drug_name").agg(
        F.sum("trial_count").alias("trial_count"),
        F.round(F.sum("total_enrollment"), 2).alias("total_retail"),
        F.sum("completed_trials").alias("completed_trials"),
    )
    return drugs.join(stats, "drug_name", "left").select(
        "drug_name",
        "part_count",
        "avg_retail",
        F.coalesce("trial_count", F.lit(0)).cast("long").alias("trial_count"),
        F.coalesce("total_retail", F.lit(0.0)).alias("total_retail"),
        F.coalesce("completed_trials", F.lit(0)).cast("long").alias("completed_trials"),
    )


Q02_SQL = r"""
WITH drugs AS (
  SELECT p_brand AS drug_name, COUNT(*) AS part_count,
         ROUND(AVG(p_retailprice), 6) AS avg_retail
  FROM part GROUP BY p_brand
),
indications AS (
  SELECT DISTINCT p_brand AS drug_name,
         REPLACE(LOWER(regexp_replace(p_type, '^\s+|\s+$', '', 'g')), ' ', '') AS indication_norm
  FROM part WHERE REPLACE(LOWER(regexp_replace(p_type, '^\s+|\s+$', '', 'g')), ' ', '') <> ''
),
conditions AS (
  SELECT CONCAT_WS(' ', p_type, p_brand) AS condition,
         COUNT(*) AS trial_count,
         ROUND(SUM(p_retailprice), 4) AS total_enrollment,
         CAST(SUM(CASE WHEN p_size > 25 THEN 1 ELSE 0 END) AS BIGINT) AS completed_trials
  FROM part GROUP BY CONCAT_WS(' ', p_type, p_brand)
),
conds AS (
  SELECT *, REPLACE(LOWER(regexp_replace(condition, '^\s+|\s+$', '', 'g')), ' ', '') AS condition_norm FROM conditions
),
matched AS (
  SELECT DISTINCT i.drug_name, c.condition, c.trial_count,
                  c.total_enrollment, c.completed_trials
  FROM indications i JOIN conds c
    ON contains(c.condition_norm, i.indication_norm)
    OR contains(i.indication_norm, c.condition_norm)
),
stats AS (
  SELECT drug_name, CAST(SUM(trial_count) AS BIGINT) AS trial_count,
         ROUND(SUM(total_enrollment), 2) AS total_retail,
         CAST(SUM(completed_trials) AS BIGINT) AS completed_trials
  FROM matched GROUP BY drug_name
)
SELECT d.drug_name, d.part_count, d.avg_retail,
       COALESCE(s.trial_count, 0) AS trial_count,
       COALESCE(s.total_retail, 0.0) AS total_retail,
       COALESCE(s.completed_trials, 0) AS completed_trials
FROM drugs d LEFT JOIN stats s ON d.drug_name = s.drug_name
"""


# ---------------------------------------------------------------------------
# q03 — exact dedup keeping min key (A3/A4 at corpus scale)
# ---------------------------------------------------------------------------
def q03_exact_dedup(spark, sf_dir):
    # r16: narrow payload -> one-pass min(struct) dedup (1 scan, 1
    # Exchange, no semi-join); value-exact vs the full-row form at all
    # 3 SFs, A/B 0.553 -> 0.432 s at sf0.1.
    docs = _t(spark, sf_dir, "documents")
    return D.exact_dedup(docs, payload=["lang", "source"])


Q03_SQL = """
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
         ROW_NUMBER() OVER (PARTITION BY COALESCE(text, '') ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# q04 — pd.cut-style right-closed binning (P15/P16) on events.value
# ---------------------------------------------------------------------------
def q04_size_binning(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("bucket", M.study_size_category(F.col("value")))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


Q04_SQL = """
SELECT CASE WHEN value > 1000 THEN 'Very Large'
            WHEN value > 200 AND value <= 1000 THEN 'Large'
            WHEN value > 50 AND value <= 200 THEN 'Medium'
            WHEN value > 0 AND value <= 50 THEN 'Small'
            ELSE NULL END AS bucket,
       COUNT(*) AS n, ROUND(SUM(value), 4) AS total_value
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q05 — substring-ladder parser (P19 phase_numeric) on synthesized
# 'PHASE <n>' strings from l_linenumber
# ---------------------------------------------------------------------------
def q05_phase_ladder(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.withColumn(
            "phase_numeric",
            M.phase_numeric(F.concat(F.lit("PHASE "), F.col("l_linenumber"))),
        )
        .groupBy("phase_numeric")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("sum_qty"),
        )
    )


Q05_SQL = """
SELECT CASE WHEN l_linenumber = 4 THEN 4.0 WHEN l_linenumber = 3 THEN 3.0
            WHEN l_linenumber = 2 THEN 2.0 WHEN l_linenumber = 1 THEN 1.0
            ELSE 0.0 END AS phase_numeric,
       COUNT(*) AS n, SUM(l_quantity) AS sum_qty
FROM lineitem GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q06 — argmax per group (P5/T1 as window; SURVEY §2.5)
# ---------------------------------------------------------------------------
def q06_latest_event_per_user(spark, sf_dir):
    # r16: window row_number -> map-side-combinable argmax.  The
    # max(struct) comparison is lexicographic on (ts, event_id) — the
    # same ORDER BY ts DESC, event_id DESC — so the kept row is
    # identical (value-exact at all 3 SFs); the aggregate
    # partial-combines map-side, shuffling one row per user per
    # mapper instead of every event.  Struct buffers are not
    # hash-aggregatable (probed: max(struct)/max(string)/max_by all
    # plan SortAggregate on Spark 4.1), so each side sorts by user_id
    # — still cheaper than the old plan's full-event shuffle + 3-col
    # sort.  Locally bench-neutral (A/B 0.517 -> 0.505 s at 32 cores,
    # 0.689 -> 0.672 at 8); the win is the 100 TB shuffle-volume
    # shape.
    ev = _t(spark, sf_dir, "events")
    top = ev.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_id", "event_type")).alias("_m")
    )
    return top.select(
        "user_id",
        F.col("_m.event_id").alias("event_id"),
        F.col("_m.event_type").alias("event_type"),
        F.col("_m.ts").alias("ts"),
    )


Q06_SQL = """
SELECT user_id, event_id, event_type, ts FROM (
  SELECT user_id, event_id, event_type, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# q07 — quality metrics in one aggregation pass (§2.9: null-rate A7,
# range checks, record counts A8; fixed reference 'now' for determinism)
# ---------------------------------------------------------------------------
def q07_quality_metrics(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    return l.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("null_qty"),
        F.round(
            F.avg(F.when(F.col("l_quantity").isNull(), 1.0).otherwise(0.0)) * 100, 6
        ).alias("null_qty_pct"),
        F.sum(F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1).otherwise(0))
        .cast("long")
        .alias("bad_discount"),
        F.sum(F.when(F.col("l_quantity") < 0, 1).otherwise(0))
        .cast("long")
        .alias("negative_qty"),
        F.sum(F.when(F.col("l_shipdate") > F.lit("2026-01-01").cast("timestamp"), 1).otherwise(0))
        .cast("long")
        .alias("future_shipdate"),
    )


Q07_SQL = """
SELECT COUNT(*) AS total,
       CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_qty,
       ROUND(AVG(CASE WHEN l_quantity IS NULL THEN 1.0 ELSE 0.0 END) * 100, 6) AS null_qty_pct,
       CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS bad_discount,
       CAST(SUM(CASE WHEN l_quantity < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_qty,
       CAST(SUM(CASE WHEN l_shipdate > TIMESTAMP '2026-01-01 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS future_shipdate
FROM lineitem
"""


# ---------------------------------------------------------------------------
# q08 — duplicate detection, pandas keep=False semantics (A9): count
# of ALL rows in key groups with >1 row
# ---------------------------------------------------------------------------
def q08_duplicate_rows(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .count()
        .where(F.col("count") > 1)
        .agg(
            F.coalesce(F.sum("count"), F.lit(0)).alias("dup_rows"),
            F.count(F.lit(1)).alias("dup_keys"),
        )
    )


Q08_SQL = """
SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS dup_rows, COUNT(*) AS dup_keys FROM (
  SELECT o_custkey, COUNT(*) AS c FROM orders GROUP BY o_custkey HAVING COUNT(*) > 1
)
"""


# ---------------------------------------------------------------------------
# q09 — weighted severity score (P14) over derived 0/1 flags
# ---------------------------------------------------------------------------
def q09_severity_weighted(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    flagged = l.select(
        "l_returnflag",
        (F.col("l_returnflag") == "R").cast("int").alias("serious"),
        (F.col("l_discount") > 0.05).cast("int").alias("death"),
        (F.col("l_tax") > 0.04).cast("int").alias("hosp"),
    )
    return (
        flagged.withColumn(
            "severity", M.severity_score("serious", "death", "hosp")
        )
        .groupBy("l_returnflag")
        .agg(
            F.round(F.avg("severity"), 6).alias("avg_severity"),
            F.count(F.lit(1)).alias("n"),
        )
    )


Q09_SQL = """
SELECT l_returnflag,
       ROUND(AVG(
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END * 2.0
         + CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END * 10.0
         + CASE WHEN l_tax > 0.04 THEN 1 ELSE 0 END * 5.0
       ), 6) AS avg_severity,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# q10 — equi-join + datediff (P18, J-family): ship delay per priority
# ---------------------------------------------------------------------------
def q10_ship_delay(spark, sf_dir):
    # r16 measured negative result: the single-file scan serializes
    # the broadcast probe + partial agg in ONE task, but a
    # rebalance_for_cpu(select(l_orderkey, l_shipdate)) repartition
    # LOST the interleaved A/B decisively (new 1.540s vs old 1.098s
    # min-of-10, same session): the probe is a cheap hash lookup per
    # row, so the exchange round-trip of 600k rows costs more than
    # the serial probe it parallelizes.  Kept as-is; at scale the
    # scan parallelizes itself.
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    j = l.join(o, l.l_orderkey == o.o_orderkey)
    return j.groupBy("o_orderpriority").agg(
        F.round(F.avg(F.datediff("l_shipdate", "o_orderdate")), 6).alias("avg_delay_days"),
        F.max(F.datediff("l_shipdate", "o_orderdate")).alias("max_delay_days"),
        F.count(F.lit(1)).alias("n"),
    )


Q10_SQL = """
SELECT o_orderpriority,
       ROUND(AVG(DATE_DIFF('day', o_orderdate, l_shipdate)), 6) AS avg_delay_days,
       CAST(MAX(DATE_DIFF('day', o_orderdate, l_shipdate)) AS INTEGER) AS max_delay_days,
       COUNT(*) AS n
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# q11 — scalar string normalization projection (P12/P13/P21)
# ---------------------------------------------------------------------------
def q11_normalize_project(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        M.clean_upper("c_name").alias("name_clean"),
        M.normalize_for_join("c_mktsegment").alias("segment_norm"),
        M.fill_trim("c_mktsegment").alias("segment_filled"),
    )


Q11_SQL = r"""
SELECT c_custkey,
       UPPER(regexp_replace(c_name, '^\s+|\s+$', '', 'g')) AS name_clean,
       REPLACE(LOWER(regexp_replace(COALESCE(c_mktsegment, ''), '^\s+|\s+$', '', 'g')), ' ', '') AS segment_norm,
       regexp_replace(COALESCE(c_mktsegment, ''), '^\s+|\s+$', '', 'g') AS segment_filled
FROM customer
"""


# ---------------------------------------------------------------------------
# q12 — top-k with deterministic tie-break (T2/T3)
# ---------------------------------------------------------------------------
def q12_topk_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


Q12_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


# ---------------------------------------------------------------------------
# q13 — value counts (A6)
# ---------------------------------------------------------------------------
def q13_event_counts(spark, sf_dir):
    return _t(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )


Q13_SQL = "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type"


# ---------------------------------------------------------------------------
# q14 — tumbling-window aggregation (batch equivalent of the
# streaming path, SURVEY §2.10)
# ---------------------------------------------------------------------------
def q14_hourly_windows(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


Q14_SQL = """
SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
       COUNT(*) AS n, ROUND(SUM(value), 4) AS total_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q15 — text analysis: token counts, stopword/punct ratios, language ID
# ---------------------------------------------------------------------------
def q15_text_stats(spark, sf_dir):
    # Tokenize ONCE: project the lowercased token array, then derive
    # every token-rooted stat from it (r12 verdict CSE note — HOFs get
    # no codegen subexpression elimination, so the text-rooted forms
    # re-ran the split pipeline per stat).  CollapseProject keeps the
    # producing projection because _toks is expensive and multiply
    # referenced.  Values are unchanged: lowercasing never creates or
    # removes whitespace, so size(lower_tokens) == size(tokens), and
    # stopword_ratio/lang_id always tokenized the lowercased text.
    # r16 optimization: documents.parquet is one file / one row group,
    # so the scan plans ONE task and the whole HOF kernel pipeline ran
    # single-threaded on local[32] (bench stages showed (0+1)/1).
    # rebalance_for_cpu spreads the text across all slots before the
    # kernels (persist barrier keeps Catalyst from pushing the token
    # expressions back below the exchange); at 100 TB the scan already
    # has >= slots partitions and the helper is a no-op.  Values are
    # untouched — same expressions, same single tokenization.
    docs = _t(spark, sf_dir, "documents")
    base = D.rebalance_for_cpu(docs.select("doc_id", "text"))
    toks = F.col("_toks")
    out = base.select(
        "doc_id", "text", X.lower_tokens("text").alias("_toks")
    ).select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(X.stopword_ratio_from_tokens(toks), 6).alias("stop_ratio"),
        F.round(X.punct_ratio("text"), 6).alias("punct_ratio"),
        X.lang_id_from_tokens(toks).alias("lang_guess"),
    )
    return D._with_cached_deps(out, base)


_SW = ", ".join(f"'{w}'" for w in X.EN_STOPWORDS)
_MARK = {k: ", ".join(f"'{w}'" for w in v) for k, v in X.LANG_MARKERS.items()}

Q15_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g') = '' THEN []::VARCHAR[]
              ELSE list_transform(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+'), t -> LOWER(t))
         END AS tk,
         COALESCE(text, '') AS s
  FROM documents
)
SELECT doc_id,
       CAST(len(tk) AS BIGINT) AS n_tokens,
       ROUND(CASE WHEN len(tk) > 0
             THEN len(list_filter(tk, t -> list_contains([{_SW}], t))) * 1.0 / len(tk)
             ELSE 0.0 END, 6) AS stop_ratio,
       ROUND(CASE WHEN length(s) > 0
             THEN len(regexp_extract_all(s, '[^\\w\\s]')) * 1.0 / length(s)
             ELSE 0.0 END, 6) AS punct_ratio,
       CASE WHEN len(list_filter(tk, t -> list_contains([{_MARK['en']}], t))) = 0
             AND len(list_filter(tk, t -> list_contains([{_MARK['es']}], t))) = 0
             AND len(list_filter(tk, t -> list_contains([{_MARK['de']}], t))) = 0
             AND len(list_filter(tk, t -> list_contains([{_MARK['fr']}], t))) = 0
            THEN 'und'
            WHEN len(list_filter(tk, t -> list_contains([{_MARK['en']}], t))) >= len(list_filter(tk, t -> list_contains([{_MARK['es']}], t)))
             AND len(list_filter(tk, t -> list_contains([{_MARK['en']}], t))) >= len(list_filter(tk, t -> list_contains([{_MARK['de']}], t)))
             AND len(list_filter(tk, t -> list_contains([{_MARK['en']}], t))) >= len(list_filter(tk, t -> list_contains([{_MARK['fr']}], t)))
            THEN 'en'
            WHEN len(list_filter(tk, t -> list_contains([{_MARK['es']}], t))) >= len(list_filter(tk, t -> list_contains([{_MARK['de']}], t)))
             AND len(list_filter(tk, t -> list_contains([{_MARK['es']}], t))) >= len(list_filter(tk, t -> list_contains([{_MARK['fr']}], t)))
            THEN 'es'
            WHEN len(list_filter(tk, t -> list_contains([{_MARK['de']}], t))) >= len(list_filter(tk, t -> list_contains([{_MARK['fr']}], t)))
            THEN 'de'
            ELSE 'fr' END AS lang_guess
FROM toks
"""


# ---------------------------------------------------------------------------
# q16 — rolling-hash document fingerprint (portable arithmetic)
# ---------------------------------------------------------------------------
def q16_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", X.fingerprint("text").alias("fp"))


Q16_SQL = """
SELECT doc_id,
       CASE WHEN length(COALESCE(text, '')) = 0 THEN 0
            ELSE list_reduce(
                   list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
                   (acc, x) -> (acc * 31 + x) % 2147483647)
       END AS fp
FROM documents
"""


# ---------------------------------------------------------------------------
# q17 — MinHash + LSH near-duplicate pairs with exact-Jaccard
# verification (full pipeline, oracle included)
# ---------------------------------------------------------------------------
_MH_N, _MH_H, _MH_BANDS, _MH_THRESH = 3, 8, 4, 0.5


def q17_minhash_near_dups(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        docs,
        num_hashes=_MH_H,
        bands=_MH_BANDS,
        jaccard_threshold=_MH_THRESH,
        ngram_n=_MH_N,
    )


def _mh_sig_ctes(src: str = "documents") -> str:
    """Shared minhash-signature SQL pipeline (toks -> shingles -> md5
    lane signature -> exploded band buckets) — ONE definition for the
    q17 self-join oracle, the q86 probe-join oracle, and the q115
    ingest oracle (which points ``src`` at the exact-deduped CTE),
    mirroring the single _minhash_band_cols definition on the Spark
    side."""
    n, h, bands = _MH_N, _MH_H, _MH_BANDS
    r = h // bands
    mh_terms = ",\n         ".join(
        f"list_min(list_transform(sh, s -> substr(md5('{i // 4}|' || s), "
        f"{1 + 8 * (i % 4)}, 8))) AS mh{i}"
        for i in range(h)
    )
    band_elems = ", ".join(
        "'{b}#' || ".format(b=b)
        + " || '#' || ".join(f"mh{b * r + j}" for j in range(r))
        for b in range(bands)
    )
    return f"""toks AS (
  SELECT doc_id AS k,
         list_transform(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+'), t -> LOWER(t)) AS tk
  FROM {src} WHERE regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g') <> ''
),
sh AS (
  SELECT k,
         list_distinct(list_transform(range(1, len(tk) - {n - 2}),
                       i -> array_to_string(tk[i:i+{n - 1}], ' '))) AS sh
  FROM toks WHERE len(tk) >= {n}
),
sig AS (
  SELECT k, sh,
         {mh_terms}
  FROM sh
),
banded AS (
  SELECT k, unnest([{band_elems}]) AS bucket FROM sig
)"""


def _mh_sql() -> str:
    return f"""
WITH {_mh_sig_ctes()},
cand AS (
  SELECT DISTINCT a.k AS key_a, b.k AS key_b
  FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.k < b.k
),
scored AS (
  SELECT c.key_a, c.key_b,
         ROUND(len(list_intersect(x.sh, y.sh)) * 1.0
               / len(list_distinct(x.sh || y.sh)), 6) AS jaccard
  FROM cand c JOIN sh x ON c.key_a = x.k JOIN sh y ON c.key_b = y.k
)
SELECT key_a, key_b, jaccard FROM scored WHERE jaccard >= {_MH_THRESH}
"""


# ---------------------------------------------------------------------------
# q18 — word n-gram Jaccard near-dup pairs (candidates share a rare
# n-gram; verification on full sets)
# ---------------------------------------------------------------------------
_NG_N, _NG_THRESH, _NG_PRUNE = 3, 0.4, 50


def q18_ngram_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(
        docs, n=_NG_N, jaccard_threshold=_NG_THRESH, min_df_prune=_NG_PRUNE
    )


Q18_SQL = f"""
WITH toks AS (
  SELECT doc_id AS k,
         list_transform(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+'), t -> LOWER(t)) AS tk
  FROM documents WHERE regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g') <> ''
),
grams AS (
  SELECT k,
         list_distinct(list_transform(range(1, len(tk) - {_NG_N - 2}),
                       i -> array_to_string(tk[i:i+{_NG_N - 1}], ' '))) AS g
  FROM toks WHERE len(tk) >= {_NG_N}
),
exploded AS (SELECT k, unnest(g) AS gram FROM grams),
rare AS (SELECT gram FROM exploded GROUP BY gram HAVING COUNT(*) <= {_NG_PRUNE}),
cand_grams AS (SELECT e.k, e.gram FROM exploded e JOIN rare USING (gram)),
pairs AS (
  SELECT DISTINCT a.k AS key_a, b.k AS key_b
  FROM cand_grams a JOIN cand_grams b ON a.gram = b.gram AND a.k < b.k
),
scored AS (
  SELECT p.key_a, p.key_b,
         ROUND(len(list_intersect(x.g, y.g)) * 1.0
               / len(list_distinct(x.g || y.g)), 6) AS jaccard
  FROM pairs p JOIN grams x ON p.key_a = x.k JOIN grams y ON p.key_b = y.k
)
SELECT key_a, key_b, jaccard FROM scored WHERE jaccard >= {_NG_THRESH}
"""


# ---------------------------------------------------------------------------
# q19 — brute-force cosine top-k similarity search
# ---------------------------------------------------------------------------
def q19_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    return S.cosine_topk(emb, q, k=10)


Q19_SQL = """
WITH q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       ROUND(list_cosine_similarity(embedding::DOUBLE[], (SELECT e FROM q)), 6) AS cosine
FROM embeddings
ORDER BY list_cosine_similarity(embedding::DOUBLE[], (SELECT e FROM q)) DESC, vec_id ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# q20 — embedding-cosine near-duplicate pairs, OR-amplified banded
# sign-LSH (the 100 TB path: candidates come from an equi-join on the
# per-band hyperplane bucket, never an all-pairs scan or a driver
# gather; a pair is a candidate if ANY of the 12 independent 4-plane
# bands agrees, then every candidate is verified with the exact
# cosine).  Measured recall vs the exact all-pairs answer: 51/59 true
# pairs (86%) at sf0.01 and 838/920 (91%) at sf0.1 — up from 11/59
# (19%) with the old single band.  The oracle mirrors the identical
# banding with the SAME float64 plane literals, so it verifies
# Spark<->SQL CONSISTENCY of the approximation hash-exactly; recall
# vs a NumPy brute force is measured separately
# (tests/test_dedup_similarity.py::test_banded_lsh_recall_vs_exact).
#
# SCALE ROUTING (r4): threshold 0.4 is intrinsically near-quadratic
# for ANY LSH family (rho~0.67) — at 100 TB, low-threshold similarity
# search belongs on IVF (similarity.ivf_topk / q23); this banded
# instance's r=4 bands run the fat-bucket GEMM verify kernel (the
# operator picks it from the planes per band), whose per-task memory
# is BOUNDED by the operator's hot-bucket split (dedup.CHUNK_CAP =
# 32768 vectors/task), so a skewed bucket can no longer exceed
# executor memory.  The sub-quadratic banded regime (r=12,
# threshold 0.9) is demonstrated hash-exactly by q20b below.
# ---------------------------------------------------------------------------
_COS_THRESH = 0.4
_EMB_DIM = 64
_HP_R, _HP_B = 4, 12  # planes per band, number of OR-ed bands
_HP_BANDS = [
    S.deterministic_hyperplanes(_EMB_DIM, n_planes=_HP_R, seed=20 + b)
    for b in range(_HP_B)
]


def q20_embedding_near_dups(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    # fail LOUD on dim drift: zip_with against wrong-length plane
    # literals null-pads, which would silently collapse every vector
    # into bucket 0 (a full self-join) while the oracle errors
    actual_dim = emb.select(F.size("embedding")).first()[0]
    if actual_dim != _EMB_DIM:
        raise ValueError(
            f"embeddings dim drifted to {actual_dim} (expected {_EMB_DIM}); "
            "regenerate _HP_BANDS with the new dim"
        )
    return D.embedding_near_dups(
        emb, threshold=_COS_THRESH, plane_bands=_HP_BANDS
    )


_EMB_CORPUS_CTE = "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"


def _emb_sql_for(plane_bands, threshold: float, corpus_cte: str) -> str:
    """Banded sign-LSH oracle, parameterized over the plane bands, the
    cosine threshold, and the corpus CTE (q20 runs on the raw
    embeddings table, q20b on the perturbed-union corpus)."""

    def bucket_terms(planes) -> str:
        return "\n         + ".join(
            f"(CASE WHEN list_dot_product(v, [{', '.join(repr(x) for x in p)}]) >= 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )

    band_elems = ",\n       ".join(
        f"'{b}#' || CAST({bucket_terms(planes)} AS VARCHAR)"
        for b, planes in enumerate(plane_bands)
    )
    return f"""
WITH e AS (
  {corpus_cte}
),
banded AS (
  SELECT vec_id, unnest([{band_elems}]) AS bucket
  FROM e
),
cand AS (
  SELECT DISTINCT a.vec_id AS key_a, b.vec_id AS key_b
  FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT key_a, key_b,
       ROUND(list_cosine_similarity(ea.v, eb.v), 6) AS cosine
FROM cand
JOIN e ea ON ea.vec_id = cand.key_a
JOIN e eb ON eb.vec_id = cand.key_b
WHERE ROUND(list_cosine_similarity(ea.v, eb.v), 6) >= {threshold}
"""


def _emb_sql() -> str:
    return _emb_sql_for(_HP_BANDS, _COS_THRESH, _EMB_CORPUS_CTE)


# ---------------------------------------------------------------------------
# q20b — the SUB-QUADRATIC banded regime (r3 verdict ask #2): at high
# thresholds sign-LSH genuinely prunes, so this instance runs 16 OR-ed
# bands of r=12 planes (4096 bucket values per band — occupancy
# ~N/4096, vs q20's 16).  The raw corpus has no pairs above cosine
# 0.52, so the query plants them: each vector is unioned with a
# deterministically perturbed copy (first coordinate + 0.2, exact
# double arithmetic both engines), giving one ~0.99-cosine true pair
# per vector for the banding to recover.  Recall at cosine 0.9 with
# (r=12, B=16): per-plane agreement p = 1 - acos(0.9)/pi = 0.856,
# band hit p^12 = 0.155, miss-all (1-0.155)^16 = 0.067 — and the
# planted pairs sit at ~0.999 where recall is ~1-1e-16.
# ---------------------------------------------------------------------------
_COS_HI = 0.9
_HP_R_HI, _HP_B_HI = 12, 16
_HP_BANDS_HI = [
    S.deterministic_hyperplanes(_EMB_DIM, n_planes=_HP_R_HI, seed=300 + b)
    for b in range(_HP_B_HI)
]
_PERT_OFFSET = 1_000_000


def q20b_embedding_near_dups_hi(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    actual_dim = emb.select(F.size("embedding")).first()[0]
    if actual_dim != _EMB_DIM:
        raise ValueError(
            f"embeddings dim drifted to {actual_dim} (expected {_EMB_DIM}); "
            "regenerate _HP_BANDS_HI with the new dim"
        )
    max_id = emb.agg(F.max("vec_id")).first()[0]
    if max_id is not None and max_id >= _PERT_OFFSET:
        # fail loud like the dim-drift guard above: an id collision
        # between a real vector and a perturbed copy would be
        # hash-CONSISTENT across both engines, so the oracle could
        # never flag it
        raise ValueError(
            f"max vec_id {max_id} >= _PERT_OFFSET {_PERT_OFFSET}; "
            "raise the offset before the perturbed-union corpus is valid"
        )
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select(F.col("vec_id"), vd.alias("v"))
    pert = base.select(
        (F.col("vec_id") + _PERT_OFFSET).alias("vec_id"),
        F.concat(
            F.array(F.col("v")[0] + F.lit(0.2)), F.slice("v", 2, _EMB_DIM)
        ).alias("v"),
    )
    # r=12 >= dedup.PAIR_VERIFY_MIN_PLANES: the band buckets are mostly
    # singletons, so the operator verifies per pair in the JVM instead
    # of paying Arrow per-group overhead on thousands of one-vector
    # groups (see _banded_embedding_near_dups docstring)
    return D.embedding_near_dups(
        base.unionByName(pert),
        vec_col="v",
        key_col="vec_id",
        threshold=_COS_HI,
        plane_bands=_HP_BANDS_HI,
    )


def _emb_hi_sql() -> str:
    corpus = (
        "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings\n"
        f"  UNION ALL\n"
        f"  SELECT vec_id + {_PERT_OFFSET}, list_concat([v[1] + 0.2], v[2:])\n"
        "  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"
    )
    return _emb_sql_for(_HP_BANDS_HI, _COS_HI, corpus)


# ---------------------------------------------------------------------------
# q21 — pd.cut age-bin semantics on p_size (P15 edges 18/30/50)
# ---------------------------------------------------------------------------
def q21_age_bins(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    return (
        part.withColumn("age_group", M.age_group(F.col("p_size").cast("double")))
        .groupBy("age_group")
        .agg(F.count(F.lit(1)).alias("n"))
    )


Q21_SQL = """
SELECT CASE WHEN p_size > 0 AND p_size <= 18 THEN 'Pediatric'
            WHEN p_size > 18 AND p_size <= 30 THEN 'Young Adult'
            WHEN p_size > 30 AND p_size <= 50 THEN 'Adult'
            WHEN p_size > 50 AND p_size <= 65 THEN 'Senior'
            WHEN p_size > 65 AND p_size <= 100 THEN 'Elderly'
            ELSE NULL END AS age_group,
       COUNT(*) AS n
FROM part GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q22 — simhash near-dup pairs. Fully oracled: the portable polynomial
# token hash is list_reduce-expressible, the 60-bit majority vote is a
# sum of CASE terms over list_filter counts (two structurally
# independent polynomial hashes — seed 7 / mult 31 for bits 0..29,
# seed 13 / mult 37 for bits 30..59; a second SEED alone is a constant
# offset of the first hash for equal-length tokens, which would
# correlate the halves), and the pigeonhole band join is the same
# DISTINCT self-join shape as q17.  band_bits=12 keeps 4096 bucket
# values per band — band occupancy ~N/4096 instead of the old
# 16-value bands.
# ---------------------------------------------------------------------------
_SH_BITS, _SH_MAXHAM, _SH_BANDBITS = 60, 3, 12
_SH_HALF = 30  # usable low bits per seeded poly-hash


def q22_simhash_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return D.simhash_pairs(
        docs, bits=_SH_BITS, max_hamming=_SH_MAXHAM, band_bits=_SH_BANDBITS
    )


def _simhash_sql() -> str:
    bits, band_bits = _SH_BITS, _SH_BANDBITS
    num_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    # bit b of the simhash is 1 iff more token hashes have bit b set
    # than not (strict majority, ties -> 0) — mirrors dedup.simhash:
    # bits 0..29 vote on the seed-7/mult-31 hash, bits 30..59 on the
    # seed-13/mult-37 one (independent multiplier, see dedup._poly_hash)
    vote_terms = "\n       + ".join(
        f"CASE WHEN 2 * len(list_filter("
        f"{'hs1' if b < _SH_HALF else 'hs2'}, "
        f"h -> (h >> {b if b < _SH_HALF else b - _SH_HALF}) & 1 = 1))"
        f" > len(hs1) THEN {1 << b} ELSE 0 END"
        for b in range(bits)
    )
    band_elems = ", ".join(
        f"'{b}#' || CAST((sim >> {b * band_bits}) & {mask} AS VARCHAR)"
        for b in range(num_bands)
    )
    return f"""
WITH toks AS (
  SELECT doc_id AS k,
         CASE WHEN regexp_replace(LOWER(COALESCE(text, '')), '^\\s+|\\s+$', '', 'g') = ''
              THEN CAST([] AS VARCHAR[])
              ELSE list_distinct(string_split_regex(
                     regexp_replace(LOWER(COALESCE(text, '')), '^\\s+|\\s+$', '', 'g'), '\\s+'))
         END AS tk
  FROM documents
),
hashed AS (
  SELECT k,
         list_transform(tk, t -> list_reduce(
           list_prepend(CAST(7 AS BIGINT),
                        list_transform(string_split(t, ''),
                                       c -> CAST(ascii(c) AS BIGINT))),
           (a, b) -> (a * 31 + b) % 2147483647)) AS hs1,
         list_transform(tk, t -> list_reduce(
           list_prepend(CAST(13 AS BIGINT),
                        list_transform(string_split(t, ''),
                                       c -> CAST(ascii(c) AS BIGINT))),
           (a, b) -> (a * 37 + b) % 2147483647)) AS hs2
  FROM toks
),
sims AS (
  SELECT k,
         CAST({vote_terms} AS BIGINT) AS sim
  FROM hashed
),
banded AS (
  SELECT k, sim, unnest([{band_elems}]) AS bucket FROM sims
),
cand AS (
  SELECT DISTINCT a.k AS key_a, b.k AS key_b,
         CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
  FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.k < b.k
)
SELECT key_a, key_b, hamming FROM cand WHERE hamming <= {_SH_MAXHAM}
"""


# ---------------------------------------------------------------------------
# q23 — IVF approximate nearest neighbors with TRAINED centroids
# (seeded k-means: min-key init, fixed Lloyd iterations)
# ---------------------------------------------------------------------------
def q23_ivf_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    return S.ivf_topk(emb, q, k=10, num_cells=16, nprobe=4, train_iters=2)


# Every IVF ingredient is deterministic and SQL-expressible: the
# centroid INIT is the 16 smallest-key vectors, each Lloyd iteration
# (fixed count = 2) is one argmax assignment (ties -> lowest cell,
# matching Spark's array_position-of-max) plus per-(cell, dim) AVG
# ROUNDED to 6dp — the rounding is what makes iterated means
# engine-portable (raw sums drift by ulps with summation order; see
# similarity.train_ivf_centroids) — unrolled here as one CTE pair per
# iteration. Cells that lose all members keep their previous centroid
# (LEFT JOIN + COALESCE == the Spark dict fallback). Probing keeps the
# nprobe best cells by query-centroid cosine (Python's stable sort ==
# ORDER BY sim DESC, cell_id ASC). Raw-double cosine ordering agrees
# between the engines on DOUBLE[] input (same precedent as q19).
def _ivf_lloyd_ctes(
    num_cells=16, iters=2, round_dp=6, src="embeddings"
) -> str:
    """The seeded-k-means unroll shared by the q23 IVF oracle and the
    q126 index-append oracle: cents0 (the num_cells smallest-key
    vectors of ``src``) plus one (assignment, mean) CTE pair per Lloyd
    iteration, ending at cents{iters}. ``src`` is any relation with
    (vec_id, embedding)."""
    parts = [
        f"""cents0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1 AS cell_id,
         CAST(embedding AS DOUBLE[]) AS cvec
  FROM (SELECT vec_id, embedding FROM {src}
        ORDER BY vec_id ASC LIMIT {num_cells})
),
emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM {src})"""
    ]
    for i in range(iters):
        parts.append(
            f""",
a{i} AS (
  SELECT e.vec_id, e.emb, c.cell_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_cosine_similarity(e.emb, c.cvec) DESC, c.cell_id ASC
         ) AS rn
  FROM emb e CROSS JOIN cents{i} c
),
m{i} AS (
  SELECT cell_id, dim, ROUND(AVG(val), {round_dp}) AS m
  FROM (SELECT cell_id, unnest(emb) AS val, generate_subscripts(emb, 1) AS dim
        FROM a{i} WHERE rn = 1)
  GROUP BY cell_id, dim
),
cents{i + 1} AS (
  SELECT c.cell_id, COALESCE(n.cvec, c.cvec) AS cvec
  FROM cents{i} c LEFT JOIN (
    SELECT cell_id, list(m ORDER BY dim) AS cvec FROM m{i} GROUP BY cell_id
  ) n USING (cell_id)
)"""
        )
    return "".join(parts)


def _ivf_sql(num_cells=16, nprobe=4, k=10, iters=2, round_dp=6) -> str:
    parts = [
        "\nWITH "
        + _ivf_lloyd_ctes(num_cells, iters, round_dp)
        + """,
qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0)"""
    ]
    parts.append(
        f""",
af AS (
  SELECT e.vec_id, e.emb, c.cell_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_cosine_similarity(e.emb, c.cvec) DESC, c.cell_id ASC
         ) AS rn
  FROM emb e CROSS JOIN cents{iters} c
),
probes AS (
  SELECT cell_id,
         ROW_NUMBER() OVER (
           ORDER BY list_cosine_similarity(cvec, (SELECT q FROM qv)) DESC,
                    cell_id ASC
         ) AS pr
  FROM cents{iters}
)
SELECT a.vec_id,
       ROUND(list_cosine_similarity(a.emb, (SELECT q FROM qv)), 6) AS cosine
FROM af a
JOIN probes p ON a.cell_id = p.cell_id AND p.pr <= {nprobe}
WHERE a.rn = 1
ORDER BY cosine DESC, a.vec_id ASC
LIMIT {k}"""
    )
    return "".join(parts)


Q23_SQL = _ivf_sql()


# ---------------------------------------------------------------------------
# q24 — multimodal binary-column pipeline: attach payloads, decode to
# feature vectors via Arrow-batched mapInPandas (rows-only: the decode
# stub is Python-side by design)
# ---------------------------------------------------------------------------
def q24_multimodal_features(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators import multimodal

    docs = _t(spark, sf_dir, "documents")
    media = multimodal.attach_payload(docs)
    feats = multimodal.decode_features(media, dim=8)
    # array<double> is unhashable in the driver's pandas canonicalizer;
    # emit the vector as a comma-joined string of 1e6-scaled integers
    # (the elements are exact IEEE doubles on both engines, so the
    # scaled rounding is identical) — same trick q48 uses.
    return feats.select(
        "media_id",
        "n_bytes",
        "byte_mean",
        F.array_join(
            F.transform(
                "feature",
                lambda x: F.round(x * 1000000).cast("bigint").cast("string"),
            ),
            ",",
        ).alias("feature_q6"),
    )


# The deterministic fake decode is byte-bucket statistics over the
# utf-8 payload; the corpus is pure ASCII (verified: octet_length ==
# length at every SF), so bytes == ascii(char) and the whole stub maps
# to SQL: bucket b sums positions b+1, b+9, ... via a stepped range.
# All accumulations are integer-valued doubles < 2^53, so Python's
# running float += and SQL's list_sum are both exact — identical
# divisions, identical hashes. (A real codec decode would NOT be
# SQL-expressible; this oracle covers the Arrow plumbing contract.)
def _mm_sql(dim: int = 8) -> str:
    buckets = ",\n         ".join(
        f"CAST(list_sum(list_transform(range({b + 1}, len(bs) + 1, {dim}),"
        f" i -> bs[i])) AS DOUBLE) / len(bs)"
        for b in range(dim)
    )
    zeros = ", ".join(["0.0"] * dim)
    return f"""
WITH b AS (
  SELECT doc_id AS media_id,
         list_transform(string_split(COALESCE(text, ''), ''),
                        c -> ascii(c)) AS bs
  FROM documents
), f AS (
  SELECT media_id,
         CAST(len(bs) AS BIGINT) AS n_bytes,
         CASE WHEN len(bs) > 0
              THEN CAST(list_sum(bs) AS DOUBLE) / len(bs) ELSE 0.0
         END AS byte_mean,
         CASE WHEN len(bs) > 0
              THEN [{buckets}]
              ELSE [{zeros}]
         END AS feature
  FROM b
)
SELECT media_id, n_bytes, byte_mean,
       array_to_string(
         list_transform(feature,
                        x -> CAST(CAST(ROUND(x * 1000000) AS BIGINT) AS VARCHAR)),
         ',') AS feature_q6
FROM f
"""


# ---------------------------------------------------------------------------
# q25 — REAL Structured Streaming: readStream -> watermark -> tumbling
# windows -> availableNow drain -> memory sink. Oracle-checkable
# because complete mode emits every window (same result as q14).
# ---------------------------------------------------------------------------
def q25_streaming_hourly(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.streaming import events as SE

    return SE.hourly_counts_available_now(spark, f"{sf_dir}/events.parquet")


Q25_SQL = """
SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
       COUNT(*) AS n, ROUND(SUM(value), 4) AS total_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q26 — anti join: customers with NO urgent high-value order. The
# filtered right side is small -> Catalyst broadcasts the anti join.
# ---------------------------------------------------------------------------
def q26_anti_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 150000)
    )
    return c.join(
        o, c["c_custkey"] == o["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


Q26_SQL = """
SELECT c_custkey, c_name, c_acctbal FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 150000
)
"""


# ---------------------------------------------------------------------------
# q27 — TPC-H Q3 shape: dim-filtered 3-way join + agg + top-k. The
# customer side is filtered then broadcast; lineitem never shuffles
# wider than (orderkey, revenue terms).
# ---------------------------------------------------------------------------
def q27_top_revenue(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


Q27_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# q28 — hierarchical rollup (region -> nation -> total): multi-level
# aggregate in one pass, an operator family the reference lacks
# entirely (SURVEY.md §2.4 "no grouping sets / cube / rollup").
# ---------------------------------------------------------------------------
def q28_rollup_revenue(spark, sf_dir):
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    joined = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    return joined.rollup("r_name", "n_name").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


Q28_SQL = """
SELECT r_name, n_name, ROUND(SUM(o_totalprice), 2) AS total_price,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
"""


# ---------------------------------------------------------------------------
# q29 — as-of join (click -> latest prior purchase per user): the
# union+window implementation, one shuffle, no range-join pair blowup.
# Timestamps compared as epoch micros so the nanos-parquet oracle
# truncates identically.
# ---------------------------------------------------------------------------
def q29_asof_attribution(spark, sf_dir):
    # r16: both asof sides are filters of ONE events frame, so the
    # two-frame union (which planned TWO scans of events, one per
    # side's pushed filter) is fused into a single conditional
    # projection over ONE scan — asof_join_same_source shares the
    # window tail verbatim with asof_join, and click/purchase are
    # mutually exclusive values of one column, satisfying its
    # disjointness contract.  Value-exact at all 3 SFs; plan diff:
    # 2 parquet scans -> 1, same single Exchange + Window.
    from cloud_native_medical_data_etl_pipeline_spark.operators import joins as J

    ev = _t(spark, sf_dir, "events")
    out = J.asof_join_same_source(
        ev.select("user_id", "ts", "event_type", "event_id", "value"),
        on="user_id",
        ts_col="ts",
        left_pred=F.col("event_type") == "click",
        right_pred=F.col("event_type") == "purchase",
        left_keep=["event_id"],
        right_payload=["event_id", "value"],
        prefix="last_",
    )
    return out.select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.unix_micros("ts").alias("click_us"),
        F.col("last_event_id").alias("purchase_id"),
        F.unix_micros("last_ts").alias("purchase_us"),
        F.col("last_value").alias("purchase_value"),
    )


Q29_SQL = """
WITH clicks AS (
  SELECT user_id, ts, event_id AS click_id FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, ts, event_id AS purchase_id, value FROM events
  WHERE event_type = 'purchase'
)
SELECT c.user_id, c.click_id, epoch_us(c.ts) AS click_us,
       p.purchase_id, epoch_us(p.ts) AS purchase_us,
       p.value AS purchase_value
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND p.ts <= c.ts
"""


# ---------------------------------------------------------------------------
# q30 — gap-based sessionization (30-min inactivity): two window
# passes sharing one shuffle, then per-session stats.
# ---------------------------------------------------------------------------
def q30_session_stats(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators import sessions as SS

    ev = _t(spark, sf_dir, "events")
    return SS.session_stats(ev, gap_minutes=30).select(
        "user_id",
        "session_id",
        "n_events",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        F.round("duration_s", 6).alias("duration_s"),
    )


Q30_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS st
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts,
         CAST(SUM(st) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       epoch_us(MIN(ts)) AS start_us, epoch_us(MAX(ts)) AS end_us,
       ROUND((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0, 6) AS duration_s
FROM numbered GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# q31 — end-to-end corpus curation: lang filter + quality filter +
# exact dedup + minhash near-dup removal, composed as one lazy plan.
# ---------------------------------------------------------------------------
def q31_curated_corpus(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators import curate as C

    docs = _t(spark, sf_dir, "documents")
    return C.curate(
        docs,
        lang="en",
        min_quality=0.3,
        jaccard_threshold=_MH_THRESH,
        num_hashes=_MH_H,
        bands=_MH_BANDS,
        ngram_n=_MH_N,
    ).select("doc_id", "lang", "source")


def _q31_sql() -> str:
    n, h, bands = _MH_N, _MH_H, _MH_BANDS
    r = h // bands
    mh_terms = ",\n         ".join(
        f"list_min(list_transform(sh, s -> substr(md5('{i // 4}|' || s), "
        f"{1 + 8 * (i % 4)}, 8))) AS mh{i}"
        for i in range(h)
    )
    band_elems = ", ".join(
        "'{b}#' || ".format(b=b)
        + " || '#' || ".join(f"mh{b * r + j}" for j in range(r))
        for b in range(bands)
    )
    hits = {
        lang: f"len(list_filter(tk, t -> list_contains([{m}], t)))"
        for lang, m in _MARK.items()
    }
    lang_case = f"""CASE WHEN {hits['en']} = 0 AND {hits['es']} = 0
             AND {hits['de']} = 0 AND {hits['fr']} = 0 THEN 'und'
            WHEN {hits['en']} >= {hits['es']} AND {hits['en']} >= {hits['de']}
             AND {hits['en']} >= {hits['fr']} THEN 'en'
            WHEN {hits['es']} >= {hits['de']} AND {hits['es']} >= {hits['fr']} THEN 'es'
            WHEN {hits['de']} >= {hits['fr']} THEN 'de'
            ELSE 'fr' END"""
    return f"""
WITH base AS (
  SELECT doc_id, lang, source, COALESCE(text, '') AS s,
         CASE WHEN regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g') = '' THEN []::VARCHAR[]
              ELSE list_transform(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+'), t -> LOWER(t))
         END AS tk
  FROM documents
),
scored AS (
  SELECT *,
         {lang_case} AS lang_guess,
         ROUND(GREATEST(LEAST(
           LEAST(len(tk) / 100.0, 1.0) * 0.4
           + (1.0 - ABS((CASE WHEN len(tk) > 0
                THEN len(list_filter(tk, t -> list_contains([{_SW}], t))) * 1.0 / len(tk)
                ELSE 0.0 END) - 0.4)) * 0.3
           + (1.0 - LEAST((CASE WHEN length(s) > 0
                THEN len(regexp_extract_all(s, '[^\\w\\s]')) * 1.0 / length(s)
                ELSE 0.0 END) * 4, 1.0)) * 0.3,
           1.0), 0.0), 6) AS q
  FROM base
),
kept0 AS (
  SELECT * FROM scored WHERE lang_guess = 'en' AND q >= 0.3
),
kept AS (
  SELECT doc_id, lang, source, s, tk FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY s ORDER BY doc_id) AS rn FROM kept0
  ) WHERE rn = 1
),
shing AS (
  SELECT doc_id AS k,
         list_distinct(list_transform(range(1, len(tk) - {n - 2}),
                       i -> array_to_string(tk[i:i+{n - 1}], ' '))) AS sh
  FROM kept WHERE len(tk) >= {n}
),
sig AS (
  SELECT k, sh,
         {mh_terms}
  FROM shing
),
banded AS (
  SELECT k, unnest([{band_elems}]) AS bucket FROM sig
),
cand AS (
  SELECT DISTINCT a.k AS key_a, b.k AS key_b
  FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.k < b.k
),
losers AS (
  SELECT DISTINCT c.key_b AS doc_id
  FROM cand c JOIN shing x ON c.key_a = x.k JOIN shing y ON c.key_b = y.k
  WHERE ROUND(len(list_intersect(x.sh, y.sh)) * 1.0
        / len(list_distinct(x.sh || y.sh)), 6) >= {_MH_THRESH}
)
SELECT doc_id, lang, source FROM kept
WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = kept.doc_id)
"""


# ---------------------------------------------------------------------------
# q32 — exact percentiles per group (sort-based exact aggregate; the
# approx_percentile sketch is the 100 TB swap-in, same plan shape).
# Spark percentile() and DuckDB quantile_cont share linear
# interpolation, so the oracle is exact.
# ---------------------------------------------------------------------------
def q32_percentiles(spark, sf_dir):
    """EXACT per-group percentiles — the oracle-reproducible form
    (DuckDB quantile_cont matches Spark's percentile interpolation;
    no SQL engine reproduces a sketch).  The default-at-scale variant
    is operators/stats.py group_percentiles(exact=False): a
    percentile_approx sketch with bounded per-group state, because the
    exact aggregate buffers every group value in one buffer — see
    tests/test_stats.py for the sketch-vs-exact tolerance check."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.stats import (
        group_percentiles,
    )

    ev = _t(spark, sf_dir, "events")
    return group_percentiles(
        ev, "event_type", "value", (0.5, 0.95, 0.99), exact=True
    )


Q32_SQL = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.95), 6) AS p95,
       ROUND(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# q33 — pivot (event_type -> columns): per-user activity matrix. The
# pivot value list is explicit, so the plan is a single aggregation
# with conditional counters — no second pass to discover values, which
# is what makes pivot scale.
# ---------------------------------------------------------------------------
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q33_pivot_activity(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    # r16 optimization: `.pivot(values).count()` planned TWO shuffles —
    # a (user_id, event_type) count-aggregate exchange feeding a
    # pivot_first re-aggregate exchange on user_id.  The explicit
    # conditional-sum form (exactly the oracle SQL's shape) is ONE
    # map-side-combinable aggregate: 2 Exchanges -> 1, and the single
    # shuffle carries one partial row per user instead of one per
    # (user, type).  Values are identical: a user's missing type sums
    # to 0, which is what the old coalesce(pivot_cell, 0) produced.
    return ev.groupBy("user_id").agg(
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("long")
            .alias(f"n_{t}")
            for t in _EVENT_TYPES
        ]
    )


Q33_SQL = f"""
SELECT user_id,
       {", ".join(
           "CAST(SUM(CASE WHEN event_type = '%s' THEN 1 ELSE 0 END) AS BIGINT) AS n_%s"
           % (t, t) for t in _EVENT_TYPES
       )}
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# q34 — distinct-count aggregation (COUNT(DISTINCT) per group). The
# reference has no distinct aggregates (SURVEY §2.4); at scale this is
# the two-phase partial-distinct shuffle Spark plans natively, and the
# approx_count_distinct HLL sketch is the drop-in when exactness can
# be traded for one fewer shuffle.
# ---------------------------------------------------------------------------
def q34_daily_active_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


Q34_SQL = """
SELECT event_type, CAST(ts AS DATE) AS day,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       COUNT(*) AS n_events
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q35 — cube + grouping id (q28 covers rollup; cube adds the
# cross-dimensional slices). grouping(a)*2 + grouping(b) is computed
# explicitly on both sides so the bit order is pinned, not inherited
# from either engine's grouping_id convention.
# ---------------------------------------------------------------------------
def q35_cube_flags(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    return l.cube("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_items"),
        (
            F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus")
        ).cast("int").alias("grp"),
    )


Q35_SQL = """
SELECT l_returnflag, l_linestatus,
       SUM(l_quantity) AS sum_qty,
       COUNT(*) AS n_items,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INTEGER) AS grp
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


# ---------------------------------------------------------------------------
# q36 — left-semi join (existence filter). Spark plans a broadcast
# semi-join: only the filtered orderkeys ship to executors, and the
# probe side streams without materializing matches — the scalable form
# of EXISTS. (q26 is the anti-join complement.)
# ---------------------------------------------------------------------------
def q36_big_spenders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 450000)
    return c.join(
        F.broadcast(o), c["c_custkey"] == o["o_custkey"], "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


Q36_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000
)
"""


# ---------------------------------------------------------------------------
# q37 — interval (range) self-join aggregates: for each event, every
# later event by the same user within 60 minutes, grouped by the
# earlier event's type. r16: the pairs were only ever aggregated, so
# the binned_interval_join (explode to 2 probe bins + shuffle BOTH
# sides on (user, bin) + materialize every pair) is replaced by
# joins.followup_stats — ONE shuffle of events on user_id and two
# incremental prefix-RANGE window frames per partition spec; the pair
# rows never exist (guide §2.3/§2.4). Exact-arithmetic equivalence:
# counts/same-type are integer window differences; the gap SUM is an
# exact decimal (ts_sum - count*ts in unix_micros), so the only float
# op left is the final avg division — per-group, once, vs the join
# form's float sum over pairs (both engines' AVG was already order-
# nondeterministic; oracle hash-verified at all 3 SFs, and the
# join-form equivalence is pinned by tests/test_joins_sessions.py).
# binned_interval_join remains the operator for pair-OUTPUT consumers
# (q116 overlap, decay_attribution).
# ---------------------------------------------------------------------------
def q37_event_followups(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.joins import (
        followup_stats,
    )

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    per = followup_stats(
        ev, on="user_id", ts="ts", lo_s=0.0, hi_s=3600.0, same_col="event_type"
    )
    return (
        per.groupBy("event_type")
        .agg(
            F.sum("fu_count").alias("n_pairs"),
            F.sum("fu_gap_sum_us").alias("__gap_total_us"),
            F.sum("fu_same_count").cast("long").alias("n_same_type"),
        )
        .where(F.col("n_pairs") > 0)
        .select(
            "event_type",
            "n_pairs",
            F.round(
                F.col("__gap_total_us").cast("double") / F.col("n_pairs") / F.lit(1e6),
                6,
            ).alias("avg_gap_s"),
            "n_same_type",
        )
    )


Q37_SQL = """
SELECT a.event_type,
       COUNT(*) AS n_pairs,
       ROUND(AVG(date_diff('microsecond', a.ts, b.ts) / 1e6), 6) AS avg_gap_s,
       CAST(SUM(CASE WHEN b.event_type = a.event_type THEN 1 ELSE 0 END) AS BIGINT)
         AS n_same_type
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL 60 MINUTE
GROUP BY a.event_type
"""


# ---------------------------------------------------------------------------
# q38 — partition-wide window aggregate as a correlated filter: orders
# above their customer's average. One shuffle on custkey; the oracle
# writes it as the window form too (a correlated subquery would
# recompute the aggregate per row). The predicate is evaluated in
# exact DECIMAL(18,2) as price*n > sum — a float avg of cent-valued
# prices lands on rounding half-grains where 1-ulp summation noise
# flips rows between engines.
# ---------------------------------------------------------------------------
def q38_above_avg_orders(spark, sf_dir):
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        o.withColumn("cust_total_dec", F.sum(dec).over(w))
        .withColumn("n_orders", F.count(F.lit(1)).over(w))
        .where(dec * F.col("n_orders") > F.col("cust_total_dec"))
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            "n_orders",
            F.col("cust_total_dec").cast("double").alias("cust_total"),
        )
    )


Q38_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice, n_orders,
       CAST(cust_total_dec AS DOUBLE) AS cust_total
FROM (
  SELECT o_orderkey, o_custkey, o_totalprice,
         SUM(CAST(o_totalprice AS DECIMAL(18,2)))
           OVER (PARTITION BY o_custkey) AS cust_total_dec,
         COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price_dec
  FROM orders
)
WHERE price_dec * n_orders > cust_total_dec
"""


# ---------------------------------------------------------------------------
# q39 — rolling 7-day revenue: range-frame window over the daily
# rollup. The rollup shrinks the input to one row per day BEFORE the
# unpartitioned window, so the single-partition sort is over ~10^3
# rows regardless of raw scale — the correct plan shape for global
# time-series windows at 100 TB. RANGE (not ROWS) so calendar gaps
# are handled identically on both sides.
# ---------------------------------------------------------------------------
def q39_rolling_revenue(spark, sf_dir):
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 4).alias("revenue")
    )
    w = (
        Window.orderBy(F.datediff("day", F.lit("1970-01-01")))
        .rangeBetween(-6, 0)
    )
    return daily.withColumn(
        "rev_7d", F.round(F.sum("revenue").over(w), 4)
    ).select("day", "revenue", "rev_7d")


Q39_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         ROUND(SUM(o_totalprice), 4) AS revenue
  FROM orders GROUP BY 1
)
SELECT day, revenue,
       ROUND(SUM(revenue) OVER (
         ORDER BY day RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
       ), 4) AS rev_7d
FROM daily
"""


# ---------------------------------------------------------------------------
# q40 — sliding windows (6h window, 1h slide; q14 is the tumbling
# case). Spark's window() replicates each event into span/slide = 6
# window groups before the aggregation — the oracle states that
# replication explicitly with a range(6) cross join.
# ---------------------------------------------------------------------------
def q40_sliding_windows(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "n_events", "total_value"
        )
    )


Q40_SQL = """
SELECT DATE_TRUNC('hour', ts) - (i * INTERVAL 1 HOUR) AS window_start,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM events, range(6) t(i)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q41 — REAL streaming exactly-once dedup: readStream doubles every
# row in-flight, dropDuplicatesWithinWatermark collapses them, daily
# rollup of the drained sink. The oracle is the batch DISTINCT — equal
# because append-mode dedup emits each first-seen id exactly once
# (streaming/events.py:deduped_daily_counts_available_now).
# ---------------------------------------------------------------------------
def q41_streaming_dedup(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.streaming import events as SE

    return SE.deduped_daily_counts_available_now(spark, f"{sf_dir}/events.parquet")


Q41_SQL = """
SELECT event_type, CAST(ts AS DATE) AS day,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_events
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q42 — JSON property extraction (reference §2.8 json surface:
# from_json mid-plan). from_json with a declared schema parses ONCE
# into a struct — the per-path get_json_object form re-parses the
# document for every path and is the scale trap.
# ---------------------------------------------------------------------------
def q42_json_props(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    k = F.from_json("props", "k int").getField("k")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.sum(F.when(F.col("k") > 50, 1).otherwise(0))
            .cast("long")
            .alias("n_high"),
        )
    )


Q42_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       ROUND(AVG(CAST(json_extract(props, '$.k') AS INTEGER)), 6) AS avg_k,
       CAST(SUM(CASE WHEN CAST(json_extract(props, '$.k') AS INTEGER) > 50
                THEN 1 ELSE 0 END) AS BIGINT) AS n_high
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# q43 — deterministic hash split (train/eval partitioning). Seeded
# rand() sampling is partitioning-dependent and irreproducible across
# engines; keying the split on md5(doc_id) makes it a pure function of
# the row — stable under repartitioning, backfills, and engine swaps,
# which is what a training pipeline actually needs. First hex char
# < '3' -> eval (3/16 = 18.75%).
# ---------------------------------------------------------------------------
def q43_hash_split(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "3", "eval"
    ).otherwise("train")
    return (
        docs.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


Q43_SQL = """
SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '3'
            THEN 'eval' ELSE 'train' END AS split,
       lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       ROUND(AVG(n_chars), 6) AS avg_chars
FROM documents GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q44 — ordered string aggregation (LISTAGG shape). Spark's
# collect_list is order-nondeterministic across partitions, so the
# deterministic form is collect_list -> array_sort -> array_join;
# the oracle states the same contract with string_agg(... ORDER BY).
# Group state is bounded by members-per-group — for unbounded groups
# the scale path is a capped slice(array_sort(...), 1, k) after a
# pre-aggregation, not an unbounded concat.
# ---------------------------------------------------------------------------
def q44_customer_roster(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000)
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.array_join(
                F.array_sort(F.collect_list("c_name")), ","
            ).alias("roster"),
        )
    )


Q44_SQL = """
SELECT n_name, COUNT(*) AS n_customers,
       string_agg(c_name, ',' ORDER BY c_name) AS roster
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > 9000
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# q45 — explode-based token frequency top-k (the generator/UDTF
# shape). explode is a narrow transformation — rows multiply map-side,
# then one shuffle carries (token, partial count) thanks to partial
# aggregation, NOT the exploded rows themselves. Ties broken by token
# so the top-k is total-ordered.
# ---------------------------------------------------------------------------
def q45_token_topk(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(X.tokens("text")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(20)
    )


Q45_SQL = """
SELECT tok, COUNT(*) AS n
FROM (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents WHERE trim(coalesce(text, '')) <> ''
)
WHERE tok <> ''
GROUP BY tok
ORDER BY n DESC, tok ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# q46 — set operations (SURVEY §2.7: the reference has only J3's
# conditional fallback; INTERSECT / EXCEPT are the missing family).
# Both compile to shuffle-on-key set semantics; at scale Spark plans
# them as aggregate-based semi/anti forms, so no all-rows broadcast.
# ---------------------------------------------------------------------------
def q46_segment_set_ops(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    building = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = c.where(F.col("c_acctbal") > 5000).select("c_custkey")
    both = building.intersect(rich).select(
        F.lit("both").alias("tag"), "c_custkey"
    )
    only_building = building.subtract(rich).select(
        F.lit("building_only").alias("tag"), "c_custkey"
    )
    only_rich = rich.subtract(building).select(
        F.lit("rich_only").alias("tag"), "c_custkey"
    )
    return both.unionByName(only_building).unionByName(only_rich)


Q46_SQL = """
WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
     rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
SELECT 'both' AS tag, c_custkey FROM (SELECT c_custkey FROM building INTERSECT SELECT c_custkey FROM rich)
UNION ALL
SELECT 'building_only' AS tag, c_custkey FROM (SELECT c_custkey FROM building EXCEPT SELECT c_custkey FROM rich)
UNION ALL
SELECT 'rich_only' AS tag, c_custkey FROM (SELECT c_custkey FROM rich EXCEPT SELECT c_custkey FROM building)
"""


# ---------------------------------------------------------------------------
# q47 — TPC-H Q5 shape: 6-way join (customer ⋈ orders ⋈ lineitem ⋈
# supplier ⋈ nation ⋈ region) with the local-supplier correlation
# c_nationkey = s_nationkey. Dims (supplier/nation/region) broadcast;
# the two fact joins shuffle on their keys and AQE re-plans at runtime.
# The date filter reaches the orders parquet scan via pushdown.
# ---------------------------------------------------------------------------
def q47_regional_supplier_volume(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(l, o["o_orderkey"] == l["l_orderkey"])
        .join(
            F.broadcast(s),
            (l["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


Q47_SQL = """
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       COUNT(*) AS n_lineitems
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# q48 — the reference's array-kernel family as grouped aggregates:
# P5 argmax (latest part per order via max_by), T1/P9 sort + slice +
# join (first 3 part keys), P8 distinct (supplier count). collect_list
# is order-nondeterministic across partitions, so every array is
# sorted before any order-sensitive op — same determinism contract the
# flatten layer uses on submissions[] (fda_extractor.py:157-162).
# ---------------------------------------------------------------------------
def q48_order_line_arrays(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    return l.groupBy("l_orderkey").agg(
        # l_linenumber is NOT unique per order in the synthetic data, so
        # the argmax tie is broken by partkey via a composite scalar key
        # (DuckDB's arg_max cannot order by a struct).
        F.expr(
            "max_by(l_partkey, cast(l_linenumber as bigint) * 1000000000 + l_partkey)"
        ).alias("last_part"),
        F.array_join(
            F.transform(
                F.slice(F.array_sort(F.collect_list("l_partkey")), 1, 3),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("first3_parts"),
        F.size(F.array_distinct(F.collect_list("l_suppkey")))
        .cast("long")
        .alias("n_suppliers"),
    )


Q48_SQL = """
SELECT l_orderkey,
       arg_max(l_partkey, CAST(l_linenumber AS BIGINT) * 1000000000 + l_partkey) AS last_part,
       array_to_string(list_sort(list(l_partkey))[1:3], ',') AS first3_parts,
       CAST(len(list_distinct(list(l_suppkey))) AS BIGINT) AS n_suppliers
FROM lineitem GROUP BY l_orderkey
"""


# ---------------------------------------------------------------------------
# q49 — J3 union-by-fallback (drug_transformer.py:196-213,284-285) as
# a proper unionByName(allowMissingColumns=True): two summaries with
# different schemas align by column name, absent columns null-filled —
# the schema-stable form of the reference's "switch result shape"
# fallback. DuckDB mirrors with UNION ALL BY NAME.
# ---------------------------------------------------------------------------
def q49_union_by_name(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    ev = _t(spark, sf_dir, "events")
    fda_like = o.groupBy(F.col("o_orderpriority").alias("grp_key")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("total_price"),
    )
    ct_like = ev.groupBy(F.col("event_type").alias("grp_key")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    return fda_like.unionByName(ct_like, allowMissingColumns=True)


Q49_SQL = """
SELECT o_orderpriority AS grp_key, COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 4) AS total_price
FROM orders GROUP BY o_orderpriority
UNION ALL BY NAME
SELECT event_type AS grp_key, COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# q50 — top-N per group (q06 is the N=1 argmax): row_number over a
# per-partition ordered window, rank <= 3. One shuffle on the group
# key; the sort is per-group, never global — the pattern that replaces
# "ORDER BY ... LIMIT" when the limit is per-key at 100 TB.
# ---------------------------------------------------------------------------
def q50_top_orders_per_priority(spark, sf_dir):
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("o_orderpriority", "rnk", "o_orderkey", "o_totalprice")
    )


Q50_SQL = """
SELECT o_orderpriority, CAST(rnk AS INTEGER) AS rnk, o_orderkey, o_totalprice
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (
           PARTITION BY o_orderpriority
           ORDER BY o_totalprice DESC, o_orderkey ASC
         ) AS rnk
  FROM orders
)
WHERE rnk <= 3
"""


# ---------------------------------------------------------------------------
# q51 — window navigation functions (lag/lead): per-user inter-event
# gap and next event type. One shuffle on user_id, per-user sort only;
# gaps computed in exact integer microseconds (a double seconds-diff
# would round-trip through float). Completes the window-function
# family alongside q06 argmax, q39 range frame, q50 row_number.
# ---------------------------------------------------------------------------
def q51_event_navigation(spark, sf_dir):
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    us = F.unix_micros("ts")
    return ev.select(
        "user_id",
        "event_id",
        us.alias("ts_us"),
        (us - F.lag(us).over(w)).alias("gap_us"),
        F.lead("event_type").over(w).alias("next_type"),
    )


Q51_SQL = """
SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us,
       LEAD(event_type) OVER w AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
"""


# ---------------------------------------------------------------------------
# q52 — full outer join: daily order counts ⟗ daily event counts on
# calendar date, unmatched sides kept as nulls (not zero-filled — the
# outer semantics ARE the result). Both sides pre-aggregate to ~10³
# rows before the join, so the shuffle carries day-level rows at any
# scale; the raw fact tables are never joined row-to-row.
# ---------------------------------------------------------------------------
def q52_daily_activity_full_outer(spark, sf_dir):
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    ev = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return o.join(ev, on="d", how="full_outer").select(
        "d", "n_orders", "n_events"
    )


Q52_SQL = """
SELECT COALESCE(o.d, e.d) AS d, n_orders, n_events
FROM (SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders
      FROM orders GROUP BY 1) o
FULL OUTER JOIN
     (SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n_events
      FROM events GROUP BY 1) e
ON o.d = e.d
"""


# ---------------------------------------------------------------------------
# q53 — GROUPING SETS with non-hierarchical sets {(priority),(status)}:
# two independent one-dimension summaries in ONE scan pass — the shape
# neither rollup (q28, hierarchical) nor cube (q35, power set)
# expresses. At 100 TB this halves scan cost vs two separate group-bys;
# the expand operator doubles shuffle rows but each carries partial
# state only. Grouping bits pinned on both sides, as in q35.
# ---------------------------------------------------------------------------
def q53_grouping_sets(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderpriority"], ["o_orderstatus"]],
        "o_orderpriority",
        "o_orderstatus",
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        (
            F.grouping("o_orderpriority") * 2 + F.grouping("o_orderstatus")
        ).cast("int").alias("grp"),
    )


Q53_SQL = """
SELECT o_orderpriority, o_orderstatus,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 4) AS total_price,
       CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS INTEGER) AS grp
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
"""


# ---------------------------------------------------------------------------
# q54 — SQL entry surface + uncorrelated scalar subquery: ONE ANSI-SQL
# string executed verbatim by both spark.sql() and DuckDB (tables
# registered as temp views over the same parquet). The scalar subquery
# plans as a one-row broadcast in Spark — no per-row re-evaluation —
# and the engine's DataFrame and SQL paths share Catalyst, so every
# optimization (pushdown, AQE) applies identically.
# ---------------------------------------------------------------------------
Q54_SQL = """
WITH spend AS (
  SELECT o_custkey, COUNT(*) AS n_orders, SUM(o_totalprice) AS total_spend
  FROM orders GROUP BY o_custkey
)
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       ROUND(SUM(total_spend), 4) AS segment_spend
FROM customer JOIN spend ON c_custkey = o_custkey
WHERE total_spend > (SELECT AVG(total_spend) FROM spend)
GROUP BY c_mktsegment
"""


def q54_sql_surface(spark, sf_dir):
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(Q54_SQL)


# ---------------------------------------------------------------------------
# q55 — the CUSTOM STATEFUL STREAMING operator, exactly verified: the
# applyInPandasWithState gap-sessionizer drained via availableNow with
# a far-future sentinel source so the final watermark fires every
# event-time timeout. The drained append-mode sink then equals batch
# gap-and-island sessionization row for row, so the stateful operator
# gets a full value-hash oracle rather than a rows-only check.
# Session bounds compare as exact integer microseconds (epoch_us ↔
# unix_micros on the nanos-truncated event time).
# ---------------------------------------------------------------------------
_SESSION_GAP_MIN = 30

Q55_SQL = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us FROM events
),
marked AS (
  SELECT user_id, ts_us,
         CASE WHEN ts_us - LAG(ts_us) OVER w > {_SESSION_GAP_MIN * 60 * 1000000}
              THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us ASC)
),
grp AS (
  SELECT user_id, ts_us,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us ASC
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM marked
)
SELECT user_id,
       MIN(ts_us) AS start_us,
       MAX(ts_us) AS end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM grp GROUP BY user_id, g
"""


def q55_streaming_sessions(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.streaming import (
        sessions as STS,
    )

    return STS.sessions_available_now(
        spark, f"{sf_dir}/events.parquet", gap_minutes=_SESSION_GAP_MIN
    )


# ---------------------------------------------------------------------------
# q56 — stratified deterministic sampling: downsample over-represented
# languages by a per-stratum rate, keyed on a hash that is a pure
# function of the row (md5 hex prefix vs a per-lang threshold). Unlike
# seeded rand(), the decision survives repartitioning, retries, and
# engine changes — the property that makes train-set membership
# reproducible at 100 TB. Rates use 2 hex chars (1/256 grain); 'zz'
# sorts above every hex string, i.e. keep-all.
# ---------------------------------------------------------------------------
_STRATA = {"en": "40", "zh": "80", "es": "c0"}  # others keep-all
_STRATA_DEFAULT = "zz"


# ---------------------------------------------------------------------------
# q57 — near-dup CLUSTERS: minhash pairs -> connected components ->
# per-cluster summary. The transitive step the pair queries (q17/q18/
# q22) stop short of: chains a~b, b~c collapse to one canonical doc
# even though a~c was never scored. Spark side is an ITERATIVE
# label-propagation loop (localCheckpoint per round, convergence by
# changed-count); the oracle is a recursive CTE computing min reachable
# key — the one iterative algorithm in the suite, still exactly
# verified.
# ---------------------------------------------------------------------------
# ---------------------------------------------------------------------------
# q58 — ntile quantile bucketing: customers tiered into spend quartiles
# WITHIN their market segment (the assign-quality-tiers op for curation
# pipelines). Total order (spend DESC, custkey ASC) makes ntile
# deterministic; one shuffle on the segment for the window, and the
# spend pre-aggregation shrinks rows to one per customer before it.
# ---------------------------------------------------------------------------
def q58_segment_spend_tiers(spark, sf_dir):
    from pyspark.sql import Window

    spend = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("spend"))
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.col("spend").desc(), F.col("c_custkey").asc())
    )
    return (
        cust.join(spend, cust.c_custkey == spend.o_custkey)
        .withColumn("tier", F.ntile(4).over(w))
        .groupBy("c_mktsegment", "tier")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("spend"), 4).alias("tier_spend"),
        )
    )


Q58_SQL = """
WITH spend AS (
  SELECT o_custkey, SUM(o_totalprice) AS spend
  FROM orders GROUP BY o_custkey
),
tiered AS (
  SELECT c_mktsegment,
         NTILE(4) OVER (PARTITION BY c_mktsegment
                        ORDER BY spend DESC, c_custkey ASC) AS tier,
         spend
  FROM customer JOIN spend ON c_custkey = o_custkey
)
SELECT c_mktsegment, tier,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(SUM(spend), 4) AS tier_spend
FROM tiered GROUP BY c_mktsegment, tier
"""


def q57_dedup_clusters(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators import (
        components as CC,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, jaccard_threshold=_MH_THRESH)
    return CC.dedup_clusters(pairs)


def _cc_sql() -> str:
    return f"""
WITH RECURSIVE
pairs AS (SELECT key_a, key_b FROM ({_mh_sql()})),
edges AS (
  SELECT key_a AS a, key_b AS b FROM pairs
  UNION
  SELECT key_b AS a, key_a AS b FROM pairs
),
reach AS (
  SELECT a AS v, a AS label FROM edges
  UNION
  SELECT e.a AS v, r.label FROM edges e JOIN reach r ON r.v = e.b
),
cc AS (SELECT v, MIN(label) AS component FROM reach GROUP BY v)
SELECT component,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       MAX(v) AS max_member
FROM cc GROUP BY component
"""


def q56_stratified_sample(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    thr = F.lit(_STRATA_DEFAULT)
    for lang, t in _STRATA.items():
        thr = F.when(F.col("lang") == lang, t).otherwise(thr)
    kept = docs.where(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < thr
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("kept_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


def _strata_sql() -> str:
    cases = " ".join(
        f"WHEN lang = '{lang}' THEN '{t}'" for lang, t in _STRATA.items()
    )
    return f"""
SELECT lang,
       COUNT(*) AS n_kept,
       CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
      < CASE {cases} ELSE '{_STRATA_DEFAULT}' END
GROUP BY lang
"""


# ---------------------------------------------------------------------------
# q59–q64 — round-2 curation operators promoted into the driver registry
# (round 3).  q59–q62 carry DuckDB oracles (lifted verbatim from
# tests/test_extension_oracle.py where they were verified in r2);
# q63/q64 are rows-only (packing and sketch profiling have no
# SQL-expressible exact oracle).
# ---------------------------------------------------------------------------
def q59_redact_pii(spark, sf_dir):
    """PII redaction + whitespace normalization (training-data hygiene).
    Pure JVM regexp_replace expressions — functions/text.py."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", X.normalize_text(X.redact_pii("text")).alias("clean")
    )


# Whitespace semantics are PINNED on both engines (ADVICE r3): the
# control-char strip below mirrors normalize_text exactly, and the
# collapse class is the explicit [ \t\n\r]+ on both sides — Java \s
# includes \x0B/\f while DuckDB/RE2 \s does not, so '\s+' here would
# silently diverge on texts containing either.  Residual documented
# divergence: the PII patterns themselves still use \s (applied to the
# RAW text, before the control strip), so a \x0B or \f INSIDE a
# phone-number separator would match on Spark but not DuckDB; the
# generated corpora contain no ASCII control characters (generator
# invariant, tools/check corpus scan), and redact_pii's Spark-side
# semantics are the product surface — the oracle asserts the common
# subset.
Q59_SQL = r"""
SELECT doc_id, TRIM(regexp_replace(regexp_replace(regexp_replace(
  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
  regexp_replace(
    COALESCE(text, ''),
    'https?://[^\s]+', '<URL>', 'g'),
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\+\d{1,3}[\s.-]?\(?\d{2,4}\)?[\s.-]?\d{3}[\s.-]?\d{3,4}\b', '<PHONE>', 'g'),
    '\(\d{3}\)[\s.-]?\d{3}[\s.-]?\d{4}\b', '<PHONE>', 'g'),
    '\b\d{3}[\s.-]\d{3}[\s.-]\d{4}\b', '<PHONE>', 'g'),
    '\b\d{9,}\b', '<ID>', 'g'),
  '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
  '[ \t\n\r]+', ' ', 'g')) AS clean
FROM documents
"""


def q60_contamination(spark, sf_dir):
    """Train/eval n-gram contamination check: corpus docs sharing any
    8-gram with a (deterministic) probe set.  Hash-only shuffle +
    left-semi join — operators/dedup.py:ngram_contamination."""
    docs = _t(spark, sf_dir, "documents")
    probe = docs.where(F.col("doc_id") % 100 == 0)
    return D.ngram_contamination(docs, probe, ngram_n=8)


_Q60_N = 8
Q60_SQL = f"""
WITH toks AS (
  SELECT doc_id AS k,
         list_transform(string_split_regex(regexp_replace(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+'),
                        t -> t) AS tk
  FROM documents WHERE regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g') <> ''
),
grams AS (
  SELECT k,
         unnest(list_distinct(list_transform(range(1, len(tk) - {_Q60_N - 2}),
                i -> md5(array_to_string(tk[i:i+{_Q60_N - 1}], ' '))))) AS gh
  FROM toks WHERE len(tk) >= {_Q60_N}
),
probe_g AS (SELECT DISTINCT gh FROM grams WHERE k % 100 = 0)
SELECT DISTINCT k AS doc_id FROM grams SEMI JOIN probe_g USING (gh)
"""


def q61_cap_per_group(spark, sf_dir):
    """Corpus balancing: at most 10 docs per synthetic domain, chosen
    deterministically by md5-of-key order — operators/curate.py:cap_per_group."""
    from cloud_native_medical_data_etl_pipeline_spark.operators import curate as CU

    docs = _t(spark, sf_dir, "documents").withColumn(
        "domain", F.col("doc_id") % 7
    )
    return CU.cap_per_group(docs, "domain", 10).select("doc_id", "domain")


Q61_SQL = """
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


def q62_resample_fill(spark, sf_dir):
    """Time-series resample to an hourly grid with zero-fill of empty
    buckets — operators/timeseries.py:resample_fill."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.timeseries import (
        resample_fill,
    )

    ev = _t(spark, sf_dir, "events")
    dense = resample_fill(ev, "ts", "event_type", "1 hour", "value")
    # epoch-us the grid timestamp (q29/q30 pattern): BIGINT on both
    # sides sidesteps any datetime64[ns]-vs-[us] canonicalizer question
    return dense.select(
        "event_type", F.unix_micros("bucket").alias("bucket_us"), "n", "total"
    )


Q62_SQL = """
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
SELECT grid.event_type, epoch_us(grid.bucket) AS bucket_us,
       COALESCE(sparse.n, 0) AS n,
       COALESCE(sparse.total, 0.0) AS total
FROM grid LEFT JOIN sparse USING (event_type, bucket)
"""


_PACK_BUDGET = 2048
# shared between the shelf/FFD kernel calls and the oracle SQL so the
# group count cannot silently drift between kernel and oracle (ADVICE r14)
_PACK_GROUPS = 4


def q63_pack_sequences(spark, sf_dir):
    """Sequence packing, the ORACLE-EXACT form (r13 verdict weak-item
    #1): deterministic concat-and-split shelf packing — one window
    cumsum + integer divide per md5 hash group, so DuckDB reproduces
    every pack assignment bit-for-bit.  The FFD bin packer
    (operators/packing.py:pack_sequences, best waste profile but
    implementation-defined bin membership) remains the default kernel
    and keeps its hash-green conservation-law row via
    q63b_pack_invariants."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.packing import (
        pack_sequences_shelf,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", X.token_count("text").alias("n_tokens"))
    return pack_sequences_shelf(
        toks, budget=_PACK_BUDGET, num_groups=_PACK_GROUPS
    )


Q63_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g') = ''
              THEN CAST(0 AS BIGINT)
              ELSE CAST(len(string_split_regex(
                     regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) AS BIGINT)
         END AS n_tokens
  FROM documents
),
g AS (
  SELECT doc_id, n_tokens,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % {_PACK_GROUPS} AS grp
  FROM toks
),
c AS (
  SELECT doc_id, n_tokens, grp,
         SUM(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS start_off
  FROM g
),
s AS (SELECT doc_id, n_tokens, grp, start_off // {_PACK_BUDGET} AS shelf FROM c)
SELECT doc_id, n_tokens,
       CAST(grp AS VARCHAR) || '-' || CAST(shelf AS VARCHAR) AS pack_id,
       CAST(SUM(n_tokens) OVER (PARTITION BY grp, shelf) AS BIGINT) AS pack_tokens
FROM s
"""


def q64_profile(spark, sf_dir):
    """Column profiler, the ORACLE-EXACT form (r13 verdict weak-item
    #2, the q131 pattern): md5-register HLL distinct estimate +
    exact interpolated quantiles over a deterministic md5(doc_id) row
    sample — every value a pure function of the data both engines
    compute identically.  approx_profile (JVM HLL++/GK sketches, the
    cheaper default) keeps its exact-column hash row via
    q64b_profile_exact and its estimate-quality checks in
    tests/test_profile.py."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.profile import (
        profile_deterministic,
    )

    docs = _t(spark, sf_dir, "documents")
    return profile_deterministic(docs, sample_key="doc_id", p=_HLL_P)


def _q64_sql() -> str:
    from cloud_native_medical_data_etl_pipeline_spark.operators.sketch import (
        _hll_alpha,
    )

    m = 1 << _HLL_P
    alpha = repr(_hll_alpha(m))
    cols = [
        ("doc_id", True),
        ("text", False),
        ("lang", False),
        ("source", False),
        ("n_chars", True),
    ]
    vals = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS col, "
        + (f"CAST({c} AS VARCHAR)" if num else c)
        + f" AS v FROM documents WHERE {c} IS NOT NULL"
        for c, num in cols
    )
    exact = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS col, CAST(COUNT(*) AS BIGINT) AS n_rows,"
        f" CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,"
        + (
            f" CAST(MIN({c}) AS DOUBLE) AS mn, CAST(MAX({c}) AS DOUBLE) AS mx"
            if num
            else " CAST(NULL AS DOUBLE) AS mn, CAST(NULL AS DOUBLE) AS mx"
        )
        + " FROM documents"
        for c, num in cols
    )
    quant = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS col,"
        f" ROUND(quantile_cont(CAST({c} AS DOUBLE), 0.25), 6) AS p25,"
        f" ROUND(quantile_cont(CAST({c} AS DOUBLE), 0.50), 6) AS p50,"
        f" ROUND(quantile_cont(CAST({c} AS DOUBLE), 0.75), 6) AS p75"
        " FROM samp"
        for c, num in cols
        if num
    )
    return f"""
WITH vals AS (
{vals}
),
cells AS (
  SELECT col,
         ('0x' || substr(md5(v), 1, {_HLL_P // 4}))::BIGINT AS reg,
         regexp_replace(substr(md5(v), {_HLL_P // 4 + 1}, 16), '^0+', '') AS stripped
  FROM vals
),
rho AS (
  SELECT col, reg,
         CASE WHEN stripped = '' THEN 65
              ELSE (16 - length(stripped)) * 4
                   + CASE WHEN substr(stripped, 1, 1) = '1' THEN 3
                          WHEN substr(stripped, 1, 1) IN ('2', '3') THEN 2
                          WHEN substr(stripped, 1, 1) IN ('4', '5', '6', '7') THEN 1
                          ELSE 0 END
                   + 1 END AS rho
  FROM cells
),
regs AS (SELECT col, reg, MAX(rho) AS mx FROM rho GROUP BY col, reg),
agg AS (
  SELECT col, SUM(POWER(2.0, -mx)) AS z_hit, COUNT(*) AS touched
  FROM regs GROUP BY col
),
est AS (
  SELECT col,
         CAST({alpha} AS DOUBLE) * {m} * {m} / (z_hit + ({m} - touched)) AS raw,
         {m} - touched AS v
  FROM agg
),
hll AS (
  SELECT col,
         ROUND(CASE WHEN raw <= 2.5 * {m} AND v > 0
                    THEN {m} * LN(CAST({m} AS DOUBLE) / v)
                    ELSE raw END, 3) AS hll_distinct
  FROM est
),
samp AS (
  SELECT * FROM documents
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1', '2', '3')
),
q AS (
{quant}
),
ex AS (
{exact}
)
SELECT ex.col AS "column", ex.n_rows, ex.n_nulls,
       COALESCE(hll.hll_distinct, 0.0) AS hll_distinct,
       q.p25, q.p50, q.p75, ex.mn AS "min", ex.mx AS "max"
FROM ex LEFT JOIN hll USING (col) LEFT JOIN q USING (col)
"""


# ---------------------------------------------------------------------------
# q63b/q64b — hash-exact INVARIANT companions for the FFD packer and
# the JVM-sketch profiler (r3 verdict ask #3).  FFD's pack_id
# assignment and approx_profile's sketch estimates genuinely have no
# SQL oracle, but their CORRECTNESS PROPERTIES do: q63b aggregates
# the FFD packing output into oracle-computable conservation laws
# (every doc packed exactly once, total tokens conserved, no
# multi-doc pack over budget, pack_tokens consistent within and
# across a pack), and q64b projects the profiler onto its exact
# columns (count/null-count/min/max), leaving the JVM sketch
# estimates to tests/test_profile.py's tolerance checks.  Since r14,
# q63/q64 themselves run the deterministic variants (shelf packing /
# md5-register profiling) with value-exact oracles — the b-pair is
# what keeps the non-deterministic default kernels evidenced.
# ---------------------------------------------------------------------------


def q63b_pack_invariants(spark, sf_dir):
    """Conservation-law aggregate over the FFD bin-packing instance
    (pack_sequences — the default kernel; q63 itself oracles the
    deterministic shelf variant since r14).
    The oracle recomputes total_docs/total_tokens directly from the
    corpus and pins the violation counters at zero — so a packing bug
    (lost doc, token drift, over-budget multi-doc bin, inconsistent
    pack_tokens) breaks the hash even though bin membership itself is
    implementation-defined."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.packing import (
        pack_sequences,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", X.token_count("text").alias("n_tokens"))
    packed = pack_sequences(
        toks, budget=_PACK_BUDGET, num_groups=_PACK_GROUPS
    )
    per_pack = packed.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("tok_sum"),
        F.min("pack_tokens").alias("pt_min"),
        F.max("pack_tokens").alias("pt_max"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return per_pack.agg(
        F.sum("n_docs").alias("total_docs"),
        F.sum("tok_sum").alias("total_tokens"),
        F.sum(
            F.when(
                (F.col("tok_sum") > _PACK_BUDGET) & (F.col("n_docs") > 1), 1
            ).otherwise(0)
        ).alias("over_budget_multi"),
        F.sum(
            F.when(
                (F.col("pt_min") != F.col("pt_max"))
                | (F.col("tok_sum") != F.col("pt_max")),
                1,
            ).otherwise(0)
        ).alias("pack_tokens_mismatch"),
    )


Q63B_SQL = """
WITH toks AS (
  SELECT doc_id,
         CASE WHEN regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g') = ''
              THEN CAST(0 AS BIGINT)
              ELSE CAST(len(string_split_regex(
                     regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) AS BIGINT)
         END AS n_tokens
  FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS total_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(0 AS BIGINT) AS over_budget_multi,
       CAST(0 AS BIGINT) AS pack_tokens_mismatch
FROM toks
"""


def q64b_profile_exact(spark, sf_dir):
    """approx_profile's EXACT columns (n_rows, n_nulls, min, max) on
    the documents table, hash-checked against DuckDB — the evidence
    row that keeps the JVM-sketch profiler (HLL++/GK) covered now
    that q64 itself oracles the deterministic profile_deterministic
    kernel (r14); the JVM sketch estimates are tolerance-checked in
    tests/test_profile.py."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.profile import (
        approx_profile,
    )

    docs = _t(spark, sf_dir, "documents")
    return approx_profile(docs).select(
        "column", "n_rows", "n_nulls", "min", "max"
    )


def _profile_exact_sql() -> str:
    # documents schema: doc_id/n_chars numeric, text/lang/source varchar
    def one(col: str, numeric: bool) -> str:
        mn = f"CAST(MIN({col}) AS DOUBLE)" if numeric else "CAST(NULL AS DOUBLE)"
        mx = f"CAST(MAX({col}) AS DOUBLE)" if numeric else "CAST(NULL AS DOUBLE)"
        return (
            f"SELECT '{col}' AS \"column\", CAST(COUNT(*) AS BIGINT) AS n_rows,"
            f" CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_nulls,"
            f" {mn} AS \"min\", {mx} AS \"max\" FROM documents"
        )

    cols = [
        ("doc_id", True),
        ("text", False),
        ("lang", False),
        ("source", False),
        ("n_chars", True),
    ]
    return "\nUNION ALL\n".join(one(c, num) for c, num in cols)


# ---------------------------------------------------------------------------
# q65 — document chunking: fixed token windows with stride (pretraining
# prep between curation and packing).  Pure JVM expression work — one
# posexplode, no shuffle; row expansion ceil(n_tokens/stride) per doc.
# ---------------------------------------------------------------------------
_CHUNK_TOKENS, _CHUNK_STRIDE = 64, 48


def q65_chunk_documents(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.chunking import (
        chunk_documents,
    )

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(
        docs, chunk_tokens=_CHUNK_TOKENS, stride=_CHUNK_STRIDE
    )


Q65_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g') = ''
              THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')
         END AS tk
  FROM documents
),
expanded AS (
  SELECT doc_id, tk,
         unnest(range(1, greatest(len(tk), 1) + 1, {_CHUNK_STRIDE})) AS s
  FROM toks
)
SELECT doc_id,
       CAST((s - 1) / {_CHUNK_STRIDE} AS INTEGER) AS chunk_id,
       array_to_string(tk[s:s + {_CHUNK_TOKENS - 1}], ' ') AS chunk_text,
       CAST(len(tk[s:s + {_CHUNK_TOKENS - 1}]) AS INTEGER) AS n_tokens
FROM expanded
WHERE len(tk) > 0
"""


# ---------------------------------------------------------------------------
# q66 — unigram-LM quality score (perplexity-filtering skeleton): model
# build is one token-keyed shuffle + top-V TakeOrdered; scoring is a
# broadcast join + one doc-keyed shuffle.  vocab=1000 forces real OOV
# paths at sf0.01.
# ---------------------------------------------------------------------------
_LM_VOCAB, _LM_OOV = 1000, 1e-7


def q66_unigram_quality(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.lm import (
        unigram_logprob_score,
    )

    docs = _t(spark, sf_dir, "documents")
    return unigram_logprob_score(docs, vocab=_LM_VOCAB, oov_p=_LM_OOV)


Q66_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(CASE WHEN regexp_replace(LOWER(COALESCE(text, '')), '^\\s+|\\s+$', '', 'g') = ''
                     THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(regexp_replace(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+')
                END) AS token
  FROM documents
),
counts AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts),
top AS (SELECT token, cnt FROM counts ORDER BY cnt DESC, token ASC LIMIT {_LM_VOCAB}),
model AS (SELECT token, cnt / (SELECT total FROM tot) AS p FROM top)
SELECT t.doc_id,
       COUNT(*) AS n_scored,
       ROUND(AVG(-log2(COALESCE(m.p, {_LM_OOV!r}))), 6) AS bits_per_token
FROM toks t LEFT JOIN model m USING (token)
GROUP BY t.doc_id
"""


# ---------------------------------------------------------------------------
# q67 — corpus mixture sampling: per-source md5 keep-filters (map-side,
# fold into each scan) + unionByName — deterministic across layouts,
# engines, and re-runs, unlike seeded rand().  Two synthetic corpora
# carved from documents by doc_id parity, weights 0.7 / 0.3.
# ---------------------------------------------------------------------------
_MIX_WEIGHTS = {"web": 0.7, "books": 0.3}


def q67_mix_corpora(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators import curate as CU

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return CU.mix_corpora(
        {
            "web": (docs.where(F.col("doc_id") % 2 == 0), _MIX_WEIGHTS["web"]),
            "books": (docs.where(F.col("doc_id") % 2 == 1), _MIX_WEIGHTS["books"]),
        }
    ).select("doc_id", "lang", "n_chars", "source")


def _mix_sql() -> str:
    def side(name: str, parity: int, w: float) -> str:
        return f"""
SELECT doc_id, lang, n_chars, '{name}' AS source
FROM documents
WHERE doc_id % 2 = {parity}
  AND ('0x' || substr(md5('{name}' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      / 4294967295.0 <= {w!r}"""

    return (
        side("web", 0, _MIX_WEIGHTS["web"])
        + "\nUNION ALL\n"
        + side("books", 1, _MIX_WEIGHTS["books"])
    )


# ---------------------------------------------------------------------------
# q68 — Gopher/C4-style repetition ratios (training-data quality
# filter): per-doc duplicate-token and duplicate-n-gram fractions.
# Pure array expressions (array_distinct on the zip_with gram arrays) —
# map-side only, NO explode and NO shuffle, unlike the naive
# explode+groupBy(doc, gram) formulation whose shuffle carries every
# gram occurrence.
# ---------------------------------------------------------------------------
def q68_repetition(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(X.dup_token_ratio("text"), 6).alias("dup_token_frac"),
        F.round(X.dup_ngram_ratio("text", 2), 6).alias("dup_gram2_frac"),
        F.round(X.dup_ngram_ratio("text", 3), 6).alias("dup_gram3_frac"),
    )


def _rep_sql() -> str:
    def gram_frac(n: int) -> str:
        # grams exactly as dedup's word_ngrams: starts 1..len-n+1,
        # inclusive n-wide slices joined with spaces
        return f"""
CASE WHEN len(tk) >= {n}
     THEN ROUND(1.0 - CAST(len(list_distinct(
            list_transform(range(1, len(tk) - {n - 2}),
                           i -> array_to_string(tk[i:i + {n - 1}], ' '))))
          AS DOUBLE) / (len(tk) - {n - 1}), 6)
     ELSE 0.0 END"""

    return f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN regexp_replace(LOWER(COALESCE(text, '')), '^\\s+|\\s+$', '', 'g') = ''
              THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(regexp_replace(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+')
         END AS tk
  FROM documents
)
SELECT doc_id,
       CASE WHEN len(tk) > 0
            THEN ROUND(1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 6)
            ELSE 0.0 END AS dup_token_frac,
       {gram_frac(2)} AS dup_gram2_frac,
       {gram_frac(3)} AS dup_gram3_frac
FROM toks
"""


# ---------------------------------------------------------------------------
# q69 — MOSS winnowing fingerprints: rolling-window minima over the
# ordered n-gram hash sequence (density ~2/(w+1), guaranteed shared
# fingerprint for any >= w+n-1 token overlap).  Map-side only; the
# portable polynomial hash keeps the oracle exact.
# ---------------------------------------------------------------------------
_WN_N, _WN_W, _WN_SEED = 3, 4, 11


def q69_winnow_fingerprints(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return D.winnow_fingerprints(
        docs, ngram_n=_WN_N, window=_WN_W, seed=_WN_SEED
    )


def _winnow_sql() -> str:
    n, w, seed = _WN_N, _WN_W, _WN_SEED
    return f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN regexp_replace(LOWER(COALESCE(text, '')), '^\\s+|\\s+$', '', 'g') = ''
              THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(regexp_replace(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+')
         END AS tk
  FROM documents
),
grams AS (
  SELECT doc_id,
         list_transform(range(1, len(tk) - {n - 2}),
                        i -> array_to_string(tk[i:i + {n - 1}], ' ')) AS gs
  FROM toks WHERE len(tk) >= {n}
),
hashed AS (
  SELECT doc_id,
         list_transform(gs, g -> list_reduce(
           list_prepend(CAST({seed} AS BIGINT),
                        list_transform(string_split(g, ''),
                                       c -> CAST(ascii(c) AS BIGINT))),
           (a, b) -> (a * 31 + b) % 2147483647)) AS hs
  FROM grams
),
fps AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= {w}
              THEN list_distinct(list_transform(range(1, len(hs) - {w - 2}),
                                                i -> list_min(hs[i:i + {w - 1}])))
              ELSE [list_min(hs)] END AS f
  FROM hashed
)
SELECT doc_id, unnest(f) AS fingerprint FROM fps
"""


# ---------------------------------------------------------------------------
# q70 — winnow-overlap pairs (MOSS detection join): docs sharing >=2
# winnowing fingerprints, with stop-fingerprint pruning (df > 50)
# guarding the self-join against quadratic hot buckets.  Tail slot:
# first driver evidence rides a later rotation; locally oracle-green.
# ---------------------------------------------------------------------------
_WO_MIN_SHARED, _WO_MAX_DF = 2, 50


def q70_winnow_overlap(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return D.winnow_overlap_pairs(
        docs,
        ngram_n=_WN_N,
        window=_WN_W,
        seed=_WN_SEED,
        min_shared=_WO_MIN_SHARED,
        max_df_prune=_WO_MAX_DF,
    )


def _winnow_overlap_sql() -> str:
    # reuse q69's fingerprint pipeline, then prune + pair-count
    return f"""
WITH fp_rows AS ({_winnow_sql()}),
rare AS (
  SELECT fingerprint FROM fp_rows
  GROUP BY fingerprint HAVING COUNT(*) <= {_WO_MAX_DF}
),
pruned AS (SELECT doc_id, fingerprint FROM fp_rows SEMI JOIN rare USING (fingerprint))
SELECT a.doc_id AS key_a, b.doc_id AS key_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM pruned a JOIN pruned b
  ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= {_WO_MIN_SHARED}
"""


# ---------------------------------------------------------------------------
# q71 — BM25 relevance top-k (operators/ranking.py): map-side term
# frequencies (no posting-list explode), ONE single-row corpus-stats
# aggregate broadcast back, arithmetic scoring, TakeOrdered top-k.
# tf/dl/df are integer-valued doubles so the cross-partition aggregate
# is order-exact; ln() ulps are absorbed by round-6 and ordering uses
# the ROUNDED score, so the k-boundary is engine-stable.
# ---------------------------------------------------------------------------
_BM25_TERMS = ["spark", "query", "join", "stream"]
_BM25_K, _BM25_K1, _BM25_B = 20, 1.2, 0.75


def q71_bm25_topk(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.ranking import (
        bm25_topk,
    )

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_TERMS, k=_BM25_K, k1=_BM25_K1, b=_BM25_B)


def _bm25_ctes() -> tuple[str, str]:
    """The shared BM25 SQL pieces — ONE definition of tokenization,
    per-doc tf/dl, corpus stats, and the scoring expression, used by
    both the q71 oracle and q90's lexical leg so the two can never
    drift apart."""
    k1, b = _BM25_K1, _BM25_B
    tf_cols = ",\n         ".join(
        f"CAST(len(list_filter(tk, t -> t = '{t}')) AS DOUBLE) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n         ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1.0 ELSE 0.0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    score = "\n         + ".join(
        f"ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5))"
        f" * tf{i} * {k1 + 1.0} / (tf{i} + {k1} * ({1.0 - b} + {b} * dl / avgdl))"
        for i in range(len(_BM25_TERMS))
    )
    ctes = f"""toks AS (
  SELECT doc_id,
         CASE WHEN regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g') = ''
              THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(
                     regexp_replace(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+')
         END AS tk
  FROM documents
),
per_doc AS (
  SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl,
         {tf_cols}
  FROM toks
),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl,
         {df_cols}
  FROM per_doc
)"""
    return ctes, score


def _bm25_sql() -> str:
    ctes, score = _bm25_ctes()
    return f"""
WITH {ctes}
SELECT doc_id,
       ROUND({score}, 6) AS bm25
FROM per_doc, stats
ORDER BY bm25 DESC, doc_id ASC
LIMIT {_BM25_K}
"""


# ---------------------------------------------------------------------------
# q72 — semantic dedup composite (operators/semdedup.py): q23's
# deterministic centroid/argmax cell assignment -> in-cell exact
# near-dup pairs -> q57's connected components -> keep-min-per-cluster
# anti join.  Every ingredient already has an exact oracle form; the
# composite chains them in one recursive-CTE statement.
# ---------------------------------------------------------------------------
_SD_THRESH, _SD_CELLS = 0.4, 16


def q72_semantic_dedup(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.semdedup import (
        semantic_dedup_keep,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup_keep(
        emb, threshold=_SD_THRESH, num_cells=_SD_CELLS
    )


def _semantic_dedup_sql() -> str:
    return f"""
WITH RECURSIVE
cents AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1 AS cell_id,
         CAST(embedding AS DOUBLE[]) AS cvec
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id ASC LIMIT {_SD_CELLS})
),
assigned AS (
  SELECT vec_id, emb, cell_id FROM (
    SELECT e.vec_id, e.emb, c.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.emb, c.cvec) DESC, c.cell_id ASC
           ) AS rn
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings) e
    CROSS JOIN cents c
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS key_a, b.vec_id AS key_b
  FROM assigned a JOIN assigned b
    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  WHERE ROUND(list_cosine_similarity(a.emb, b.emb), 6) >= {_SD_THRESH}
),
edges AS (
  SELECT key_a AS a, key_b AS b FROM pairs
  UNION
  SELECT key_b AS a, key_a AS b FROM pairs
),
reach AS (
  SELECT a AS v, a AS label FROM edges
  UNION
  SELECT e.a AS v, r.label FROM edges e JOIN reach r ON r.v = e.b
),
cc AS (SELECT v, MIN(label) AS component FROM reach GROUP BY v)
SELECT vec_id FROM embeddings
ANTI JOIN (SELECT v AS vec_id FROM cc WHERE v <> component) USING (vec_id)
"""


# ---------------------------------------------------------------------------
# q73 — span-level exact dedup with document reconstruction
# (operators/dedup.py span_dedup_rebuild, after Lee et al. ACL'22):
# map-side chunking (q65's kernel), ONE md5-keyed window shuffle for
# the corpus-wide keep-first decision, ONE doc-keyed groupBy to
# rebuild.  md5 winners + (doc_id, chunk_id) ordering keep the whole
# operator ANSI-expressible.
# ---------------------------------------------------------------------------
_SPAN_TOKENS = 16


def q73_span_dedup(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.dedup import (
        span_dedup_rebuild,
    )

    docs = _t(spark, sf_dir, "documents")
    return span_dedup_rebuild(docs, chunk_tokens=_SPAN_TOKENS)


def _span_dedup_sql() -> str:
    st = _SPAN_TOKENS
    return f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g') = ''
              THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')
         END AS tk
  FROM documents
),
expanded AS (
  SELECT doc_id, tk,
         unnest(range(1, greatest(len(tk), 1) + 1, {st})) AS s
  FROM toks
),
spans AS (
  SELECT doc_id,
         CAST((s - 1) / {st} AS INTEGER) AS chunk_id,
         array_to_string(tk[s:s + {st - 1}], ' ') AS chunk_text
  FROM expanded
  WHERE len(tk) > 0
),
flagged AS (
  SELECT doc_id, chunk_id, chunk_text,
         ROW_NUMBER() OVER (
           PARTITION BY md5(chunk_text) ORDER BY doc_id, chunk_id
         ) = 1 AS kept
  FROM spans
)
SELECT doc_id,
       COALESCE(
         string_agg(CASE WHEN kept THEN chunk_text END, ' ' ORDER BY chunk_id),
         ''
       ) AS text,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_spans_kept,
       CAST(COUNT(*) AS BIGINT) AS n_spans_total
FROM flagged
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# q74 — TF-IDF top terms per document (operators/ranking.py
# tfidf_top_terms): the posting-list formulation on purpose (every doc
# needs per-term scores): one (doc, term) shuffle for tf, the df pass
# re-aggregates tf's already-distinct (doc, term) rows so only
# vocabulary-sized data shuffles again, N broadcast back as one row,
# one doc-keyed ranking window.  Rounding BEFORE ranking keeps the
# emitted top-3 engine-stable.
# ---------------------------------------------------------------------------
_TFIDF_TOP = 3


def q74_tfidf_terms(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.ranking import (
        tfidf_top_terms,
    )

    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, top_n=_TFIDF_TOP)


def _tfidf_sql() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g') = ''
              THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(
                     regexp_replace(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+')
         END AS tk
  FROM documents
),
pairs AS (SELECT doc_id, unnest(tk) AS term FROM toks),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM pairs GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
scored AS (
  SELECT doc_id, term, ROUND(tf * ln(n.n / df), 6) AS tfidf
  FROM tf JOIN dfreq USING (term), n
),
ranked AS (
  SELECT doc_id, term, tfidf,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= {_TFIDF_TOP}
"""


# ---------------------------------------------------------------------------
# q75 — ordered funnel conversion (operators/funnel.py funnel_counts):
# pre-filter to the step types (pushed to the scan), ONE user-keyed
# shuffle building per-step sorted time arrays, greedy chain scan as
# array expressions, one-row count aggregate unpivoted by stack().
# Times compare as epoch-us int64 (q62 lesson — no ts-unit drift).
# ---------------------------------------------------------------------------
_FUNNEL_STEPS = ["view", "click", "purchase"]


def q75_funnel(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.funnel import (
        funnel_counts,
    )

    ev = _t(spark, sf_dir, "events")
    return funnel_counts(ev, _FUNNEL_STEPS)


def _funnel_sql() -> str:
    steps = _FUNNEL_STEPS
    arr_cols = ",\n         ".join(
        f"list(e ORDER BY e) FILTER (WHERE t = '{s}') AS a{i}"
        for i, s in enumerate(steps)
    )
    # each r{i} CTE adds t{i} = first a{i} strictly after t{i-1};
    # r0 carries every later step's array forward (generic in
    # len(steps) — a hardcoded column list broke non-3-step funnels)
    later0 = ", ".join(f"a{j}" for j in range(1, len(steps)))
    later0 = (later0 + ", ") if later0 else ""
    ctes = [f"r0 AS (SELECT u, {later0}list_min(a0) AS t0 FROM arrays)"]
    for i in range(1, len(steps)):
        keep = ", ".join(f"a{j}" for j in range(i + 1, len(steps)))
        keep = (keep + ", ") if keep else ""
        prev_ts = ", ".join(f"t{j}" for j in range(i))
        ctes.append(
            f"r{i} AS (SELECT u, {keep}{prev_ts}, "
            f"list_min(list_filter(a{i}, x -> x > t{i - 1})) AS t{i} "
            f"FROM r{i - 1})"
        )
    count_cols = ", ".join(
        f"COUNT(t{i}) AS c{i}" for i in range(len(steps))
    )
    unions = "\nUNION ALL\n".join(
        f"SELECT CAST({i + 1} AS INTEGER) AS step_idx, '{s}' AS step, "
        f"CAST(c{i} AS BIGINT) AS users FROM counts"
        for i, s in enumerate(steps)
    )
    quoted = ", ".join(f"'{s}'" for s in steps)
    return f"""
WITH f AS (
  SELECT user_id AS u, event_type AS t, epoch_us(ts) AS e
  FROM events WHERE event_type IN ({quoted})
),
arrays AS (
  SELECT u,
         {arr_cols}
  FROM f GROUP BY u
),
{",".join(ctes)},
counts AS (SELECT {count_cols} FROM r{len(steps) - 1})
{unions}
"""


# ---------------------------------------------------------------------------
# q76 — weekly cohort retention (operators/funnel.py cohort_retention):
# activity reduces to distinct (user, ISO-week) rows in one map-side-
# combinable aggregate; the cohort week is a min-window over the SAME
# shuffle (no first-touch join-back); the final count groups
# vocabulary-sized (cohort, offset) keys.  Weeks compare as DATEs and
# offsets as exact multiples of 7 days, so no float rounding exists.
# ---------------------------------------------------------------------------
def q76_cohort_retention(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.funnel import (
        cohort_retention,
    )

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev)


_COHORT_SQL = """
WITH uw AS (
  SELECT DISTINCT user_id AS u, CAST(date_trunc('week', ts) AS DATE) AS w
  FROM events
),
cw AS (SELECT u, w, MIN(w) OVER (PARTITION BY u) AS cwk FROM uw)
SELECT cwk AS cohort_week,
       CAST(date_diff('day', cwk, w) // 7 AS INTEGER) AS week_offset,
       CAST(COUNT(DISTINCT u) AS BIGINT) AS active_users
FROM cw
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q77 — per-group centroid outlier scores (operators/similarity.py
# centroid_outlier_scores): one posexplode to (group, dim, value)
# doubles, one (group, dim) map-side-combinable average, G-row
# centroid rebuild broadcast back, zip_with cosine per row.  AVG
# summation-order ulps (Spark partition-order vs DuckDB sequential)
# are absorbed by the cosine's round-6, the repo-wide fp budget.
# ---------------------------------------------------------------------------
def q77_centroid_outliers(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.similarity import (
        centroid_outlier_scores,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return centroid_outlier_scores(emb)


_CENTROID_OUTLIER_SQL = """
WITH dims AS (
  SELECT label,
         unnest(CAST(embedding AS DOUBLE[])) AS v,
         unnest(range(len(embedding))) AS i
  FROM embeddings
),
cent AS (
  SELECT label, list(av ORDER BY i) AS c
  FROM (SELECT label, i, AVG(v) AS av FROM dims GROUP BY label, i)
  GROUP BY label
)
SELECT e.vec_id, e.label,
       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.c), 6)
         AS centroid_cosine
FROM embeddings e JOIN cent c USING (label)
"""


# ---------------------------------------------------------------------------
# q78 — stream-static enrich join (streaming/events.py
# segment_enriched_daily_available_now): the event stream inner-joins
# the customer dimension (stateless in Structured Streaming — no join
# state, no watermark; Catalyst broadcasts the dim as in batch), then
# a complete-mode (segment, day) rollup drains via availableNow.
# Oracle = the identical join+rollup in batch SQL.
# ---------------------------------------------------------------------------
def q78_stream_static_enrich(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.streaming import events as SE

    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    return SE.segment_enriched_daily_available_now(
        spark, f"{sf_dir}/events.parquet", dim
    )


Q78_SQL = """
SELECT c.c_mktsegment AS segment, CAST(e.ts AS DATE) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(e.value), 4) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q79 — batch top-k retrieval (operators/similarity.py
# cosine_topk_batch): the 5 lowest-id vectors act as the query set,
# broadcast against ONE corpus scan; per-query ranking rides Spark's
# WindowGroupLimit pushdown so only each query's running top-k
# reaches the final shuffle.
# ---------------------------------------------------------------------------
_BATCH_NQ, _BATCH_K = 5, 5


def q79_batch_retrieval(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.similarity import (
        cosine_topk_batch,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = (
        emb.orderBy(F.col("vec_id").asc())
        .limit(_BATCH_NQ)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    return cosine_topk_batch(emb, queries, k=_BATCH_K)


Q79_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings ORDER BY vec_id ASC LIMIT {_BATCH_NQ}
),
scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6)
           AS cosine
  FROM embeddings e CROSS JOIN q
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {_BATCH_K}
"""


# ---------------------------------------------------------------------------
# q80 — stream-STREAM interval join (streaming/events.py
# click_purchase_attribution_available_now): clicks join purchases on
# user within a 30-minute event-time range, BOTH sides watermarked
# (state bounded by horizon + gap), availableNow drain, append mode.
# Inner-join append emits exactly the matched rows, so the oracle is
# the identical batch self-join.  The ts comparison is exact (same
# micros both engines); no aggregation, no float arithmetic.
# ---------------------------------------------------------------------------
_ATTR_GAP_MIN = 30


def q80_stream_stream_join(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.streaming import events as SE

    _t(spark, sf_dir, "events")  # pins session tz to UTC like every query
    return SE.click_purchase_attribution_available_now(
        spark, f"{sf_dir}/events.parquet", gap_minutes=_ATTR_GAP_MIN
    )


Q80_SQL = f"""
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       c.ts AS click_ts, p.ts AS purchase_ts
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts > c.ts
 AND p.ts <= c.ts + INTERVAL {_ATTR_GAP_MIN} MINUTES
"""


# ---------------------------------------------------------------------------
# q81 — skew-salted join (operators/skew.py salted_join): the hot side
# gets a deterministic row-hash salt, the dim side replicates once per
# salt value, and the join runs on (key, salt) — shuffle parallelism
# on a hot key goes from 1 task to salt_factor tasks.  The oracle is
# the UNSALTED join (salting must never change results), rolled up to
# segment grain.
# ---------------------------------------------------------------------------
def q81_salted_join(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.skew import (
        salted_join,
    )

    # keep event_id in the projection: salted_join salts on a hash of
    # ALL columns, and a hot user with quantized values would otherwise
    # collapse to one salt bucket — the unique id preserves entropy
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    return (
        salted_join(ev, dim, on="user_id", salt_factor=8)
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


Q81_SQL = """
SELECT c.c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(e.value), 4) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q82 — MAD robust outlier summary (operators/stats.py
# mad_outlier_summary): two grouped exact-percentile passes with tiny
# median tables broadcast back between them, then one counting
# aggregate.  Exact percentile is the oracle-reproducible form
# (DuckDB quantile_cont matches Spark's interpolation — q32's
# precedent); the operator docstring routes hot groups to
# percentile_approx at scale.
# ---------------------------------------------------------------------------
_MAD_K = 2.0


def q82_mad_outliers(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.stats import (
        mad_outlier_summary,
    )

    ev = _t(spark, sf_dir, "events")
    return mad_outlier_summary(ev, "value", "event_type", k=_MAD_K)


Q82_SQL = f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS median
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, m.median,
         ABS(e.value - m.median) AS d
  FROM events e JOIN med m
    ON e.event_type IS NOT DISTINCT FROM m.event_type
),
mad AS (
  SELECT event_type, quantile_cont(d, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       ROUND(ANY_VALUE(d.median), 6) AS median,
       ROUND(ANY_VALUE(a.mad), 6) AS mad,
       CAST(SUM(CASE WHEN d.d > {_MAD_K} * a.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       CAST(COUNT(*) AS BIGINT) AS n_total
FROM dev d JOIN mad a
  ON d.event_type IS NOT DISTINCT FROM a.event_type
GROUP BY d.event_type
"""


# ---------------------------------------------------------------------------
# q83 — blocked fuzzy record linkage (operators/linkage.py
# blocked_fuzzy_join): entity resolution as block-key equi-join +
# Levenshtein verify — candidates come from a hash shuffle on the
# block key, never a cross join, and the max_block_size guard drops
# degenerate hot blocks before the join (the min_df_prune pattern).
# Instance: customer names with one digit deterministically deleted
# (position 10 + custkey % 5 — always inside the digit run, never the
# last 4 chars) matched back to the clean roster, blocking on the
# final 4 characters.  Block occupancy is ~|roster|/10^4 and the cap
# is 1000, so the guard only fires past sf~60 — the cap protects
# against degenerate blocks without silently pruning healthy ones at
# any benchmarked scale (a cap that prunes 100% of blocks would make
# a green row vacuous).
# ---------------------------------------------------------------------------
_FJ_CAP = 1000


def q83_fuzzy_linkage(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.linkage import (
        blocked_fuzzy_join,
    )

    cust = _t(spark, sf_dir, "customer")
    dirty = cust.select(
        F.col("c_custkey").alias("dirty_id"),
        F.expr(
            "concat(substring(c_name, 1, 9 + c_custkey % 5), "
            "substring(c_name, 11 + c_custkey % 5, 100))"
        ).alias("dirty_name"),
    )
    out = blocked_fuzzy_join(
        dirty,
        cust,
        left_key="dirty_id",
        right_key="c_custkey",
        left_col="dirty_name",
        right_col="c_name",
        block=lambda c: F.substring(c, -4, 4),
        max_dist=1,
        max_block_size=_FJ_CAP,
        left_out="dirty_key",
        right_out="clean_key",
    )
    return out.withColumn("distance", F.col("distance").cast("long"))


Q83_SQL = f"""
WITH dirty AS (
  SELECT c_custkey AS dk,
         substring(c_name, 1, 9 + c_custkey % 5)
           || substring(c_name, 11 + c_custkey % 5) AS dname
  FROM customer
),
rb AS (
  SELECT c_custkey AS ck, c_name, right(c_name, 4) AS blk FROM customer
),
ok AS (SELECT blk FROM rb GROUP BY blk HAVING COUNT(*) <= {_FJ_CAP}),
pruned AS (SELECT rb.* FROM rb SEMI JOIN ok USING (blk))
SELECT d.dk AS dirty_key, r.ck AS clean_key,
       CAST(levenshtein(d.dname, r.c_name) AS BIGINT) AS distance
FROM dirty d JOIN pruned r ON right(d.dname, 4) = r.blk
WHERE levenshtein(d.dname, r.c_name) <= 1
"""


# ---------------------------------------------------------------------------
# q84 — corpus snapshot diff (operators/delta.py snapshot_diff): the
# incremental-ingest primitive — classify every key across two corpus
# snapshots as added / removed / changed by comparing map-side content
# hashes through ONE full-outer join, so fingerprints (40 bytes)
# shuffle, never documents.  Instance: old = documents minus every
# 13th doc with every 7th doc's text revised; new = documents minus
# every 11th doc.
# ---------------------------------------------------------------------------
def q84_snapshot_diff(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.delta import (
        snapshot_diff,
    )

    docs = _t(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 13 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" rev2"))
        ).otherwise(F.col("text")),
    )
    new = docs.where(F.col("doc_id") % 11 != 0)
    return snapshot_diff(old, new, key_col="doc_id", content_col="text")


Q84_SQL = """
WITH oldsnap AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS text
  FROM documents WHERE doc_id % 13 <> 0
),
newsnap AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 0),
o AS (SELECT doc_id, md5(COALESCE(text, '')) AS ho FROM oldsnap),
n AS (SELECT doc_id, md5(COALESCE(text, '')) AS hn FROM newsnap),
classified AS (
  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN ho <> hn THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
)
SELECT doc_id, status FROM classified WHERE status <> 'unchanged'
"""


# ---------------------------------------------------------------------------
# q85 — trailing-window z-score anomaly flags (operators/stats.py
# rolling_zscore_flags): a row is anomalous vs its group's trailing
# 24 one-hour buckets (current bucket excluded).  The window is
# BUCKET-aligned, not per-row: Spark sliding-frame aggregates have no
# retraction, so a per-row trailing RANGE frame costs O(rows x frame
# occupancy) — measured 9.2 s at sf0.1 vs 0.5 s for this shape.  One
# linear partial-aggregation shuffle to (type, hour, n, sum, sum_sq),
# a trailing RANGE frame over the tiny bucket frame, and a broadcast
# join back to rows; both engines derive sd from the same partials
# algebra and filter on the ROUNDED z so the emitted set is
# identical.  Sizing: ~5 types over 30 days, so the 24 h trailing
# window holds ~N_sf/150 points per type — the 30-point warm-up is
# satisfiable from sf0.01 up.
# ---------------------------------------------------------------------------
_ZS_BUCKET_S, _ZS_TRAIL, _ZS_THRESH, _ZS_MINPTS = 3_600, 24, 3.0, 30


def q85_rolling_zscore(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.stats import (
        rolling_zscore_flags,
    )

    ev = _t(spark, sf_dir, "events")
    return rolling_zscore_flags(
        ev,
        ts_col="ts",
        group_col="event_type",
        value_col="value",
        bucket_seconds=_ZS_BUCKET_S,
        trailing_buckets=_ZS_TRAIL,
        z_thresh=_ZS_THRESH,
        min_points=_ZS_MINPTS,
    )


Q85_SQL = f"""
WITH partials AS (
  SELECT event_type AS g,
         CAST(floor(epoch_us(ts) / {_ZS_BUCKET_S * 1_000_000}) AS BIGINT)
           AS b,
         COUNT(value) AS n, SUM(value) AS s, SUM(value * value) AS ss
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT g, b,
         SUM(n) OVER win AS tn,
         SUM(s) OVER win AS ts_,
         SUM(ss) OVER win AS tss
  FROM partials
  WINDOW win AS (PARTITION BY g ORDER BY b
                 RANGE BETWEEN {_ZS_TRAIL} PRECEDING AND 1 PRECEDING)
),
ready AS (
  SELECT g, b, ts_ / tn AS m,
         sqrt(greatest((tss - ts_ * ts_ / tn) / (tn - 1), 0.0)) AS sd
  FROM stats WHERE tn >= {_ZS_MINPTS}
)
SELECT e.event_id, e.event_type, ROUND((e.value - r.m) / r.sd, 4) AS z
FROM events e
JOIN ready r
  ON e.event_type IS NOT DISTINCT FROM r.g
 AND CAST(floor(epoch_us(e.ts) / {_ZS_BUCKET_S * 1_000_000}) AS BIGINT) = r.b
WHERE r.sd > 0 AND ABS(ROUND((e.value - r.m) / r.sd, 4)) > {_ZS_THRESH}
"""


# ---------------------------------------------------------------------------
# q86 — incremental near-dup probe join (operators/dedup.py
# minhash_lsh_join): the ingest-delta shape — which docs in a new
# batch near-duplicate something ALREADY IN the corpus?  Same
# signature family as q17, but candidates come from the band
# equi-join BETWEEN the two frames, so per-batch cost tracks the
# batch (plus its band collisions), never |corpus|².  Instance:
# probe = every 10th document, corpus = the rest (disjoint key sets,
# like a real delta).
# ---------------------------------------------------------------------------
def q86_incremental_neardup(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    probe = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    return D.minhash_lsh_join(
        probe,
        corpus,
        num_hashes=_MH_H,
        bands=_MH_BANDS,
        jaccard_threshold=_MH_THRESH,
        ngram_n=_MH_N,
    )


def _mh_join_sql() -> str:
    """Same signature pipeline as _mh_sql (q17) via _mh_sig_ctes, with
    candidates from the probe-vs-corpus band join instead of the
    self-join."""
    return f"""
WITH {_mh_sig_ctes()},
cand AS (
  SELECT DISTINCT p.k AS pk, c.k AS ck
  FROM banded p JOIN banded c ON p.bucket = c.bucket
  WHERE p.k % 10 = 0 AND c.k % 10 <> 0
),
scored AS (
  SELECT cand.pk, cand.ck,
         ROUND(len(list_intersect(x.sh, y.sh)) * 1.0
               / len(list_distinct(x.sh || y.sh)), 6) AS jaccard
  FROM cand JOIN sh x ON cand.pk = x.k JOIN sh y ON cand.ck = y.k
)
SELECT pk AS probe_key, ck AS corpus_key, jaccard
FROM scored WHERE jaccard >= {_MH_THRESH}
"""


# ---------------------------------------------------------------------------
# q87 — mutual-nearest-neighbor embedding alignment (operators/
# similarity.py mutual_nearest_neighbors): the bitext/dataset-
# alignment primitive — (x, y) survives iff each is the other's
# nearest neighbor, which kills one-direction hub matches.  Both
# directions are cosine_topk_batch legs (smaller side broadcast, ONE
# scan of the other, WindowGroupLimit top-1), then an equi-join of
# two top-1 lists.  Ranking on the ROUNDED cosine with key tiebreaks
# keeps the argmax engine-stable.  Instance: every 17th vector as
# set A vs the rest as set B.
# ---------------------------------------------------------------------------
def q87_mutual_nn(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    a = emb.where(F.col("vec_id") % 17 == 0)
    b = emb.where(F.col("vec_id") % 17 != 0)
    return S.mutual_nearest_neighbors(a, b)


Q87_SQL = """
WITH a AS (
  SELECT vec_id AS ak, embedding::DOUBLE[] AS e FROM embeddings
  WHERE vec_id % 17 = 0
),
b AS (
  SELECT vec_id AS bk, embedding::DOUBLE[] AS e FROM embeddings
  WHERE vec_id % 17 <> 0
),
ab AS (
  SELECT ak, bk, ROUND(list_cosine_similarity(a.e, b.e), 6) AS c
  FROM a, b
),
best_ab AS (
  SELECT ak, bk, c FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY ak ORDER BY c DESC, bk ASC) rn
    FROM ab
  ) WHERE rn = 1
),
best_ba AS (
  SELECT ak, bk FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY bk ORDER BY c DESC, ak ASC) rn
    FROM ab
  ) WHERE rn = 1
)
SELECT x.ak AS a_key, x.bk AS b_key, x.c AS cosine
FROM best_ab x JOIN best_ba y ON x.ak = y.ak AND x.bk = y.bk
"""


# ---------------------------------------------------------------------------
# q88 — binned range-lookup join (operators/joins.py range_lookup_join):
# tier/threshold lookup as an EQUI-join — dim intervals explode to the
# bins they cover, fact rows compute their bin map-side, and the exact
# [lo, hi) check folds into the join; no BroadcastNestedLoopJoin, no
# per-row interval scan.  Instance: customer balances against a
# 4-tier table, bin width 500.
# ---------------------------------------------------------------------------
_TIERS = [
    ("debt", -1000.0, 0.0),
    ("low", 0.0, 1000.0),
    ("mid", 1000.0, 5000.0),
    ("high", 5000.0, 10000.0),
]


def q88_range_lookup(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.joins import (
        range_lookup_join,
    )

    cust = _t(spark, sf_dir, "customer")
    dim = spark.createDataFrame(_TIERS, "tier string, lo double, hi double")
    return range_lookup_join(
        cust, dim, "c_acctbal", "lo", "hi", bin_width=500.0
    ).select("c_custkey", "tier")


Q88_SQL = """
WITH tiers(tier, lo, hi) AS (
  VALUES ('debt', -1000.0, 0.0), ('low', 0.0, 1000.0),
         ('mid', 1000.0, 5000.0), ('high', 5000.0, 10000.0)
)
SELECT c.c_custkey, t.tier
FROM customer c JOIN tiers t ON c.c_acctbal >= t.lo AND c.c_acctbal < t.hi
"""


# ---------------------------------------------------------------------------
# q89 — session co-occurrence / association pairs (operators/assoc.py
# cooccurrence_pairs): which event types happen in the same (user,
# day) basket more than independence predicts?  Distinct-first (one
# shuffle kills in-basket multiplicity), pairs from a basket-key
# equi-join (C(k,2) per basket, k <= |event types|), N as a one-row
# broadcast — no driver count, no cross join.
# ---------------------------------------------------------------------------
def q89_cooccurrence(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.assoc import (
        cooccurrence_pairs,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    return cooccurrence_pairs(ev, ["user_id", "day"], "event_type")


Q89_SQL = """
WITH d AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type AS it
  FROM events
),
n_total AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n
  FROM (SELECT DISTINCT user_id, day FROM d)
),
item_n AS (SELECT it, COUNT(*) AS cnt FROM d GROUP BY it),
pairs AS (
  SELECT a.it AS item_a, b.it AS item_b,
         CAST(COUNT(*) AS BIGINT) AS pair_n
  FROM d a JOIN d b
    ON a.user_id = b.user_id AND a.day = b.day AND a.it < b.it
  GROUP BY 1, 2
)
SELECT p.item_a, p.item_b, p.pair_n,
       ROUND(p.pair_n * t.n / (x.cnt * y.cnt), 6) AS lift
FROM pairs p
JOIN item_n x ON p.item_a = x.it
JOIN item_n y ON p.item_b = y.it
CROSS JOIN n_total t
"""


# ---------------------------------------------------------------------------
# q90 — hybrid retrieval fusion (operators/ranking.py rrf_fuse):
# reciprocal-rank fusion of two retrievers over the same corpus —
# q71's BM25 and a token-set Jaccard retriever — the lexical+fuzzy
# hybrid every RAG pipeline runs (RRF needs no score calibration
# between heterogeneous scorers).  Fusion operates on retriever
# OUTPUT volume (k rows per list), so the stage is free next to the
# retrievers feeding it.  Both lists rank on ROUNDED scores with key
# tiebreaks; the fused list ranks on the rounded RRF sum — every cut
# engine-stable.
# ---------------------------------------------------------------------------
_RRF_POOL, _RRF_K, _RRF_TOP = 20, 60, 10


def q90_hybrid_retrieval(spark, sf_dir):
    from pyspark.sql import Window

    from cloud_native_medical_data_etl_pipeline_spark.operators.ranking import (
        bm25_topk,
        rrf_fuse,
    )

    docs = _t(spark, sf_dir, "documents")
    lex = bm25_topk(
        docs, _BM25_TERMS, k=_RRF_POOL, k1=_BM25_K1, b=_BM25_B
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        ),
    )
    qset = F.array(*[F.lit(t) for t in _BM25_TERMS])
    toks = F.array_distinct(X.lower_tokens("text"))
    jac = F.round(
        F.size(F.array_intersect(toks, qset)).cast("double")
        / F.size(F.array_union(toks, qset)).cast("double"),
        6,
    )
    fuzzy = (
        docs.where(F.size(F.array_distinct(X.lower_tokens("text"))) > 0)
        .select("doc_id", jac.alias("tjac"))
        .orderBy(F.col("tjac").desc(), F.col("doc_id").asc())
        .limit(_RRF_POOL)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("tjac").desc(), F.col("doc_id").asc())
            ),
        )
    )
    return rrf_fuse(
        [lex.select("doc_id", "rank"), fuzzy.select("doc_id", "rank")],
        rrf_k=_RRF_K,
        top=_RRF_TOP,
    )


def _rrf_sql() -> str:
    qlist = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    ctes, score = _bm25_ctes()
    return f"""
WITH {ctes},
lex AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank
  FROM (
    SELECT doc_id, ROUND({score}, 6) AS bm25
    FROM per_doc, stats
    ORDER BY bm25 DESC, doc_id ASC LIMIT {_RRF_POOL}
  )
),
fuzzy AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY tjac DESC, doc_id ASC) AS rank
  FROM (
    SELECT doc_id,
           ROUND(len(list_intersect(list_distinct(tk), [{qlist}])) * 1.0
                 / len(list_distinct(list_distinct(tk) || [{qlist}])), 6)
             AS tjac
    FROM toks WHERE len(tk) > 0
    ORDER BY tjac DESC, doc_id ASC LIMIT {_RRF_POOL}
  )
)
SELECT doc_id, ROUND(SUM(1.0 / ({_RRF_K} + rank)), 6) AS rrf
FROM (SELECT * FROM lex UNION ALL SELECT * FROM fuzzy)
GROUP BY doc_id
ORDER BY rrf DESC, doc_id ASC
LIMIT {_RRF_TOP}
"""


# ---------------------------------------------------------------------------
# q91 — unpivot/melt + aggregate (the inverse of q33's pivot): four
# lineitem measures melt to (metric, value) rows map-side
# (DataFrame.unpivot = one Expand node, no shuffle, no UDF), then one
# grouped aggregate.  Registered r4 at the tail — first driver
# evidence rides the r5 window (SURVEY.md §8.3).
# ---------------------------------------------------------------------------
_UNPIVOT_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q91_unpivot_metrics(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    melted = l.unpivot(
        ids=["l_orderkey"],
        values=_UNPIVOT_COLS,
        variableColumnName="metric",
        valueColumnName="value",
    )
    return melted.groupBy("metric").agg(
        F.count("value").alias("n"),
        F.round(F.sum("value"), 4).alias("total"),
    )


Q91_SQL = f"""
SELECT metric, CAST(COUNT(value) AS BIGINT) AS n,
       ROUND(SUM(value), 4) AS total
FROM (
  SELECT l_orderkey, metric, value
  FROM lineitem
  UNPIVOT (value FOR metric IN ({", ".join(_UNPIVOT_COLS)}))
)
GROUP BY metric
"""


# ---------------------------------------------------------------------------
# q92 — per-group quantile-rank transform (operators/stats.py
# quantile_buckets): percent_rank deciles of event values within each
# event type — the distribution-free normalization for curriculum /
# cohort features; tied values share a bucket, so the result is a
# pure function of (group, value) and engine-stable.  Registered r4
# at the tail — first driver evidence rides the r5 window.
# ---------------------------------------------------------------------------
def q92_quantile_buckets(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.stats import (
        quantile_buckets,
    )

    ev = _t(spark, sf_dir, "events")
    return quantile_buckets(ev, "event_type", "value", n_buckets=10)


Q92_SQL = """
SELECT event_id, event_type,
       CAST(LEAST(FLOOR(percent_rank() OVER (
         PARTITION BY event_type ORDER BY value NULLS FIRST) * 10), 9) AS BIGINT)
         AS bucket
FROM events
"""


# ---------------------------------------------------------------------------
# q93 — SCD-2 validity intervals (operators/scd.py scd2_intervals):
# collapse each user's event-type log into attribute-value RUNS with
# [valid_from_us, valid_to_us) bounds, open run -> NULL.  One
# entity-hash time-sort shuffle, two streaming window passes.
# Registered r4 at the tail — first driver evidence rides r5.
# ---------------------------------------------------------------------------
def q93_scd2_intervals(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.scd import (
        scd2_intervals,
    )

    ev = _t(spark, sf_dir, "events")
    return scd2_intervals(ev, "user_id", "ts", "event_type", "event_id")


Q93_SQL = """
WITH marked AS (
  SELECT user_id AS __k, epoch_us(ts) AS __ts, event_type AS __a,
         event_id AS __tb,
         NOT (lag(event_type) OVER w IS NOT DISTINCT FROM event_type)
           AS __chg,
         ROW_NUMBER() OVER w AS __rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
changes AS (SELECT * FROM marked WHERE __rn = 1 OR __chg)
SELECT __k AS user_id, __a AS event_type, __ts AS valid_from_us,
       lead(__ts) OVER (PARTITION BY __k ORDER BY __ts, __tb)
         AS valid_to_us
FROM changes
"""


# ---------------------------------------------------------------------------
# q94 — event transition counts (operators/scd.py transition_counts):
# first-order (from, to) state transitions per user timeline — the
# Markov / funnel-exploration primitive.  One shuffle + lead() +
# a count over the |states|^2 result space.  Registered r4 at the
# tail — first driver evidence rides r5.
# ---------------------------------------------------------------------------
def q94_transitions(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.scd import (
        transition_counts,
    )

    ev = _t(spark, sf_dir, "events")
    return transition_counts(ev, "user_id", "ts", "event_type", "event_id")


Q94_SQL = """
WITH nxt AS (
  SELECT event_type AS from_state,
         lead(event_type) OVER w AS to_state,
         lead(event_id) OVER w AS nxt_id
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
)
SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS n
FROM nxt WHERE nxt_id IS NOT NULL
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q95 — A-Res weighted sampling without replacement (operators/
# curate.py weighted_sample): LOG-DOMAIN priority ln(-ln u) - ln w
# (ascending — the monotone transform of u^(1/w) descending, immune
# to the large-w grid collapse of the raw power) with a DETERMINISTIC
# md5 uniform — the one-pass distributed reservoir, reproducible
# across engines/layouts unlike seeded rand().  Priorities rank
# ROUNDED (log can differ by an ulp across libm implementations).
# Instance: 20 docs per language, weighted by length.  Registered r4
# at the tail — first driver evidence rides r5.
# ---------------------------------------------------------------------------
_WS_N = 20


def q95_weighted_sample(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.curate import (
        weighted_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample(
        docs, weight_col="n_chars", n=_WS_N, group_col="lang"
    )
    return out.select("doc_id", "lang", "priority")


Q95_SQL = f"""
WITH u AS (
  SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS w,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           + 1.0) / 4294967296.0 AS u
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
),
pri AS (
  SELECT doc_id, lang,
         CASE WHEN u < 1 THEN ROUND(LN(-LN(u)) - LN(w), 9)
              ELSE CAST('-infinity' AS DOUBLE) END AS priority
  FROM u
),
ranked AS (
  SELECT doc_id, lang, priority,
         ROW_NUMBER() OVER (
           PARTITION BY lang ORDER BY priority ASC, doc_id ASC
         ) AS rn
  FROM pri
)
SELECT doc_id, lang, priority FROM ranked WHERE rn <= {_WS_N}
"""


# ---------------------------------------------------------------------------
# q96 — hard-negative mining (operators/similarity.py hard_negatives):
# for each probe embedding, the top-3 most-similar corpus vectors
# with a DIFFERENT label — boundary-adjacent negatives for
# contrastive training.  Query set broadcast vs one corpus scan, the
# label-mismatch predicate folded in BEFORE the per-query ranking
# window (WindowGroupLimit).  Instance: every 23rd vector probes the
# rest.  Registered r4 at the tail — first driver evidence rides r5.
# ---------------------------------------------------------------------------
_HN_K = 3


def q96_hard_negatives(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.similarity import (
        hard_negatives,
    )

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") % 23 == 0)
    corpus = emb.where(F.col("vec_id") % 23 != 0)
    return hard_negatives(corpus, probes, k=_HN_K)


Q96_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_key, embedding::DOUBLE[] AS e, label
  FROM embeddings WHERE vec_id % 23 = 0 AND label IS NOT NULL
),
c AS (
  SELECT vec_id, embedding::DOUBLE[] AS e, label
  FROM embeddings WHERE vec_id % 23 <> 0 AND label IS NOT NULL
),
scored AS (
  SELECT q.query_key, c.vec_id,
         ROUND(list_cosine_similarity(q.e, c.e), 6) AS cosine
  FROM q JOIN c ON q.label <> c.label
),
ranked AS (
  SELECT query_key, vec_id, cosine,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_key ORDER BY cosine DESC, vec_id ASC
         ) AS INT) AS rank
  FROM scored
)
SELECT query_key, vec_id, cosine, rank FROM ranked WHERE rank <= {_HN_K}
"""


# ---------------------------------------------------------------------------
# q97 — CDC apply / lakehouse MERGE (operators/cdc.py apply_cdc):
# last-writer-wins fold of an I/U/D change log into a base snapshot —
# one latest-per-key window over the (small) log, one key join
# against the base.  Instance: customers with a synthetic log —
# every 5th key updated (+100 balance, t=1), every 7th deleted (t=2,
# so D wins on keys divisible by 35).  Registered r4 at the tail —
# first driver evidence rides r5.
# ---------------------------------------------------------------------------
def q97_cdc_apply(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.cdc import (
        apply_cdc,
    )

    cust = _t(spark, sf_dir, "customer")
    updates = cust.where(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        "c_mktsegment",
        F.lit(1).alias("ts"),
        F.lit("U").alias("op"),
        F.col("c_custkey").alias("change_id"),
    )
    deletes = cust.where(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
        F.lit(2).alias("ts"),
        F.lit("D").alias("op"),
        (F.col("c_custkey") + 1_000_000).alias("change_id"),
    )
    merged = apply_cdc(
        cust,
        updates.unionByName(deletes),
        key_col="c_custkey",
        ts_col="ts",
        op_col="op",
        tiebreak_col="change_id",
    )
    return merged.select(
        "c_custkey", F.round("c_acctbal", 2).alias("acctbal")
    )


Q97_SQL = """
WITH changes AS (
  SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal, 1 AS ts, 'U' AS op
  FROM customer WHERE c_custkey % 5 = 0
  UNION ALL
  SELECT c_custkey, c_acctbal, 2 AS ts, 'D' AS op
  FROM customer WHERE c_custkey % 7 = 0
),
latest AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY c_custkey ORDER BY ts DESC
    ) AS rn FROM changes
  ) WHERE rn = 1
)
SELECT c.c_custkey, ROUND(c.c_acctbal, 2) AS acctbal
FROM customer c ANTI JOIN latest l ON c.c_custkey = l.c_custkey
UNION ALL
SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal
FROM latest WHERE op <> 'D'
"""


# ---------------------------------------------------------------------------
# q98 — corpus-level source-similarity matrix (operators/dedup.py
# source_similarity_matrix): pairwise 8-gram Jaccard between document
# SOURCES — the zoom-out of the doc-pair dedup family (doc pairs ->
# span dedup -> corpus matrix).  Distinct (source, md5(gram)) rows
# map-side, one grouped size count, a gram-hash-keyed intersection
# join emitting <= |sources|² pairs per gram.  Registered r4 at the
# tail — first driver evidence rides r5.
# ---------------------------------------------------------------------------
_SSM_N = 8


def q98_source_similarity(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return D.source_similarity_matrix(docs, group_col="source", ngram_n=_SSM_N)


Q98_SQL = f"""
WITH toks AS (
  SELECT source,
         list_transform(string_split_regex(regexp_replace(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+'),
                        t -> t) AS tk
  FROM documents
  WHERE regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g') <> ''
),
grams AS (
  SELECT DISTINCT source AS g,
         unnest(list_transform(range(1, len(tk) - {_SSM_N - 2}),
                i -> md5(array_to_string(tk[i:i+{_SSM_N - 1}], ' ')))) AS gh
  FROM toks WHERE len(tk) >= {_SSM_N}
),
sizes AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY g),
inter AS (
  SELECT a.g AS group_a, b.g AS group_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM grams a JOIN grams b ON a.gh = b.gh AND a.g < b.g
  GROUP BY 1, 2
)
SELECT i.group_a, i.group_b, sa.n AS n_a, sb.n AS n_b, i.n_common,
       ROUND(i.n_common * 1.0 / (sa.n + sb.n - i.n_common), 6) AS jaccard
FROM inter i
JOIN sizes sa ON i.group_a = sa.g
JOIN sizes sb ON i.group_b = sb.g
"""


# ---------------------------------------------------------------------------
# q99 — per-group winsorization (operators/stats.py winsorize): clip
# event values into each type's [p05, p95] band — one grouped exact
# percentile (the oracle-reproducible form; approx documented for hot
# groups) broadcast back, clipping map-side.  Registered r4 at the
# tail — first driver evidence rides r5.
# ---------------------------------------------------------------------------
_WZ_LO, _WZ_HI = 0.05, 0.95


def q99_winsorize(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.stats import (
        winsorize,
    )

    ev = _t(spark, sf_dir, "events")
    return winsorize(ev, "value", "event_type", lower=_WZ_LO, upper=_WZ_HI)


Q99_SQL = f"""
WITH bounds AS (
  SELECT event_type AS bg,
         quantile_cont(value, {_WZ_LO}) AS lo,
         quantile_cont(value, {_WZ_HI}) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       CASE WHEN e.value IS NULL THEN NULL
            ELSE ROUND(LEAST(GREATEST(e.value, b.lo), b.hi), 6) END
         AS clipped
FROM events e JOIN bounds b
  ON e.event_type IS NOT DISTINCT FROM b.bg
"""


# ---------------------------------------------------------------------------
# q100 — join-key skew diagnostics (operators/skew.py skew_report):
# the pre-flight check for any planned shuffle key — top heavy keys
# with share and skew factor (count / mean-per-key).  One counting
# aggregate + a one-row total broadcast + TakeOrdered; no global
# sort.  Instance: order counts per customer.  Registered r4 at the
# tail — first driver evidence rides r5.
# ---------------------------------------------------------------------------
def q100_skew_report(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.skew import (
        skew_report,
    )

    o = _t(spark, sf_dir, "orders")
    return skew_report(o, "o_custkey", top=10)


Q100_SQL = """
WITH counts AS (
  SELECT o_custkey AS __k, CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY o_custkey
),
totals AS (
  SELECT CAST(SUM(n) AS DOUBLE) AS N, CAST(COUNT(*) AS DOUBLE) AS D
  FROM counts
)
SELECT c.__k AS o_custkey, c.n,
       ROUND(c.n / t.N, 6) AS share,
       ROUND(c.n * t.D / t.N, 6) AS skew_factor
FROM counts c CROSS JOIN totals t
ORDER BY c.n DESC, c.__k ASC NULLS LAST
LIMIT 10
"""


# ---------------------------------------------------------------------------
# q101 — exponential-decay attribution (operators/joins.py
# decay_attribution): each purchase credits its user's clicks in the
# trailing 6 h with exp(-age/1h) weight — the soft credit assignment
# between last-touch and linear.  Pair generation is q37's
# time-bin-blocked interval join; the decay is a map-side expression
# on the exact microsecond gap; both engines round the summed score.
# Registered r4 at the tail — first driver evidence rides r5.
# ---------------------------------------------------------------------------
_DA_H, _DA_TAU = 21_600.0, 3_600.0


def q101_decay_attribution(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.joins import (
        decay_attribution,
    )

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase")
    clicks = ev.where(F.col("event_type") == "click")
    return decay_attribution(
        purchases,
        clicks,
        on="user_id",
        horizon_s=_DA_H,
        tau_s=_DA_TAU,
    ).select("event_id", "user_id", "n_touches", "score")


Q101_SQL = f"""
SELECT p.event_id, p.user_id,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       ROUND(SUM(exp((epoch_us(c.ts) - epoch_us(p.ts))
                     / {_DA_TAU * 1_000_000.0!r})), 6) AS score
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND epoch_us(c.ts) >  epoch_us(p.ts) - {int(_DA_H * 1_000_000)}
 AND epoch_us(c.ts) <= epoch_us(p.ts)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q102 — chi-square independence crosstab (operators/stats.py
# chi_square_crosstab): is the event type independent of the hour of
# day?  One cell-counting aggregate; marginals re-aggregate from the
# cells, never a second scan.  Registered r4 at the tail — first
# driver evidence rides r5.
# ---------------------------------------------------------------------------
def q102_chi_square(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.stats import (
        chi_square_crosstab,
    )

    ev = _t(spark, sf_dir, "events").withColumn("hour", F.hour("ts"))
    return chi_square_crosstab(ev, "event_type", "hour")


Q102_SQL = """
WITH cells AS (
  SELECT event_type AS a, EXTRACT(hour FROM ts) AS b,
         CAST(COUNT(*) AS DOUBLE) AS o
  FROM events GROUP BY 1, 2
),
rt AS (SELECT a AS ra_k, SUM(o) AS ra FROM cells GROUP BY a),
ct AS (SELECT b AS cb_k, SUM(o) AS cb FROM cells GROUP BY b),
nt AS (
  SELECT SUM(o) AS n,
         COUNT(DISTINCT a) + MAX(CASE WHEN a IS NULL THEN 1 ELSE 0 END) AS ka,
         COUNT(DISTINCT b) + MAX(CASE WHEN b IS NULL THEN 1 ELSE 0 END) AS kb
  FROM cells
)
-- the statistic sums over the FULL ka×kb marginal grid (mirrors the
-- kernel): a zero-observed cell still contributes (0-e)^2/e = e
SELECT ROUND(SUM((COALESCE(c.o, 0) - rt.ra * ct.cb / nt.n)
                 * (COALESCE(c.o, 0) - rt.ra * ct.cb / nt.n)
                 / (rt.ra * ct.cb / nt.n)), 6) AS chi2,
       CAST(ANY_VALUE((nt.ka - 1) * (nt.kb - 1)) AS BIGINT) AS dof,
       CAST(ANY_VALUE(nt.n) AS BIGINT) AS n
FROM rt
CROSS JOIN ct
LEFT JOIN cells c ON c.a IS NOT DISTINCT FROM rt.ra_k
                 AND c.b IS NOT DISTINCT FROM ct.cb_k
CROSS JOIN nt
"""


# ---------------------------------------------------------------------------
# q103 — categorical drift monitor (operators/stats.py kl_drift):
# KL(new || base) + total-variation distance of the event-type mix
# between two weeks — the corpus reduces to a category-cardinality
# frame before any distribution math.  Registered r4 at the tail —
# first driver evidence rides r5.
# ---------------------------------------------------------------------------
def q103_kl_drift(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.stats import (
        kl_drift,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "week", F.weekofyear("ts")
    )
    return kl_drift(ev, "week", "event_type", base_period=1, new_period=2)


Q103_SQL = """
WITH counts AS (
  SELECT EXTRACT(week FROM ts) AS p, event_type AS c,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE EXTRACT(week FROM ts) IN (1, 2)
  GROUP BY 1, 2
),
base AS (SELECT c, n AS nb FROM counts WHERE p = 1),
neww AS (SELECT c, n AS nn FROM counts WHERE p = 2),
cats AS (
  SELECT COALESCE(base.nb, 0) AS nb, COALESCE(neww.nn, 0) AS nn
  FROM base FULL OUTER JOIN neww
    ON base.c IS NOT DISTINCT FROM neww.c
),
tot AS (
  SELECT CAST(SUM(nb) AS DOUBLE) AS tb, CAST(SUM(nn) AS DOUBLE) AS tn,
         CAST(COUNT(*) AS DOUBLE) AS tk
  FROM cats
)
SELECT
  ROUND(SUM(CASE WHEN t.tn > 0 AND nn / t.tn > 0
       THEN (nn / t.tn) * ln((nn / t.tn) / ((nb + 1.0) / (t.tb + t.tk)))
       ELSE 0.0 END), 6) AS kl,
  ROUND(SUM(ABS(CASE WHEN t.tn > 0 THEN nn / t.tn ELSE 0.0 END
            - CASE WHEN t.tb > 0 THEN nb / t.tb ELSE 0.0 END) / 2.0), 6) AS tv,
  CAST(SUM(nb) AS BIGINT) AS n_base,
  CAST(SUM(nn) AS BIGINT) AS n_new
FROM cats CROSS JOIN tot t
"""


# ---------------------------------------------------------------------------
# q104 — per-dimension embedding health stats (operators/similarity.py
# embedding_dim_stats): mean/std/zero-fraction per vector dimension —
# the dead-dim / scale-drift check before trusting any similarity
# pipeline.  One posexplode + one d-group aggregate.  Registered r4
# at the tail — first driver evidence rides r5.
# ---------------------------------------------------------------------------
def q104_embedding_dim_stats(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.similarity import (
        embedding_dim_stats,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_dim_stats(emb)


Q104_SQL = """
WITH exploded AS (
  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
         unnest(embedding)::DOUBLE AS v
  FROM embeddings
)
SELECT dim, ROUND(AVG(v), 6) AS mean,
       ROUND(STDDEV_SAMP(v), 6) AS std,
       ROUND(AVG(CASE WHEN v = 0.0 THEN 1.0 ELSE 0.0 END), 6) AS zero_frac
FROM exploded GROUP BY dim
"""


# ---------------------------------------------------------------------------
# q105 — top event paths (operators/scd.py top_paths): most common
# 3-step state sequences over user timelines — the path-exploration
# generalization of q94's transitions.  Same single shuffle, two
# lead() columns, count over the bounded path space, TakeOrdered
# top-k.  Registered r4 at the tail — first driver evidence rides r5.
# ---------------------------------------------------------------------------
def q105_top_paths(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.scd import (
        top_paths,
    )

    ev = _t(spark, sf_dir, "events")
    return top_paths(
        ev, "user_id", "ts", "event_type", "event_id", steps=3, top=20
    )


Q105_SQL = """
WITH seq AS (
  SELECT COALESCE(CAST(event_type AS VARCHAR), '^') AS s0,
         COALESCE(CAST(lead(event_type, 1) OVER w AS VARCHAR), '^') AS s1,
         COALESCE(CAST(lead(event_type, 2) OVER w AS VARCHAR), '^') AS s2,
         lead(event_id, 1) OVER w AS g1,
         lead(event_id, 2) OVER w AS g2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
)
SELECT s0 || '>' || s1 || '>' || s2 AS path,
       CAST(COUNT(*) AS BIGINT) AS n
FROM seq WHERE g1 IS NOT NULL AND g2 IS NOT NULL
GROUP BY 1
ORDER BY n DESC, path ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# q106 — token-length histogram per source: fixed-width length bins
# feeding packing/curriculum decisions (how many 512-token buckets
# does each source fill?).  Pure map-side binning + one counting
# aggregate over |sources| x |bins| groups.  Registered r4 at the
# tail — first driver evidence rides r5.
# ---------------------------------------------------------------------------
_TLH_W = 64


def q106_length_histogram(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    n_tok = X.token_count("text")
    return (
        docs.select(
            "source", F.floor(n_tok / F.lit(_TLH_W)).alias("bin")
        )
        .groupBy("source", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


Q106_SQL = f"""
SELECT source,
       CAST(FLOOR(
         CASE WHEN regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g') = ''
              THEN 0
              ELSE len(string_split_regex(
                     regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+'))
         END / {_TLH_W}) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n
FROM documents
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q107 — bigram-LM surprisal (operators/lm.py bigram_logprob_score):
# the CCNet-style conditional-probability quality filter. Bigram
# extraction is map-side (two slices zipped, no positional self-join);
# both model joins are shuffle equi-joins (the model is corpus-sized —
# nothing broadcasts). Add-alpha smoothing over the exact vocab V, so
# unseen bigrams/histories fall out of the same closed formula and the
# whole score is SQL-expressible; bits averaged then rounded (libm
# log2 ulp rule).
# ---------------------------------------------------------------------------
_BLM_ALPHA = 0.5


def q107_bigram_surprisal(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.lm import (
        bigram_logprob_score,
    )

    docs = _t(spark, sf_dir, "documents")
    return bigram_logprob_score(docs, alpha=_BLM_ALPHA)


Q107_SQL = f"""
WITH tks AS (
  SELECT doc_id,
         CASE WHEN regexp_replace(LOWER(COALESCE(text, '')), '^\\s+|\\s+$', '', 'g') = ''
              THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(
                     regexp_replace(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+')
         END AS tk
  FROM documents
),
pairs AS (
  SELECT doc_id,
         unnest(tk[1:len(tk) - 1]) AS w1,
         unnest(tk[2:len(tk)]) AS w2
  FROM tks
),
uni AS (
  SELECT token, COUNT(*) AS cu
  FROM (SELECT unnest(tk) AS token FROM tks)
  GROUP BY token
),
v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS vs FROM uni),
bg AS (SELECT w1, w2, COUNT(*) AS cb FROM pairs GROUP BY w1, w2)
SELECT p.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(-log2(
         (COALESCE(b.cb, 0) + {_BLM_ALPHA!r})
         / (COALESCE(u.cu, 0) + {_BLM_ALPHA!r} * (SELECT vs FROM v))
       )), 6) AS bits_per_bigram
FROM pairs p
LEFT JOIN bg b ON p.w1 = b.w1 AND p.w2 = b.w2
LEFT JOIN uni u ON p.w1 = u.token
GROUP BY p.doc_id
"""


# ---------------------------------------------------------------------------
# q108 — per-source lexical diversity (operators/lm.py
# lexical_diversity): exact type/token/hapax stats via a
# (group, token)-keyed counting aggregate + rollup — the exact-distinct
# shape WITHOUT count_distinct's expand; the shuffle carries
# (group, token, count) triples, never documents.
# ---------------------------------------------------------------------------
def q108_lexical_diversity(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.lm import (
        lexical_diversity,
    )

    return lexical_diversity(_t(spark, sf_dir, "documents"))


Q108_SQL = """
WITH per_tok AS (
  SELECT source, token, COUNT(*) AS cnt
  FROM (
    SELECT source,
           unnest(CASE WHEN regexp_replace(LOWER(COALESCE(text, '')), '^\\s+|\\s+$', '', 'g') = ''
                       THEN CAST([] AS VARCHAR[])
                       ELSE string_split_regex(
                              regexp_replace(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+')
                  END) AS token
    FROM documents
  )
  GROUP BY source, token
)
SELECT source,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       ROUND(COUNT(*) / CAST(SUM(cnt) AS DOUBLE), 6) AS type_token_ratio,
       ROUND(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
         AS hapax_ratio
FROM per_tok
GROUP BY source
"""


# ---------------------------------------------------------------------------
# q109 — row-wise symmetric int8 embedding quantization
# (operators/quantize.py): pure map-side array expressions (no corpus
# pass, no shuffle, no UDF); qvec emitted as a comma-joined string
# (array-hash canonicalizer limitation — q24/q48 precedent). The
# elementwise error recomputes round(v/scale)*scale - v from v alone,
# so Spark's zip_with and the SQL single-transform are the same
# arithmetic in the same order.
# ---------------------------------------------------------------------------
def q109_quantize_embeddings(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.quantize import (
        quantize_embeddings_int8,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = quantize_embeddings_int8(emb)
    return out.select(
        "vec_id",
        "scale",
        F.array_join(F.transform("qvec", lambda q: q.cast("string")), ",").alias(
            "qvec_str"
        ),
        "mean_abs_err",
    )


Q109_SQL = """
WITH s AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0
           AS scale
  FROM embeddings
)
SELECT vec_id,
       ROUND(scale, 6) AS scale,
       CASE WHEN scale = 0
            THEN array_to_string(list_transform(v, x -> 0), ',')
            ELSE array_to_string(
                   list_transform(v, x -> CAST(round(x / scale) AS INTEGER)), ',')
       END AS qvec_str,
       CASE WHEN scale = 0 THEN 0.0
            ELSE ROUND(
                   list_sum(list_transform(v, x -> abs(round(x / scale) * scale - x)))
                   / len(v), 6)
       END AS mean_abs_err
FROM s
"""


# ---------------------------------------------------------------------------
# q110 — temperature-scaled mixture weights (operators/curate.py
# temperature_weights): one counting aggregate + one-row broadcast;
# pow() ulp drift across libm implementations is absorbed by rounding
# the SHARES (weighted_sample precedent).
# ---------------------------------------------------------------------------
_TEMP_TAU = 0.3


def q110_temperature_mixture(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.curate import (
        temperature_weights,
    )

    return temperature_weights(_t(spark, sf_dir, "documents"), tau=_TEMP_TAU)


Q110_SQL = f"""
WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
t AS (SELECT CAST(SUM(n) AS DOUBLE) AS nn,
             SUM(pow(CAST(n AS DOUBLE), {_TEMP_TAU!r})) AS tt
      FROM c)
SELECT source,
       CAST(n AS BIGINT) AS n,
       ROUND(n / (SELECT nn FROM t), 6) AS raw_share,
       ROUND(pow(CAST(n AS DOUBLE), {_TEMP_TAU!r}) / (SELECT tt FROM t), 6)
         AS temp_share,
       ROUND((pow(CAST(n AS DOUBLE), {_TEMP_TAU!r}) / (SELECT tt FROM t))
             / (n / (SELECT nn FROM t)), 6) AS sample_factor
FROM c
"""


# ---------------------------------------------------------------------------
# q111 — quality-aware cluster representatives
# (operators/components.py cluster_representatives): the curation rule
# real pipelines use instead of min-id keep-first — per near-dup
# cluster (CC over minhash pairs, q57's graph), keep the member with
# the most characters (ties -> smaller id). Oracle: the q57 recursive-
# CTE component labeling + a window argmax.
# ---------------------------------------------------------------------------
def q111_cluster_representatives(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators import (
        components as CC,
    )

    docs = _t(spark, sf_dir, "documents")
    # r6: exact copies are collapsed BEFORE pair generation (quadratic
    # pair volume in replica-dense clusters -> linear), then expanded
    # back — row-identical to the full-graph form the oracle models.
    return CC.collapsed_cluster_representatives(
        docs, score_col="n_chars", jaccard_threshold=_MH_THRESH
    )


def _q111_sql() -> str:
    return f"""
WITH RECURSIVE
pairs AS (SELECT key_a, key_b FROM ({_mh_sql()})),
edges AS (
  SELECT key_a AS a, key_b AS b FROM pairs
  UNION
  SELECT key_b AS a, key_a AS b FROM pairs
),
reach AS (
  SELECT a AS v, a AS label FROM edges
  UNION
  SELECT e.a AS v, r.label FROM edges e JOIN reach r ON r.v = e.b
),
cc AS (SELECT v, MIN(label) AS component FROM reach GROUP BY v),
scored AS (
  SELECT c.component, c.v, d.n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY c.component ORDER BY d.n_chars DESC, c.v ASC
         ) AS rn
  FROM cc c JOIN documents d ON d.doc_id = c.v
)
SELECT component,
       MAX(CASE WHEN rn = 1 THEN v END) AS keep,
       CAST(MAX(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS keep_score,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(COUNT(*) - 1 AS BIGINT) AS dropped
FROM scored GROUP BY component
"""


# ---------------------------------------------------------------------------
# q112 — per-doc character entropy (operators/lm.py char_entropy): the
# gibberish/encoding-noise detector. One explode with map-side partial
# aggregation — the shuffle carries |docs|×|charset| triples, not one
# row per character; entropy reduces on that frame.
# ---------------------------------------------------------------------------
def q112_char_entropy(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.lm import (
        char_entropy,
    )

    return char_entropy(_t(spark, sf_dir, "documents"))


Q112_SQL = """
WITH pc AS (
  SELECT doc_id, ch, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(string_split(COALESCE(text, ''), '')) AS ch
        FROM documents)
  WHERE ch != ''
  GROUP BY doc_id, ch
),
t AS (SELECT doc_id, SUM(cnt) AS n FROM pc GROUP BY doc_id)
SELECT p.doc_id,
       CAST(MAX(t.n) AS BIGINT) AS n_chars,
       ROUND(-SUM((p.cnt / CAST(t.n AS DOUBLE))
                  * log2(p.cnt / CAST(t.n AS DOUBLE))), 6) AS char_entropy
FROM pc p JOIN t USING (doc_id)
GROUP BY p.doc_id
"""


# ---------------------------------------------------------------------------
# q113 — Gopher-style rule-flag quality filter (functions/text.py
# gopher_quality_flags): per-rule boolean attribution + the keep
# conjunction, all map-side expressions that fold into the scan.
# The stoplist is the per-corpus knob — the synthetic vocabulary has
# no English stopwords, so the instance uses domain markers actually
# present in the corpus (otherwise the stop_hits rule would be
# vacuously false at every row).
# ---------------------------------------------------------------------------
_GOPHER_STOPS = ["data", "value", "table", "row", "order"]
_GOPHER_MIN_WORDS = 50


def q113_gopher_flags(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.gopher_quality_flags(
            F.col("text"),
            min_words=_GOPHER_MIN_WORDS,
            stopwords=_GOPHER_STOPS,
        ).alias("g"),
    ).select("doc_id", "g.*")


def _q113_sql() -> str:
    stops = ", ".join(f"'{w}'" for w in _GOPHER_STOPS)
    tk = (
        "CASE WHEN regexp_replace(LOWER(COALESCE(text, '')), '^\\s+|\\s+$', '', 'g') = ''"
        " THEN CAST([] AS VARCHAR[])"
        " ELSE string_split_regex(regexp_replace(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+') END"
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         COALESCE(text, '') AS s,
         {tk} AS tk
  FROM documents
),
m AS (
  SELECT doc_id, s, tk,
         len(tk) AS n,
         string_split(s, chr(10)) AS lines
  FROM base
),
r AS (
  SELECT doc_id, n,
         CASE WHEN n > 0
              THEN list_sum(list_transform(tk, t -> len(t))) / CAST(n AS DOUBLE)
              ELSE 0.0 END AS mean_len,
         CASE WHEN n > 0
              THEN len(regexp_extract_all(s, '#|\\.\\.\\.')) / CAST(n AS DOUBLE)
              ELSE 0.0 END AS symbol_ratio,
         len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]')))
           / CAST(len(lines) AS DOUBLE) AS bullet_ratio,
         len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.\\s*$')))
           / CAST(len(lines) AS DOUBLE) AS ellipsis_ratio,
         len(list_intersect(list_distinct(tk), [{stops}])) AS stop_hits,
         CASE WHEN n > 0
              THEN len(list_filter(tk, t -> regexp_matches(t, '[a-z]')))
                   / CAST(n AS DOUBLE)
              ELSE 0.0 END AS alpha_ratio
  FROM m
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_words,
       ROUND(mean_len, 6) AS mean_word_len,
       (n >= {_GOPHER_MIN_WORDS} AND n <= 100000) AS word_count,
       (mean_len >= 3.0 AND mean_len <= 10.0) AS mean_word_len_ok,
       (symbol_ratio <= 0.1) AS symbol_ratio,
       (bullet_ratio <= 0.9) AS bullet_lines,
       (ellipsis_ratio <= 0.3) AS ellipsis_lines,
       (stop_hits >= 2) AS stop_hits,
       (alpha_ratio >= 0.8) AS alpha_ratio,
       ((n >= {_GOPHER_MIN_WORDS} AND n <= 100000)
        AND (mean_len >= 3.0 AND mean_len <= 10.0)
        AND (symbol_ratio <= 0.1) AND (bullet_ratio <= 0.9)
        AND (ellipsis_ratio <= 0.3) AND (stop_hits >= 2)
        AND (alpha_ratio >= 0.8)) AS keep
FROM r
"""


# ---------------------------------------------------------------------------
# q114 — streaming running z-score anomaly flags
# (streaming/anomaly.py): upgrades the monitor from unit-only to
# driver-oracled evidence. The stateful Welford replay over the
# (ts, event_id)-sorted stream equals a batch prefix-window
# computation: each event is judged against COUNT/AVG/VAR_SAMP over
# the rows strictly before it (the monitor updates state AFTER
# judging), and the flag fires on the ROUNDED z — which is also what
# absorbs Welford-vs-sum-of-squares ulp drift across engines.
# ---------------------------------------------------------------------------
_SZF_THRESH, _SZF_MIN_POINTS = 2.5, 30


def q114_stream_zscore(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.streaming.anomaly import (
        zscore_flags_available_now,
    )

    return zscore_flags_available_now(
        spark,
        f"{sf_dir}/events.parquet",
        z_thresh=_SZF_THRESH,
        min_points=_SZF_MIN_POINTS,
    )


Q114_SQL = f"""
WITH e AS (
  SELECT event_id, event_type, value,
         COUNT(*) OVER w AS n_prev,
         AVG(value) OVER w AS mean_prev,
         VAR_SAMP(value) OVER w AS var_prev
  FROM events
  WHERE ts IS NOT NULL AND event_id IS NOT NULL AND value IS NOT NULL
  WINDOW w AS (PARTITION BY event_type ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
z AS (
  SELECT event_id, event_type,
         ROUND((value - mean_prev) / sqrt(var_prev), 4) AS z
  FROM e
  WHERE n_prev >= {_SZF_MIN_POINTS} AND var_prev > 0
)
SELECT event_id, event_type, z FROM z WHERE abs(z) > {_SZF_THRESH!r}
"""


# ---------------------------------------------------------------------------
# q115 — streaming dedup ingest drain (streaming/ingest.py
# stream_dedup_ingest): upgrades the last unit-only streaming op to
# driver-oracled evidence. A single-batch availableNow drain into an
# empty corpus reduces to: exact dedup (min-key per text) -> minhash
# pairs over the KEPT set -> drop every key_b. Identical texts carry
# identical signatures, so restricting the pair CTEs to the
# exact-dedup keepers (src="docs_d") reproduces the kernel's
# sequential composition exactly. Ingest params == the q17 oracle
# constants (n=3, h=8, bands=4, thresh=0.5).
# ---------------------------------------------------------------------------
def q115_stream_ingest(spark, sf_dir):
    import shutil
    import tempfile

    from cloud_native_medical_data_etl_pipeline_spark.streaming.ingest import (
        stream_dedup_ingest,
    )

    # the work tree is removed before returning (the q25b ADVICE
    # cleanup, applied family-wide in its r12 window seat): the
    # 3-column survivor projection is read into memory FIRST so the
    # rmtree cannot perturb the oracle bytes — probe-sized (one slim
    # row per accepted doc) at every driver SF
    work = tempfile.mkdtemp(prefix="q115_")
    try:
        stream_dedup_ingest(
            spark,
            f"{sf_dir}/documents.parquet",
            f"{work}/corpus",
            f"{work}/ckpt",
            jaccard_threshold=_MH_THRESH,
        )
        corpus = spark.read.parquet(f"{work}/corpus")
        res = corpus.select("doc_id", "source", "n_chars")
        rows, schema = res.collect(), res.schema
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def _q115_sql() -> str:
    return f"""
WITH keepers AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY COALESCE(text, '')
),
docs_d AS (SELECT d.* FROM documents d JOIN keepers USING (doc_id)),
{_mh_sig_ctes(src="docs_d")},
cand AS (
  SELECT DISTINCT a.k AS key_a, b.k AS key_b
  FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.k < b.k
),
scored AS (
  SELECT c.key_a, c.key_b,
         len(list_intersect(x.sh, y.sh)) * 1.0
           / len(list_distinct(x.sh || y.sh)) AS jaccard
  FROM cand c JOIN sh x ON c.key_a = x.k JOIN sh y ON c.key_b = y.k
),
losers AS (SELECT DISTINCT key_b FROM scored WHERE jaccard >= {_MH_THRESH!r})
SELECT doc_id, source, n_chars
FROM docs_d
WHERE doc_id NOT IN (SELECT key_b FROM losers)
"""


# ---------------------------------------------------------------------------
# q124 — persisted signature INDEX state after a drain (r6's
# streaming/ingest.py `<corpus>_sigs` table): the index rows must be
# exactly the minhash signatures of the accepted survivors, with
# all-null PLACEHOLDER rows (sh = [], mh* null) for accepted docs too
# short to shingle — the invariant that keeps the per-batch self-heal
# check metadata-only (index row count == corpus row count). Oracle =
# the q115 survivor pipeline joined LEFT to the shared _mh_sig_ctes
# signature CTEs; verifying the 8 mh lanes hash-exact proves the
# stored index bytes, not just the accept/reject decisions.
# ---------------------------------------------------------------------------
def q124_signature_index(spark, sf_dir):
    import shutil
    import tempfile

    from cloud_native_medical_data_etl_pipeline_spark.streaming.ingest import (
        stream_dedup_ingest,
    )

    # same cleanup discipline as q115: the index projection (one row
    # of 8 minhash lanes per survivor — the shingle SETS stay on disk)
    # is collected before the work tree is removed
    work = tempfile.mkdtemp(prefix="q124_")
    try:
        stream_dedup_ingest(
            spark,
            f"{sf_dir}/documents.parquet",
            f"{work}/corpus",
            f"{work}/ckpt",
            jaccard_threshold=_MH_THRESH,
        )
        sigs = spark.read.parquet(f"{work}/corpus_sigs")
        res = sigs.select(
            "k",
            F.size("sh").cast("long").alias("n_shingles"),
            *[F.col(f"mh{i}") for i in range(_MH_H)],
        )
        rows, schema = res.collect(), res.schema
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def _q124_sql() -> str:
    mh_cols = ", ".join(f"s.mh{i}" for i in range(_MH_H))
    return f"""
WITH keepers AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY COALESCE(text, '')
),
docs_d AS (SELECT d.* FROM documents d JOIN keepers USING (doc_id)),
{_mh_sig_ctes(src="docs_d")},
cand AS (
  SELECT DISTINCT a.k AS key_a, b.k AS key_b
  FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.k < b.k
),
scored AS (
  SELECT c.key_a, c.key_b,
         len(list_intersect(x.sh, y.sh)) * 1.0
           / len(list_distinct(x.sh || y.sh)) AS jaccard
  FROM cand c JOIN sh x ON c.key_a = x.k JOIN sh y ON c.key_b = y.k
),
losers AS (SELECT DISTINCT key_b FROM scored WHERE jaccard >= {_MH_THRESH!r}),
survivors AS (
  SELECT doc_id FROM docs_d WHERE doc_id NOT IN (SELECT key_b FROM losers)
)
SELECT v.doc_id AS k,
       CAST(COALESCE(len(s.sh), 0) AS BIGINT) AS n_shingles,
       {mh_cols}
FROM survivors v LEFT JOIN sig s ON v.doc_id = s.k
"""


# ---------------------------------------------------------------------------
# q116 — interval×interval overlap join (operators/joins.py
# interval_overlap_join): sessions (gap sessionization, q30's kernel)
# overlap-joined against "incident" minutes (global per-minute event
# count > 1.5× the average minute (the factor keeps incidents non-empty at every SF: the sparsest fixture tops out at 2 events/minute)) — which sessions were exposed to
# load spikes. Both sides bin-explode; each overlapping pair is
# claimed only in the bin of greatest(starts), so there is NO dedup
# shuffle. Closed-interval semantics; exact microsecond longs.
# ---------------------------------------------------------------------------
_OVL_BIN_US = 60_000_000  # 1-minute bins ≈ the incident length


def q116_session_incident_overlap(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators import (
        joins as J,
        sessions as SS,
    )

    ev = _t(spark, sf_dir, "events")
    sess = SS.session_stats(ev, gap_minutes=30).select(
        "user_id",
        "session_id",
        F.unix_micros("session_start").alias("s_us"),
        F.unix_micros("session_end").alias("e_us"),
    )
    per_min = (
        ev.groupBy(
            (F.floor(F.unix_micros("ts") / F.lit(60_000_000)) * 60_000_000)
            .cast("bigint")
            .alias("m_us")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    avg = per_min.agg(F.avg("n").alias("__avg"))
    incidents = (
        per_min.crossJoin(F.broadcast(avg))
        .where(F.col("n") > 1.5 * F.col("__avg"))
        .select("m_us", (F.col("m_us") + 59_999_999).alias("m_end_us"))
    )
    pairs = J.interval_overlap_join(
        sess,
        incidents,
        "s_us",
        "e_us",
        "m_us",
        "m_end_us",
        bin_span_us=_OVL_BIN_US,
    )
    return pairs.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_incidents")
    )


Q116_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS st
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts,
         CAST(SUM(st) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
),
sess AS (
  SELECT user_id, session_id,
         epoch_us(MIN(ts)) AS s_us, epoch_us(MAX(ts)) AS e_us
  FROM numbered GROUP BY user_id, session_id
),
per_min AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 60000000) * 60000000 AS BIGINT) AS m_us,
         COUNT(*) AS n
  FROM events GROUP BY 1
),
incidents AS (
  SELECT m_us, m_us + 59999999 AS m_end_us
  FROM per_min WHERE n > 1.5 * (SELECT AVG(n) FROM per_min)
)
SELECT s.user_id, s.session_id, CAST(COUNT(*) AS BIGINT) AS n_incidents
FROM sess s JOIN incidents i
  ON s.s_us <= i.m_end_us AND i.m_us <= s.e_us
GROUP BY s.user_id, s.session_id
"""


# ---------------------------------------------------------------------------
# q117 — per-source duplication report (operators/dedup.py
# duplication_report): exact-copy and near-dup rates attributed to the
# copy's OWN source — the corpus-health number that decides which
# upstream source gets throttled. Exact dedup = one content-hash
# shuffle; near-dups = the q17 band kernel over the deduped set;
# the report reduces to |sources| rows.
# ---------------------------------------------------------------------------
def q117_duplication_report(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return D.duplication_report(docs, jaccard_threshold=_MH_THRESH)


def _q117_sql() -> str:
    return f"""
WITH keepers AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY COALESCE(text, '')
),
docs_d AS (SELECT d.* FROM documents d JOIN keepers USING (doc_id)),
{_mh_sig_ctes(src="docs_d")},
cand AS (
  SELECT DISTINCT a.k AS key_a, b.k AS key_b
  FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.k < b.k
),
scored AS (
  SELECT c.key_a, c.key_b,
         len(list_intersect(x.sh, y.sh)) * 1.0
           / len(list_distinct(x.sh || y.sh)) AS jaccard
  FROM cand c JOIN sh x ON c.key_a = x.k JOIN sh y ON c.key_b = y.k
),
losers AS (SELECT DISTINCT key_b FROM scored WHERE jaccard >= {_MH_THRESH!r}),
per AS (
  SELECT d.source,
         COUNT(*) AS n_docs,
         SUM(CASE WHEN k.doc_id IS NULL THEN 1 ELSE 0 END) AS exact_dups,
         SUM(CASE WHEN k.doc_id IS NOT NULL AND l.key_b IS NOT NULL
                  THEN 1 ELSE 0 END) AS near_dups
  FROM documents d
  LEFT JOIN keepers k ON d.doc_id = k.doc_id
  LEFT JOIN losers l ON d.doc_id = l.key_b
  GROUP BY d.source
)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(exact_dups AS BIGINT) AS exact_dups,
       CAST(near_dups AS BIGINT) AS near_dups,
       ROUND((exact_dups + near_dups) / CAST(n_docs AS DOUBLE), 6) AS dup_rate
FROM per
"""


# ---------------------------------------------------------------------------
# q118 — per-source vocabulary coverage / OOV rate (operators/lm.py
# vocab_coverage): tokenizer-fit check against the top-V corpus vocab
# (V=25 of the synthetic corpus's 31 types, so OOV rates are real
# numbers, not zeros). Top-V ties break lexicographically (the q66
# rule).
# ---------------------------------------------------------------------------
_VC_V = 25


def q118_vocab_coverage(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.lm import (
        vocab_coverage,
    )

    return vocab_coverage(_t(spark, sf_dir, "documents"), vocab=_VC_V)


Q118_SQL = f"""
WITH toks AS (
  SELECT source,
         unnest(CASE WHEN regexp_replace(LOWER(COALESCE(text, '')), '^\\s+|\\s+$', '', 'g') = ''
                     THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(
                            regexp_replace(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+')
                END) AS token
  FROM documents
),
counts AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
top AS (SELECT token FROM counts ORDER BY cnt DESC, token ASC LIMIT {_VC_V}),
per AS (
  SELECT t.source, t.token, COUNT(*) AS n,
         MAX(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS oov
  FROM toks t LEFT JOIN top v ON t.token = v.token
  GROUP BY t.source, t.token
)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN oov = 1 THEN n ELSE 0 END) AS BIGINT) AS oov_tokens,
       ROUND(SUM(CASE WHEN oov = 1 THEN n ELSE 0 END) / CAST(SUM(n) AS DOUBLE), 6)
         AS oov_rate
FROM per GROUP BY source
"""


# ---------------------------------------------------------------------------
# q119 — training-mix planner (operators/curate.py mix_plan): token
# budget × temperature → per-source token targets and epoch
# (oversampling) factors. One map-side token-count aggregate + a
# one-row totals broadcast.
# ---------------------------------------------------------------------------
_MP_BUDGET, _MP_TAU = 1_000_000, 0.3


def q119_mix_plan(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.curate import (
        mix_plan,
    )

    return mix_plan(
        _t(spark, sf_dir, "documents"), token_budget=_MP_BUDGET, tau=_MP_TAU
    )


Q119_SQL = f"""
WITH avail AS (
  SELECT source,
         SUM(CASE WHEN regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g') = ''
                  THEN 0
                  ELSE len(string_split_regex(
                         regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+'))
             END) AS tokens_available
  FROM documents GROUP BY source
),
t AS (SELECT SUM(pow(CAST(tokens_available AS DOUBLE), {_MP_TAU!r})) AS tt FROM avail)
SELECT source,
       CAST(tokens_available AS BIGINT) AS tokens_available,
       ROUND(pow(CAST(tokens_available AS DOUBLE), {_MP_TAU!r}) / (SELECT tt FROM t), 6)
         AS share,
       CAST(FLOOR(pow(CAST(tokens_available AS DOUBLE), {_MP_TAU!r})
                  / (SELECT tt FROM t) * {_MP_BUDGET}.0) AS BIGINT) AS tokens_target,
       ROUND(CASE WHEN tokens_available > 0
                  THEN CAST(FLOOR(pow(CAST(tokens_available AS DOUBLE), {_MP_TAU!r})
                                  / (SELECT tt FROM t) * {_MP_BUDGET}.0) AS BIGINT)
                       / CAST(tokens_available AS DOUBLE)
                  ELSE 0.0 END, 6) AS epochs
FROM avail
"""


# ---------------------------------------------------------------------------
# q120 — per-doc n-gram novelty (operators/dedup.py ngram_novelty):
# the graded form of q60's contamination check — probe docs (1% split)
# scored by the fraction of their 4-grams absent from the REST of the
# corpus (disjoint split; probe ⊆ corpus would be vacuously 0).
# md5 gram hashes ride the shuffle (the q60 SQL-portable mode).
# n=4 keeps the metric graded on this corpus (n=8 is all-novel at
# sf0.01; n=3 nearly all-known — both vacuous).
# ---------------------------------------------------------------------------
_NV_N = 4


def q120_ngram_novelty(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    probe = docs.where(F.col("doc_id") % 100 == 0)
    corpus = docs.where(F.col("doc_id") % 100 != 0)
    return D.ngram_novelty(corpus, probe, ngram_n=_NV_N)


Q120_SQL = f"""
WITH toks AS (
  SELECT doc_id AS k,
         list_transform(string_split_regex(regexp_replace(LOWER(text), '^\\s+|\\s+$', '', 'g'), '\\s+'),
                        t -> t) AS tk
  FROM documents WHERE regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g') <> ''
),
grams AS (
  SELECT k,
         unnest(list_distinct(list_transform(range(1, len(tk) - {_NV_N - 2}),
                i -> md5(array_to_string(tk[i:i+{_NV_N - 1}], ' '))))) AS gh
  FROM toks WHERE len(tk) >= {_NV_N}
),
corpus_g AS (SELECT DISTINCT gh FROM grams WHERE k % 100 <> 0),
probe_g AS (SELECT k, gh FROM grams WHERE k % 100 = 0)
SELECT p.k AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN c.gh IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS known_grams,
       ROUND(1.0 - SUM(CASE WHEN c.gh IS NULL THEN 0 ELSE 1 END)
                   / CAST(COUNT(*) AS DOUBLE), 6) AS novelty_rate
FROM probe_g p LEFT JOIN corpus_g c USING (gh)
GROUP BY p.k
"""


# ---------------------------------------------------------------------------
# q121 — mix-plan execution (operators/curate.py execute_mix_plan):
# q119's epoch factors become per-doc repeat counts — floor(epochs)
# guaranteed + one more with probability frac(epochs) via the
# md5-of-(source, key) uniform (q67's engine-portable trick). Plan
# broadcast back; repeat decision is map-side, zero document shuffle.
# ---------------------------------------------------------------------------
def q121_execute_mix_plan(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.curate import (
        execute_mix_plan,
    )

    return execute_mix_plan(
        _t(spark, sf_dir, "documents"), token_budget=_MP_BUDGET, tau=_MP_TAU
    )


Q121_SQL = f"""
WITH avail AS (
  SELECT source,
         SUM(CASE WHEN regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g') = ''
                  THEN 0
                  ELSE len(string_split_regex(
                         regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+'))
             END) AS tokens_available
  FROM documents GROUP BY source
),
t AS (SELECT SUM(pow(CAST(tokens_available AS DOUBLE), {_MP_TAU!r})) AS tt FROM avail),
plan AS (
  SELECT source,
         ROUND(CASE WHEN tokens_available > 0
                    THEN CAST(FLOOR(pow(CAST(tokens_available AS DOUBLE), {_MP_TAU!r})
                                    / (SELECT tt FROM t) * {_MP_BUDGET}.0) AS BIGINT)
                         / CAST(tokens_available AS DOUBLE)
                    ELSE 0.0 END, 6) AS epochs
  FROM avail
)
SELECT d.doc_id, d.source,
       CAST(FLOOR(p.epochs)
            + CASE WHEN ('0x' || substr(md5(d.source || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                        / 4294967295.0
                        <= ROUND(p.epochs - FLOOR(p.epochs), 6)
                   THEN 1 ELSE 0 END AS BIGINT) AS n_repeats
FROM documents d JOIN plan p USING (source)
WHERE FLOOR(p.epochs)
      + CASE WHEN ('0x' || substr(md5(d.source || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                  / 4294967295.0
                  <= ROUND(p.epochs - FLOOR(p.epochs), 6)
             THEN 1 ELSE 0 END > 0
"""


# ---------------------------------------------------------------------------
# q122 — entity-consistent split (operators/curate.py
# hash_split_by_group): all of a user's EVENTS land in one split (the
# leakage-safe form of q43's doc-level split); per-split user/event
# summary. Split = md5-of-user uniform vs cumulative thresholds —
# deterministic, map-side.
# ---------------------------------------------------------------------------
def q122_group_split(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.curate import (
        hash_split_by_group,
    )

    ev = _t(spark, sf_dir, "events")
    return (
        hash_split_by_group(ev, "user_id")
        .groupBy("split")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


Q122_SQL = """
WITH assigned AS (
  SELECT user_id, event_id,
         CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                   / 4294967295.0 <= 0.8 THEN 'train'
              WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                   / 4294967295.0 <= 0.9000000000000001 THEN 'val'
              ELSE 'test' END AS split
  FROM events
)
SELECT split,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM assigned GROUP BY split
"""


# ---------------------------------------------------------------------------
# q123 — END-TO-END fetch layer through the Spark 4 Python DataSource
# (sources/fda_datasource.py OpenFDADataSource, S1/S2/S5): partitioned
# paginated scan (3 page-window InputPartitions at limit=250) with the
# deterministic mock transport -> from_json(FDA_RAW) -> flatten_fda
# (P1-P6) -> per-sponsor aggregate. The mock record for index i is a
# closed-form function of i (fda_datasource.py:_mock_page), so the
# DuckDB oracle reconstructs the expected flattened aggregate from
# generate_series — the driver-visible record the fetch layer lacked
# through r5 (its coverage was unit-only).
# ---------------------------------------------------------------------------
_FDA_DS_LIMIT = 250


def q123_fda_datasource_agg(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark import schemas
    from cloud_native_medical_data_etl_pipeline_spark.operators.ingest import (
        flatten_fda,
    )
    from cloud_native_medical_data_etl_pipeline_spark.sources.fda_datasource import (
        OpenFDADataSource,
    )

    spark.dataSource.register(OpenFDADataSource)
    raw = (
        spark.read.format("openfda")
        .option("mock", "true")
        .option("limit", str(_FDA_DS_LIMIT))
        .option("mock_total", str(_FDA_DS_LIMIT))
        .load()
    )
    flat = flatten_fda(
        raw.select(F.from_json("value", schemas.FDA_RAW).alias("r")).select("r.*")
    )
    return flat.groupBy("sponsor_name").agg(
        F.count(F.lit(1)).alias("n_apps"),
        F.count_distinct("openfda_generic_name").alias("n_generics"),
        F.min("application_number").alias("first_app"),
        F.max("latest_submission_date").alias("last_sub_date"),
    )


Q123_SQL = f"""
WITH src AS (SELECT CAST(t.i AS BIGINT) AS i FROM generate_series(0, {_FDA_DS_LIMIT - 1}) t(i)),
flat AS (
  SELECT printf('NDA%06d', i) AS application_number,
         'SPONSOR ' || (i % 7) AS sponsor_name,
         'generic' || (i % 13) AS openfda_generic_name,
         make_date(2024, CAST(1 + i % 12 AS INTEGER), CAST(1 + i % 28 AS INTEGER)) AS latest_submission_date
  FROM src
)
SELECT sponsor_name,
       CAST(COUNT(*) AS BIGINT) AS n_apps,
       CAST(COUNT(DISTINCT openfda_generic_name) AS BIGINT) AS n_generics,
       MIN(application_number) AS first_app,
       MAX(latest_submission_date) AS last_sub_date
FROM flat GROUP BY sponsor_name
"""


# ---------------------------------------------------------------------------
# q123b — the fetch layer's RETRY path (S3), driver-visible: the same
# partitioned DataSource scan as q123, but the deterministic mock
# transport routes through the PRODUCTION retry loop and raises a
# TransientFetchError on every even-indexed page's first two attempts
# (mock_fail_every=2) — each such page only materializes on the final
# attempt.  The oracle is the same closed-form reconstruction of the
# clean scan, so the hash matches IF AND ONLY IF the retries recover
# every injected failure: lost pages change n_apps / first_app,
# surviving partial pages change the per-sponsor counts.  Window-
# seated r8 (the r7 verdict's task 6 registration).
# ---------------------------------------------------------------------------
_FDA_RS_LIMIT = 350  # 4 page windows at FDA_BATCH_SIZE=99: pages 0 and 2 fault


def q123b_fda_retry_scan(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark import schemas
    from cloud_native_medical_data_etl_pipeline_spark.operators.ingest import (
        flatten_fda,
    )
    from cloud_native_medical_data_etl_pipeline_spark.sources.fda_datasource import (
        OpenFDADataSource,
    )

    spark.dataSource.register(OpenFDADataSource)
    raw = (
        spark.read.format("openfda")
        .option("mock", "true")
        .option("mock_fail_every", "2")
        .option("limit", str(_FDA_RS_LIMIT))
        .option("mock_total", str(_FDA_RS_LIMIT))
        .load()
    )
    flat = flatten_fda(
        raw.select(F.from_json("value", schemas.FDA_RAW).alias("r")).select("r.*")
    )
    return flat.groupBy("openfda_manufacturer_name").agg(
        F.count(F.lit(1)).alias("n_apps"),
        F.count_distinct("sponsor_name").alias("n_sponsors"),
        F.min("application_number").alias("first_app"),
        F.max("application_number").alias("last_app"),
    )


Q123B_SQL = f"""
WITH src AS (SELECT CAST(t.i AS BIGINT) AS i FROM generate_series(0, {_FDA_RS_LIMIT - 1}) t(i)),
flat AS (
  SELECT printf('NDA%06d', i) AS application_number,
         'SPONSOR ' || (i % 7) AS sponsor_name,
         'MFR ' || (i % 5) AS openfda_manufacturer_name
  FROM src
)
SELECT openfda_manufacturer_name,
       CAST(COUNT(*) AS BIGINT) AS n_apps,
       CAST(COUNT(DISTINCT sponsor_name) AS BIGINT) AS n_sponsors,
       MIN(application_number) AS first_app,
       MAX(application_number) AS last_app
FROM flat GROUP BY openfda_manufacturer_name
"""


# ---------------------------------------------------------------------------
# q125 — Bloom-filter contamination gate (operators/bloom.py): the
# sketch form of q60's exact contamination join. src0's n-grams pack
# into an m-bit Bloom filter (m/64 longs, BROADCAST); every other
# doc's grams probe it map-side (k deterministic md5 positions per
# gram), and the only shuffle is the doc-keyed hit count. The oracle
# reconstructs the same position sets in SQL — membership against the
# distinct inserted-position set is bit-identical to the packed-long
# probe, INCLUDING the sketch's false positives, so the driver check
# verifies the Bloom decision itself.
# ---------------------------------------------------------------------------
_BLOOM_N, _BLOOM_M, _BLOOM_K, _BLOOM_FLAG = 3, 1 << 16, 3, 0.5


def q125_bloom_contamination(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators import bloom as B

    docs = _t(spark, sf_dir, "documents")
    ev = docs.where(F.col("source") == "src0")
    corpus = docs.where(F.col("source") != "src0")
    filt = B.build_ngram_bloom(
        ev, n=_BLOOM_N, m=_BLOOM_M, k=_BLOOM_K
    )
    return B.bloom_contamination(
        corpus,
        filt,
        n=_BLOOM_N,
        m=_BLOOM_M,
        k=_BLOOM_K,
        flag_threshold=_BLOOM_FLAG,
    )


def _q125_sql() -> str:
    n, m, k, flag = _BLOOM_N, _BLOOM_M, _BLOOM_K, _BLOOM_FLAG
    pos_list = ", ".join(
        f"('0x' || substr(md5('{j}|' || gram), 1, 8))::BIGINT % {m}"
        for j in range(k)
    )
    return f"""
WITH ev_toks AS (
  SELECT list_transform(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+'), t -> LOWER(t)) AS tk
  FROM documents
  WHERE source = 'src0'
    AND regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g') <> ''
),
ev_grams AS (
  SELECT DISTINCT unnest(list_transform(range(1, len(tk) - {n - 2}),
                         i -> array_to_string(tk[i:i+{n - 1}], ' '))) AS gram
  FROM ev_toks WHERE len(tk) >= {n}
),
bloom_bits AS (
  SELECT DISTINCT unnest([{pos_list}]) AS pos FROM ev_grams
),
probe_toks AS (
  SELECT doc_id AS k,
         list_transform(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+'), t -> LOWER(t)) AS tk
  FROM documents
  WHERE source <> 'src0'
    AND regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g') <> ''
),
probe_grams AS (
  SELECT DISTINCT k,
         unnest(list_transform(range(1, len(tk) - {n - 2}),
                i -> array_to_string(tk[i:i+{n - 1}], ' '))) AS gram
  FROM probe_toks WHERE len(tk) >= {n}
),
gram_hits AS (
  SELECT k, gram,
         (SELECT COUNT(*) FROM (SELECT unnest([{pos_list}]) AS p) q
          WHERE p IN (SELECT pos FROM bloom_bits)) = {k} AS gram_hit
  FROM probe_grams
),
per_doc AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(COUNT(*) FILTER (WHERE gram_hit) AS BIGINT) AS n_hit
  FROM gram_hits GROUP BY k
)
SELECT d.doc_id,
       COALESCE(p.n_grams, 0) AS n_grams,
       COALESCE(p.n_hit, 0) AS n_hit,
       COALESCE(p.n_hit >= p.n_grams * {flag}, FALSE) AS contaminated
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.k
WHERE d.source <> 'src0'
"""


# ---------------------------------------------------------------------------
# q126 — incremental IVF index maintenance (similarity.py
# append_to_ivf_index): build the cell-partitioned index from the 90%
# corpus (vec_id % 10 != 0), append the 10% delta batch against the
# FIXED trained centroids, and report per-cell occupancy (total +
# batch additions). Oracle: the shared _ivf_lloyd_ctes unroll trained
# on the same corpus subset, then ONE assignment of all vectors
# against cents{iters} — batch rows must land exactly where Spark's
# map-side literal assignment put them.
# ---------------------------------------------------------------------------
_IVF_CELLS, _IVF_ITERS = 16, 2


def q126_ivf_append(spark, sf_dir):
    import shutil
    import tempfile

    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") % 10 != 0)
    batch = emb.where(F.col("vec_id") % 10 == 0)
    # the index tree is removed before returning (the q25b ADVICE
    # cleanup, applied family-wide): the cell summary is materialized
    # into memory first — num_cells rows, metadata-sized
    root = tempfile.mkdtemp(prefix="q126_")
    try:
        path = root + "/index"
        S.build_ivf_index(
            corpus, path, num_cells=_IVF_CELLS, train_iters=_IVF_ITERS
        )
        S.append_to_ivf_index(spark, batch, path)
        res = spark.read.parquet(path).groupBy("cell_id").agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count_if(F.col("vec_id") % 10 == 0).alias("n_batch"),
        )
        rows, schema = res.collect(), res.schema
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def _q126_sql() -> str:
    return f"""
WITH {_ivf_lloyd_ctes(_IVF_CELLS, _IVF_ITERS, src="(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0)")},
alla AS (
  SELECT e.vec_id, c.cell_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec) DESC,
                    c.cell_id ASC
         ) AS rn
  FROM embeddings e CROSS JOIN cents{_IVF_ITERS} c
)
SELECT cell_id,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(COUNT(*) FILTER (WHERE vec_id % 10 = 0) AS BIGINT) AS n_batch
FROM alla WHERE rn = 1
GROUP BY cell_id
"""


# ---------------------------------------------------------------------------
# q127 — token-budget curriculum batching (operators/curate.py
# budget_batches): per source, docs walk in (n_chars DESC, doc_id)
# order and cut a new batch whenever the running token total crosses
# the budget — batch_id = floor(exclusive-prefix-sum / budget), so
# boundaries never split a doc and the assignment is a pure function
# of the running sum (partitioning-independent). One source-keyed
# shuffle + a streaming window. Output: per-(source, batch) sizing.
# ---------------------------------------------------------------------------
_BB_BUDGET = 2000


def q127_budget_batches(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.curate import (
        budget_batches,
    )

    docs = _t(spark, sf_dir, "documents")
    b = budget_batches(
        docs, _BB_BUDGET, order_col="n_chars", descending=True
    )
    return b.groupBy("source", "batch_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("batch_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


Q127_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, n_chars,
         CASE WHEN regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g') = '' THEN CAST(0 AS BIGINT)
              ELSE CAST(len(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) AS BIGINT)
         END AS n_tokens
  FROM documents
),
batched AS (
  SELECT doc_id, source, n_tokens,
         CAST(FLOOR((SUM(n_tokens) OVER (
            PARTITION BY source ORDER BY n_chars DESC NULLS LAST, doc_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - n_tokens) / {_BB_BUDGET}.0) AS BIGINT) AS batch_id
  FROM toks
)
SELECT source, batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS batch_tokens,
       MIN(doc_id) AS first_doc
FROM batched GROUP BY source, batch_id
"""


# ---------------------------------------------------------------------------
# q128 — per-source PII incidence report (operators/quality.py
# pii_report): doc- and span-level counts per PII class, counted with
# q59's exact sequential-redaction semantics (pattern i runs on the
# text with patterns 0..i-1 already replaced, so spans never
# double-count across classes). Map-side regexp battery + one source
# aggregate — the compliance-reporting face of redact_pii.
# ---------------------------------------------------------------------------
def q128_pii_report(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.quality import (
        pii_report,
    )

    # The synthetic documents corpus contains no digits or '@' at any
    # SF, so the raw report would be all-zero (vacuous oracle, the q85
    # lesson). Deterministic PII is spliced in as a pure function of
    # doc_id — identical expression in the oracle — so every class
    # counter and the sequential-redaction interplay (the URL below
    # swallows its own path) are genuinely exercised.
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit(" see https://ex.com/9876543210/p"), F.col("doc_id")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(" mail u"), F.col("doc_id"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" call 555-123-4567")).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 13 == 0, F.lit(" ref 9876543210")).otherwise(
                F.lit("")
            ),
        ),
    )
    return pii_report(docs)


Q128_SQL = r"""
WITH s0 AS (
  SELECT source,
         COALESCE(text, '')
         || CASE WHEN doc_id % 5 = 0 THEN ' see https://ex.com/9876543210/p' || doc_id ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN ' mail u' || doc_id || '@example.com' ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' call 555-123-4567' ELSE '' END
         || CASE WHEN doc_id % 13 = 0 THEN ' ref 9876543210' ELSE '' END
         AS t
  FROM documents
),
c1 AS (
  SELECT source,
         CAST(len(regexp_extract_all(t, 'https?://[^\s]+')) AS BIGINT) AS c_url,
         regexp_replace(t, 'https?://[^\s]+', '<URL>', 'g') AS t
  FROM s0
),
c2 AS (
  SELECT source, c_url,
         CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS c_email,
         regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
  FROM c1
),
c3 AS (
  SELECT source, c_url, c_email,
         CAST(len(regexp_extract_all(t, '\+\d{1,3}[\s.-]?\(?\d{2,4}\)?[\s.-]?\d{3}[\s.-]?\d{3,4}\b')) AS BIGINT) AS p1,
         regexp_replace(t, '\+\d{1,3}[\s.-]?\(?\d{2,4}\)?[\s.-]?\d{3}[\s.-]?\d{3,4}\b', '<PHONE>', 'g') AS t
  FROM c2
),
c4 AS (
  SELECT source, c_url, c_email, p1,
         CAST(len(regexp_extract_all(t, '\(\d{3}\)[\s.-]?\d{3}[\s.-]?\d{4}\b')) AS BIGINT) AS p2,
         regexp_replace(t, '\(\d{3}\)[\s.-]?\d{3}[\s.-]?\d{4}\b', '<PHONE>', 'g') AS t
  FROM c3
),
c5 AS (
  SELECT source, c_url, c_email, p1, p2,
         CAST(len(regexp_extract_all(t, '\b\d{3}[\s.-]\d{3}[\s.-]\d{4}\b')) AS BIGINT) AS p3,
         regexp_replace(t, '\b\d{3}[\s.-]\d{3}[\s.-]\d{4}\b', '<PHONE>', 'g') AS t
  FROM c4
),
c6 AS (
  SELECT source, c_url, c_email, p1 + p2 + p3 AS c_phone,
         CAST(len(regexp_extract_all(t, '\b\d{9,}\b')) AS BIGINT) AS c_id
  FROM c5
)
SELECT source,
       CAST(SUM(c_url) AS BIGINT) AS n_url,
       CAST(COUNT(*) FILTER (WHERE c_url > 0) AS BIGINT) AS docs_url,
       CAST(SUM(c_email) AS BIGINT) AS n_email,
       CAST(COUNT(*) FILTER (WHERE c_email > 0) AS BIGINT) AS docs_email,
       CAST(SUM(c_phone) AS BIGINT) AS n_phone,
       CAST(COUNT(*) FILTER (WHERE c_phone > 0) AS BIGINT) AS docs_phone,
       CAST(SUM(c_id) AS BIGINT) AS n_id,
       CAST(COUNT(*) FILTER (WHERE c_id > 0) AS BIGINT) AS docs_id,
       CAST(COUNT(*) FILTER (WHERE c_url + c_email + c_phone + c_id > 0) AS BIGINT) AS docs_any_pii,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM c6 GROUP BY source
"""


# ---------------------------------------------------------------------------
# q129 — Count-Min heavy hitters (operators/sketch.py): estimate the
# top tokens' frequencies from a d×w sketch (state capped at d·w
# counters however large the vocabulary) and report exact vs estimate
# side by side — est >= exact always (collisions only inflate), and
# with deterministic md5 rows the oracle reproduces the estimates
# EXACTLY, overestimates included. Ranked top-15 by exact count with
# token tiebreak.
# ---------------------------------------------------------------------------
_CMS_D, _CMS_W, _CMS_TOPK = 4, 1 << 10, 15


def q129_count_min_topk(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators import sketch as SK

    docs = _t(spark, sf_dir, "documents")
    cms = SK.build_count_min(docs, d=_CMS_D, w=_CMS_W)
    exact = (
        docs.select(
            F.explode(X.lower_tokens(F.coalesce("text", F.lit("")))).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), F.col("tok").asc())
        .limit(_CMS_TOPK)
    )
    est = SK.count_min_estimate(exact, cms, d=_CMS_D, w=_CMS_W)
    return exact.join(est, "tok").select("tok", "n_exact", "n_est")


def _q129_sql() -> str:
    d, w, k = _CMS_D, _CMS_W, _CMS_TOPK
    pos = lambda j, col: (
        f"('0x' || substr(md5('{j}|' || {col}), 1, 8))::BIGINT % {w}"
    )
    cell_rows = " UNION ALL ".join(
        f"SELECT {j} AS j, {pos(j, 'tok')} AS pos FROM toks" for j in range(d)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT tok, n_exact, {j} AS j, {pos(j, 'tok')} AS pos FROM topk"
        for j in range(d)
    )
    return f"""
WITH toks AS (
  SELECT unnest(list_transform(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+'), t -> LOWER(t))) AS tok
  FROM documents
  WHERE regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g') <> ''
),
cells AS ({cell_rows}),
cms AS (SELECT j, pos, CAST(COUNT(*) AS BIGINT) AS cnt FROM cells GROUP BY j, pos),
topk AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM toks GROUP BY tok
  ORDER BY n_exact DESC, tok ASC LIMIT {k}
),
probes AS ({probe_rows})
SELECT p.tok, p.n_exact, MIN(COALESCE(c.cnt, 0)) AS n_est
FROM probes p LEFT JOIN cms c ON p.j = c.j AND p.pos = c.pos
GROUP BY p.tok, p.n_exact
"""


# ---------------------------------------------------------------------------
# q130 — split-leakage audit (operators/curate.py
# split_leakage_report): assign q43's row-level hash split, then ask
# the question that split's metrics can't answer — per lang, how many
# EVAL docs near-duplicate a TRAIN doc (minhash probe join, q86's
# asymmetric kernel). The synthetic corpus carries real duplicate
# clusters, so a row-level split leaks by construction and the report
# is non-vacuous at every SF.
# ---------------------------------------------------------------------------
def q130_split_leakage(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.curate import (
        split_leakage_report,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "split",
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "3",
            F.lit("eval"),
        ).otherwise(F.lit("train")),
    )
    return split_leakage_report(
        docs,
        eval_split="eval",
        jaccard_threshold=_MH_THRESH,
        num_hashes=_MH_H,
        bands=_MH_BANDS,
        ngram_n=_MH_N,
    )


def _q130_sql() -> str:
    return f"""
WITH {_mh_sig_ctes()},
splits AS (
  SELECT doc_id, lang,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '3'
              THEN 'eval' ELSE 'train' END AS split
  FROM documents
),
cand AS (
  SELECT DISTINCT p.k AS pk, c.k AS ck
  FROM banded p
  JOIN splits sp ON p.k = sp.doc_id AND sp.split = 'eval'
  JOIN banded c ON p.bucket = c.bucket
  JOIN splits sc ON c.k = sc.doc_id AND sc.split = 'train'
),
scored AS (
  SELECT cand.pk,
         ROUND(len(list_intersect(x.sh, y.sh)) * 1.0
               / len(list_distinct(x.sh || y.sh)), 6) AS jaccard
  FROM cand JOIN sh x ON cand.pk = x.k JOIN sh y ON cand.ck = y.k
),
per_doc AS (
  SELECT pk, CAST(COUNT(*) AS BIGINT) AS pairs
  FROM scored WHERE jaccard >= {_MH_THRESH} GROUP BY pk
)
SELECT s.lang,
       CAST(COUNT(*) AS BIGINT) AS n_eval,
       CAST(COUNT(*) FILTER (WHERE p.pairs IS NOT NULL) AS BIGINT) AS n_leaked,
       CAST(SUM(COALESCE(p.pairs, 0)) AS BIGINT) AS n_leak_pairs,
       ROUND(COUNT(*) FILTER (WHERE p.pairs IS NOT NULL) * 1.0 / COUNT(*), 6) AS leak_rate
FROM splits s LEFT JOIN per_doc p ON s.doc_id = p.pk
WHERE s.split = 'eval'
GROUP BY s.lang
"""


# ---------------------------------------------------------------------------
# q131 — HyperLogLog cardinality per source (operators/sketch.py
# hll_cardinality): fixed-memory distinct-count next to the exact
# answer, so the result exhibits the sketch's real (deterministic)
# error.  md5-hex registers + string-op rho make every register state
# reproducible in DuckDB — the oracle rebuilds the SAME sketch, not a
# tolerance band.
# ---------------------------------------------------------------------------
_HLL_P = 8


def q131_hll_cardinality(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators import sketch as SK

    docs = _t(spark, sf_dir, "documents")
    est = SK.hll_cardinality(docs, "text", "source", p=_HLL_P)
    exact = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.coalesce("text", F.lit(""))).alias("n_exact"),
    )
    return exact.join(F.broadcast(est), "source").select(
        "source", "n_rows", "n_exact", "hll_est"
    )


def _q131_sql() -> str:
    from cloud_native_medical_data_etl_pipeline_spark.operators.sketch import (
        _hll_alpha,
    )

    m = 1 << _HLL_P
    alpha = repr(_hll_alpha(m))
    return f"""
WITH h AS (
  SELECT source, md5(COALESCE(text, '')) AS h FROM documents
),
cells AS (
  SELECT source,
         ('0x' || substr(h, 1, {_HLL_P // 4}))::BIGINT AS reg,
         regexp_replace(substr(h, {_HLL_P // 4 + 1}, 16), '^0+', '') AS stripped
  FROM h
),
rho AS (
  SELECT source, reg,
         CASE WHEN stripped = '' THEN 65
              ELSE (16 - length(stripped)) * 4
                   + CASE WHEN substr(stripped, 1, 1) = '1' THEN 3
                          WHEN substr(stripped, 1, 1) IN ('2', '3') THEN 2
                          WHEN substr(stripped, 1, 1) IN ('4', '5', '6', '7') THEN 1
                          ELSE 0 END
                   + 1 END AS rho
  FROM cells
),
regs AS (SELECT source, reg, MAX(rho) AS mx FROM rho GROUP BY source, reg),
agg AS (
  SELECT source,
         SUM(POWER(2.0, -mx)) AS z_hit,
         COUNT(*) AS touched
  FROM regs GROUP BY source
),
est AS (
  SELECT source,
         CAST({alpha} AS DOUBLE) * {m} * {m} / (z_hit + ({m} - touched)) AS raw,
         {m} - touched AS v
  FROM agg
),
ex AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT COALESCE(text, '')) AS BIGINT) AS n_exact
  FROM documents GROUP BY source
)
SELECT ex.source, ex.n_rows, ex.n_exact,
       ROUND(CASE WHEN est.raw <= 2.5 * {m} AND est.v > 0
                  THEN {m} * LN(CAST({m} AS DOUBLE) / est.v)
                  ELSE est.raw END, 3) AS hll_est
FROM ex JOIN est USING (source)
"""


# ---------------------------------------------------------------------------
# q132 — per-segment OLS trend (operators/stats.py group_trend): is
# value drifting over time per event_type?  Closed-form least squares
# from one sufficient-sums aggregate; x is HOURS since the corpus
# epoch (centered per the operator's determinism contract — raw
# epoch-seconds would push the nΣxx−Σx² cancellation past the
# rounding grain).
# ---------------------------------------------------------------------------
_TREND_BASE_US = 1704067200000000  # 2024-01-01T00:00:00Z in microseconds


def q132_value_trend(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.stats import (
        group_trend,
    )

    ev = _t(spark, sf_dir, "events")
    x = (F.unix_micros(F.col("ts")) - F.lit(_TREND_BASE_US)) / F.lit(3600000000.0)
    return group_trend(ev, "event_type", x, F.col("value"))


def _q132_sql() -> str:
    return f"""
WITH pts AS (
  SELECT event_type,
         (epoch_us(ts) - {_TREND_BASE_US}) / 3600000000.0 AS x,
         value AS y
  FROM events
),
sums AS (
  -- pairwise-complete masks mirror the kernel: n counts only rows
  -- where BOTH x and y are non-null, and every sum is masked the
  -- same way (group presence is unfiltered, like Spark's groupBy)
  SELECT event_type,
         CAST(COUNT(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                         THEN 1 END) AS BIGINT) AS n,
         SUM(CASE WHEN y IS NOT NULL THEN x END) AS sx,
         SUM(CASE WHEN x IS NOT NULL THEN y END) AS sy,
         SUM(CASE WHEN y IS NOT NULL THEN x * x END) AS sxx,
         SUM(x * y) AS sxy,
         SUM(CASE WHEN x IS NOT NULL THEN y * y END) AS syy
  FROM pts GROUP BY event_type
)
SELECT event_type, n,
       ROUND(CASE WHEN n * sxx - sx * sx > 1e-12 * n * sxx
                  THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6) AS slope,
       ROUND(CASE WHEN n * sxx - sx * sx > 1e-12 * n * sxx
                  THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n END, 6) AS intercept,
       ROUND(CASE WHEN n * sxx - sx * sx > 1e-12 * n * sxx
                  AND n * syy - sy * sy > 1e-12 * n * syy
                  THEN (n * sxy - sx * sy) * (n * sxy - sx * sy)
                       / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6) AS r2
FROM sums
"""


# ---------------------------------------------------------------------------
# q133 — embedding covariance matrix (operators/similarity.py
# embedding_covariance): the d×d feature-correlation pass that
# embedding_dim_stats (q104) documents as its extension.  treeAggregate
# shape — per-task d×d Gram partials via Arrow/BLAS, one bounded-key
# merge — NOT the N·d² exploded self-join the oracle uses (DuckDB can
# afford it at sf<=0.1; Spark at 100 TB cannot).
# ---------------------------------------------------------------------------
def q133_embedding_covariance(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.similarity import (
        embedding_covariance,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_covariance(emb, "embedding", dim=64)


Q133_SQL = """
WITH x AS (
  SELECT vec_id,
         unnest(CAST(embedding AS DOUBLE[])) AS val,
         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i
  FROM embeddings
  WHERE embedding IS NOT NULL
),
g AS (
  SELECT a.i AS i, b.i AS j, SUM(a.val * b.val) AS v
  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i
),
s AS (SELECT i, SUM(val) AS s FROM x GROUP BY i),
n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM embeddings
  WHERE embedding IS NOT NULL
)
SELECT g.i, g.j,
       ROUND(g.v / n.nn - (si.s / n.nn) * (sj.s / n.nn), 6) + 0.0 AS cov
FROM g
CROSS JOIN n
JOIN s si ON g.i = si.i
JOIN s sj ON g.j = sj.i
"""


# ---------------------------------------------------------------------------
# q134 — weighted PageRank over the token-adjacency graph
# (operators/graph.py adjacency_edges + pagerank): co-occurrence
# centrality of the corpus vocabulary — the canonical iterative-join
# workload (fixed 8 damped iterations, dangling-mass redistribution,
# per-iteration rounding so the DuckDB unrolled-CTE oracle stays in
# lockstep hop by hop).
# ---------------------------------------------------------------------------
_PR_DAMPING, _PR_ITERS, _PR_ITER_DP = 0.85, 8, 10


def q134_token_pagerank(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators import graph as G

    docs = _t(spark, sf_dir, "documents")
    edges = G.adjacency_edges(docs, "text", "doc_id")
    return G.pagerank(
        edges, damping=_PR_DAMPING, iterations=_PR_ITERS, iter_dp=_PR_ITER_DP
    )


def _q134_sql() -> str:
    tp = repr(1.0 - _PR_DAMPING)
    d = repr(_PR_DAMPING)
    parts = [
        f"""WITH tl AS MATERIALIZED (
  SELECT doc_id,
         list_transform(string_split_regex(regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g'), '\\s+'), t -> LOWER(t)) AS ts
  FROM documents
  WHERE regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g') <> ''
),
toks AS MATERIALIZED (
  SELECT doc_id, unnest(ts) AS tok, generate_subscripts(ts, 1) - 1 AS pos
  FROM tl
),
edges AS MATERIALIZED (
  SELECT a.tok AS src, b.tok AS dst, CAST(COUNT(*) AS BIGINT) AS w
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY a.tok, b.tok
),
nodes AS MATERIALIZED (
  SELECT DISTINCT node
  FROM (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
),
nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
outw AS MATERIALIZED (SELECT src, SUM(CAST(w AS DOUBLE)) AS ow FROM edges GROUP BY src),
enorm AS MATERIALIZED (
  SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / o.ow AS wn
  FROM edges e JOIN outw o ON e.src = o.src
),
dang AS MATERIALIZED (
  SELECT n.node FROM nodes n LEFT JOIN outw o ON n.node = o.src
  WHERE o.src IS NULL
),
r0 AS MATERIALIZED (
  SELECT node, CAST(1 AS DOUBLE) / CAST(nn.n AS DOUBLE) AS rank
  FROM nodes CROSS JOIN nn
)"""
    ]
    for t in range(_PR_ITERS):
        parts.append(
            f""",
dm{t} AS MATERIALIZED (
  SELECT COALESCE(SUM(r.rank), 0.0) AS dm
  FROM r{t} r JOIN dang g ON r.node = g.node
),
c{t} AS MATERIALIZED (
  SELECT e.dst AS node, SUM(r.rank * e.wn) AS c
  FROM r{t} r JOIN enorm e ON r.node = e.src
  GROUP BY e.dst
),
r{t + 1} AS MATERIALIZED (
  SELECT n.node,
         ROUND(CAST({tp} AS DOUBLE) / CAST(nn.n AS DOUBLE)
               + CAST({d} AS DOUBLE)
                 * (COALESCE(c.c, 0.0) + dm{t}.dm / CAST(nn.n AS DOUBLE)),
               {_PR_ITER_DP}) AS rank
  FROM nodes n CROSS JOIN nn CROSS JOIN dm{t}
  LEFT JOIN c{t} c ON n.node = c.node
)"""
        )
    parts.append(
        f"""
SELECT node, ROUND(rank, 6) AS rank FROM r{_PR_ITERS}
"""
    )
    return "".join(parts)


# ---------------------------------------------------------------------------
# q135 — in-engine LEARNED quality classifier (operators/classifier.py):
# logistic regression trained by full-batch gradient descent on
# cross-engine-exact features (token count / char count as power-of-two
# scalings, alpha ratio as one integer division) against an
# integer-arithmetic weak label.  Each GD step is ONE sufficient-stats
# aggregate (d+1 doubles leave the executors); per-row sigmoids and the
# gradient means are rounded so the DuckDB oracle — which unrolls all
# _LRC_ITERS (32) training iterations as MATERIALIZED CTEs — replays
# training to bit-identical weights (lr = _LRC_LR = 2.0 is a power of
# two, so each weight update is an exact scaling + one
# correctly-rounded subtraction).
# ---------------------------------------------------------------------------
_LRC_LR, _LRC_ITERS = 2.0, 32
_LRC_SIGMA_DP, _LRC_GRAD_DP = 10, 8
_LRC_MIN_T, _LRC_MAX_T, _LRC_APCT = 40, 300, 82
_LRC_BAND_MID = (_LRC_MIN_T + _LRC_MAX_T) // 2


def q135_quality_classifier(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.classifier import (
        featurize_documents,
        score_logreg,
        train_logreg,
    )

    docs = _t(spark, sf_dir, "documents")
    feat = featurize_documents(
        docs, "text", "doc_id", _LRC_MIN_T, _LRC_MAX_T, _LRC_APCT
    ).localCheckpoint()
    w = train_logreg(
        feat,
        lr=_LRC_LR,
        iterations=_LRC_ITERS,
        sigma_dp=_LRC_SIGMA_DP,
        grad_dp=_LRC_GRAD_DP,
    )
    return score_logreg(feat, w, sigma_dp=_LRC_SIGMA_DP)


def _q135_sql() -> str:
    # z must use the SAME left-to-right association as classifier._dot:
    # ((b + w1*f1) + w2*f2) + w3*f3
    z = "(((w.b + w.w1 * f.f1) + w.w2 * f.f2) + w.w3 * f.f3)"
    sig = f"ROUND(1.0 / (1.0 + EXP(-{z})), {_LRC_SIGMA_DP})"
    parts = [
        f"""WITH raw AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g') = '' THEN 0
              ELSE len(string_split_regex(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+'))
         END AS nt,
         length(COALESCE(text, '')) AS nc,
         len(regexp_extract_all(COALESCE(text, ''), '[A-Za-z]')) AS na
  FROM documents
),
feat AS MATERIALIZED (
  SELECT doc_id AS key,
         nt / 64.0 AS f1,
         abs(nt - {_LRC_BAND_MID}) / 128.0 AS f2,
         CASE WHEN nc > 0 THEN (na / nc - {_LRC_APCT / 100.0!r}) * 64.0
              ELSE 0.0 END AS f3,
         CAST(CASE WHEN nt BETWEEN {_LRC_MIN_T} AND {_LRC_MAX_T}
                    AND na * 100 >= nc * {_LRC_APCT} THEN 1 ELSE 0 END AS INT) AS y
  FROM raw
),
w0 AS MATERIALIZED (
  SELECT CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS w1,
         CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3
)"""
    ]
    for t in range(_LRC_ITERS):
        parts.append(
            f""",
g{t} AS MATERIALIZED (
  SELECT ROUND(COALESCE(AVG(s - y), 0.0), {_LRC_GRAD_DP}) AS g0,
         ROUND(COALESCE(AVG((s - y) * f1), 0.0), {_LRC_GRAD_DP}) AS g1,
         ROUND(COALESCE(AVG((s - y) * f2), 0.0), {_LRC_GRAD_DP}) AS g2,
         ROUND(COALESCE(AVG((s - y) * f3), 0.0), {_LRC_GRAD_DP}) AS g3
  FROM (SELECT f.y, f.f1, f.f2, f.f3, {sig} AS s
        FROM feat f CROSS JOIN w{t} w)
),
w{t + 1} AS MATERIALIZED (
  SELECT w.b - {_LRC_LR} * g.g0 AS b, w.w1 - {_LRC_LR} * g.g1 AS w1,
         w.w2 - {_LRC_LR} * g.g2 AS w2, w.w3 - {_LRC_LR} * g.g3 AS w3
  FROM w{t} w CROSS JOIN g{t} g
)"""
        )
    parts.append(
        f"""
SELECT key, y, ROUND(s, 6) AS p, CAST(s >= 0.5 AS INT) AS pred
FROM (SELECT f.key, f.y, {sig} AS s
      FROM feat f CROSS JOIN w{_LRC_ITERS} w)
"""
    )
    return "".join(parts)


# ---------------------------------------------------------------------------
# q136 — greedy k-center diverse selection over embeddings
# (operators/similarity.py kcenter_select): farthest-point traversal,
# the 2-approximate k-center rule for coreset / annotation-budget
# selection.  Per hop: one map-side least(dmin, d2-to-newest-center)
# update (center rides as a literal — zero shuffle) + one
# TakeOrdered(1) argmax on ROUNDED distances with key tiebreak.  The
# oracle unrolls the same 8 hops as MATERIALIZED CTEs; squared
# distances fold left-to-right on both engines.
# ---------------------------------------------------------------------------
_KC_K, _KC_DIST_DP = 8, 9


def q136_kcenter_select(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.similarity import (
        kcenter_select,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return kcenter_select(emb, k=_KC_K, dist_dp=_KC_DIST_DP)


def _q136_sql() -> str:
    def d2(a: str, b: str) -> str:
        return (
            f"ROUND(list_reduce(list_transform(range(1, len({a}) + 1), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), "
            f"(x, y) -> x + y), {_KC_DIST_DP})"
        )

    parts = [
        f"""WITH e AS MATERIALIZED (
  SELECT vec_id AS key, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
  WHERE embedding IS NOT NULL
),
c1 AS MATERIALIZED (SELECT key, v FROM e ORDER BY key ASC LIMIT 1),
d1 AS MATERIALIZED (
  SELECT e.key, e.v, {d2('e.v', 'c.v')} AS dmin
  FROM e CROSS JOIN c1 c
  WHERE e.key <> c.key
)"""
    ]
    for r in range(2, _KC_K + 1):
        parts.append(
            f""",
c{r} AS MATERIALIZED (
  SELECT key, v, dmin FROM d{r - 1} ORDER BY dmin DESC, key ASC LIMIT 1
),
d{r} AS MATERIALIZED (
  SELECT d.key, d.v, LEAST(d.dmin, {d2('d.v', 'c.v')}) AS dmin
  FROM d{r - 1} d CROSS JOIN c{r} c
  WHERE d.key <> c.key
)"""
        )
    sel = [
        "SELECT 1 AS sel_rank, key, CAST(NULL AS DOUBLE) AS radius FROM c1"
    ] + [
        f"SELECT {r} AS sel_rank, key, ROUND(dmin, 6) AS radius FROM c{r}"
        for r in range(2, _KC_K + 1)
    ]
    parts.append("\n" + "\nUNION ALL\n".join(sel) + "\n")
    return "".join(parts)


# ---------------------------------------------------------------------------
# q137 — product quantization end-to-end (operators/quantize.py
# pq_train / pq_encode / pq_adc_topk): deterministic k-means++
# codebook training (D²-sampled seeding on the md5 uniform, rounded
# Lloyd means), per-subspace nearest-codeword encoding, and
# asymmetric-distance top-k over the m-byte codes — the float corpus
# is never scanned at query time.  Every ingredient is
# SQL-expressible: the seeding hops and Lloyd iterations unroll as
# CTEs (the q23/q136 playbook); priorities, distances, and means are
# ROUNDED (9/9/6dp) so pow/summation ulps can't flip a winner.  The
# oracle omits the empty-cell refill branch: at m=4, k=4 over dense
# random embeddings every cell keeps members (any divergence would
# fail this hash gate).  Registered r8 — window-seated per the r7
# verdict (the one permitted registration).  r9: pq_train runs the
# driver-side numpy engine while the pool fits its driver cap (unit-
# and property-pinned EXACTLY equal to the in-engine SQL spec this
# oracle unrolls), so this row evidences the production training path.
# ---------------------------------------------------------------------------
_PQ_M, _PQ_K, _PQ_ITERS, _PQ_TOPK = 4, 4, 2, 10
_PQ_DSUB = 64 // _PQ_M  # fixed dim-64 embeddings tables


def q137_pq_adc_topk(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.quantize import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    emb = _t(spark, sf_dir, "embeddings")
    books = pq_train(emb, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS)
    enc = pq_encode(emb, books)
    qv = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).first()["embedding"]
    ]
    return pq_adc_topk(enc, books, qv, k=_PQ_TOPK).select(
        F.col("key").alias("vec_id"), "adc_dist"
    )


def _pq_d2(a: str, b: str) -> str:
    """The 9dp-rounded left-to-right squared-L2 fold shared by every
    PQ/IVFADC oracle expression (quantize._fold_sq's DuckDB spelling)."""
    return (
        f"ROUND(list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), "
        f"(x, y) -> x + y), 9)"
    )


def _pq_train_ctes(m: int, k: int, iters: int, dsub: int, src: str = "e") -> str:
    """The SQL-spec unroll of `quantize.pq_train` over ``src`` (any
    relation with key, v DOUBLE[]): subspace split, the k-1 D²-sampled
    seeding hops (Efraimidis-Spirakis race on the md5 uniform, 9dp
    priorities), and ``iters`` Lloyd rounds with 6dp means — CTEs
    ``subs`` through ``bk{iters}``.  Shared by q137 (flat codes over
    raw vectors) and q138 (residual codes over x − centroid(cell));
    both omit the empty-cell refill branch on the unit-pinned ground
    that their params never empty a cell on the driver embeddings."""
    d2 = _pq_d2
    pri = (
        "CASE WHEN dmin > 0 THEN ROUND(POWER("
        "(('0x' || substr(md5('kpp' || CAST(s AS VARCHAR) || ':' || "
        "CAST(key AS VARCHAR)), 1, 8))::BIGINT + 1.0) / 4294967296.0, "
        "1.0 / dmin), 9) ELSE -1.0 END"
    )
    parts = [
        f"""subs AS MATERIALIZED (
  SELECT e.key, sp.s,
         list_slice(e.v, sp.s * {dsub} + 1, sp.s * {dsub} + {dsub}) AS sub
  FROM {src} e CROSS JOIN (SELECT unnest(range({m})) AS s) sp
),
b0 AS MATERIALIZED (
  SELECT s, 0 AS code, sub AS cw
  FROM subs WHERE key = (SELECT min(key) FROM {src})
)"""
    ]
    for h in range(1, k):
        parts.append(
            f""",
dm{h} AS MATERIALIZED (
  SELECT p.key, p.s, p.sub, MIN({d2('p.sub', 'b.cw')}) AS dmin
  FROM subs p JOIN b{h - 1} b ON p.s = b.s
  GROUP BY p.key, p.s, p.sub
),
w{h} AS MATERIALIZED (
  SELECT s, {h} AS code, sub AS cw
  FROM (
    SELECT s, sub,
           ROW_NUMBER() OVER (
             PARTITION BY s ORDER BY pri DESC, key ASC
           ) AS rn
    FROM (SELECT key, s, sub, {pri} AS pri FROM dm{h})
    WHERE pri > 0)
  WHERE rn = 1
),
b{h} AS MATERIALIZED (
  SELECT * FROM b{h - 1} UNION ALL SELECT * FROM w{h}
)"""
        )
    parts.append(f",\nbk0 AS MATERIALIZED (SELECT * FROM b{k - 1})")
    for t in range(iters):
        parts.append(
            f""",
pa{t} AS MATERIALIZED (
  SELECT key, s, sub, code FROM (
    SELECT p.key, p.s, p.sub, b.code,
           ROW_NUMBER() OVER (
             PARTITION BY p.key, p.s
             ORDER BY {d2('p.sub', 'b.cw')} ASC, b.code ASC
           ) AS rn
    FROM subs p JOIN bk{t} b ON p.s = b.s)
  WHERE rn = 1
),
pm{t} AS MATERIALIZED (
  SELECT s, code, dim, ROUND(AVG(val), 6) AS mv
  FROM (SELECT s, code, unnest(sub) AS val,
               generate_subscripts(sub, 1) AS dim
        FROM pa{t})
  GROUP BY s, code, dim
),
bk{t + 1} AS MATERIALIZED (
  SELECT b.s, b.code, COALESCE(n.cw, b.cw) AS cw
  FROM bk{t} b LEFT JOIN (
    SELECT s, code, list(mv ORDER BY dim) AS cw
    FROM pm{t} GROUP BY s, code
  ) n ON b.s = n.s AND b.code = n.code
)"""
        )
    parts.append(
        f""",
enc AS MATERIALIZED (
  SELECT key, s, code FROM (
    SELECT p.key, p.s, b.code,
           ROW_NUMBER() OVER (
             PARTITION BY p.key, p.s
             ORDER BY {d2('p.sub', 'b.cw')} ASC, b.code ASC
           ) AS rn
    FROM subs p JOIN bk{iters} b ON p.s = b.s)
  WHERE rn = 1
)"""
    )
    return "".join(parts)


def _q137_sql() -> str:
    m, k, iters, dsub = _PQ_M, _PQ_K, _PQ_ITERS, _PQ_DSUB
    d2 = _pq_d2
    return (
        f"""WITH e AS MATERIALIZED (
  SELECT vec_id AS key, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
"""
        + _pq_train_ctes(m, k, iters, dsub)
        + f""",
qsub AS MATERIALIZED (
  SELECT sp.s,
         list_slice(q.v, sp.s * {dsub} + 1, sp.s * {dsub} + {dsub}) AS sub
  FROM (SELECT v FROM e WHERE key = 0) q
  CROSS JOIN (SELECT unnest(range({m})) AS s) sp
),
lut AS MATERIALIZED (
  SELECT b.s, b.code, {d2('q.sub', 'b.cw')} AS d
  FROM bk{iters} b JOIN qsub q ON b.s = q.s
)
SELECT e2.key AS vec_id, ROUND(SUM(l.d), 6) AS adc_dist
FROM enc e2 JOIN lut l ON e2.s = l.s AND e2.code = l.code
GROUP BY e2.key
ORDER BY adc_dist ASC, vec_id ASC
LIMIT {_PQ_TOPK}"""
    )


# ---------------------------------------------------------------------------
# q138 — residual IVFADC (classic IVF-PQ; operators/quantize.py
# build_ivfpq_index(residual=True) / ivfpq_topk_indexed /
# _adc_score_residual): coarse IVF centroids prune the scan to nprobe
# cell PARTITIONS (Catalyst PartitionFilters over the cell_id layout);
# codes quantize the RESIDUAL x − centroid(cell), so the same m×k code
# budget buys lower distortion (Jegou et al., TPAMI 2011 §V); query
# LUTs are per probed cell — nprobe·m·k driver-side floats. The
# oracle unrolls the whole construction: the q23/q126 cosine-Lloyd
# centroid CTEs, the rounded-L2 cell assignment, residual vectors, the
# shared q137 PQ-training unroll over the residuals, probe ranking,
# per-cell LUTs, and the pruned ADC ranking. Spark trains via the
# default engine (the r9 driver-side numpy path — unit-pinned exactly
# equal to the SQL spec this oracle replays). Registered r9 — the one
# new window registration the §8.3 ledger allows.
# ---------------------------------------------------------------------------
_R138_CELLS, _R138_TI = 4, 1
_R138_M, _R138_K, _R138_PI = 4, 4, 2
_R138_NPROBE, _R138_TOPK = 2, 10
_R138_DSUB = 64 // _R138_M  # fixed dim-64 embeddings tables


def q138_ivfpq_residual_topk(spark, sf_dir):
    import tempfile

    from cloud_native_medical_data_etl_pipeline_spark.operators.quantize import (
        build_ivfpq_index,
        ivfpq_topk_indexed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # index tree removed before returning (the q25b ADVICE cleanup,
    # applied family-wide); the top-k result is k rows
    import shutil

    root = tempfile.mkdtemp(prefix="q138_")
    try:
        path = root + "/index"
        build_ivfpq_index(
            emb,
            path,
            num_cells=_R138_CELLS,
            train_iters=_R138_TI,
            m=_R138_M,
            k=_R138_K,
            pq_iters=_R138_PI,
            residual=True,
        )
        qv = [
            float(x)
            for x in emb.where(F.col("vec_id") == 0).first()["embedding"]
        ]
        res = ivfpq_topk_indexed(
            spark, path, qv, k=_R138_TOPK, nprobe=_R138_NPROBE
        ).select(F.col("key").alias("vec_id"), "adc_dist")
        rows, schema = res.collect(), res.schema
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def _q138_sql() -> str:
    nc, ti = _R138_CELLS, _R138_TI
    m, k, pi, dsub = _R138_M, _R138_K, _R138_PI, _R138_DSUB
    d2 = _pq_d2
    src = (
        "(SELECT vec_id, embedding FROM embeddings "
        "WHERE embedding IS NOT NULL)"
    )
    return (
        "WITH "
        + _ivf_lloyd_ctes(nc, ti, src=src)
        + f""",
cellof AS MATERIALIZED (
  SELECT vec_id AS key, emb, cell_id FROM (
    SELECT e.vec_id, e.emb, c.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {d2('e.emb', 'c.cvec')} ASC, c.cell_id ASC
           ) AS rn
    FROM emb e CROSS JOIN cents{ti} c)
  WHERE rn = 1
),
r AS MATERIALIZED (
  SELECT co.key,
         list_transform(range(1, len(co.emb) + 1),
                        i -> co.emb[i] - c.cvec[i]) AS v
  FROM cellof co JOIN cents{ti} c USING (cell_id)
),
"""
        + _pq_train_ctes(m, k, pi, dsub, src="r")
        + f""",
qv AS MATERIALIZED (
  SELECT CAST(embedding AS DOUBLE[]) AS q
  FROM embeddings WHERE vec_id = 0
),
probes AS MATERIALIZED (
  SELECT cell_id, cvec FROM (
    SELECT c.cell_id, c.cvec,
           ROW_NUMBER() OVER (
             ORDER BY {d2('q.q', 'c.cvec')} ASC, c.cell_id ASC
           ) AS rn
    FROM cents{ti} c CROSS JOIN qv q)
  WHERE rn <= {_R138_NPROBE}
),
qr AS MATERIALIZED (
  SELECT p.cell_id, sp.s,
         list_slice(
           list_transform(range(1, len(q.q) + 1),
                          i -> q.q[i] - p.cvec[i]),
           sp.s * {dsub} + 1, sp.s * {dsub} + {dsub}) AS sub
  FROM probes p CROSS JOIN qv q
  CROSS JOIN (SELECT unnest(range({m})) AS s) sp
),
lut AS MATERIALIZED (
  SELECT qr.cell_id, b.s, b.code, {d2('qr.sub', 'b.cw')} AS d
  FROM bk{pi} b JOIN qr ON b.s = qr.s
)
SELECT co.key AS vec_id, ROUND(SUM(l.d), 6) AS adc_dist
FROM enc e2
JOIN cellof co ON e2.key = co.key
JOIN lut l ON l.cell_id = co.cell_id AND l.s = e2.s AND l.code = e2.code
GROUP BY co.key
ORDER BY adc_dist ASC, vec_id ASC
LIMIT {_R138_TOPK}"""
    )


# ---------------------------------------------------------------------------
# q25b — multi-file backfill drain probe (the r8 single-batch fix made
# driver-visible; tests/test_streaming.py pins the same hazard as a unit).
# The events table is re-laid-out as THREE parquet files where the files
# written LATER hold only events hours OLDER than the first file's max
# timestamp, then drained through the append-mode watermarked pipeline
# (streaming/events.py run_available_now).  A multi-batch drain advances
# the watermark between files and silently drops the later files' rows as
# late; the single-batch drain (max_files_per_trigger=None) moves the
# watermark only after all input is in — so the finalized windows equal
# the batch aggregation over ALL rows iff nothing was dropped, which is
# exactly what the oracle checks.  Append mode emits only windows the
# final watermark (max ts - 2 h) has passed; the oracle replays that
# finalization rule in SQL.
# ---------------------------------------------------------------------------
def q25b_backfill_drain(spark, sf_dir):
    import glob
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window as W

    from cloud_native_medical_data_etl_pipeline_spark.streaming import events as SE

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # deterministic 3-way split: newest third FIRST (pushes the max
    # timestamp high), strictly older rows in the later files — the
    # global row_number sort is probe-harness-only, corpus-sized once
    ranked = ev.withColumn(
        "__rk",
        F.row_number().over(
            W.orderBy(F.col("ts").desc(), F.col("event_id").asc())
        ),
    )
    n = ranked.count()
    cut1, cut2 = max(n // 3, 1), max(2 * (n // 3), 2)
    root = tempfile.mkdtemp(prefix="q25b_")
    # the working directory (3 input files + checkpoint + output) is
    # removed before returning — a multi-pass bench would otherwise
    # accumulate one leaked tree per invocation (ADVICE r10) — so the
    # drained output is materialized into memory first (finalized
    # hourly windows: small by construction) and re-framed
    try:
        src = os.path.join(root, "in")
        os.makedirs(src, exist_ok=True)
        for fname, lo, hi in (
            ("0.parquet", 1, cut1),
            ("1.parquet", cut1 + 1, cut2),
            ("2.parquet", cut2 + 1, n),
        ):
            stage = os.path.join(root, f"stage_{fname}")
            (
                ranked.where(F.col("__rk").between(lo, hi))
                .drop("__rk")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(stage)
            )
            shutil.move(
                glob.glob(os.path.join(stage, "part-*.parquet"))[0],
                os.path.join(src, fname),
            )
            shutil.rmtree(stage)
        out = os.path.join(root, "out")
        SE.run_available_now(spark, src, out, os.path.join(root, "ck"))
        res = spark.read.parquet(out)
        rows, schema = res.collect(), res.schema
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


Q25B_SQL = """
WITH wm AS (
  SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM events
)
SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
       COUNT(*) AS n, ROUND(SUM(value), 4) AS total_value
FROM events, wm
GROUP BY 1, 2, wm.w
HAVING DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR <= wm.w
"""


# ---------------------------------------------------------------------------
# q139 — REGISTERED in r13 (the r12 ledger's pre-committed slot 44):
# the first oracle row for streaming/events.py:stream_to_lake_upsert.
# The probe + SQL pair is the one pinned by
# tests/test_streaming.py::test_stream_to_lake_upsert_oracle_
# roundtrip (r11 commit 1a60102) and re-verified at sf0.01 in r12:
# drain events through streaming.events.stream_to_lake_upsert TWICE
# (the second run is a full redelivery on a fresh checkpoint), then
# aggregate the lake per (year, month, day, event_type).  Hash-match
# iff every row landed exactly once, the sentinel-coalesced day rule
# matches, and the replay was a perfect no-op — a duplicated or
# dropped row doubles/loses n and total_value.
# ---------------------------------------------------------------------------
def q139_stream_upsert(spark, sf_dir):
    import shutil
    import tempfile

    from cloud_native_medical_data_etl_pipeline_spark.streaming import events as SE

    root = tempfile.mkdtemp(prefix="q139_")
    # work tree (lake + both checkpoints) removed before returning
    # (the q25b cleanup discipline): the day-grain summary is read
    # into memory first so the rmtree cannot perturb the oracle bytes
    try:
        base = f"{root}/lake"
        SE.stream_to_lake_upsert(
            spark, f"{sf_dir}/events.parquet", base, f"{root}/ck1"
        )
        SE.stream_to_lake_upsert(
            spark, f"{sf_dir}/events.parquet", base, f"{root}/ck2"
        )
        res = (
            spark.read.parquet(base)
            .groupBy(
                F.col("year").cast("int").alias("year"),
                F.col("month").cast("int").alias("month"),
                F.col("day").cast("int").alias("day"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 4).alias("total_value"),
            )
        )
        rows, schema = res.collect(), res.schema
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


Q139_SQL = """
SELECT CAST(COALESCE(EXTRACT(year FROM ts), 9999) AS INT) AS year,
       CAST(COALESCE(EXTRACT(month FROM ts), 12) AS INT) AS month,
       CAST(COALESCE(EXTRACT(day FROM ts), 31) AS INT) AS day,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 4) AS total_value
FROM events
GROUP BY 1, 2, 3, 4
"""


# ---------------------------------------------------------------------------
# q140 — STAGED for its r14 registration (tools/next_window.json slot
# 43, committed r13; the r13 window has no remaining slack).  It
# upgrades the four "unit-only by nature" lake-IO rows to
# oracle-evidenced: S7/S6 (JSON write/read through the Hive layout,
# S13) and S11/S10 (the reference's head-1000 CSV extract written
# WITH header, read back with the explicit schema).  Both legs
# project exact per-row values — event_id/user_id bigint, event_type/
# props string, value double — so the driver's value hash proves the
# text round-trips are LOSSLESS (JSON/CSV double serialization is
# shortest-repr, bit-exact on re-read; no aggregate, so no float
# summation-order hazard).  ts is deliberately excluded: text
# timestamp formats carry millisecond precision while the parquet
# column has microseconds — a real serialization boundary, documented
# rather than hidden behind a lossy grain.  Deterministic row choice:
# the CSV head is written from an event_id-sorted frame (plain
# write_csv_head row choice is nondeterministic, reference behavior),
# and both legs sample by event_id modulus to keep the result
# probe-sized at every SF.
# ---------------------------------------------------------------------------
def q140_lake_roundtrip(spark, sf_dir):
    import shutil
    import tempfile

    from cloud_native_medical_data_etl_pipeline_spark.sources import lake

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type", "value", "props"
    )
    work = tempfile.mkdtemp(prefix="q140_")
    try:
        lake.write_partitioned(ev, f"{work}/jlake", "2024-01-01", fmt="json")
        js = lake.read_partition(
            spark, f"{work}/jlake", "2024-01-01", schema=ev.schema, fmt="json"
        ).where(F.col("event_id") % 97 == 0)
        lake.write_csv_head(ev.orderBy("event_id"), f"{work}/chead", 1000)
        cs = (
            spark.read.schema(ev.schema)
            .option("header", True)
            .csv(f"{work}/chead")
            .where(F.col("event_id") % 7 == 0)
        )
        res = js.select(F.lit("json").alias("leg"), "*").unionByName(
            cs.select(F.lit("csv_head_1000").alias("leg"), "*")
        )
        rows, schema = res.collect(), res.schema
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


Q140_SQL = """
SELECT 'json' AS leg, event_id, user_id, event_type, value, props
FROM events WHERE event_id % 97 = 0
UNION ALL
SELECT 'csv_head_1000' AS leg, event_id, user_id, event_type, value, props
FROM (SELECT * FROM events ORDER BY event_id LIMIT 1000)
WHERE event_id % 7 = 0
"""


# ---------------------------------------------------------------------------
# q141 — STAGED for its r14 registration (tools/next_window.json slot
# 44, committed r13): the inverted-index BM25 path's first oracle row
# (operators/ranking.py build_term_index / bm25_topk_indexed — the one
# retrieval operator that was unit-only).  Three legs over ONE built
# index on a tempdir, q124-pattern (collect before rmtree):
#   * 'posting' — the STORED md5-bucketed postings for the query
#     terms (term, doc, tf, dl): proves the persisted index state
#     row-for-row against the q71 tokenization CTEs;
#   * 'stats'   — the stored _corpus_stats sidecar (N, avgdl): both
#     exact (dl is an integer-valued double, so the sum is
#     order-independent);
#   * 'topk'    — bm25_topk_indexed's pruned query path, scored in
#     fixed term order (see ranking.py) so the rounded score is
#     deterministic; the oracle restricts q71's scoring chain to
#     matched docs, WHICH IS the indexed semantics (zero-score docs
#     never enter the index's candidate set).
# ---------------------------------------------------------------------------
def q141_bm25_indexed(spark, sf_dir):
    import shutil
    import tempfile

    from cloud_native_medical_data_etl_pipeline_spark.operators.ranking import (
        bm25_topk_indexed,
        build_term_index,
        read_term_index,
    )

    docs = _t(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="q141_")
    try:
        idx_path = f"{work}/idx"
        build_term_index(docs, idx_path)
        # driver-side md5 bucket predicate (same derivation as
        # bm25_topk_indexed): the term filter alone would SCAN all 256
        # bucket partitions to find the 4 that can match — the bucket
        # isin turns the leg into a partition-pruned read, which is
        # the property the index exists for
        import hashlib

        _buckets = sorted(
            {hashlib.md5(t.encode()).hexdigest()[:2] for t in _BM25_TERMS}
        )
        # read_term_index, not a bare parquet read: partition-value
        # inference parses all-Java-numeric hex bucket sets ("8f" ->
        # 8.0) on small indexes — see ranking.TERM_INDEX_SCHEMA
        idx = read_term_index(spark, idx_path).where(
            F.col("bucket").isin(_buckets)
        )
        postings = idx.where(F.col("term").isin(_BM25_TERMS)).select(
            F.lit("posting").alias("leg"),
            "term",
            F.col("doc").alias("doc_id"),
            F.col("tf").cast("double").alias("a"),
            F.col("dl").alias("b"),
        )
        stats = spark.read.parquet(f"{idx_path}/_corpus_stats").select(
            F.lit("stats").alias("leg"),
            F.lit(None).cast("string").alias("term"),
            F.lit(None).cast("long").alias("doc_id"),
            F.col("n").alias("a"),
            F.col("avgdl").alias("b"),
        )
        topk = bm25_topk_indexed(
            spark, idx_path, _BM25_TERMS, k=_BM25_K, k1=_BM25_K1, b=_BM25_B
        ).select(
            F.lit("topk").alias("leg"),
            F.lit(None).cast("string").alias("term"),
            F.col("doc").alias("doc_id"),
            F.col("bm25").alias("a"),
            F.lit(None).cast("double").alias("b"),
        )
        res = postings.unionByName(stats).unionByName(topk)
        rows, schema = res.collect(), res.schema
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def _q141_sql() -> str:
    ctes, score = _bm25_ctes()
    m = len(_BM25_TERMS)
    matched = " OR ".join(f"tf{i} > 0" for i in range(m))
    posting_legs = "\nUNION ALL\n".join(
        f"SELECT 'posting' AS leg, '{t}' AS term, doc_id, "
        f"tf{i} AS a, dl AS b FROM per_doc WHERE tf{i} > 0"
        for i, t in enumerate(_BM25_TERMS)
    )
    return f"""
WITH {ctes}
{posting_legs}
UNION ALL
SELECT 'stats' AS leg, CAST(NULL AS VARCHAR) AS term,
       CAST(NULL AS BIGINT) AS doc_id, n AS a, avgdl AS b
FROM stats
UNION ALL
SELECT 'topk' AS leg, CAST(NULL AS VARCHAR) AS term, doc_id,
       bm25 AS a, CAST(NULL AS DOUBLE) AS b
FROM (
  SELECT doc_id, ROUND({score}, 6) AS bm25
  FROM per_doc, stats
  WHERE {matched}
  ORDER BY bm25 DESC, doc_id ASC
  LIMIT {_BM25_K}
)
"""


# ---------------------------------------------------------------------------
# q142 — STAGED for an r15 registration (tools/next_window.json slot
# 47, committed r14): the catalog/metadata ops' first value-exact
# oracle row (S12 — reference s3_loader.py list_objects/head_object/
# delete_object semantics plus the incremental-daily
# latest-partition probe, medical_etl_dag.py's date-parameterized
# resume point).  The Hadoop-FS metadata calls themselves cannot be
# SQL-reproduced, but their ANSWERS on a lake built from the events
# table are pure functions of the data: the partition dates listed
# must equal the distinct event dates written, the latest-date probe
# their max, per-partition read-back counts the per-date row counts,
# file counts are pinned by the repartition(1)-per-date write, and
# delete_object must remove exactly one partition from the listing.
# Every leg is driver-side metadata on a probe-sized tempdir lake —
# collect-before-rmtree, the q124/q140/q141 pattern.
# ---------------------------------------------------------------------------
_CATALOG_N_DATES = 3


def q142_catalog_ops(spark, sf_dir):
    import shutil
    import tempfile

    from cloud_native_medical_data_etl_pipeline_spark.sources import lake

    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("d"), "event_id", "value"
    )
    # d IS NOT NULL on BOTH engines (ADVICE r14): a NULL ts sorts
    # nulls-FIRST under Spark's orderBy but LAST under DuckDB's
    # ORDER BY, so an unfiltered probe would take dates[0] = None
    # (crashing .isoformat()) while the oracle CTE silently skips it
    dates = [
        r["d"].isoformat()
        for r in ev.select("d")
        .where(F.col("d").isNotNull())
        .distinct()
        .orderBy("d")
        .limit(_CATALOG_N_DATES)
        .collect()
    ]
    if not dates:
        # the oracle contract assumes >=1 event date (every sf corpus
        # has thousands); fail loudly rather than emitting legs the
        # SQL cannot mirror on an empty table
        raise ValueError("q142_catalog_ops: events table has no dates")
    # the after_delete leg derives from len(dates), not the constant,
    # so the probe stays a pure function of the data even on corpora
    # with fewer than _CATALOG_N_DATES distinct dates
    work = tempfile.mkdtemp(prefix="q142_")
    rows = []
    try:
        base = f"{work}/lake"
        for d in dates:
            # repartition(1): exactly ONE data file per date dir, so
            # the n_files leg is deterministic
            lake.write_partitioned(
                ev.where(F.col("d") == F.lit(d).cast("date"))
                .drop("d")
                .repartition(1),
                base,
                d,
                fmt="json",
            )
        for d in lake.list_partition_dates(spark, base):
            n = lake.read_partition(
                spark, base, d, schema="event_id long, value double", fmt="json"
            ).count()
            part_dir = lake.partition_path(base, d)
            data_files = [
                p
                for p in lake.list_objects(spark, part_dir)
                if p.rsplit("/", 1)[-1].startswith("part-")
            ]
            rows.append(("partition", d, n, len(data_files)))
        rows.append(
            ("latest", lake.latest_partition_date(spark, base), None, None)
        )
        first_dir = lake.partition_path(base, dates[0])
        rows.append(
            ("exists", dates[0], int(lake.object_exists(spark, first_dir)), None)
        )
        rows.append(
            (
                "exists",
                "1999-01-01",
                int(
                    lake.object_exists(
                        spark, lake.partition_path(base, "1999-01-01")
                    )
                ),
                None,
            )
        )
        lake.delete_object(spark, first_dir, recursive=True)
        rows.append(
            (
                "after_delete",
                dates[0],
                len(lake.list_partition_dates(spark, base)),
                int(lake.object_exists(spark, first_dir)),
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "leg string, key string, n_rows long, n_files long"
    )


Q142_SQL = f"""
WITH d3 AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE CAST(ts AS DATE) IS NOT NULL
  GROUP BY 1 ORDER BY d LIMIT {_CATALOG_N_DATES}
)
SELECT 'partition' AS leg, CAST(d AS VARCHAR) AS key, n AS n_rows,
       CAST(1 AS BIGINT) AS n_files
FROM d3
UNION ALL
SELECT 'latest', CAST((SELECT MAX(d) FROM d3) AS VARCHAR),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
UNION ALL
SELECT 'exists', CAST((SELECT MIN(d) FROM d3) AS VARCHAR),
       CAST(1 AS BIGINT), CAST(NULL AS BIGINT)
UNION ALL
SELECT 'exists', '1999-01-01', CAST(0 AS BIGINT), CAST(NULL AS BIGINT)
UNION ALL
SELECT 'after_delete', CAST((SELECT MIN(d) FROM d3) AS VARCHAR),
       CAST((SELECT COUNT(*) FROM d3) - 1 AS BIGINT), CAST(0 AS BIGINT)
"""


# ---------------------------------------------------------------------------
# q143 — STAGED (written r14, unregistered): distributed BPE merge
# training (operators/bpe.py train_bpe_merges — the tokenizer-
# induction step; LLM-pipeline extension surface, no reference
# analog).  The oracle UNROLLS every merge round in DuckDB — the
# q137/q138 k-means pattern applied to BPE: per round, a pair-count
# CTE over the spaced-symbol strings, a deterministic argmax
# (count DESC, left ASC, right ASC), and a list_reduce fold that
# rewrites words left-to-right non-overlapping exactly like the
# kernel's JVM aggregate fold — so the driver hash proves the full
# merge SEQUENCE, not just the final table.  Awaits a window seat
# (r15's seat is taken by q142; this is the r16 candidate).
# ---------------------------------------------------------------------------
_BPE_MERGES = 8


def q143_bpe_merges(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.bpe import (
        train_bpe_merges,
    )

    docs = _t(spark, sf_dir, "documents")
    return train_bpe_merges(docs, num_merges=_BPE_MERGES)


def _q143_sql() -> str:
    fold = """
         list_reduce(string_split(s, ' '), (acc, x) -> CASE
            WHEN (acc = lft OR ends_with(acc, ' ' || lft)) AND x = rgt
            THEN CASE WHEN acc = lft THEN lft || rgt
                 ELSE left(acc, length(acc) - length(lft)) || lft || rgt END
            ELSE acc || ' ' || x END)"""
    rounds = []
    for k in range(1, _BPE_MERGES + 1):
        prev = f"m{k - 1}"
        rounds.append(
            f"""p{k} AS (
  SELECT l[i] AS lft, l[i + 1] AS rgt, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (SELECT freq, string_split(s, ' ') AS l FROM {prev}) t,
       UNNEST(generate_series(1, len(l) - 1)) AS u(i)
  GROUP BY 1, 2
),
b{k} AS (SELECT lft, rgt, cnt FROM p{k} ORDER BY cnt DESC, lft, rgt LIMIT 1)"""
        )
        if k < _BPE_MERGES:
            rounds.append(
                f"""m{k} AS (
  SELECT word, freq,{fold} AS s
  FROM {prev}, b{k}
)"""
            )
    legs = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS INTEGER) AS step, lft AS \"left\","
        f" rgt AS \"right\", cnt AS pair_count FROM b{k}"
        for k in range(1, _BPE_MERGES + 1)
    )
    body = ",\n".join(rounds)
    return f"""
WITH w AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (
    SELECT unnest(string_split_regex(
             regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+')) AS word
    FROM documents
    WHERE regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g') <> ''
  )
  GROUP BY 1
),
m0 AS (
  SELECT word, freq, array_to_string(string_split(word, ''), ' ') AS s FROM w
),
{body}
{legs}
"""


# ---------------------------------------------------------------------------
# q144 — STAGED (written r15, unregistered; the r17 candidate per the
# ledger): BPE ENCODE — the apply side of the tokenizer family, and
# the first oracle path over the r15 Arrow kernel (greedy-minimum-rank
# with a broadcast rank table, proven token-identical to the
# fold-chain spec in tests/test_bpe.py).  Train the staged-q143
# 8-rule table, encode every document, and emit (doc_id,
# n_bpe_tokens, encoded = space-joined tokens) — the DuckDB oracle
# re-derives the SAME 8 rules (the q143 CTE chain), folds each
# vocabulary word through all 8 rounds, and reassembles documents by
# word position, so the driver hash proves the full encode, token for
# token, through the scale kernel.
# ---------------------------------------------------------------------------
def q144_bpe_encode(spark, sf_dir):
    from cloud_native_medical_data_etl_pipeline_spark.operators.bpe import (
        apply_bpe_merges,
        train_bpe_merges,
    )

    docs = _t(spark, sf_dir, "documents")
    merges = [
        (r["left"], r["right"])
        for r in train_bpe_merges(docs, num_merges=_BPE_MERGES)
        .orderBy("step")
        .collect()
    ]
    enc = apply_bpe_merges(docs, merges)
    return enc.select(
        "doc_id",
        "n_bpe_tokens",
        F.array_join("tokens", " ").alias("encoded"),
    )


def _q144_sql() -> str:
    # the q143 construction minus its final-round early-stop: encode
    # needs the vocabulary AFTER all 8 folds (m8), so every round
    # k=1..8 emits both b_k and m_k.  Each fold joins bpad_k — an
    # AGGREGATE over the argmax (max over <=1 row), which always
    # yields exactly one row: a NULL rule when the corpus exhausted
    # its mergeable pairs before round 8 (train_bpe_merges breaks
    # early), making that round an identity rebuild instead of a
    # cross-join annihilation that would empty m8 and zero every
    # document (r15 review finding).  The aggregate form matters: a
    # UNION ALL + scalar COUNT(*) pad re-referenced b_k and sent
    # DuckDB's CTE evaluation exponential (~13 CPU-min at sf0.001).
    fold = """
         list_reduce(string_split(s, ' '), (acc, x) -> CASE
            WHEN (acc = lft OR ends_with(acc, ' ' || lft)) AND x = rgt
            THEN CASE WHEN acc = lft THEN lft || rgt
                 ELSE left(acc, length(acc) - length(lft)) || lft || rgt END
            ELSE acc || ' ' || x END)"""
    rounds = []
    for k in range(1, _BPE_MERGES + 1):
        prev = f"m{k - 1}"
        rounds.append(
            f"""p{k} AS (
  SELECT l[i] AS lft, l[i + 1] AS rgt, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (SELECT freq, string_split(s, ' ') AS l FROM {prev}) t,
       UNNEST(generate_series(1, len(l) - 1)) AS u(i)
  GROUP BY 1, 2
),
b{k} AS (SELECT lft, rgt, cnt FROM p{k} ORDER BY cnt DESC, lft, rgt LIMIT 1),
bpad{k} AS (SELECT max(lft) AS lft, max(rgt) AS rgt FROM b{k}),
m{k} AS MATERIALIZED (
  SELECT word, freq,{fold} AS s
  FROM {prev}, bpad{k}
)"""
        )
    body = ",\n".join(rounds)
    return f"""
WITH w AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (
    SELECT unnest(string_split_regex(
             regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+')) AS word
    FROM documents
    WHERE regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g') <> ''
  )
  GROUP BY 1
),
m0 AS (
  SELECT word, freq, array_to_string(string_split(word, ''), ' ') AS s FROM w
),
{body},
docw AS (
  SELECT doc_id, u.i AS pos, l[u.i] AS word
  FROM (
    SELECT doc_id, string_split_regex(
             regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+') AS l
    FROM documents
    WHERE regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$', '', 'g') <> ''
  ) t, UNNEST(generate_series(1, len(l))) AS u(i)
),
agg AS (
  SELECT d.doc_id,
         CAST(SUM(len(string_split(m.s, ' '))) AS BIGINT) AS n,
         string_agg(m.s, ' ' ORDER BY d.pos) AS enc
  FROM docw d JOIN m{_BPE_MERGES} m USING (word)
  GROUP BY 1
)
SELECT doc_id,
       COALESCE(a.n, CAST(0 AS BIGINT)) AS n_bpe_tokens,
       COALESCE(a.enc, '') AS encoded
FROM documents LEFT JOIN agg a USING (doc_id)
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the containment-enrichment theta-join (reference J1)
    on sf0.001."""
    return q02_containment_enrich(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ROTATION CONTRACT (see SURVEY.md §8.3): the driver records rows
    # for exactly the first 50 registered queries per round; the
    # registry holds 148.  Each round's first-50 window is chosen so
    # that consecutive rounds jointly cover every query green and no
    # query's evidence goes more than 3 rounds stale.  The window
    # below is verified mechanically by tools/rotation_check.py
    # (pytest: tests/test_rotation.py) against every CORRECTNESS file.
    #
    # Round 17 window — the r16 ledger's pre-commitment
    # (tools/next_window.json, committed r16, verified by
    # rotation_check --simulate-next), executed verbatim:
    #   * slots 1-48: the 48 r14 greens at the staleness ceiling
    #     (rotation_check --due reproduces this list from the
    #     CORRECTNESS files alone);
    #   * slot 49: q144_bpe_encode — the ONE planned r17
    #     registration (BPE ENCODE, the apply side of the tokenizer
    #     family; staged + value-exact at 3 SFs since r15; first
    #     driver evidence for the merge-count-independent arrow
    #     kernel end-to-end);
    #   * slot 50: q95_weighted_sample, the oldest r15 green,
    #     smoothing r18 to 49 due / 50 slots.
    # Tail (51+) is ordered so r18 inherits a solved schedule: the 49
    # remaining r15 greens due r18 lead, then the 50 spent-r16-window
    # queries (due r19).  The r18 window is PRE-COMMITTED in
    # tools/next_window.json (49 due + q110, the first r16 green, as
    # the fill) and verified by rotation_check --simulate-next.
    # Ledger: SURVEY.md §8.3.
    return {
        # --- r17 window slots 1-48: the 48 r14 greens at the
        # staleness ceiling (rotation_check --due, verbatim) ---
        "q13_event_counts": q13_event_counts,
        "q14_hourly_windows": q14_hourly_windows,
        "q16_fingerprint": q16_fingerprint,
        "q20_embedding_near_dups": q20_embedding_near_dups,
        "q20b_embedding_near_dups_hi": q20b_embedding_near_dups_hi,
        "q21_age_bins": q21_age_bins,
        "q22_simhash_pairs": q22_simhash_pairs,
        "q26_anti_join": q26_anti_join,
        "q32_percentiles": q32_percentiles,
        "q33_pivot_activity": q33_pivot_activity,
        "q34_daily_active_users": q34_daily_active_users,
        "q42_json_props": q42_json_props,
        "q50_top_orders_per_priority": q50_top_orders_per_priority,
        "q51_event_navigation": q51_event_navigation,
        "q52_daily_activity_full_outer": q52_daily_activity_full_outer,
        "q53_grouping_sets": q53_grouping_sets,
        "q82_mad_outliers": q82_mad_outliers,
        "q83_fuzzy_linkage": q83_fuzzy_linkage,
        "q84_snapshot_diff": q84_snapshot_diff,
        "q85_rolling_zscore": q85_rolling_zscore,
        "q86_incremental_neardup": q86_incremental_neardup,
        "q87_mutual_nn": q87_mutual_nn,
        "q88_range_lookup": q88_range_lookup,
        "q89_cooccurrence": q89_cooccurrence,
        "q90_hybrid_retrieval": q90_hybrid_retrieval,
        "q02_containment_enrich": q02_containment_enrich,
        "q08_duplicate_rows": q08_duplicate_rows,
        "q12_topk_orders": q12_topk_orders,
        "q17_minhash_near_dups": q17_minhash_near_dups,
        "q18_ngram_jaccard": q18_ngram_jaccard,
        "q19_cosine_topk": q19_cosine_topk,
        "q25_streaming_hourly": q25_streaming_hourly,
        "q27_top_revenue": q27_top_revenue,
        "q28_rollup_revenue": q28_rollup_revenue,
        "q29_asof_attribution": q29_asof_attribution,
        "q23_ivf_topk": q23_ivf_topk,
        "q126_ivf_append": q126_ivf_append,
        "q136_kcenter_select": q136_kcenter_select,
        "q30_session_stats": q30_session_stats,
        "q31_curated_corpus": q31_curated_corpus,
        "q140_lake_roundtrip": q140_lake_roundtrip,
        "q141_bm25_indexed": q141_bm25_indexed,
        "q91_unpivot_metrics": q91_unpivot_metrics,
        "q92_quantile_buckets": q92_quantile_buckets,
        "q93_scd2_intervals": q93_scd2_intervals,
        "q94_transitions": q94_transitions,
        "q63_pack_sequences": q63_pack_sequences,
        "q64_profile": q64_profile,
        # --- slot 49: the ONE planned r17 registration ---
        "q144_bpe_encode": q144_bpe_encode,
        # --- slot 50: the pre-committed fill (oldest r15 green;
        # smooths r18 to 49 due / 50 slots) ---
        "q95_weighted_sample": q95_weighted_sample,
        # --- tail (51+): the remaining 49 r15 greens — they hit the
        # ceiling at r18 and lead the PRE-COMMITTED r18 window in
        # tools/next_window.json ---
        "q96_hard_negatives": q96_hard_negatives,
        "q97_cdc_apply": q97_cdc_apply,
        "q98_source_similarity": q98_source_similarity,
        "q99_winsorize": q99_winsorize,
        "q100_skew_report": q100_skew_report,
        "q101_decay_attribution": q101_decay_attribution,
        "q102_chi_square": q102_chi_square,
        "q103_kl_drift": q103_kl_drift,
        "q104_embedding_dim_stats": q104_embedding_dim_stats,
        "q105_top_paths": q105_top_paths,
        "q106_length_histogram": q106_length_histogram,
        "q24_multimodal_features": q24_multimodal_features,
        "q07_quality_metrics": q07_quality_metrics,
        "q81_salted_join": q81_salted_join,
        "q35_cube_flags": q35_cube_flags,
        "q36_big_spenders": q36_big_spenders,
        "q37_event_followups": q37_event_followups,
        "q38_above_avg_orders": q38_above_avg_orders,
        "q39_rolling_revenue": q39_rolling_revenue,
        "q40_sliding_windows": q40_sliding_windows,
        "q41_streaming_dedup": q41_streaming_dedup,
        "q43_hash_split": q43_hash_split,
        "q44_customer_roster": q44_customer_roster,
        "q45_token_topk": q45_token_topk,
        "q46_segment_set_ops": q46_segment_set_ops,
        "q47_regional_supplier_volume": q47_regional_supplier_volume,
        "q48_order_line_arrays": q48_order_line_arrays,
        "q49_union_by_name": q49_union_by_name,
        "q54_sql_surface": q54_sql_surface,
        "q55_streaming_sessions": q55_streaming_sessions,
        "q56_stratified_sample": q56_stratified_sample,
        "q58_segment_spend_tiers": q58_segment_spend_tiers,
        "q60_contamination": q60_contamination,
        "q61_cap_per_group": q61_cap_per_group,
        "q62_resample_fill": q62_resample_fill,
        "q65_chunk_documents": q65_chunk_documents,
        "q66_unigram_quality": q66_unigram_quality,
        "q67_mix_corpora": q67_mix_corpora,
        "q68_repetition": q68_repetition,
        "q69_winnow_fingerprints": q69_winnow_fingerprints,
        "q03_exact_dedup": q03_exact_dedup,
        "q115_stream_ingest": q115_stream_ingest,
        "q124_signature_index": q124_signature_index,
        "q137_pq_adc_topk": q137_pq_adc_topk,
        "q138_ivfpq_residual_topk": q138_ivfpq_residual_topk,
        "q142_catalog_ops": q142_catalog_ops,
        "q107_bigram_surprisal": q107_bigram_surprisal,
        "q108_lexical_diversity": q108_lexical_diversity,
        "q109_quantize_embeddings": q109_quantize_embeddings,
        # --- then the spent r16 window (due r19; q110 leads — it is
        # the pre-committed r18 fill) ---
        "q110_temperature_mixture": q110_temperature_mixture,
        "q111_cluster_representatives": q111_cluster_representatives,
        "q112_char_entropy": q112_char_entropy,
        "q113_gopher_flags": q113_gopher_flags,
        "q114_stream_zscore": q114_stream_zscore,
        "q116_session_incident_overlap": q116_session_incident_overlap,
        "q117_duplication_report": q117_duplication_report,
        "q118_vocab_coverage": q118_vocab_coverage,
        "q119_mix_plan": q119_mix_plan,
        "q120_ngram_novelty": q120_ngram_novelty,
        "q121_execute_mix_plan": q121_execute_mix_plan,
        "q122_group_split": q122_group_split,
        "q123_fda_datasource_agg": q123_fda_datasource_agg,
        "q77_centroid_outliers": q77_centroid_outliers,
        "q72_semantic_dedup": q72_semantic_dedup,
        "q125_bloom_contamination": q125_bloom_contamination,
        "q127_budget_batches": q127_budget_batches,
        "q128_pii_report": q128_pii_report,
        "q129_count_min_topk": q129_count_min_topk,
        "q130_split_leakage": q130_split_leakage,
        "q131_hll_cardinality": q131_hll_cardinality,
        "q132_value_trend": q132_value_trend,
        "q133_embedding_covariance": q133_embedding_covariance,
        "q134_token_pagerank": q134_token_pagerank,
        "q135_quality_classifier": q135_quality_classifier,
        "q57_dedup_clusters": q57_dedup_clusters,
        "q59_redact_pii": q59_redact_pii,
        "q63b_pack_invariants": q63b_pack_invariants,
        "q64b_profile_exact": q64b_profile_exact,
        "q70_winnow_overlap": q70_winnow_overlap,
        "q71_bm25_topk": q71_bm25_topk,
        "q73_span_dedup": q73_span_dedup,
        "q74_tfidf_terms": q74_tfidf_terms,
        "q75_funnel": q75_funnel,
        "q76_cohort_retention": q76_cohort_retention,
        "q78_stream_static_enrich": q78_stream_static_enrich,
        "q79_batch_retrieval": q79_batch_retrieval,
        "q80_stream_stream_join": q80_stream_stream_join,
        "q123b_fda_retry_scan": q123b_fda_retry_scan,
        "q25b_backfill_drain": q25b_backfill_drain,
        "q139_stream_upsert": q139_stream_upsert,
        "q01_pricing_summary": q01_pricing_summary,
        "q04_size_binning": q04_size_binning,
        "q05_phase_ladder": q05_phase_ladder,
        "q06_latest_event_per_user": q06_latest_event_per_user,
        "q09_severity_weighted": q09_severity_weighted,
        "q15_text_stats": q15_text_stats,
        "q143_bpe_merges": q143_bpe_merges,
        "q10_ship_delay": q10_ship_delay,
        "q11_normalize_project": q11_normalize_project,
    }

def oracle_sql() -> dict[str, str]:
    return {
        "q01_pricing_summary": Q01_SQL,
        "q02_containment_enrich": Q02_SQL,
        "q03_exact_dedup": Q03_SQL,
        "q04_size_binning": Q04_SQL,
        "q05_phase_ladder": Q05_SQL,
        "q06_latest_event_per_user": Q06_SQL,
        "q07_quality_metrics": Q07_SQL,
        "q08_duplicate_rows": Q08_SQL,
        "q09_severity_weighted": Q09_SQL,
        "q10_ship_delay": Q10_SQL,
        "q11_normalize_project": Q11_SQL,
        "q12_topk_orders": Q12_SQL,
        "q13_event_counts": Q13_SQL,
        "q14_hourly_windows": Q14_SQL,
        "q15_text_stats": Q15_SQL,
        "q16_fingerprint": Q16_SQL,
        "q17_minhash_near_dups": _mh_sql(),
        "q18_ngram_jaccard": Q18_SQL,
        "q19_cosine_topk": Q19_SQL,
        "q20_embedding_near_dups": _emb_sql(),
        "q20b_embedding_near_dups_hi": _emb_hi_sql(),
        "q21_age_bins": Q21_SQL,
        "q22_simhash_pairs": _simhash_sql(),
        "q23_ivf_topk": Q23_SQL,
        "q24_multimodal_features": _mm_sql(),
        "q25_streaming_hourly": Q25_SQL,
        "q25b_backfill_drain": Q25B_SQL,
        "q26_anti_join": Q26_SQL,
        "q27_top_revenue": Q27_SQL,
        "q28_rollup_revenue": Q28_SQL,
        "q29_asof_attribution": Q29_SQL,
        "q30_session_stats": Q30_SQL,
        "q31_curated_corpus": _q31_sql(),
        "q32_percentiles": Q32_SQL,
        "q33_pivot_activity": Q33_SQL,
        "q34_daily_active_users": Q34_SQL,
        "q35_cube_flags": Q35_SQL,
        "q36_big_spenders": Q36_SQL,
        "q37_event_followups": Q37_SQL,
        "q38_above_avg_orders": Q38_SQL,
        "q39_rolling_revenue": Q39_SQL,
        "q40_sliding_windows": Q40_SQL,
        "q41_streaming_dedup": Q41_SQL,
        "q42_json_props": Q42_SQL,
        "q43_hash_split": Q43_SQL,
        "q44_customer_roster": Q44_SQL,
        "q45_token_topk": Q45_SQL,
        "q46_segment_set_ops": Q46_SQL,
        "q47_regional_supplier_volume": Q47_SQL,
        "q48_order_line_arrays": Q48_SQL,
        "q49_union_by_name": Q49_SQL,
        "q50_top_orders_per_priority": Q50_SQL,
        "q51_event_navigation": Q51_SQL,
        "q52_daily_activity_full_outer": Q52_SQL,
        "q53_grouping_sets": Q53_SQL,
        "q54_sql_surface": Q54_SQL,
        "q55_streaming_sessions": Q55_SQL,
        "q56_stratified_sample": _strata_sql(),
        "q57_dedup_clusters": _cc_sql(),
        "q58_segment_spend_tiers": Q58_SQL,
        "q59_redact_pii": Q59_SQL,
        "q60_contamination": Q60_SQL,
        "q61_cap_per_group": Q61_SQL,
        "q62_resample_fill": Q62_SQL,
        "q65_chunk_documents": Q65_SQL,
        "q66_unigram_quality": Q66_SQL,
        "q67_mix_corpora": _mix_sql(),
        "q68_repetition": _rep_sql(),
        "q69_winnow_fingerprints": _winnow_sql(),
        "q70_winnow_overlap": _winnow_overlap_sql(),
        "q63b_pack_invariants": Q63B_SQL,
        "q64b_profile_exact": _profile_exact_sql(),
        "q71_bm25_topk": _bm25_sql(),
        "q72_semantic_dedup": _semantic_dedup_sql(),
        "q73_span_dedup": _span_dedup_sql(),
        "q74_tfidf_terms": _tfidf_sql(),
        "q75_funnel": _funnel_sql(),
        "q76_cohort_retention": _COHORT_SQL,
        "q77_centroid_outliers": _CENTROID_OUTLIER_SQL,
        "q78_stream_static_enrich": Q78_SQL,
        "q79_batch_retrieval": Q79_SQL,
        "q80_stream_stream_join": Q80_SQL,
        "q81_salted_join": Q81_SQL,
        "q82_mad_outliers": Q82_SQL,
        "q83_fuzzy_linkage": Q83_SQL,
        "q84_snapshot_diff": Q84_SQL,
        "q85_rolling_zscore": Q85_SQL,
        "q86_incremental_neardup": _mh_join_sql(),
        "q87_mutual_nn": Q87_SQL,
        "q88_range_lookup": Q88_SQL,
        "q89_cooccurrence": Q89_SQL,
        "q90_hybrid_retrieval": _rrf_sql(),
        "q91_unpivot_metrics": Q91_SQL,
        "q92_quantile_buckets": Q92_SQL,
        "q93_scd2_intervals": Q93_SQL,
        "q94_transitions": Q94_SQL,
        "q95_weighted_sample": Q95_SQL,
        "q96_hard_negatives": Q96_SQL,
        "q97_cdc_apply": Q97_SQL,
        "q98_source_similarity": Q98_SQL,
        "q99_winsorize": Q99_SQL,
        "q100_skew_report": Q100_SQL,
        "q101_decay_attribution": Q101_SQL,
        "q102_chi_square": Q102_SQL,
        "q103_kl_drift": Q103_SQL,
        "q104_embedding_dim_stats": Q104_SQL,
        "q105_top_paths": Q105_SQL,
        "q106_length_histogram": Q106_SQL,
        "q107_bigram_surprisal": Q107_SQL,
        "q108_lexical_diversity": Q108_SQL,
        "q109_quantize_embeddings": Q109_SQL,
        "q110_temperature_mixture": Q110_SQL,
        "q111_cluster_representatives": _q111_sql(),
        "q112_char_entropy": Q112_SQL,
        "q113_gopher_flags": _q113_sql(),
        "q114_stream_zscore": Q114_SQL,
        "q115_stream_ingest": _q115_sql(),
        "q116_session_incident_overlap": Q116_SQL,
        "q117_duplication_report": _q117_sql(),
        "q118_vocab_coverage": Q118_SQL,
        "q119_mix_plan": Q119_SQL,
        "q120_ngram_novelty": Q120_SQL,
        "q121_execute_mix_plan": Q121_SQL,
        "q122_group_split": Q122_SQL,
        "q123_fda_datasource_agg": Q123_SQL,
        "q124_signature_index": _q124_sql(),
        "q125_bloom_contamination": _q125_sql(),
        "q126_ivf_append": _q126_sql(),
        "q127_budget_batches": Q127_SQL,
        "q128_pii_report": Q128_SQL,
        "q129_count_min_topk": _q129_sql(),
        "q130_split_leakage": _q130_sql(),
        "q131_hll_cardinality": _q131_sql(),
        "q132_value_trend": _q132_sql(),
        "q133_embedding_covariance": Q133_SQL,
        "q134_token_pagerank": _q134_sql(),
        "q135_quality_classifier": _q135_sql(),
        "q136_kcenter_select": _q136_sql(),
        "q137_pq_adc_topk": _q137_sql(),
        "q138_ivfpq_residual_topk": _q138_sql(),
        "q139_stream_upsert": Q139_SQL,
        "q123b_fda_retry_scan": Q123B_SQL,
        "q140_lake_roundtrip": Q140_SQL,
        "q141_bm25_indexed": _q141_sql(),
        # r14: the last two rows-only registrations became value-exact.
        # q63 oracles the deterministic shelf packer, q64 the
        # md5-register profiler; the non-deterministic default kernels
        # (FFD bin packing, JVM HLL++/GK sketches) stay hash-evidenced
        # through their q63b/q64b invariant companions.
        "q63_pack_sequences": Q63_SQL,
        "q64_profile": _q64_sql(),
        # r15: S12's first oracle row — catalog/metadata answers on a
        # tempdir Hive lake are pure functions of the events data.
        "q142_catalog_ops": Q142_SQL,
        # q143 (registered r16, the round's ONE planned registration):
        # the DuckDB oracle unrolls all 8 merge rounds as CTEs —
        # per-round pair-count + deterministic argmax + list_reduce
        # fold — so the hash proves the full merge SEQUENCE.
        "q143_bpe_merges": _q143_sql(),
        "q144_bpe_encode": _q144_sql(),
    }
