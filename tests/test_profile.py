"""Approximate profiler: estimates within documented error bounds,
single-scan plan shape."""

from pyspark.sql import functions as F

from cloud_native_medical_data_etl_pipeline_spark.operators.profile import (
    approx_profile,
)

from conftest import ORACLE_SF_DIR


def test_profile_estimates_within_bounds(spark):
    o = spark.read.parquet(f"{ORACLE_SF_DIR}/orders.parquet")
    prof = {r["column"]: r for r in approx_profile(
        o, ["o_custkey", "o_totalprice", "o_orderpriority"]
    ).collect()}

    n = o.count()
    exact_cust = o.select("o_custkey").distinct().count()
    got = prof["o_custkey"]
    assert got["n_rows"] == n and got["n_nulls"] == 0
    assert abs(got["approx_distinct"] - exact_cust) <= max(3, 0.06 * exact_cust)

    price = prof["o_totalprice"]
    exact_med = o.selectExpr("percentile(o_totalprice, 0.5) AS m").collect()[0]["m"]
    lo, hi = o.agg(F.min("o_totalprice"), F.max("o_totalprice")).collect()[0]
    assert price["min"] == lo and price["max"] == hi
    assert abs(price["p50"] - exact_med) <= 0.05 * (hi - lo)
    assert price["p25"] <= price["p50"] <= price["p75"]

    prio = prof["o_orderpriority"]
    assert prio["p50"] is None  # non-numeric: sketch fields null
    assert prio["approx_distinct"] >= 3


def test_profile_single_scan(spark):
    o = spark.read.parquet(f"{ORACLE_SF_DIR}/orders.parquet")
    plan = (
        approx_profile(o)._jdf.queryExecution().executedPlan().toString()
    )
    # one scan of the table, partial-agg before the exchange
    assert plan.count("FileScan parquet") == 1, plan
    assert "partial_" in plan, plan


def test_profile_tolerates_map_columns(spark):
    df = spark.createDataFrame(
        [(1, {"a": "b"}), (2, None)], "id long, m map<string,string>"
    )
    prof = {r["column"]: r for r in approx_profile(df).collect()}
    assert prof["m"]["approx_distinct"] is None
    assert prof["m"]["n_nulls"] == 1
    assert prof["id"]["approx_distinct"] == 2


def test_profile_hostile_column_names(spark):
    """Quotes, backticks, and dots in column names must not break the
    profile (the old string-built selectExpr version died on any of
    them) — names appear only as literal values in the output."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.profile import (
        approx_profile,
    )

    df = spark.range(10).selectExpr(
        "id AS `weird.name`",
        "CAST(id AS DOUBLE) AS `it's`",
        "CAST(id AS STRING) AS `back``tick`",
    )
    prof = {r["column"]: r for r in approx_profile(df).collect()}
    assert set(prof) == {"weird.name", "it's", "back`tick"}
    assert prof["weird.name"]["n_rows"] == 10
    assert prof["it's"]["p50"] is not None
    assert prof["back`tick"]["p50"] is None  # non-numeric


# ---------------------------------------------------------------------------
# profile_deterministic — the oracle-checkable profiler (q64's kernel
# since r14): md5-register HLL + hash-sampled exact quantiles.  The
# cross-engine value equality is proven by q64's DuckDB oracle; these
# tests pin the Spark-side semantics.
# ---------------------------------------------------------------------------
def test_deterministic_profile_exact_columns(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators.profile import (
        profile_deterministic,
    )

    o = spark.read.parquet(f"{ORACLE_SF_DIR}/orders.parquet")
    prof = {
        r["column"]: r
        for r in profile_deterministic(
            o, ["o_custkey", "o_totalprice", "o_orderpriority"],
            sample_key="o_orderkey",
        ).collect()
    }
    n = o.count()
    lo, hi = o.agg(F.min("o_totalprice"), F.max("o_totalprice")).collect()[0]
    got = prof["o_totalprice"]
    assert got["n_rows"] == n and got["n_nulls"] == 0
    assert got["min"] == lo and got["max"] == hi
    # hll estimate lands within the p=8 error envelope (~6.5% typical;
    # 4 sigma guard)
    exact = o.select("o_custkey").distinct().count()
    assert abs(prof["o_custkey"]["hll_distinct"] - exact) <= 0.3 * exact
    # sampled quantiles are ordered and inside [min, max]
    assert lo <= got["p25"] <= got["p50"] <= got["p75"] <= hi
    # non-numeric: quantile/min/max null, hll present
    prio = prof["o_orderpriority"]
    assert prio["p50"] is None and prio["min"] is None
    assert prio["hll_distinct"] is not None and prio["hll_distinct"] > 0


def test_deterministic_profile_is_deterministic(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators.profile import (
        profile_deterministic,
    )

    d = spark.read.parquet(f"{ORACLE_SF_DIR}/documents.parquet")
    a = sorted(map(tuple, profile_deterministic(d, sample_key="doc_id").collect()))
    b = sorted(
        map(
            tuple,
            profile_deterministic(
                d.repartition(7), sample_key="doc_id"
            ).collect(),
        )
    )
    assert a == b


def test_deterministic_profile_all_null_column(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators.profile import (
        profile_deterministic,
    )

    df = spark.createDataFrame(
        [(1, None), (2, None)], "id long, x string"
    )
    prof = {
        r["column"]: r for r in profile_deterministic(df, sample_key="id").collect()
    }
    assert prof["x"]["n_nulls"] == 2
    assert prof["x"]["hll_distinct"] == 0.0


def test_deterministic_profile_double_column_matches_duckdb(spark):
    """ADVICE r14: `_det_hash_str`'s double/decimal branch (the
    round(x*1e6) BIGINT trick) was exercised by no oracle — the
    documents table has no floating column.  Profile a double and a
    float column (float32 cast seam included) against DuckDB-computed
    expectations, with .5-boundary products where HALF_UP vs
    round-half-to-even would diverge (2.5e-6 * 1e6 == 2.5 exactly)."""
    import duckdb

    from pyspark.sql import types as T

    from cloud_native_medical_data_etl_pipeline_spark.operators.profile import (
        _det_hash_str,
        profile_deterministic,
    )

    rows = [
        (1, 2.5e-6, 0.1),     # *1e6 = 2.5  -> HALF_UP 3
        (2, -2.5e-6, 2.25),   # *1e6 = -2.5 -> away-from-zero -3
        (3, 1.5e-6, None),    # *1e6 = 1.5  -> 2 (not banker's 2? no: 2)
        (4, None, 7.5),
        (5, 3.5e-6, 0.3),     # *1e6 = 3.5  -> 4
        (6, 1.75, 0.1),       # duplicate float value for distinct
    ]
    df = spark.createDataFrame(rows, "id long, d double, f float")
    con = duckdb.connect()
    con.register("t", df.toPandas())

    # 1) the portable string form itself: Spark expression vs the
    # DuckDB expression an oracle would use, value-for-value
    got = {
        r["id"]: (r["sd"], r["sf"])
        for r in df.select(
            "id",
            _det_hash_str(F.col("d"), T.DoubleType()).alias("sd"),
            _det_hash_str(F.col("f"), T.FloatType()).alias("sf"),
        ).collect()
    }
    want = {
        i: (sd, sf)
        for i, sd, sf in con.sql(
            "SELECT id,"
            " CAST(CAST(round(d * 1e6) AS BIGINT) AS VARCHAR),"
            " CAST(CAST(round(CAST(f AS DOUBLE) * 1e6) AS BIGINT) AS VARCHAR)"
            " FROM t"
        ).fetchall()
    }
    assert got == want, (got, want)
    assert got[1][0] == "3" and got[2][0] == "-3"  # the .5 boundaries

    # 2) end-to-end: the deterministic profile's exact legs and
    # quantiles on the double column vs DuckDB (full-table ranking,
    # no sample, so the comparison is exact)
    prof = {
        r["column"]: r
        for r in profile_deterministic(
            df, cols=["d", "f"], sample_key=None
        ).collect()
    }
    exp = con.sql(
        "SELECT COUNT(*), COUNT(*) - COUNT(d),"
        " CAST(MIN(d) AS DOUBLE), CAST(MAX(d) AS DOUBLE),"
        " ROUND(quantile_cont(d, 0.50), 6) FROM t"
    ).fetchone()
    got_d = prof["d"]
    assert (
        got_d["n_rows"], got_d["n_nulls"], got_d["min"], got_d["max"],
        got_d["p50"],
    ) == exp, (dict(got_d.asDict()), exp)
    # distinct estimate must equal the register pipeline applied to
    # the SAME portable strings both engines agree on (checked above):
    # at 5 distinct non-null values the HLL estimate is a pure
    # function of those strings — cross-check it is non-null and
    # positive rather than pinning the estimator's internals here
    assert got_d["hll_distinct"] is not None and got_d["hll_distinct"] > 0
