"""Bucketed co-located join: same-key same-count buckets join with no
shuffle Exchange on either side."""

from pyspark.sql import functions as F

from cloud_native_medical_data_etl_pipeline_spark.sources import lake

from conftest import ORACLE_SF_DIR, SF_0_01_DIR


def test_bucketed_join_has_no_shuffle(spark):
    l = spark.read.parquet(f"{ORACLE_SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    o = spark.read.parquet(f"{ORACLE_SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    lake.write_bucketed(l, "bk_lineitem", "l_orderkey", num_buckets=8)
    lake.write_bucketed(o, "bk_orders", "o_orderkey", num_buckets=8)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bl = spark.table("bk_lineitem")
        bo = spark.table("bk_orders")
        joined = bl.join(bo, bl["l_orderkey"] == bo["o_orderkey"]).groupBy(
            "o_orderkey"
        ).agg(F.sum("l_quantity").alias("qty"))
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # cross-check against the unbucketed join
        plain = (
            l.join(o, l["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderkey")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        assert joined.exceptAll(plain).count() == 0
        assert plain.exceptAll(joined).count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_lineitem")
        spark.sql("DROP TABLE IF EXISTS bk_orders")


def test_clustered_write_skips_files(spark, tmp_path):
    """Range clustering must make a selective predicate touch a small
    file subset; the same predicate on a hash-shuffled layout touches
    every file (value ranges overlap everywhere)."""
    from pyspark.sql import functions as F

    from cloud_native_medical_data_etl_pipeline_spark.sources import lake

    ev = spark.read.parquet(f"{SF_0_01_DIR}/events.parquet")
    clustered = str(tmp_path / "clustered")
    scattered = str(tmp_path / "scattered")
    lake.write_clustered(ev, clustered, ["user_id"], num_files=8)
    ev.repartition(8).write.mode("overwrite").parquet(scattered)

    lo, hi = ev.agg(F.min("user_id"), F.max("user_id")).first()
    cut = lo + (hi - lo) // 10  # ~the bottom decile of the key range

    def files_touched(path):
        return (
            spark.read.parquet(path)
            .where(F.col("user_id") <= cut)
            .select(F.input_file_name())
            .distinct()
            .count()
        )

    n_clustered, n_scattered = files_touched(clustered), files_touched(scattered)
    assert n_scattered == 8  # every file holds the whole key range
    assert n_clustered <= 2  # only the low-range file(s) hold matches
    # correctness: same rows either way
    a = spark.read.parquet(clustered).where(F.col("user_id") <= cut).count()
    b = spark.read.parquet(scattered).where(F.col("user_id") <= cut).count()
    assert a == b > 0
