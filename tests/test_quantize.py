"""int8 embedding quantization + temperature mixture weights."""

import pytest
from pyspark.sql import functions as F

from cloud_native_medical_data_etl_pipeline_spark.operators.quantize import (
    dequantize_int8,
    quantize_embeddings_int8,
)

from conftest import ORACLE_SF_DIR, SF_0_01_DIR


def test_quantize_hand_computed(spark):
    df = spark.createDataFrame(
        [
            (1, [127.0, -127.0, 0.0, 63.5]),  # scale exactly 1.0
            (2, [0.0, 0.0, 0.0, 0.0]),        # all-zero -> zeros, no NaN
            (3, [1.0, -0.5, 0.25, 0.125]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in quantize_embeddings_int8(df).collect()}
    r1 = out[1]
    assert r1["scale"] == 1.0
    assert r1["qvec"] == [127, -127, 0, 64]  # 63.5 rounds away from zero
    r2 = out[2]
    assert r2["scale"] == 0.0
    assert r2["qvec"] == [0, 0, 0, 0]
    assert r2["mean_abs_err"] == 0.0
    r3 = out[3]
    assert r3["scale"] == pytest.approx(1.0 / 127.0, abs=1e-6)  # 6dp output
    assert r3["qvec"][0] == 127
    assert all(-127 <= q <= 127 for q in r3["qvec"])


def test_quantize_roundtrip_error_bound(spark):
    # reconstruction error is bounded by scale/2 per element by
    # construction of round(); verify on real data and via dequantize
    emb = spark.read.parquet(f"{ORACLE_SF_DIR}/embeddings.parquet")
    q = quantize_embeddings_int8(emb)
    bad = q.where(
        (F.col("scale") > 0) & (F.col("mean_abs_err") > F.col("scale") / 2 + 1e-9)
    ).count()
    assert bad == 0

    recon = q.select("vec_id", "scale", "qvec").select(
        "vec_id", dequantize_int8().alias("approx")
    )
    joined = recon.join(
        emb.select("vec_id", "embedding"), "vec_id"
    ).select(
        F.aggregate(
            F.zip_with(
                "approx",
                F.transform("embedding", lambda x: x.cast("double")),
                lambda a, b: F.abs(a - b),
            ),
            F.lit(0.0),
            lambda acc, e: acc + e,
        ).alias("l1")
    )
    max_l1 = joined.agg(F.max("l1")).first()[0]
    # 64 dims, each off by at most scale/2; scales here are ~1e-2
    assert max_l1 < 64 * 0.05


def test_temperature_weights_limits(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators.curate import (
        temperature_weights,
    )

    df = spark.createDataFrame(
        [("a",)] * 80 + [("b",)] * 16 + [("c",)] * 4, "source string"
    )
    # tau=1 reproduces natural proportions; sample_factor == 1
    nat = {r["source"]: r for r in temperature_weights(df, tau=1.0).collect()}
    assert nat["a"]["raw_share"] == nat["a"]["temp_share"] == 0.8
    assert all(r["sample_factor"] == 1.0 for r in nat.values())
    # tau=0 is uniform over sources
    uni = {r["source"]: r for r in temperature_weights(df, tau=0.0).collect()}
    assert all(r["temp_share"] == pytest.approx(1 / 3, abs=1e-6) for r in uni.values())
    # 0 < tau < 1 lifts the rare source, damps the dominant one
    mid = {r["source"]: r for r in temperature_weights(df, tau=0.5).collect()}
    assert mid["c"]["sample_factor"] > 1.0 > mid["a"]["sample_factor"]
    # shares always sum to 1
    assert sum(r["temp_share"] for r in mid.values()) == pytest.approx(1.0, abs=1e-5)


def test_execute_mix_plan_expectation_and_determinism(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators.curate import (
        execute_mix_plan,
        mix_plan,
    )
    from pyspark.sql import functions as F

    rows = [(i, "big", "w " * 90) for i in range(100)] + [
        (1000 + i, "small", "w " * 10) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = execute_mix_plan(df, token_budget=10_000, tau=0.5)
    plan = {
        r["source"]: r for r in mix_plan(df, 10_000, tau=0.5).collect()
    }
    got = (
        out.groupBy("source")
        .agg(F.sum("n_repeats").alias("r"), F.min("n_repeats").alias("lo"),
             F.max("n_repeats").alias("hi"))
        .collect()
    )
    for row in got:
        p = plan[row["source"]]
        import math
        # per-doc repeats bracket the epoch factor
        assert row["lo"] >= math.floor(p["epochs"])
        assert row["hi"] <= math.floor(p["epochs"]) + 1
        # realized repeats track the planned epochs in expectation
        # (md5 uniform; 100 docs -> a few % tolerance)
        assert abs(row["r"] / 100 - p["epochs"]) < 0.15

    # deterministic across partition layouts
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, execute_mix_plan(df.repartition(7), 10_000, tau=0.5).collect()))
    assert a == b


def test_hash_split_group_integrity(spark):
    from pyspark.sql import functions as F

    from cloud_native_medical_data_etl_pipeline_spark.operators.curate import (
        hash_split_by_group,
    )

    ev = spark.read.parquet(f"{SF_0_01_DIR}/events.parquet")
    out = hash_split_by_group(ev, "user_id")
    # THE invariant: every user appears in exactly one split
    leaky = (
        out.groupBy("user_id")
        .agg(F.count_distinct("split").alias("k"))
        .where(F.col("k") > 1)
        .count()
    )
    assert leaky == 0
    # fractions roughly respected at the USER grain
    per = {r["split"]: r["n"] for r in
           out.groupBy("split").agg(F.count_distinct("user_id").alias("n")).collect()}
    total = sum(per.values())
    assert 0.7 < per["train"] / total < 0.9
    # salt re-rolls membership but preserves integrity
    out2 = hash_split_by_group(ev, "user_id", salt="exp2")
    moved = (
        out.select("user_id", "split").distinct().withColumnRenamed("split", "a")
        .join(out2.select("user_id", "split").distinct().withColumnRenamed("split", "b"), "user_id")
        .where(F.col("a") != F.col("b"))
        .count()
    )
    assert moved > 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="sum to 1"):
        hash_split_by_group(ev, "user_id", fractions={"a": 0.5, "b": 0.2})
