"""Sequence-packing invariants: budget respected, exactly-once
assignment, determinism under repartitioning, and sane utilization."""

import pytest
from pyspark.sql import functions as F

from cloud_native_medical_data_etl_pipeline_spark.functions import text as X
from cloud_native_medical_data_etl_pipeline_spark.operators.packing import (
    pack_sequences,
)

from conftest import ORACLE_SF_DIR

BUDGET = 64


@pytest.fixture(scope="module")
def doc_tokens(spark):
    docs = spark.read.parquet(f"{ORACLE_SF_DIR}/documents.parquet")
    return docs.select(
        "doc_id", X.token_count("text").alias("n_tokens")
    ).persist()


def test_packs_respect_budget_and_cover_all_docs(spark, doc_tokens):
    packed = pack_sequences(doc_tokens, budget=BUDGET).persist()
    rows = packed.collect()
    assert {r["doc_id"] for r in rows} == {
        r["doc_id"] for r in doc_tokens.collect()
    }
    assert len(rows) == doc_tokens.count()  # exactly once

    per_pack = (
        packed.groupBy("pack_id")
        .agg(
            F.sum("n_tokens").alias("s"),
            F.max("pack_tokens").alias("declared"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    for p in per_pack:
        # declared total matches actual member sum
        assert p["s"] == p["declared"]
        # only oversized singletons may exceed the budget
        if p["s"] > BUDGET:
            assert p["n"] == 1
    # utilization: packing should do clearly better than one-doc-per-pack
    n_docs = doc_tokens.count()
    n_packs = len(per_pack)
    assert n_packs < n_docs * 0.8


def test_oversized_docs_get_singleton_packs(spark):
    df = spark.createDataFrame(
        [(1, 100), (2, 10), (3, 10)], "doc_id long, n_tokens long"
    )
    packed = pack_sequences(df, budget=BUDGET, num_groups=1).collect()
    by_doc = {r["doc_id"]: r for r in packed}
    big_pack = by_doc[1]["pack_id"]
    assert [r["doc_id"] for r in packed if r["pack_id"] == big_pack] == [1]
    # the two small docs share a pack
    assert by_doc[2]["pack_id"] == by_doc[3]["pack_id"]


def test_packing_deterministic_across_layouts(spark, doc_tokens):
    a = sorted(
        tuple(r)
        for r in pack_sequences(doc_tokens, budget=BUDGET, num_groups=4).collect()
    )
    b = sorted(
        tuple(r)
        for r in pack_sequences(
            doc_tokens.repartition(13), budget=BUDGET, num_groups=4
        ).collect()
    )
    assert a == b


def test_zero_token_docs_never_join_oversized_bins(spark):
    df = spark.createDataFrame(
        [(1, 100), (2, 0), (3, 0)], "doc_id long, n_tokens long"
    )
    packed = pack_sequences(df, budget=64, num_groups=1).collect()
    by_doc = {r["doc_id"]: r["pack_id"] for r in packed}
    # the oversized doc's pack stays a singleton
    assert sum(1 for p in by_doc.values() if p == by_doc[1]) == 1
    # the zero-token docs share a normal bin
    assert by_doc[2] == by_doc[3] != by_doc[1]


def test_null_token_counts_treated_as_zero(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, None)], "doc_id long, n_tokens long"
    )
    packed = pack_sequences(df, budget=64, num_groups=1).collect()
    assert {r["doc_id"] for r in packed} == {1, 2}
    assert next(r["n_tokens"] for r in packed if r["doc_id"] == 2) == 0


# ---------------------------------------------------------------------------
# pack_sequences_shelf — the deterministic concat-split packer (q63's
# oracle kernel since r14): closed-form assignment, so its invariants
# are exact equalities, not tolerance bands.
# ---------------------------------------------------------------------------
def test_shelf_exactly_once_and_conservation(spark, doc_tokens):
    from cloud_native_medical_data_etl_pipeline_spark.operators.packing import (
        pack_sequences_shelf,
    )

    packed = pack_sequences_shelf(doc_tokens, budget=BUDGET).persist()
    rows = packed.collect()
    src = {r["doc_id"]: r["n_tokens"] for r in doc_tokens.collect()}
    assert {r["doc_id"] for r in rows} == set(src)
    assert len(rows) == len(src)  # exactly once
    assert all(r["n_tokens"] == src[r["doc_id"]] for r in rows)
    # pack_tokens is the exact member sum per pack
    per = packed.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("s"), F.max("pack_tokens").alias("d"),
        F.min("pack_tokens").alias("d2"),
    ).collect()
    assert all(p["s"] == p["d"] == p["d2"] for p in per)
    packed.unpersist()


def test_shelf_closed_form_assignment(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators.packing import (
        pack_sequences_shelf,
    )

    # one group: shelf = floor(prefix_sum_before_doc / budget), docs in
    # key order — recompute by hand and compare bit-for-bit
    lens = [10, 30, 64, 5, 100, 0, 20, 64]
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(lens)], "doc_id long, n_tokens long"
    )
    got = {
        r["doc_id"]: (r["pack_id"], r["pack_tokens"])
        for r in pack_sequences_shelf(
            df, budget=BUDGET, num_groups=1
        ).collect()
    }
    start, shelves = 0, {}
    expect_shelf = {}
    for i, n in enumerate(lens):
        s = start // BUDGET
        expect_shelf[i] = s
        shelves[s] = shelves.get(s, 0) + n
        start += n
    for i in range(len(lens)):
        assert got[i] == (f"0-{expect_shelf[i]}", shelves[expect_shelf[i]]), i


def test_shelf_overflow_bounded_by_max_doc(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators.packing import (
        pack_sequences_shelf,
    )

    # concat-split semantics: a shelf may exceed the budget only via
    # its straddling last doc, so pack_tokens < budget + max_doc_len
    df = spark.createDataFrame(
        [(i, 40) for i in range(50)], "doc_id long, n_tokens long"
    )
    per = (
        pack_sequences_shelf(df, budget=BUDGET, num_groups=2)
        .groupBy("pack_id")
        .agg(F.max("pack_tokens").alias("t"))
        .collect()
    )
    assert all(p["t"] < BUDGET + 40 for p in per)


def test_shelf_deterministic_under_repartition(spark, doc_tokens):
    from cloud_native_medical_data_etl_pipeline_spark.operators.packing import (
        pack_sequences_shelf,
    )

    a = sorted(
        map(tuple, pack_sequences_shelf(doc_tokens, budget=BUDGET).collect())
    )
    b = sorted(
        map(
            tuple,
            pack_sequences_shelf(
                doc_tokens.repartition(13), budget=BUDGET
            ).collect(),
        )
    )
    assert a == b


def test_shelf_null_tokens_pack_as_zero(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators.packing import (
        pack_sequences_shelf,
    )

    df = spark.createDataFrame(
        [(1, None), (2, 10)], "doc_id long, n_tokens long"
    )
    rows = {
        r["doc_id"]: r
        for r in pack_sequences_shelf(df, budget=BUDGET, num_groups=1).collect()
    }
    assert rows[1]["n_tokens"] == 0 and rows[1]["pack_id"] is not None


def test_shelf_pack_offset_places_docs(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators.packing import (
        pack_sequences_shelf,
    )

    lens = [10, 30, 64, 5, 100, 0, 20, 64]
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(lens)], "doc_id long, n_tokens long"
    )
    got = {
        r["doc_id"]: r
        for r in pack_sequences_shelf(
            df, budget=BUDGET, num_groups=1, with_offset=True
        ).collect()
    }
    start = 0
    for i, n in enumerate(lens):
        # offset = start position modulo the budget; straddle test is
        # offset + len > budget
        assert got[i]["pack_offset"] == start % BUDGET, i
        assert got[i]["pack_id"] == f"0-{start // BUDGET}"
        start += n
    # default output schema is unchanged (q63 oracle byte-stability)
    cols = pack_sequences_shelf(df, budget=BUDGET, num_groups=1).columns
    assert cols == ["doc_id", "n_tokens", "pack_id", "pack_tokens"]


def test_shelf_null_key_yields_null_pack_id(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators.packing import (
        pack_sequences_shelf,
    )

    df = spark.createDataFrame(
        [(None, 10), (2, 10)], "doc_id long, n_tokens long"
    )
    rows = {
        r["doc_id"]: r
        for r in pack_sequences_shelf(df, budget=BUDGET, num_groups=2).collect()
    }
    # NULL key -> NULL group -> NULL pack_id (SQL || semantics), never
    # a malformed group-less id
    assert rows[None]["pack_id"] is None
    assert rows[2]["pack_id"] is not None and "-" in rows[2]["pack_id"]
