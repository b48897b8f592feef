"""Tests for BM25 ranking and the semantic-dedup composite."""

import pytest
from pyspark.sql import functions as F

from cloud_native_medical_data_etl_pipeline_spark.operators import ranking
from cloud_native_medical_data_etl_pipeline_spark.operators.semdedup import (
    semantic_dedup_keep,
)

from conftest import ORACLE_SF_DIR

SF = ORACLE_SF_DIR


def _docs(spark):
    rows = [
        (1, "spark query engines shuffle data"),          # both terms once
        (2, "spark spark spark query query planning"),    # heavy tf
        (3, "completely unrelated text about nothing"),   # no terms
        (4, "query"),                                     # short doc, 1 term
        (5, None),                                        # null text
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_scores_basic(spark):
    out = {
        r["doc_id"]: r["bm25"]
        for r in ranking.bm25_scores(_docs(spark), ["spark", "query"]).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[3] == 0.0 and out[5] == 0.0
    # more matching occurrences -> higher score (same idf, higher tf)
    assert out[2] > out[1] > 0.0
    # short doc with one term still positive
    assert out[4] > 0.0


def test_bm25_topk_order_and_determinism(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    top = ranking.bm25_topk(docs, ["spark", "query", "join"], k=10).collect()
    assert len(top) == 10
    scores = [r["bm25"] for r in top]
    assert scores == sorted(scores, reverse=True)
    again = ranking.bm25_topk(docs, ["spark", "query", "join"], k=10).collect()
    assert [tuple(r) for r in top] == [tuple(r) for r in again]


def test_bm25_empty_terms_raises(spark):
    with pytest.raises(ValueError):
        ranking.bm25_scores(_docs(spark), [])


def test_semantic_dedup_drops_planted_dups(spark):
    # 6 distinct-ish base vectors + exact copies of two of them; the
    # copies (higher keys) must be dropped, originals + singletons kept
    import random

    rng = random.Random(7)
    base = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(6)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    rows += [(10, rows[0][1]), (11, rows[3][1])]  # exact dups of 0 and 3
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = {
        r["vec_id"]
        for r in semantic_dedup_keep(
            emb, threshold=0.95, num_cells=3
        ).collect()
    }
    assert 10 not in kept and 11 not in kept
    assert {0, 3}.issubset(kept)
    assert kept | {10, 11} == {0, 1, 2, 3, 4, 5, 10, 11}


def test_semantic_dedup_no_pairs_keeps_everything(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    n = emb.count()
    # threshold above the corpus max cosine -> nothing dropped
    kept = semantic_dedup_keep(emb, threshold=0.999, num_cells=4).count()
    assert kept == n


# ---------------------------------------------------------------------------
# tfidf_top_terms
# ---------------------------------------------------------------------------


def test_tfidf_top_terms_semantics(spark):
    rows = [
        (1, "alpha alpha beta common"),
        (2, "beta gamma common"),
        (3, "gamma gamma gamma common"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = ranking.tfidf_top_terms(df, top_n=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 'common' appears in every doc -> idf = ln(3/3) = 0 -> tfidf 0,
    # so it can never outrank a distinctive term
    for doc_id, rs in by_doc.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
    top1 = {d: sorted(rs, key=lambda r: r["rank"])[0]["term"] for d, rs in by_doc.items()}
    assert top1[1] == "alpha"    # tf=2, df=1
    assert top1[3] == "gamma"    # tf=3, df=2
    # doc 2: beta (tf=1, df=2) vs gamma (tf=1, df=2) tie -> term asc
    assert top1[2] == "beta"


def test_tfidf_handles_empty_and_null(spark):
    rows = [(1, "solo words here"), (2, ""), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = ranking.tfidf_top_terms(df, top_n=5).collect()
    assert {r["doc_id"] for r in out} == {1}
    # idf uses N = ALL input rows (3), not just non-empty docs
    import math
    expect = round(1 * math.log(3.0 / 1.0), 6)
    assert all(abs(r["tfidf"] - expect) < 1e-9 for r in out)


# ---------------------------------------------------------------------------
# inverted term index
# ---------------------------------------------------------------------------


def test_term_index_matches_direct_bm25(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    path = str(tmp_path / "term_index")
    ranking.build_term_index(docs, path)
    terms = ["spark", "query", "join"]
    direct = {
        r["doc_id"]: r["bm25"]
        for r in ranking.bm25_scores(docs, terms).collect()
        if r["bm25"] > 0.0
    }
    indexed = {
        r["doc"]: r["bm25"]
        for r in ranking.bm25_topk_indexed(spark, path, terms, k=10_000).collect()
    }
    # indexed path returns exactly the matching docs, same scores
    assert indexed == direct


def test_term_index_scan_prunes_partitions(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    path = str(tmp_path / "term_index")
    ranking.build_term_index(docs, path)
    df = ranking.bm25_topk_indexed(spark, path, ["spark"], k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    df.collect()


def test_term_index_empty_terms_raise(spark, tmp_path):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        ranking.bm25_topk_indexed(spark, str(tmp_path), [])


def test_q141_bm25_indexed_oracle_shape(spark):
    """The staged indexed-BM25 registration candidate (q141, written
    but deliberately unregistered in r13; r14 window slot 44): the
    stored md5-bucketed postings, the _corpus_stats sidecar, and the
    pruned fixed-term-order query path must all match DuckDB replaying
    the q71 tokenization/scoring CTEs.  Pins the staged probe + SQL
    pair so it cannot rot before its window seat."""
    import duckdb

    import __spark_entry__ as E

    sf = ORACLE_SF_DIR
    got = sorted(
        tuple(r) for r in E.q141_bm25_indexed(spark, sf).collect()
    )
    want = sorted(
        tuple(r)
        for r in duckdb.sql(
            E._q141_sql().replace(
                "FROM documents",
                f"FROM read_parquet('{sf}/documents.parquet')",
            )
        ).fetchall()
    )
    assert got == want and len(got) > 0
    legs = {t[0] for t in got}
    assert legs == {"posting", "stats", "topk"}


def test_semantic_dedup_null_embedding_survives(spark):
    """A NULL embedding among the smallest keys must not crash centroid
    init, and NULL/zero-norm rows (undefined cosine) always survive."""
    rows = [
        (0, None),
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),  # exact dup of 1 -> dropped
        (3, [0.0, 0.0, 0.0, 0.0]),  # zero norm -> undefined, kept
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = {
        r["vec_id"]
        for r in semantic_dedup_keep(emb, threshold=0.95, num_cells=2).collect()
    }
    assert kept == {0, 1, 3}


def test_term_index_all_numeric_hex_buckets(spark):
    """Regression pin for the partition-value inference bug the
    indexed-vs-direct fuzz caught at r14: a corpus whose term buckets
    ALL look Java-numeric — md5('the')[:2]='8f' parses as the float
    literal 8f -> 8.0, '73'/'98' as plain numbers — made the inferred
    bucket column a double, silently corrupting the values ('8f' ->
    8.0) so the pruned string-bucket read matched NOTHING.  The
    declared-schema read (ranking.read_term_index) bypasses inference;
    this corpus must retrieve its matched doc."""
    import shutil
    import tempfile

    from cloud_native_medical_data_etl_pipeline_spark.operators import ranking

    df = spark.createDataFrame(
        [(0, "the"), (1, "spark join")], "doc_id long, text string"
    )
    work = tempfile.mkdtemp(prefix="bm25_hexbug_")
    try:
        ranking.build_term_index(df, f"{work}/idx")
        idx = ranking.read_term_index(spark, f"{work}/idx")
        assert dict(idx.dtypes)["bucket"] == "string"
        assert set(r["bucket"] for r in idx.collect()) == {"8f", "98", "73"}
        got = {
            r["doc"]: r["bm25"]
            for r in ranking.bm25_topk_indexed(
                spark, f"{work}/idx", ["spark", "join", "absent"], k=10
            ).collect()
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
    assert set(got) == {1} and got[1] > 0
