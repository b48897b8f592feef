"""IVF-PQ composition (operators/quantize.py build_ivfpq_index /
ivfpq_topk_indexed): cell-pruned ADC over a persisted code table —
the 100 TB ANN layout (IVF prunes partitions, PQ shrinks the scan)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cloud_native_medical_data_etl_pipeline_spark.operators._kmeans_np import (
    round_spark,
)
from cloud_native_medical_data_etl_pipeline_spark.operators.quantize import (
    build_ivfpq_index,
    ivfpq_topk_indexed,
    pq_adc_topk,
    pq_encode,
    pq_train,
)

from conftest import ORACLE_SF_DIR, distributed_loops


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(
        f"{ORACLE_SF_DIR}/embeddings.parquet"
    )


@pytest.fixture(scope="module")
def index_path(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivfpq") / "idx")
    build_ivfpq_index(
        emb, path, num_cells=8, train_iters=1, m=4, k=8, pq_iters=2
    )
    return path


def test_index_layout(spark, index_path, emb):
    rows = spark.read.parquet(index_path)
    assert set(rows.columns) == {"key", "pq_code", "cell_id"}
    assert rows.count() == emb.count()
    cells = spark.read.parquet(f"{index_path}/_ivf_centroids")
    assert cells.count() == 8
    books = spark.read.parquet(f"{index_path}/_pq_codebooks")
    assert books.count() == 4 * 8  # m * k
    # codes in range
    bad = rows.where(
        F.exists("pq_code", lambda c: (c < 0) | (c >= 8))
    ).count()
    assert bad == 0


def test_full_probe_equals_flat_adc(spark, index_path, emb):
    # nprobe = num_cells: cell pruning removes nothing, so the result
    # must equal pq_adc_topk over the same codes + codebooks
    q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    got = ivfpq_topk_indexed(spark, index_path, q, k=10, nprobe=8).collect()
    brows = spark.read.parquet(f"{index_path}/_pq_codebooks").collect()
    books = [[None] * 8 for _ in range(4)]
    for r in brows:
        books[r["s"]][r["code"]] = [float(x) for x in r["codeword"]]
    flat = pq_adc_topk(
        spark.read.parquet(index_path).select("key", "pq_code"),
        books,
        q,
        k=10,
    ).collect()
    assert [(r["key"], r["adc_dist"]) for r in got] == [
        (r["key"], r["adc_dist"]) for r in flat
    ]


def test_pruned_probe_scans_only_probed_cells(spark, index_path, emb):
    q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    df = ivfpq_topk_indexed(spark, index_path, q, k=5, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the cell_id filter must reach the scan as a partition filter,
    # not a post-scan Filter over all partitions
    assert "PartitionFilters: [cell_id" in plan
    # and the scan reads ONLY the code column — the float corpus is
    # never touched at query time (the whole point of PQ)
    assert "embedding" not in plan
    rows = df.collect()
    assert 0 < len(rows) <= 5
    ds = [(r["adc_dist"], r["key"]) for r in rows]
    assert ds == sorted(ds)


def test_codes_match_direct_encode(spark, index_path, emb):
    # the persisted codes must be exactly pq_encode against the
    # persisted codebooks (assignment is a pure function of both)
    brows = spark.read.parquet(f"{index_path}/_pq_codebooks").collect()
    books = [[None] * 8 for _ in range(4)]
    for r in brows:
        books[r["s"]][r["code"]] = [float(x) for x in r["codeword"]]
    direct = {
        r["key"]: list(r["pq_code"])
        for r in pq_encode(emb, books).collect()
    }
    stored = {
        r["key"]: list(r["pq_code"])
        for r in spark.read.parquet(index_path).collect()
    }
    assert stored == direct


def test_l2_metric_consistency_with_varying_norms(spark, tmp_path):
    # two clusters in the SAME direction at radii ~1 and ~100: cosine
    # cannot tell them apart, squared L2 can.  Cell membership and
    # probing are both L2, so an nprobe=1 query from either cluster
    # must stay inside its own radius band — a cosine-pruned probe
    # would be direction-blind here and could return the wrong band.
    rows = [(i, [1.0 + i * 0.01, 0.01 * i]) for i in range(10)]
    rows += [(100 + i, [100.0 + i * 0.01, 0.01 * i]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "idx")
    build_ivfpq_index(
        df, path, num_cells=2, train_iters=1, m=2, k=4, pq_iters=2
    )
    near = ivfpq_topk_indexed(
        spark, path, [1.05, 0.05], k=5, nprobe=1
    ).collect()
    far = ivfpq_topk_indexed(
        spark, path, [100.05, 0.05], k=5, nprobe=1
    ).collect()
    assert near and all(r["key"] < 100 for r in near)
    assert far and all(r["key"] >= 100 for r in far)


def test_build_tolerates_null_embeddings(spark, tmp_path):
    # a NULL embedding among the smallest keys must not crash centroid
    # init — the builder drops NULLs once up front
    rows = [(0, None), (1, [0.0, 0.0]), (2, [1.0, 1.0]), (3, [2.0, 0.0]),
            (4, [0.5, 0.5]), (5, [1.5, 0.5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "idx")
    build_ivfpq_index(
        df, path, num_cells=2, train_iters=1, m=2, k=2, pq_iters=1
    )
    assert spark.read.parquet(path).count() == 5  # NULL row dropped


def _clustered_df(spark):
    rows = []
    vid = 0
    for c in ((0.0, 0.0, 0.0, 0.0), (10.0, 10.0, 10.0, 10.0)):
        for j in range(20):
            rows.append(
                (vid, [c[d] + ((vid * 7 + d) % 5) * 0.01 for d in range(4)])
            )
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_residual_encoding_near_exact_on_clustered_data(spark, tmp_path):
    # classic IVFADC: codes quantize x - centroid(cell).  With one
    # cell per cluster the residuals are the tiny within-cluster
    # offsets, so the SAME m=2/k=4 budget that leaves raw-vector codes
    # coarse makes the query's own row the unambiguous top-1.
    df = _clustered_df(spark)
    path = str(tmp_path / "idx")
    build_ivfpq_index(
        df, path, num_cells=2, train_iters=2, m=2, k=4, pq_iters=2,
        residual=True,
    )
    q = [float(x) for x in df.where("vec_id = 27").first()["embedding"]]
    top = ivfpq_topk_indexed(spark, path, q, k=40, nprobe=2).collect()
    # residual ADC noise is ~1e-2 while the clusters sit ~800 apart in
    # squared L2: the first 20 results are EXACTLY the query's cluster
    assert {r["key"] for r in top[:20]} == set(range(20, 40))
    assert top[0]["adc_dist"] < 0.05  # within-cluster offsets quantize tightly
    # pruned probe stays in the right cluster
    pruned = ivfpq_topk_indexed(spark, path, q, k=5, nprobe=1).collect()
    assert pruned and all(r["key"] >= 20 for r in pruned)


def test_residual_meta_roundtrip_and_default(spark, tmp_path):
    df = _clustered_df(spark)
    p_raw = str(tmp_path / "raw")
    p_res = str(tmp_path / "res")
    build_ivfpq_index(df, p_raw, num_cells=2, train_iters=1, m=2, k=4,
                      pq_iters=1)
    build_ivfpq_index(df, p_res, num_cells=2, train_iters=1, m=2, k=4,
                      pq_iters=1, residual=True)
    assert spark.read.parquet(f"{p_raw}/_ivfpq_meta").first()["residual"] is False
    assert spark.read.parquet(f"{p_res}/_ivfpq_meta").first()["residual"] is True
    # both indexes answer; the residual one reconstructs tighter
    q = [float(x) for x in df.where("vec_id = 5").first()["embedding"]]
    raw_top = ivfpq_topk_indexed(spark, p_raw, q, k=1, nprobe=2).collect()[0]
    res_top = ivfpq_topk_indexed(spark, p_res, q, k=1, nprobe=2).collect()[0]
    assert res_top["adc_dist"] <= raw_top["adc_dist"] + 1e-9


def test_missing_meta_sidecar_falls_back_to_raw_codes(spark, tmp_path):
    # pre-meta index layout (raw-vector codes, no _ivfpq_meta): the
    # ONLY case allowed to fall back to residual=False
    import shutil

    df = _clustered_df(spark)
    p = str(tmp_path / "idx")
    build_ivfpq_index(df, p, num_cells=2, train_iters=1, m=2, k=4,
                      pq_iters=1)
    shutil.rmtree(f"{p}/_ivfpq_meta")
    q = [float(x) for x in df.where("vec_id = 5").first()["embedding"]]
    top = ivfpq_topk_indexed(spark, p, q, k=3, nprobe=2).collect()
    assert len(top) == 3 and all(r["key"] < 20 for r in top)


def test_corrupt_meta_sidecar_raises_not_silent_fallback(spark, tmp_path):
    # a residual index whose meta read fails for any reason OTHER than
    # path-absent must raise: falling back to residual=False would rank
    # residual codes against raw-vector LUT semantics — silent garbage
    import pathlib
    import shutil

    df = _clustered_df(spark)
    p = str(tmp_path / "idx")
    build_ivfpq_index(df, p, num_cells=2, train_iters=1, m=2, k=4,
                      pq_iters=1, residual=True)
    meta = pathlib.Path(p) / "_ivfpq_meta"
    shutil.rmtree(meta)
    meta.mkdir()
    (meta / "part-00000.parquet").write_bytes(b"not a parquet file")
    q = [float(x) for x in df.where("vec_id = 5").first()["embedding"]]
    with pytest.raises(Exception):
        ivfpq_topk_indexed(spark, p, q, k=1, nprobe=2).collect()


def test_build_with_train_sample_mod_encodes_full_corpus(spark, emb, tmp_path):
    # sampled TRAINING (both centroid Lloyd scans and PQ codebooks run
    # on the 1/mod key-sample) must still ENCODE every corpus row
    p = str(tmp_path / "idx")
    build_ivfpq_index(
        emb, p, num_cells=4, train_iters=1, m=2, k=4, pq_iters=1,
        train_sample_mod=2,
    )
    rows = spark.read.parquet(p)
    n_corpus = emb.where(F.col("embedding").isNotNull()).count()
    assert rows.count() == n_corpus
    qv = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    top = ivfpq_topk_indexed(spark, p, qv, k=5, nprobe=4).collect()
    assert len(top) == 5


def test_q138_params_never_trigger_refill_on_residuals(spark, tmp_path):
    """The q138 oracle (like q137's) omits the empty-cell refill
    branch: at num_cells=4 / m=4 / k=4 over the RESIDUAL vectors of
    the driver embeddings, no Lloyd round empties a codeword.  Pin it
    as an invariant so a data/kernel change fails here, not as a
    driver hash mismatch.  Also pins that the build trains on the
    numpy trainer at this size (the spy hooks the numpy refill path)."""
    from cloud_native_medical_data_etl_pipeline_spark.operators import (
        _kmeans_np as K,
    )

    calls = []
    orig = K._refill_empty

    def spy(X, book, empties):
        calls.append(list(empties))
        return orig(X, book, empties)

    K._refill_empty = spy
    try:
        emb = spark.read.parquet(
            f"{ORACLE_SF_DIR}/embeddings.parquet"
        )
        build_ivfpq_index(
            emb, str(tmp_path / "idx"), num_cells=4, train_iters=1,
            m=4, k=4, pq_iters=2, residual=True,
        )
    finally:
        K._refill_empty = orig
    assert calls and all(not c for c in calls), calls


def test_build_engine_sql_matches_default(spark, tmp_path):
    # a build whose codebooks come from pq_train's distributed loop
    # writes the same codebook sidecars and codes as the default
    # (driver-side) build
    df = _clustered_df(spark)
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    build_ivfpq_index(df, pa, num_cells=2, train_iters=1, m=2, k=4,
                      pq_iters=2, residual=True)
    with distributed_loops():
        build_ivfpq_index(df, pb, num_cells=2, train_iters=1, m=2, k=4,
                          pq_iters=2, residual=True)
    books_a = sorted(map(tuple, spark.read.parquet(pa + "/_pq_codebooks")
                         .select("s", "code", "codeword").collect()))
    books_b = sorted(map(tuple, spark.read.parquet(pb + "/_pq_codebooks")
                         .select("s", "code", "codeword").collect()))
    assert books_a == books_b
    codes_a = sorted(map(tuple, spark.read.parquet(pa).collect()))
    codes_b = sorted(map(tuple, spark.read.parquet(pb).collect()))
    assert codes_a == codes_b


def _nearest(points, table):
    """Row-wise lowest-index argmin of the 9dp-rounded squared L2
    distance from each point to every row of ``table``, summed left to
    right over the dimensions (the documented membership/code rule)."""
    sq = (points[:, None, :] - table[None, :, :]) ** 2
    d = round_spark(np.cumsum(sq, axis=2)[:, :, -1], 9)
    return d.argmin(axis=1)  # first occurrence of the minimum


def test_append_to_ivfpq_index_matches_full_rebuild_assignment(spark, tmp_path):
    """Appending a delta batch against the stored sidecars must encode
    it exactly as the build pass would have (same cell membership,
    same codes against the fixed codebooks), for both encodings; the
    stored corpus is untouched.  The expectation restates the rule in
    NumPy from the stored centroids and codebooks: nearest centroid,
    then per subspace the nearest codeword to the vector (or to its
    residual from that centroid), ties to the lowest index."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.quantize import (
        _load_ivfpq_sidecars,
        append_to_ivfpq_index,
    )

    emb = spark.read.parquet(f"{ORACLE_SF_DIR}/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") % 10 != 0)
    batch = emb.where(F.col("vec_id") % 10 == 0)
    rows = sorted(
        (r["vec_id"], r["embedding"])
        for r in emb.where(F.col("embedding").isNotNull()).collect()
    )
    keys = [k for k, _ in rows]
    vecs = np.array([v for _, v in rows], dtype=np.float64)
    for res in (False, True):
        p = str(tmp_path / f"idx{res}")
        build_ivfpq_index(corpus, p, num_cells=4, train_iters=1, m=4,
                          k=4, pq_iters=2, residual=res)
        before = spark.read.parquet(p).count()
        append_to_ivfpq_index(spark, batch, p)
        idx = spark.read.parquet(p)
        assert idx.count() == before + batch.count()

        cents, books, residual = _load_ivfpq_sidecars(spark, p)
        assert residual is res
        centroids = np.array([cents[i] for i in sorted(cents)])
        cells = _nearest(vecs, centroids)
        src = vecs - centroids[cells] if res else vecs
        dsub = vecs.shape[1] // len(books)
        codes = np.stack(
            [
                _nearest(src[:, s * dsub:(s + 1) * dsub], np.array(book))
                for s, book in enumerate(books)
            ],
            axis=1,
        )
        want = sorted(
            (k, [int(c) for c in code], int(cell))
            for k, code, cell in zip(keys, codes, cells)
        )
        got = sorted(
            (r["key"], list(r["pq_code"]), r["cell_id"])
            for r in idx.select("key", "pq_code", "cell_id").collect()
        )
        # every row, built or appended, carries the rule's cell and code
        assert got == want, f"residual={res}"


def test_ivfpq_append_then_query_finds_appended_vector(spark, tmp_path):
    from cloud_native_medical_data_etl_pipeline_spark.operators.quantize import (
        append_to_ivfpq_index,
    )

    emb = spark.read.parquet(f"{ORACLE_SF_DIR}/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") != 0)
    batch = emb.where(F.col("vec_id") == 0)
    p = str(tmp_path / "idx")
    build_ivfpq_index(corpus, p, num_cells=4, train_iters=1, m=4, k=4,
                      pq_iters=2, residual=True)
    qv = [float(x) for x in batch.first()["embedding"]]
    assert all(
        r["key"] != 0
        for r in ivfpq_topk_indexed(spark, p, qv, k=3, nprobe=4).collect()
    )
    append_to_ivfpq_index(spark, batch, p)
    top = ivfpq_topk_indexed(spark, p, qv, k=3, nprobe=4).collect()
    assert top[0]["key"] == 0  # the appended vector retrieves itself
