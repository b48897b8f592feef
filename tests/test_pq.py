"""Product quantization (operators/quantize.py pq_*): codebook
training, encoding, reconstruction error, and ADC retrieval."""

import math

import pytest
from pyspark.sql import functions as F

from cloud_native_medical_data_etl_pipeline_spark.operators.quantize import (
    pq_adc_topk,
    pq_encode,
    pq_reconstruct,
    pq_train,
)

from conftest import ORACLE_SF_DIR, distributed_loops


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _clustered(n_per=20, centers=((0.0, 0.0, 0.0, 0.0), (10.0, 10.0, 10.0, 10.0))):
    # two tight clusters in 4-d; PQ with m=2 subspaces must separate them
    rows = []
    vid = 0
    for ci, c in enumerate(centers):
        for j in range(n_per):
            rows.append((vid, [c[d] + ((vid * 7 + d) % 5) * 0.01 for d in range(4)]))
            vid += 1
    return rows


def test_pq_train_shapes(spark):
    df = _emb(spark, _clustered())
    books = pq_train(df, m=2, k=4, iters=2)
    assert len(books) == 2
    assert all(len(b) == 4 for b in books)
    assert all(len(c) == 2 for b in books for c in b)


def test_pq_train_rejects_indivisible_dim(spark):
    df = _emb(spark, [(1, [1.0, 2.0, 3.0])])
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(df, m=2, k=1)


def test_pq_encode_codes_in_range_and_cluster_consistent(spark):
    df = _emb(spark, _clustered())
    books = pq_train(df, m=2, k=4, iters=2)
    codes = pq_encode(df, books).collect()
    assert len(codes) == 40
    for r in codes:
        assert len(r["pq_code"]) == 2
        assert all(0 <= c < 4 for c in r["pq_code"])
    # k=4 codewords over 2 tight clusters: a correct Lloyd may SPLIT a
    # cluster across codewords (that lowers quantization error), but a
    # codeword must never straddle both clusters — per subspace the
    # code sets are disjoint
    by_cluster = {0: set(), 1: set()}
    for r in codes:
        by_cluster[0 if r["key"] < 20 else 1].add(tuple(r["pq_code"]))
    for s in range(2):
        c0 = {t[s] for t in by_cluster[0]}
        c1 = {t[s] for t in by_cluster[1]}
        assert not (c0 & c1), f"subspace {s}: codeword straddles clusters"
    # k=2 == the true cluster count: D²-sampled seeding puts one seed
    # per cluster (the far cluster carries ~all the D² mass), so every
    # member shares its cluster's single code
    books2 = pq_train(df, m=2, k=2, iters=2)
    codes2 = pq_encode(df, books2).collect()
    by2 = {0: set(), 1: set()}
    for r in codes2:
        by2[0 if r["key"] < 20 else 1].add(tuple(r["pq_code"]))
    assert len(by2[0]) == 1 and len(by2[1]) == 1
    assert by2[0] != by2[1]


def test_pq_train_pads_when_fewer_vectors_than_k(spark):
    # n=3 < k=8: remaining codewords pad with copies of codeword 0
    # (harmless under lowest-index argmin) instead of IndexError
    df = _emb(spark, [(1, [0.0, 0.0]), (2, [5.0, 5.0]), (3, [9.0, 9.0])])
    books = pq_train(df, m=1, k=8, iters=2)
    assert len(books) == 1 and len(books[0]) == 8
    codes = pq_encode(df, books).collect()
    assert {r["key"] for r in codes} == {1, 2, 3}
    assert all(0 <= r["pq_code"][0] < 8 for r in codes)
    # the 3 distinct points get 3 distinct codes
    assert len({r["pq_code"][0] for r in codes}) == 3


def test_pq_reconstruction_error_small_on_tight_clusters(spark):
    df = _emb(spark, _clustered())
    books = pq_train(df, m=2, k=4, iters=2)
    rec = pq_reconstruct(pq_encode(df, books), books)
    joined = rec.join(
        df.select(F.col("vec_id").alias("key"), "embedding"), "key"
    ).collect()
    for r in joined:
        err = math.sqrt(
            sum((a - b) ** 2 for a, b in zip(r["vec_hat"], r["embedding"]))
        )
        assert err < 0.1  # cluster spread is 0.04 per dim


def test_pq_adc_retrieves_the_right_cluster(spark):
    df = _emb(spark, _clustered())
    books = pq_train(df, m=2, k=4, iters=2)
    enc = pq_encode(df, books)
    top = pq_adc_topk(enc, books, [10.0, 10.0, 10.0, 10.0], k=10).collect()
    assert len(top) == 10
    assert all(r["key"] >= 20 for r in top)  # all from the far cluster
    # distances ascending with key tiebreak
    ds = [(r["adc_dist"], r["key"]) for r in top]
    assert ds == sorted(ds)


def test_pq_adc_rejects_dim_mismatch(spark):
    df = _emb(spark, _clustered())
    books = pq_train(df, m=2, k=4, iters=1)
    with pytest.raises(ValueError, match="query dim"):
        pq_adc_topk(pq_encode(df, books), books, [1.0, 2.0], k=3)


def test_pq_deterministic_across_partitioning(spark):
    rows = _clustered(n_per=30)
    df = _emb(spark, rows)
    b1 = pq_train(df.repartition(1), m=2, k=4, iters=2)
    b8 = pq_train(df.repartition(8), m=2, k=4, iters=2)
    assert b1 == b8
    e1 = sorted(map(tuple, pq_encode(df.repartition(1), b1).collect()))
    e8 = sorted(map(tuple, pq_encode(df.repartition(8), b8).collect()))
    assert e1 == e8


def test_pq_empty_and_null_vectors(spark):
    assert pq_train(_emb(spark, []), m=2, k=2) == []
    df = _emb(spark, [(1, None), (2, [1.0, 2.0]), (3, [3.0, 4.0])])
    books = pq_train(df, m=1, k=2, iters=1)
    codes = pq_encode(df, books).collect()
    assert {r["key"] for r in codes} == {2, 3}  # nulls dropped, not crashed


def test_pq_recall_vs_brute_force_on_real_embeddings(spark):
    emb = spark.read.parquet(f"{ORACLE_SF_DIR}/embeddings.parquet")
    books = pq_train(emb, m=8, k=16, iters=2)
    enc = pq_encode(emb, books)
    q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    approx = {r["key"] for r in pq_adc_topk(enc, books, q, k=10).collect()}
    # exact L2 top-10 via brute force
    from cloud_native_medical_data_etl_pipeline_spark.functions import vectors as V

    exact_df = emb.select(
        F.col("vec_id").alias("key"),
        F.round(
            V.sqdist(F.col("embedding"), F.array(*[F.lit(x) for x in q])), 9
        ).alias("d"),
    ).orderBy(F.col("d").asc(), F.col("key").asc()).limit(10)
    exact = {r["key"] for r in exact_df.collect()}
    recall = len(approx & exact) / 10
    assert recall >= 0.5, f"recall {recall} too low: {approx} vs {exact}"


def test_pq_train_hash_sample_mod(spark):
    emb = spark.read.parquet(f"{ORACLE_SF_DIR}/embeddings.parquet")
    # mod=1 keeps every row: identical codebooks to the unsampled path
    full = pq_train(emb, m=2, k=4, iters=1)
    mod1 = pq_train(emb, m=2, k=4, iters=1, train_sample_mod=1)
    assert mod1 == full
    # mod=4 trains on the deterministic quarter-sample: valid shapes,
    # and the full corpus still encodes against the sampled codebook
    sampled = pq_train(emb, m=2, k=4, iters=1, train_sample_mod=4)
    assert len(sampled) == 2 and all(len(b) == 4 for b in sampled)
    codes = pq_encode(emb, sampled)
    assert codes.count() == emb.count()
    # and the sample is reproducible across partition layouts
    again = pq_train(
        emb.repartition(8), m=2, k=4, iters=1, train_sample_mod=4
    )
    assert again == sampled


def test_pq_train_empty_hash_sample_raises(spark):
    # a sample mod that selects no rows must fail loudly, not crash
    # with an IndexError inside seeding
    import hashlib

    df = _emb(spark, [(1, [1.0, 2.0]), (2, [3.0, 4.0]), (3, [5.0, 6.0])])
    def residue(key, mod):
        return int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16) % mod
    mod = next(
        m for m in range(2, 50)
        if all(residue(k, m) != 0 for k in (1, 2, 3))
    )
    with pytest.raises(ValueError, match="leaves no training rows"):
        pq_train(df, m=1, k=2, iters=1, train_sample_mod=mod)
    with pytest.raises(ValueError, match="must be >= 1"):
        pq_train(df, m=1, k=2, iters=1, train_sample_mod=0)


def test_q137_params_never_trigger_refill_on_real_embeddings(spark):
    """The q137 oracle omits the empty-cell refill branch on the
    documented ground that m=4/k=4 over the dense random embeddings
    never empties a cell — pin that as an invariant instead of a
    comment (any future data/kernel change that breaks it fails HERE,
    not as a driver hash mismatch)."""
    from cloud_native_medical_data_etl_pipeline_spark.operators import (
        quantize as Q,
    )

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
        emb = spark.read.parquet(f"{ORACLE_SF_DIR}/embeddings.parquet")
        # the exact call q137 makes (the driver-side trainer at this
        # size); trainer equality (pinned elsewhere in this file)
        # carries the invariant to the SQL spec path the oracle unrolls
        Q.pq_train(emb, m=4, k=4, iters=2)
    finally:
        K._refill_empty = orig
    assert calls and all(not c for c in calls), calls


# --- trainer equality: the driver-side numpy path IS the SQL spec path -----


def _driver_side_calls(monkeypatch):
    """Record each run of the driver-side trainer, so a test can tell
    which side pq_train's size selection took."""
    from cloud_native_medical_data_etl_pipeline_spark.operators import _kmeans_np

    calls = []
    orig = _kmeans_np.pq_train_np

    def spy(*args):
        calls.append(len(args[0]))
        return orig(*args)

    monkeypatch.setattr(_kmeans_np, "pq_train_np", spy)
    return calls


def test_pq_train_engines_agree_on_real_embeddings(spark):
    """The r9 contract: the driver-side numpy trainer (seeding+Lloyd
    over the collected pool, what pq_train runs while the pool fits
    `DRIVER_TRAIN_CAP`) produces codebooks EXACTLY equal to the
    distributed literal-battery loop the DuckDB oracles unroll.  Every
    rounding in `_kmeans_np` mirrors the Spark expression it replaces,
    so equality is exact, not approximate."""
    emb = spark.read.parquet(f"{ORACLE_SF_DIR}/embeddings.parquet")
    b_np = pq_train(emb, m=8, k=16, iters=2)
    with distributed_loops():
        b_sql = pq_train(emb, m=8, k=16, iters=2)
    assert b_np == b_sql


def test_pq_train_engines_agree_on_pads_and_refills(spark):
    # n < k forces done-subspace pads; duplicate-heavy data forces
    # empty-cell refills — the two driver-arithmetic edge branches
    pad = _emb(
        spark, [(i, [1.0, 2.0]) for i in range(3)] + [(10, [5.0, 6.0])]
    )
    dup = _emb(
        spark, [(i, [float(i % 3), float(i % 2)]) for i in range(40)]
    )
    np_books = [
        pq_train(pad, m=1, k=8, iters=2), pq_train(dup, m=2, k=4, iters=3)
    ]
    with distributed_loops():
        assert np_books == [
            pq_train(pad, m=1, k=8, iters=2), pq_train(dup, m=2, k=4, iters=3)
        ]


def test_pq_train_auto_is_numpy_and_partition_invariant(spark, monkeypatch):
    calls = _driver_side_calls(monkeypatch)
    df = _emb(spark, _clustered())
    auto = pq_train(df, m=2, k=4, iters=2)
    assert auto == pq_train(df.repartition(16), m=2, k=4, iters=2)
    assert calls == [40, 40]  # a 40-row pool fits the driver


def test_pq_train_k256_production_regime(spark):
    """The k=256 codebook size PQ literature assumes — the r8 verdict's
    named scale defect (plan-compile-bound for minutes at k>=64 on the
    in-engine path).  The numpy engine trains it in seconds; shapes
    and code ranges must hold."""
    emb = spark.read.parquet(f"{ORACLE_SF_DIR}/embeddings.parquet")
    books = pq_train(emb, m=8, k=256, iters=2)
    assert len(books) == 8 and all(len(b) == 256 for b in books)
    enc = pq_encode(emb, books)
    mx = enc.select(
        F.max(F.array_max("pq_code")).alias("mx"),
        F.min(F.array_min("pq_code")).alias("mn"),
    ).first()
    assert 0 <= mx["mn"] and mx["mx"] <= 255


def test_md5_uniform_python_replica_matches_spark(spark):
    """`_kmeans_np.md5_uniform_py` is the driver-side leg of the
    determinism contract: it must equal `_sampling.md5_uniform` for
    the key/salt shapes the seeding races use, or the numpy and SQL
    trainers silently diverge."""
    from cloud_native_medical_data_etl_pipeline_spark.operators._kmeans_np import (
        md5_uniform_py,
    )
    from cloud_native_medical_data_etl_pipeline_spark.operators._sampling import (
        md5_uniform,
    )

    keys = [0, 1, 7, 12345, 999999999999]
    df = spark.createDataFrame([(k,) for k in keys], "key long")
    for salt in ("", "kpp0:", "kpp7:"):
        got = {
            r["key"]: r["u"]
            for r in df.select(
                "key", md5_uniform(F.col("key"), salt).alias("u")
            ).collect()
        }
        for k in keys:
            assert got[k] == md5_uniform_py(k, salt), (salt, k)


def test_pq_train_null_keys_excluded_both_engines(spark):
    # a NULL key has no md5 uniform and no defined sort position in
    # the determinism contract — excluded like NULL vectors, and the
    # two engines must agree on the surviving rows' codebooks
    df = _emb(
        spark,
        [(None, [9.0, 9.0]), (1, [0.0, 0.0]), (2, [5.0, 5.0]), (3, [8.0, 1.0])],
    )
    a = pq_train(df, m=1, k=2, iters=2)
    keep = _emb(spark, [(1, [0.0, 0.0]), (2, [5.0, 5.0]), (3, [8.0, 1.0])])
    with distributed_loops():
        b = pq_train(df, m=1, k=2, iters=2)
        c = pq_train(keep, m=1, k=2, iters=2)
    assert a == b == c


def test_round_spark_matches_f_round_live(spark):
    """`round_spark`/`round_spark_scalar` vs live F.round on the
    values the r9 docstring wrongly claimed unreachable: dyadic
    rationals ARE decimal midpoints at dp>0 (F.round(2^-10, 9) =
    0.000976563 HALF_UP while half-even-on-binary gives ...62), plus
    random and boundary values.  Bit-equality, both dp grains."""
    import numpy as np

    from cloud_native_medical_data_etl_pipeline_spark.operators._kmeans_np import (
        round_spark,
        round_spark_scalar,
    )

    vals = [k * 2.0**-e for e in range(1, 40) for k in (1, 3, 5, 7, 255)]
    vals += [-v for v in vals[:40]]
    vals += [0.0009765625, 0.0078125, 0.5e-9, 1.5e-9, 2.5e-9, 0.1234567895]
    rng = np.random.default_rng(7)
    vals += [float(x) for x in (rng.random(200) - 0.5) * 20]
    # magnitude sweep: the scaled value crosses binades and the
    # 2^51 magic-add guard boundary
    vals += [
        float(x) * 10.0**e
        for e in range(-12, 13, 3)
        for x in (rng.random(8) - 0.5)
    ]
    vals += [2.0**51 / 1e9, 2.0**52 / 1e9, 2.0**51, 2.0**52]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, x double")
    for dp in (6, 9):
        want = {
            r["i"]: r["r"]
            for r in df.select("i", F.round("x", dp).alias("r")).collect()
        }
        got_vec = round_spark(np.array(vals), dp)
        for i, v in enumerate(vals):
            assert round_spark_scalar(v, dp) == want[i], (dp, v)
            assert got_vec[i] == want[i], (dp, v)


def test_round_spark_property_vectorized_equals_scalar():
    """Hypothesis: the vectorized near-midpoint band never misses a
    lane the exact scalar path would round differently — including
    the dyadic-midpoint values ADVICE flagged (2^-10, 2^-7 class),
    huge magnitudes, and non-finite lanes."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cloud_native_medical_data_etl_pipeline_spark.operators._kmeans_np import (
        round_spark,
        round_spark_scalar,
    )

    dyadic = st.builds(
        lambda k, e: k * 2.0**-e,
        st.sampled_from([1, -1, 3, 5, 7, 255, -255]),
        st.integers(min_value=0, max_value=60),
    )
    anyf = st.one_of(
        st.floats(allow_nan=True, allow_infinity=True),
        dyadic,
        st.floats(min_value=-1e3, max_value=1e3),
    )

    @settings(max_examples=300, deadline=None)
    @given(st.lists(anyf, min_size=1, max_size=8), st.sampled_from([6, 9]))
    def check(xs, dp):
        got = round_spark(np.array(xs, dtype=np.float64), dp)
        for i, x in enumerate(xs):
            want = round_spark_scalar(float(np.float64(x)), dp)
            if math.isnan(want):
                assert math.isnan(got[i])
            else:
                assert got[i] == want, (x, dp)

    check()


def test_pq_train_auto_caps_unbounded_collect(spark):
    """`max_train_rows` is an OPT-IN cap (default None since r11 —
    ADVICE r10: a default cap silently diverged from the q137/q138
    oracle spec above 100k rows): when set it auto-derives the
    deterministic md5 sample — equal to passing the derived mod
    explicitly and identical on both trainers.  The driver collect is
    bounded by the size selection instead (see
    test_pq_train_overcap_falls_back_to_distributed_loop)."""
    rows = [
        (i, [float((i * 13 + d * 7) % 11), float((i * 5 + d) % 9)])
        for i in range(40)
        for d in (0,)
    ]
    df = _emb(spark, rows)
    capped = pq_train(df, m=1, k=3, iters=2, max_train_rows=10)
    explicit = pq_train(df, m=1, k=3, iters=2, train_sample_mod=4)
    assert capped == explicit
    # trainer parity survives the auto-derived sample
    with distributed_loops():
        capped_sql = pq_train(df, m=1, k=3, iters=2, max_train_rows=10)
    assert capped == capped_sql
    # explicit opt-out trains on everything, as before
    full = pq_train(df, m=1, k=3, iters=2, max_train_rows=None)
    under = pq_train(df, m=1, k=3, iters=2, max_train_rows=1000)
    assert full == under


def test_pq_train_default_is_uncapped_oracle_spec(spark):
    # defaults must compute exactly what the q137/q138 oracles unroll:
    # whole pool, no silent sample (ADVICE r10) — numpy-vs-sql
    # equality on the same pool is pinned elsewhere; here the default
    # run must equal the explicit uncapped run
    emb = spark.read.parquet(f"{ORACLE_SF_DIR}/embeddings.parquet")
    default = pq_train(emb, m=2, k=4, iters=1)
    spec = pq_train(
        emb, m=2, k=4, iters=1, max_train_rows=None, train_sample_mod=None
    )
    assert default == spec


def test_pq_train_overcap_falls_back_to_distributed_loop(spark, monkeypatch):
    # a pool over DRIVER_TRAIN_CAP is never sampled and never collected:
    # pq_train runs the distributed loop on the FULL pool, with the
    # codebooks the driver-side trainer gives when the pool fits
    from cloud_native_medical_data_etl_pipeline_spark.operators import _kmeans_np

    emb = spark.read.parquet(
        f"{ORACLE_SF_DIR}/embeddings.parquet"
    ).limit(12)
    fits = pq_train(emb, m=2, k=3, iters=1)
    calls = _driver_side_calls(monkeypatch)
    monkeypatch.setattr(_kmeans_np, "DRIVER_TRAIN_CAP", 5)
    assert pq_train(emb, m=2, k=3, iters=1) == fits
    assert calls == []


def test_pq_train_overcap_gate_boundary_and_exact_n_reuse(spark, monkeypatch):
    # ADVICE r11: the over-cap selection must not run a full count of
    # the training frame — it scans at most CAP+1 rows, or reuses the
    # exact count the max_train_rows branch already took.  The
    # DECISION must be unchanged: pool == CAP stays on the driver,
    # CAP+1 runs the distributed loop, and the reused-count path agrees.
    from cloud_native_medical_data_etl_pipeline_spark.operators import _kmeans_np

    emb = spark.read.parquet(
        f"{ORACLE_SF_DIR}/embeddings.parquet"
    ).limit(12)
    with distributed_loops():
        spec = pq_train(emb, m=2, k=3, iters=1)
    calls = _driver_side_calls(monkeypatch)
    for cap, max_train_rows, on_driver in (
        (12, None, True),  # exactly at the cap
        (11, None, False),  # one over
        # exact-count reuse: an unsampled max_train_rows pool
        # (12 <= 1000) knows n without the limit scan
        (11, 1000, False),
        (12, 1000, True),
    ):
        monkeypatch.setattr(_kmeans_np, "DRIVER_TRAIN_CAP", cap)
        calls.clear()
        got = pq_train(emb, m=2, k=3, iters=1, max_train_rows=max_train_rows)
        assert got == spec, (cap, max_train_rows)
        assert calls == ([12] if on_driver else []), (cap, max_train_rows)
