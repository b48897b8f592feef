"""Unit tests for the in-engine learned quality classifier
(operators/classifier.py) and greedy k-center selection
(operators/similarity.py kcenter_select)."""

import math

import pytest
from pyspark.sql import functions as F

from cloud_native_medical_data_etl_pipeline_spark.operators.classifier import (
    featurize_documents,
    quality_classifier_scores,
    score_logreg,
    train_logreg,
)
from cloud_native_medical_data_etl_pipeline_spark.operators.similarity import (
    kcenter_select,
)

from conftest import ORACLE_SF_DIR, distributed_loops


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_featurize_exact_values(spark):
    # 5 tokens, 20 alpha chars of 24 total; band [40,300], alpha 82%
    text = "alpha beta gamma delta epsi"  # 27 chars, 23 alpha, 5 tokens
    row = featurize_documents(_docs(spark, [(1, text)])).collect()[0]
    assert row["f1"] == 5 / 64.0
    assert row["f2"] == abs(5 - 170) / 128.0
    assert row["f3"] == (23 / 27 - 0.82) * 64.0
    assert row["y"] == 0  # 5 tokens is below the band


def test_featurize_label_rule(spark):
    good = " ".join(["abcdefghij"] * 50)  # 50 tokens, alpha 500/549 > 82%
    short = " ".join(["word"] * 10)
    symbols = " ".join(["@#$%^"] * 50)  # in-band but alpha share 0
    rows = featurize_documents(
        _docs(spark, [(1, good), (2, short), (3, symbols), (4, None)])
    ).collect()
    y = {r["key"]: r["y"] for r in rows}
    assert y == {1: 1, 2: 0, 3: 0, 4: 0}


def test_featurize_null_empty_text(spark):
    rows = featurize_documents(_docs(spark, [(1, None), (2, "")])).collect()
    for r in rows:
        assert r["f1"] == 0.0 and r["f2"] == 170 / 128.0
        assert r["f3"] == 0.0 and r["y"] == 0


def test_train_rejects_non_power_of_two_lr(spark):
    feat = featurize_documents(_docs(spark, [(1, "a b c")]))
    with pytest.raises(ValueError, match="power of two"):
        train_logreg(feat, lr=0.3)


def test_train_learns_separable_boundary(spark):
    # Clearly separable in f1: y = 1 iff f1 > 0.5 (single feature).
    rows = [(i, i / 100.0, 1 if i > 50 else 0) for i in range(101)]
    feat = spark.createDataFrame(rows, "key long, f1 double, y int")
    w = train_logreg(feat, features=("f1",), lr=2.0, iterations=64)
    assert all(math.isfinite(x) for x in w)
    scored = score_logreg(feat, w, features=("f1",)).collect()
    acc = sum(1 for r in scored if r["pred"] == r["y"]) / len(scored)
    assert acc >= 0.9
    # monotone in f1: higher feature -> higher probability
    by_key = {r["key"]: r["p"] for r in scored}
    assert by_key[100] > by_key[0]


def test_gd_matches_reference_implementation(spark):
    # The Spark aggregate must replay a plain-Python full-batch GD
    # exactly (same rounding schedule) — the same contract the DuckDB
    # oracle relies on.
    rows = [(i, (i % 7) / 4.0, (i % 3) / 2.0, 1 if i % 2 else 0) for i in range(40)]
    feat = spark.createDataFrame(rows, "key long, f1 double, f2 double, y int")
    w = train_logreg(
        feat, features=("f1", "f2"), lr=0.5, iterations=5, sigma_dp=10, grad_dp=8
    )

    def rnd(v, dp):
        # mimic HALF_UP decimal rounding used by both engines
        from decimal import ROUND_HALF_UP, Decimal

        return float(Decimal(repr(v)).quantize(Decimal(f"1e-{dp}"), ROUND_HALF_UP))

    ws = [0.0, 0.0, 0.0]
    data = [(r[1], r[2], r[3]) for r in rows]
    for _ in range(5):
        sig = [
            rnd(1.0 / (1.0 + math.exp(-(((ws[0] + ws[1] * f1) + ws[2] * f2)))), 10)
            for f1, f2, _ in data
        ]
        n = len(data)
        g0 = rnd(sum(s - y for s, (_, _, y) in zip(sig, data)) / n, 8)
        g1 = rnd(sum((s - y) * f1 for s, (f1, _, y) in zip(sig, data)) / n, 8)
        g2 = rnd(sum((s - y) * f2 for s, (_, f2, y) in zip(sig, data)) / n, 8)
        ws = [ws[0] - 0.5 * g0, ws[1] - 0.5 * g1, ws[2] - 0.5 * g2]
    assert w == pytest.approx(ws, abs=1e-12)


def test_empty_corpus_trains_to_zero_weights(spark):
    feat = spark.createDataFrame([], "key long, f1 double, f2 double, f3 double, y int")
    w = train_logreg(feat, lr=1.0, iterations=3)
    assert w == [0.0, 0.0, 0.0, 0.0]


def test_end_to_end_beats_majority_class(spark):
    texts = []
    for i in range(60):
        if i % 2:
            texts.append((i, " ".join(["alpha"] * 60)))  # in-band, alpha-rich
        else:
            texts.append((i, " ".join(["@@"] * 3)))  # short + non-alpha
    out = quality_classifier_scores(_docs(spark, texts)).collect()
    acc = sum(1 for r in out if r["pred"] == r["y"]) / len(out)
    assert acc >= 0.9


def test_scores_partition_invariant(spark):
    texts = [(i, " ".join(["tok"] * (10 + 7 * (i % 9)))) for i in range(50)]
    df = _docs(spark, texts)
    a = sorted(
        quality_classifier_scores(df.repartition(1)).collect(),
        key=lambda r: r["key"],
    )
    b = sorted(
        quality_classifier_scores(df.repartition(7)).collect(),
        key=lambda r: r["key"],
    )
    assert [(r["key"], r["p"], r["pred"]) for r in a] == [
        (r["key"], r["p"], r["pred"]) for r in b
    ]


# --- greedy k-center selection ---------------------------------------------


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kcenter_covers_planted_clusters(spark):
    # three tight clusters far apart; first 3 picks must hit all three
    rows = []
    for cid, base in enumerate(([0.0, 0.0], [100.0, 0.0], [0.0, 100.0])):
        for j in range(5):
            rows.append(
                (cid * 10 + j, [base[0] + j * 0.01, base[1] + j * 0.01])
            )
    out = kcenter_select(_emb(spark, rows), k=3).collect()
    clusters = {r["key"] // 10 for r in out}
    assert clusters == {0, 1, 2}
    assert [r["sel_rank"] for r in sorted(out, key=lambda r: r["sel_rank"])] == [1, 2, 3]


def test_kcenter_radius_non_increasing(spark):
    rows = [(i, [float(i % 13), float((i * 7) % 11)]) for i in range(40)]
    out = sorted(
        kcenter_select(_emb(spark, rows), k=6).collect(),
        key=lambda r: r["sel_rank"],
    )
    assert out[0]["radius"] is None  # seed has no covering distance
    radii = [r["radius"] for r in out[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:]))


def test_kcenter_deterministic_across_partitioning(spark):
    rows = [(i, [float((i * 31) % 17), float((i * 13) % 19)]) for i in range(60)]
    df = _emb(spark, rows)
    a = sorted(kcenter_select(df.repartition(1), k=5).collect())
    b = sorted(kcenter_select(df.repartition(8), k=5).collect())
    assert a == b


def test_kcenter_k_exceeds_n(spark):
    rows = [(1, [0.0, 0.0]), (2, [1.0, 1.0]), (3, [2.0, 0.0])]
    out = kcenter_select(_emb(spark, rows), k=10).collect()
    assert len(out) == 3
    assert {r["key"] for r in out} == {1, 2, 3}


def test_kcenter_all_duplicate_corpus_emits_distinct_keys(spark):
    # every vector identical: all dmin are 0, and without the
    # selected-key anti-filter the ascending-key tiebreak would
    # re-pick an existing center (ADVICE r6) — keys must be distinct
    rows = [(i, [1.5, -2.5]) for i in range(1, 7)]
    out = kcenter_select(_emb(spark, rows), k=4).collect()
    keys = [r["key"] for r in out]
    assert len(keys) == 4
    assert len(set(keys)) == 4
    assert sorted(keys) == [1, 2, 3, 4]  # tiebreak walks ascending keys
    radii = [r["radius"] for r in sorted(out, key=lambda r: r["sel_rank"])]
    assert radii[0] is None and all(r == 0.0 for r in radii[1:])


def test_kcenter_empty_and_null_vectors(spark):
    out = kcenter_select(_emb(spark, []), k=4).collect()
    assert out == []
    rows = [(1, None), (2, [0.0, 0.0]), (3, [5.0, 5.0])]
    out = kcenter_select(_emb(spark, rows), k=2).collect()
    assert {r["key"] for r in out} == {2, 3}


def test_kcenter_null_key_rows_are_excluded(spark):
    # A NULL key sorts first under orderBy(key.asc()) and would become
    # the seed; the selected-key anti-filter `key != lit(NULL)` is then
    # NULL for every row, emptying the candidate frame (IndexError at
    # rank 2).  NULL keys can't identify a center — they're excluded
    # with NULL vectors.
    rows = [
        (None, [50.0, 50.0]),
        (1, [0.0, 0.0]),
        (2, [10.0, 0.0]),
        (3, [0.0, 10.0]),
    ]
    out = kcenter_select(_emb(spark, rows), k=3).collect()
    keys = {r["key"] for r in out}
    assert None not in keys
    assert len(out) == 3 and keys == {1, 2, 3}


def test_kcenter_seed_is_min_key(spark):
    rows = [(7, [9.0, 9.0]), (3, [1.0, 1.0]), (5, [4.0, 4.0])]
    out = kcenter_select(_emb(spark, rows), k=2).collect()
    seed = next(r for r in out if r["sel_rank"] == 1)
    assert seed["key"] == 3


def test_sampled_training_scores_everyone(spark):
    texts = []
    for i in range(200):
        if i % 2:
            texts.append((i, " ".join(["abcdefghij"] * 60)))
        else:
            texts.append((i, " ".join(["@@"] * 3)))
    df = _docs(spark, texts)
    out = quality_classifier_scores(df, train_sample_mod=4).collect()
    assert len(out) == 200  # sampling affects training, never scoring
    acc = sum(1 for r in out if r["pred"] == r["y"]) / len(out)
    assert acc >= 0.9  # the boundary is easy; 1/4 of the data suffices


def test_sampled_training_rejects_bad_mod(spark):
    df = _docs(spark, [(1, "a b c")])
    with pytest.raises(ValueError, match="train_sample_mod"):
        quality_classifier_scores(df, train_sample_mod=0)


def _both_sides(df, k):
    """kcenter_select's (rank, key, radius) rows on the driver-side
    numpy traversal (what it runs while the pool fits
    `DRIVER_SELECT_CAP`) and on the distributed loop."""
    a = sorted(tuple(r) for r in kcenter_select(df, k=k).collect())
    with distributed_loops():
        b = sorted(tuple(r) for r in kcenter_select(df, k=k).collect())
    return a, b


def test_kcenter_engines_agree(spark):
    """Both execution paths — the distributed loop (the DuckDB-oracle
    spec) and the driver-side numpy traversal — must produce IDENTICAL
    picks, ranks, and radii, including the ascending-key argmax
    tiebreaks (exact fold replay + Spark-exact rounding)."""
    emb = spark.read.parquet(f"{ORACLE_SF_DIR}/embeddings.parquet")
    a, c = _both_sides(emb, 8)
    assert a == c and len(a) == 8
    # all-duplicate corpus: ties everywhere, distinct keys every path
    rows = [(i, [1.0, 2.0]) for i in range(6)]
    a, c = _both_sides(_emb(spark, rows), 4)
    assert a == c
    # element-level NULLs null-propagate identically (NULL distance
    # never overwrites dmin, NULL radius rows sort last)
    en = [(1, [0.0, 0.0]), (2, [None, 1.0]), (3, [5.0, 5.0]), (4, [1.0, 9.0])]
    a, c = _both_sides(_emb(spark, en), 3)
    assert a == c


def test_kcenter_all_nan_candidates_no_duplicate_picks(spark):
    # ADVICE r10: when every remaining candidate's dmin is NaN (all
    # carry NULL elements), the numpy argmax used to tie alive and
    # dead lanes at -inf and re-pick the seed — duplicate keys and
    # fabricated 0.0 radii.  Both paths must pick the smallest alive
    # key with a NULL radius (desc-nulls-last + ascending-key), and
    # the distributed loop must not TypeError on float(NULL dmin).
    rows = [(1, [1.0, 1.0]), (2, [None, 2.0]), (3, [3.0, None])]
    for out in _both_sides(_emb(spark, rows), 3):
        assert [r[1] for r in out] == [1, 2, 3], out
        assert [r[2] for r in out] == [None, None, None], out


def test_kcenter_nan_lanes_lose_to_real_distances(spark):
    # a NULL-element vector must sort AFTER every real distance (the
    # nulls-last contract) and only be picked once real lanes run out
    rows = [
        (1, [0.0, 0.0]),
        (2, [None, 9.0]),
        (3, [4.0, 0.0]),
        (4, [0.0, 3.0]),
    ]
    for out in _both_sides(_emb(spark, rows), 4):
        assert [r[1] for r in out] == [1, 3, 4, 2], out
        assert out[1][2] == 16.0 and out[2][2] == 9.0, out
        assert out[3][2] is None, out


def test_kcenter_engines_agree_on_null_element_centers(spark):
    # a NULL-element CENTER yields all-NULL hop distances on the sql
    # loop and NaN lanes on the numpy traversal, and NULL-element rows
    # null-propagate — picks/radii identical on both engines
    rows = [
        (1, [0.0, 0.0]),
        (2, [None, 9.0]),
        (3, [4.0, 0.0]),
        (4, [0.0, 3.0]),
        (5, [None, None]),
    ]
    a, c = _both_sides(_emb(spark, rows), 5)
    assert a == c
