"""BPE merge training: merge-for-merge parity with a sequential
python reference, deterministic tie-breaks, fold semantics, and the
apply-side token ordering."""

from collections import Counter

import pytest

from cloud_native_medical_data_etl_pipeline_spark.operators.bpe import (
    _apply_bpe_fold,
    apply_bpe_merges,
    train_bpe_merges,
)

from conftest import ORACLE_SF_DIR


def _ref_merges(word_freq: dict[str, int], k: int, marker=None):
    syms = {
        w: list(w) + ([marker] if marker else []) for w in word_freq
    }
    out = []
    for step in range(1, k + 1):
        pc: Counter = Counter()
        for w, f in word_freq.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += f
        if not pc:
            break
        (l, r), c = sorted(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[0]
        out.append((step, l, r, c))
        for w in syms:
            ns: list = []
            for x in syms[w]:
                if ns and ns[-1] == l and x == r:
                    ns[-1] = l + r
                else:
                    ns.append(x)
            syms[w] = ns
    return out


def _words(texts):
    c: Counter = Counter()
    for t in texts:
        if t:
            for w in t.lower().split():
                c[w] += 1
    return dict(c)


def _train(spark, texts, k, **kw):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = train_bpe_merges(df, num_merges=k, **kw)
    return [
        (r["step"], r["left"], r["right"], r["pair_count"])
        for r in got.orderBy("step").collect()
    ]


def test_bpe_matches_sequential_reference(spark):
    texts = [
        "low lower lowest",
        "low low new newer",
        "the newest slowest",
        None,
        "   ",
        "LOW Lower",  # lowercasing folds these in
    ]
    got = _train(spark, texts, 6)
    assert got == _ref_merges(_words(texts), 6)


def test_bpe_real_corpus_prefix_consistency(spark):
    # training k merges then k+2 merges must agree on the first k —
    # the loop is greedy and order-deterministic
    docs = spark.read.parquet(f"{ORACLE_SF_DIR}/documents.parquet")
    short = train_bpe_merges(docs, num_merges=3).orderBy("step").collect()
    longer = train_bpe_merges(docs, num_merges=5).orderBy("step").collect()
    assert [tuple(r) for r in short] == [tuple(r) for r in longer[:3]]


def test_bpe_overlapping_runs_merge_left_to_right(spark):
    # 'aaaa' with the (a,a) merge must become [aa, aa], never [a,aa,a]
    got = _train(spark, ["aaaa aaaa b"], 1)
    assert got[0][:3] == (1, "a", "a")
    enc = apply_bpe_merges(
        spark.createDataFrame([(1, "aaaa aaa b")], "doc_id long, text string"),
        [("a", "a")],
    ).collect()[0]
    assert enc["tokens"] == ["aa", "aa", "aa", "a", "b"]


def test_bpe_word_end_marker(spark):
    texts = ["ab ab abc"]
    got = _train(spark, texts, 3, word_end_marker="</w>")
    assert got == _ref_merges(_words(texts), 3, marker="</w>")


def test_bpe_stops_when_nothing_to_merge(spark):
    # single-char vocabulary: zero pairs, trainer returns empty
    got = _train(spark, ["a b c a"], 4)
    assert got == []


def test_apply_bpe_preserves_document_word_order(spark):
    df = spark.createDataFrame(
        [(1, "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll kk")],
        "doc_id long, text string",
    ).repartition(7)
    # the fold reference regroups words after a shuffle: its order
    # must be the document's too
    for encode in (apply_bpe_merges, _apply_bpe_fold):
        enc = encode(df, [("z", "z")]).collect()[0]
        assert enc["tokens"][0] == "zz"  # merged first word stays first
        assert enc["tokens"][1:3] == ["y", "y"]
        assert enc["n_bpe_tokens"] == 1 + 15 * 2


def test_bpe_rejects_bad_args(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        train_bpe_merges(df, num_merges=0)


def test_q143_bpe_oracle_shape(spark):
    """The staged BPE registration candidate (q143, written in r14 but
    deliberately unregistered — the r16 candidate; r15's seat belongs
    to q142): the full 8-round merge sequence must hash-match the
    unrolled DuckDB construction (per-round pair counts + argmax +
    list_reduce fold).  Pins the staged probe + SQL pair so it cannot
    rot before its window seat."""
    import duckdb

    import __spark_entry__ as E

    sf = ORACLE_SF_DIR
    got = sorted(tuple(r) for r in E.q143_bpe_merges(spark, sf).collect())
    want = sorted(
        tuple(r)
        for r in duckdb.sql(
            E._q143_sql().replace(
                "FROM documents",
                f"FROM read_parquet('{sf}/documents.parquet')",
            )
        ).fetchall()
    )
    assert got == want and len(got) == 8


def test_apply_bpe_keeps_empty_documents(spark):
    # null/empty/whitespace docs must survive as (key, [], 0), the
    # same contract as the repo's other text operators
    df = spark.createDataFrame(
        [(1, "ab ab"), (2, ""), (3, None), (4, "   ")],
        "doc_id long, text string",
    )
    for encode in (apply_bpe_merges, _apply_bpe_fold):
        rows = {r["doc_id"]: r for r in encode(df, [("a", "b")]).collect()}
        assert set(rows) == {1, 2, 3, 4}
        assert rows[1]["tokens"] == ["ab", "ab"]
        for k in (2, 3, 4):
            assert rows[k]["tokens"] == [] and rows[k]["n_bpe_tokens"] == 0


# ---------------------------------------------------------------------------
# apply_bpe_merges, the Arrow scale encoder (r15): greedy-minimum-rank
# with a broadcast rank table must be token-identical to the in-order
# fold-chain spec (_apply_bpe_fold).
# ---------------------------------------------------------------------------


def _both_impls(spark, rows, merges):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return tuple(
        {
            r["doc_id"]: (list(r["tokens"]), r["n_bpe_tokens"])
            for r in encode(df, merges).collect()
        }
        for encode in (_apply_bpe_fold, apply_bpe_merges)
    )


def test_apply_bpe_arrow_matches_fold_on_learned_merges(spark):
    # train a real table, then encode held-out text through both paths
    texts = [
        "low lower lowest slow slowest",
        "new newer newest news",
        "the lowest new low",
    ]
    merges = [(l, r) for _, l, r, _ in _train(spark, texts, 8)]
    rows = [
        (1, "lower the new slowest"),
        (2, "newest newest low"),
        (3, ""),
        (4, None),
        (5, "   "),
        (6, "UNSEEN words HERE lowest"),
    ]
    fold, arrow = _both_impls(spark, rows, merges)
    assert fold == arrow


def test_apply_bpe_arrow_overlapping_runs(spark):
    # the left-to-right batch rewrite: 'aaaa aaa' with (a,a) then
    # (aa,aa) — rank order must replay exactly
    fold, arrow = _both_impls(
        spark,
        [(1, "aaaa aaa aa a")],
        [("a", "a"), ("aa", "aa"), ("aa", "a")],
    )
    assert fold == arrow
    assert arrow[1][0] == ["aaaa", "aaa", "aa", "a"]


def test_apply_bpe_arrow_fuzz_vs_fold(spark):
    """Randomized parity: learn merges from a random small-alphabet
    corpus (adversarial for overlapping runs and duplicate pairs),
    then both impls must emit identical tokens on every document —
    including documents with unseen symbols, empties, and nulls."""
    from hypothesis import given, settings, strategies as st

    word = st.text(alphabet="abc", min_size=1, max_size=8)
    doc = st.lists(word, min_size=0, max_size=6).map(" ".join)

    @settings(max_examples=6, deadline=None)
    @given(
        corpus=st.lists(doc, min_size=1, max_size=6),
        probes=st.lists(doc, min_size=1, max_size=5),
        k=st.integers(min_value=1, max_value=10),
    )
    def run(corpus, probes, k):
        merges = [(l, r) for _, l, r, _ in _ref_merges(_words(corpus), k)]
        if not merges:
            return
        rows = [(i, t) for i, t in enumerate(probes)] + [
            (9001, None), (9002, "")
        ]
        outputs = [l + r for l, r in set(merges)]
        if len(set(outputs)) != len(outputs):
            # DEFENSIVE, never observed: this package's trainers
            # cannot learn two distinct pairs with the same output (a
            # merge only creates adjacencies containing its own output
            # symbol — see _validate_merge_table; 3000-trial offline
            # fuzz found zero).  If a trainer change ever broke that,
            # the table must be routed to the r15 ADVICE refusal here
            # rather than crash the parity check below.
            df = spark.createDataFrame(rows, "doc_id long, text string")
            with pytest.raises(ValueError, match="duplicate producer"):
                apply_bpe_merges(df, merges)
            return
        fold, arrow = _both_impls(spark, rows, merges)
        assert fold == arrow

    run()


def test_apply_bpe_arrow_refuses_duplicate_producers(spark):
    """The r15 ADVICE hole, pinned: this table passes the rank-
    monotone check (every multi-char constituent is an earlier
    output) yet rules 2 and 4 BOTH build 'aba', and on 'abac' the
    fold spec yields [aba, c] — rule 3 (aba,c) has already passed
    when rule 4 (ab,a) rebuilds 'aba' — while greedy-minimum-rank
    would apply rule 3 to the rebuilt symbol and emit [abac].  The
    arrow gate must refuse rather than silently diverge."""
    merges = [
        ("a", "b"), ("b", "a"), ("a", "ba"), ("aba", "c"), ("ab", "a")
    ]
    df = spark.createDataFrame([(1, "abac")], "doc_id long, text string")
    with pytest.raises(ValueError, match="duplicate producer"):
        apply_bpe_merges(df, merges)
    # the fold reference (the in-order spec) accepts it and pins the
    # in-order answer greedy would have gotten wrong
    got = _apply_bpe_fold(df, merges).collect()[0]
    assert got["tokens"] == ["aba", "c"]


def test_apply_bpe_arrow_accepts_exact_repeated_pairs(spark):
    """An EXACT repeat of an earlier (l, r) rule is NOT a duplicate
    producer: under rank-monotonicity the adjacency cannot re-arise
    after the first application, so the repeat is a provable fold
    no-op and both impls must agree token-for-token."""
    merges = [("a", "b"), ("a", "b"), ("ab", "c"), ("a", "b")]
    rows = [(1, "abc abab"), (2, "cab"), (3, "")]
    fold, arrow = _both_impls(spark, rows, merges)
    assert fold == arrow
    assert fold[1] == (["abc", "ab", "ab"], 3)
    # the encoder's cost is independent of merge count: long tables of
    # distinct rank-monotone rules and of exact repeats encode as well
    df = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
    chain = [("a", "b")] + [("a" + "b" * k, "b") for k in range(1, 65)]
    for table in (chain, [("a", "b")] * 65):
        assert apply_bpe_merges(df, table).collect()[0]["tokens"] == ["ab"]


def test_q144_bpe_encode_oracle_shape(spark):
    """The staged BPE ENCODE registration candidate (q144, written in
    r15, unregistered — the r17 candidate; r16's seat belongs to
    q143): train the 8-rule table, encode every document through the
    r15 Arrow kernel (apply_bpe_merges), and the full (doc_id,
    n_bpe_tokens, encoded) set must match DuckDB's word-level fold
    chain reassembled by document position.  Pins the staged probe +
    SQL pair so it cannot rot before its window seat."""
    import duckdb

    import __spark_entry__ as E

    sf = ORACLE_SF_DIR
    got = sorted(tuple(r) for r in E.q144_bpe_encode(spark, sf).collect())
    want = sorted(
        tuple(r)
        for r in duckdb.sql(
            E._q144_sql().replace(
                "FROM documents",
                f"FROM read_parquet('{sf}/documents.parquet')",
            )
        ).fetchall()
    )
    assert got == want and len(got) == 500


def test_incremental_trainer_matches_reference_fuzz():
    """tools/decade._train_merges_fast (the >=1k-rule table
    generator for the realistic-merge-count apply measurement) must
    replay the brute-force full-recount reference merge-for-merge —
    lazy-heap invalidation and incremental pair bookkeeping are easy
    to get subtly wrong (stale memberships, overlap leftovers that
    resurrect a pair).  Pure-python, no Spark session."""
    import os
    import sys

    from hypothesis import given, settings, strategies as st

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools")
    )
    from decade import _seq_reference, _train_merges_fast

    word = st.text(alphabet="abcd", min_size=1, max_size=8)

    @settings(max_examples=40, deadline=None)
    @given(
        vocab=st.dictionaries(
            word, st.integers(min_value=1, max_value=9),
            min_size=1, max_size=30,
        ),
        k=st.integers(min_value=1, max_value=25),
    )
    def run(vocab, k):
        assert _train_merges_fast(dict(vocab), k) == _seq_reference(
            dict(vocab), k
        )

    run()


def test_apply_bpe_arrow_refuses_non_learned_order(spark):
    """r15 review finding: greedy-minimum-rank only equals the fold
    chain for learned-order (rank-monotone) tables — a rule that
    references a symbol only a LATER rule can create would let greedy
    retroactively enable it.  The arrow path must refuse such tables
    (the fold path stays the arbitrary-list in-order spec)."""
    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    bad = [("ab", "c"), ("a", "b")]
    with pytest.raises(ValueError, match="learned-order"):
        apply_bpe_merges(df, bad)
    # the fold spec reference accepts it: rule 0 is a no-op (no 'ab'
    # symbol exists yet), rule 1 merges — [ab, c], NOT [abc]
    got = _apply_bpe_fold(df, bad).collect()[0]
    assert got["tokens"] == ["ab", "c"]


def test_apply_bpe_impls_duplicate_key_cardinality_contract(spark):
    """Documented pin: apply_bpe_merges emits one row per input row,
    so duplicate key values stay separate rows.  Keyed input is
    expected unique — this test records the behavior so a silent
    change fails."""
    df = spark.createDataFrame(
        [(1, "aa bb"), (1, "cc")], "doc_id long, text string"
    )
    arrow = apply_bpe_merges(df, [("a", "a")]).collect()
    # 'aa bb' -> [aa] + [b,b] = 3 tokens, 'cc' -> [c,c] = 2
    assert len(arrow) == 2 and sorted(
        r["n_bpe_tokens"] for r in arrow
    ) == [2, 3]


def test_q144_oracle_survives_early_merge_exhaustion(spark, tmp_path):
    """r15 review finding: a corpus that exhausts its mergeable pairs
    before _BPE_MERGES rounds makes train_bpe_merges break early; the
    q144 oracle's empty argmax CTE must pad to a NULL rule (identity
    fold) instead of cross-join-annihilating m8 and zeroing every
    document."""
    import duckdb

    import __spark_entry__ as E

    # vocabulary {ab, a}: round 1 merges (a,b), round 2 has no pairs.
    # Written as ONE parquet file (pyarrow) so DuckDB's literal-path
    # read_parquet and Spark both open it, like the sf fixtures.
    import pandas as pd

    pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": ["ab ab a", "ab", None]}
    ).to_parquet(f"{tmp_path}/documents.parquet")
    got = sorted(
        tuple(r) for r in E.q144_bpe_encode(spark, str(tmp_path)).collect()
    )
    want = sorted(
        tuple(r)
        for r in duckdb.sql(
            E._q144_sql().replace(
                "FROM documents",
                f"FROM read_parquet('{tmp_path}/documents.parquet')",
            )
        ).fetchall()
    )
    assert got == want, (got, want)
    assert got == [
        (1, 3, "ab ab a"),
        (2, 1, "ab"),
        (3, 0, ""),
    ]
