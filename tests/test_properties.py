"""Property-based tests (hypothesis): Spark expressions vs independent
Python/pandas reference implementations on randomized batches.

Each example generates a BATCH of values and runs one Spark job over
it (per-value jobs would be prohibitively slow), with few examples and
no deadline — the point is randomized coverage of boundaries, not
volume.
"""

import math

import pandas as pd
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from cloud_native_medical_data_etl_pipeline_spark.functions import medical as M
from cloud_native_medical_data_etl_pipeline_spark.functions import text as X

from conftest import (
    SF_0_01_DIR,
    distributed_loops,
    minhash_reference_base,
    ngram_jaccard_bruteforce,
)

AGE_BINS = [0, 18, 30, 50, 65, 100]
# reference labels: drug_transformer.py:119
AGE_LABELS = ["Pediatric", "Young Adult", "Adult", "Senior", "Elderly"]

ages = st.one_of(
    st.none(),
    st.floats(min_value=-10, max_value=130, allow_nan=False),
    st.sampled_from([0.0, 18.0, 30.0, 50.0, 65.0, 100.0, 100.1]),
)


@settings(max_examples=8, deadline=None)
@given(st.lists(ages, min_size=1, max_size=40))
def test_age_group_matches_pandas_cut(spark, batch):
    # reference semantics: pd.cut right-closed bins (drug_transformer.py:115-120)
    expected = [
        None if (v is None or pd.isna(r)) else str(r)
        for v, r in zip(
            batch,
            pd.cut(pd.Series(batch, dtype="float64"), bins=AGE_BINS, labels=AGE_LABELS),
        )
    ]
    df = spark.createDataFrame([(v,) for v in batch], "patient_age double")
    got = [
        r["g"] for r in df.select(M.age_group("patient_age").alias("g")).collect()
    ]
    assert got == expected


tokens = st.lists(
    st.text(alphabet=st.characters(min_codepoint=97, max_codepoint=122), min_size=1, max_size=6),
    min_size=0,
    max_size=15,
)


@settings(max_examples=8, deadline=None)
@given(st.lists(tokens, min_size=1, max_size=20), st.integers(min_value=1, max_value=4))
def test_word_ngrams_matches_python_reference(spark, batch, n):
    def ref(tk):
        if len(tk) < n:
            return []
        grams = [" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)]
        seen, out = set(), []
        for g in grams:
            if g not in seen:
                seen.add(g)
                out.append(g)
        return out

    expected = [ref(tk) for tk in batch]
    df = spark.createDataFrame([(tk,) for tk in batch], "tk array<string>")
    got = [
        list(r["g"])
        for r in df.select(
            X.word_ngrams_from_tokens("tk", n).alias("g")
        ).collect()
    ]
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            max_size=30,
        ),
        min_size=1,
        max_size=25,
    )
)
def test_fingerprint_matches_python_reference(spark, batch):
    MOD = 2147483647

    def ref(s):
        h = 0
        for ch in s:
            h = (h * 31 + ord(ch)) % MOD
        return h

    df = spark.createDataFrame([(s,) for s in batch], "text string")
    got = [r["fp"] for r in df.select(X.fingerprint("text").alias("fp")).collect()]
    assert got == [ref(s) for s in batch]


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),          # user
            st.integers(min_value=0, max_value=36_000),     # offset seconds
        ),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
def test_sessionize_invariants(spark, batch):
    import datetime as dt

    from cloud_native_medical_data_etl_pipeline_spark.operators import sessions

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (u, t0 + dt.timedelta(seconds=s), i)
        for i, (u, s) in enumerate(batch)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    out = sessions.sessionize(df, gap_minutes=30).collect()
    by_user: dict = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append((r["ts"], r["session_id"]))
    for user, evs in by_user.items():
        evs.sort()
        # session ids start at 1, are non-decreasing, step by at most 1
        assert evs[0][1] == 1
        for (prev_ts, prev_sid), (ts, sid) in zip(evs, evs[1:]):
            gap = (ts - prev_ts).total_seconds()
            if gap > 1800:
                assert sid == prev_sid + 1
            else:
                assert sid == prev_sid


# ---------------------------------------------------------------------------
# Approximate-sketch swap-ins (SCALING.md): the exact aggregates the
# oracle queries use (countDistinct, percentile) have mergeable-sketch
# replacements for the 100 TB path. These tests pin the accuracy
# contract that makes the swap safe.
# ---------------------------------------------------------------------------
def test_approx_count_distinct_within_rsd(spark):
    ev = spark.read.parquet(f"{SF_0_01_DIR}/events.parquet")
    row = ev.agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
    ).collect()[0]
    # HLL++ standard error: rsd=2%; allow 3 sigma
    assert abs(row["approx"] - row["exact"]) <= 0.06 * row["exact"]


def test_approx_percentile_within_accuracy(spark):
    ev = spark.read.parquet(f"{SF_0_01_DIR}/events.parquet")
    row = ev.agg(
        F.expr("percentile(value, 0.95)").alias("exact"),
        F.percentile_approx("value", 0.95, 10000).alias("approx"),
    ).collect()[0]
    # accuracy=10000 -> rank error <= n/10000; translate to a value
    # tolerance via the observed spread
    lo, hi = ev.agg(
        F.expr("percentile(value, 0.94)"), F.expr("percentile(value, 0.96)")
    ).collect()[0]
    assert lo <= row["approx"] <= hi
    assert abs(row["approx"] - row["exact"]) <= (hi - lo)


# ---------------------------------------------------------------------------
# Connected components vs an independent union-find: randomized edge
# lists must produce identical (vertex -> min reachable key) labelings.
# ---------------------------------------------------------------------------
def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_match_union_find(spark, edges):
    from cloud_native_medical_data_etl_pipeline_spark.operators import (
        components as C,
    )

    norm = [(min(a, b), max(a, b)) for a, b in edges]
    df = spark.createDataFrame(norm, "key_a long, key_b long")
    got = {
        r["vertex"]: r["component"]
        for r in C.connected_components(df).collect()
    }
    assert got == _union_find_components(norm)


# ---------------------------------------------------------------------------
# Sequence packing invariants under randomized token distributions
# ---------------------------------------------------------------------------
@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=200),
        min_size=1,
        max_size=60,
    )
)
def test_packing_invariants_random(spark, toks):
    from cloud_native_medical_data_etl_pipeline_spark.operators.packing import (
        pack_sequences,
    )

    budget = 64
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(toks)], "doc_id long, n_tokens long"
    )
    rows = pack_sequences(df, budget=budget, num_groups=2).collect()
    # exactly-once coverage
    assert sorted(r["doc_id"] for r in rows) == list(range(len(toks)))
    # per-pack: declared total == member sum; over-budget implies singleton
    packs = {}
    for r in rows:
        packs.setdefault(r["pack_id"], []).append(r)
    for members in packs.values():
        s = sum(m["n_tokens"] for m in members)
        assert all(m["pack_tokens"] == s for m in members)
        if s > budget:
            assert len(members) == 1


# ---------------------------------------------------------------------------
# Redaction: idempotent, and never invents non-placeholder content
# ---------------------------------------------------------------------------
_pii_tokens = st.lists(
    st.one_of(
        st.text(alphabet="abc @.+-()0123456789\n\t", min_size=0, max_size=8),
        st.sampled_from(
            ["a@example.com", "http://x.io/p", "555-123-4567", "+1 (555) 123-4567", "987654321"]
        ),
    ),
    min_size=0,
    max_size=6,
)


@settings(max_examples=6, deadline=None)
@given(st.lists(_pii_tokens, min_size=1, max_size=30))
def test_redact_normalize_idempotent_random(spark, batch):
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(batch)],
        "id long, text string",
    )
    once = X.normalize_text(X.redact_pii("text"))
    out = df.select(
        "id",
        once.alias("o1"),
        X.normalize_text(X.redact_pii(once)).alias("o2"),
    ).collect()
    for r in out:
        assert r["o2"] == r["o1"]  # fixed point after one application


# ---------------------------------------------------------------------------
# Contamination vs brute-force n-gram overlap
# ---------------------------------------------------------------------------
_words = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]),
    min_size=0,
    max_size=12,
)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(_words, min_size=1, max_size=12),
    st.lists(_words, min_size=1, max_size=4),
)
def test_contamination_matches_bruteforce(spark, corpus_words, probe_words):
    from cloud_native_medical_data_etl_pipeline_spark.operators import dedup

    n = 3
    corpus = spark.createDataFrame(
        [(i, " ".join(w)) for i, w in enumerate(corpus_words)],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(i, " ".join(w)) for i, w in enumerate(probe_words)],
        "doc_id long, text string",
    )

    def grams(w):
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    probe_grams = set().union(*(grams(w) for w in probe_words))
    expected = sorted(
        i for i, w in enumerate(corpus_words) if grams(w) & probe_grams
    )
    got = sorted(
        r["doc_id"]
        for r in dedup.ngram_contamination(corpus, probe, ngram_n=n).collect()
    )
    assert got == expected


texts = st.lists(
    st.text(
        alphabet=st.sampled_from("ab c\t\nxyz0"), min_size=0, max_size=60
    ),
    min_size=1,
    max_size=15,
)


@settings(max_examples=6, deadline=None)
@given(texts, st.integers(2, 6), st.integers(1, 6))
def test_chunking_partitions_tokens_exactly(spark, batch, width, stride_delta):
    """With stride <= width every token of every doc appears in at
    least one chunk, chunk token counts are <= width, and with
    stride == width the chunks partition the token stream exactly."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.chunking import (
        chunk_documents,
    )

    stride = max(1, width - stride_delta % width)  # 1..width
    df = spark.createDataFrame(
        list(enumerate(batch)), "doc_id long, text string"
    )
    rows = chunk_documents(
        df, chunk_tokens=width, stride=stride
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, t in enumerate(batch):
        toks = t.split()
        got = sorted(by_doc.get(i, []), key=lambda r: r["chunk_id"])
        if not toks:
            assert got == []
            continue
        assert all(r["n_tokens"] <= width for r in got)
        covered = set()
        for r in got:
            start = r["chunk_id"] * stride
            assert r["chunk_text"] == " ".join(toks[start : start + width])
            covered.update(range(start, min(start + width, len(toks))))
        assert covered == set(range(len(toks)))
        if stride == width:
            assert sum(r["n_tokens"] for r in got) == len(toks)


@settings(max_examples=6, deadline=None)
@given(texts)
def test_winnow_fingerprints_are_gram_hash_minima(spark, batch):
    """Every fingerprint equals the min of some window of the python
    reference gram-hash sequence, and every window's min is present
    (exact reference reconstruction)."""
    from cloud_native_medical_data_etl_pipeline_spark.operators import dedup as D

    n, w = 3, 4

    def ref_fps(t):
        toks = t.lower().split()
        grams = [
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        ]
        def h(g):
            acc = 11
            for ch in g:
                acc = (acc * 31 + ord(ch)) % 2147483647
            return acc
        hs = [h(g) for g in grams]
        if not hs:
            return set()
        if len(hs) < w:
            return {min(hs)}
        return {min(hs[i : i + w]) for i in range(len(hs) - w + 1)}

    df = spark.createDataFrame(
        list(enumerate(batch)), "doc_id long, text string"
    )
    got = {}
    for r in D.winnow_fingerprints(df, ngram_n=n, window=w).collect():
        got.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    for i, t in enumerate(batch):
        assert got.get(i, set()) == ref_fps(t), (i, t)


@settings(max_examples=6, deadline=None)
@given(texts)
def test_repetition_ratios_bounds_and_reference(spark, batch):
    from cloud_native_medical_data_etl_pipeline_spark.functions.text import (
        dup_ngram_ratio,
        dup_token_ratio,
    )

    df = spark.createDataFrame(
        list(enumerate(batch)), "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            dup_token_ratio("text").alias("t"),
            dup_ngram_ratio("text", 2).alias("g2"),
        ).collect()
    }
    for i, t in enumerate(batch):
        toks = t.lower().split()
        r = rows[i]
        assert 0.0 <= r["t"] < 1.0 or (not toks and r["t"] == 0.0)
        exp_t = 1 - len(set(toks)) / len(toks) if toks else 0.0
        assert math.isclose(r["t"], exp_t, abs_tol=1e-12)
        grams = [" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)]
        exp_g = 1 - len(set(grams)) / len(grams) if grams else 0.0
        assert math.isclose(r["g2"], exp_g, abs_tol=1e-12)


# ---------------------------------------------------------------------------
# funnel_counts vs a brute-force python model
# ---------------------------------------------------------------------------


def _funnel_model(events, steps):
    """events: list of (user, type, time). Greedy-earliest chain."""
    from collections import defaultdict

    by_user = defaultdict(lambda: defaultdict(list))
    for u, t, e in events:
        by_user[u][t].append(e)
    counts = [0] * len(steps)
    for u, per_type in by_user.items():
        prev = None
        for i, s in enumerate(steps):
            ts = sorted(per_type.get(s, []))
            if i == 0:
                cur = ts[0] if ts else None
            else:
                cur = next((x for x in ts if x > prev), None)
            if cur is None:
                break
            counts[i] += 1
            prev = cur
    return counts


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),          # user
            st.sampled_from(["a", "b", "c", "x"]),          # type (x = noise)
            st.integers(min_value=0, max_value=20),          # hour
        ),
        min_size=1,
        max_size=60,
    )
)
def test_funnel_matches_brute_force(spark, batch):
    import datetime as dt

    from cloud_native_medical_data_etl_pipeline_spark.operators.funnel import (
        funnel_counts,
    )

    steps = ["a", "b", "c"]
    rows = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=h), u, t)
        for i, (u, t, h) in enumerate(batch)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {
        r["step_idx"]: r["users"]
        for r in funnel_counts(df, steps).collect()
    }
    model_events = [
        (u, t, h) for (u, t, h) in batch
    ]
    want = _funnel_model(model_events, steps)
    assert [got[i + 1] for i in range(len(steps))] == want


# ---------------------------------------------------------------------------
# span_dedup_rebuild invariants
# ---------------------------------------------------------------------------


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["w1", "w2", "w3"]), min_size=0, max_size=12),
        min_size=1,
        max_size=10,
    ),
    st.integers(min_value=1, max_value=4),
)
def test_span_dedup_invariants(spark, docs, chunk):
    from cloud_native_medical_data_etl_pipeline_spark.operators.dedup import (
        span_dedup_rebuild,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        span_dedup_rebuild(df, chunk_tokens=chunk).collect(),
        key=lambda r: r["doc_id"],
    )
    # one row per non-empty doc
    assert [r["doc_id"] for r in out] == [i for i, t in enumerate(docs) if t]

    # python model: global first-occurrence over (doc_id, chunk_id) order
    seen = set()
    for r in out:
        toks = docs[r["doc_id"]]
        spans = [
            tuple(toks[s : s + chunk]) for s in range(0, len(toks), chunk)
        ]
        kept = []
        for sp in spans:
            if sp not in seen:
                seen.add(sp)
                kept.append(sp)
        want_text = " ".join(" ".join(sp) for sp in kept)
        assert r["text"] == want_text
        assert r["n_spans_kept"] == len(kept)
        assert r["n_spans_total"] == len(spans)


# --------------------------------------------------- snapshot diff (r4)
_diff_texts = st.one_of(st.none(), st.sampled_from(["a", "b", "c", ""]))


@settings(max_examples=6, deadline=None)
@given(
    st.dictionaries(st.integers(0, 15), _diff_texts, max_size=12),
    st.dictionaries(st.integers(0, 15), _diff_texts, max_size=12),
)
def test_snapshot_diff_matches_dict_reference(spark, old_d, new_d):
    """snapshot_diff == the obvious dict-diff on any pair of keyed
    snapshots (NULL content hashing as '')."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.delta import (
        snapshot_diff,
    )

    schema = "doc_id long, text string"
    old = spark.createDataFrame(list(old_d.items()) or [(None, None)], schema)
    new = spark.createDataFrame(list(new_d.items()) or [(None, None)], schema)
    if not old_d:
        old = old.where(F.col("doc_id").isNotNull())
    if not new_d:
        new = new.where(F.col("doc_id").isNotNull())
    got = {
        r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()
    }
    want = {}
    for k in set(old_d) | set(new_d):
        if k not in old_d:
            want[k] = "added"
        elif k not in new_d:
            want[k] = "removed"
        elif (old_d[k] or "") != (new_d[k] or ""):
            want[k] = "changed"
    assert got == want


# ------------------------------------------------------- rrf fuse (r4)
@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(0, 20), min_size=1, max_size=8, unique=True),
        min_size=1,
        max_size=3,
    )
)
def test_rrf_fuse_matches_python_reference(spark, lists):
    """Fused scores equal the straight Python RRF sum over the same
    ranked lists, and ordering is (rounded score desc, key asc)."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.ranking import (
        rrf_fuse,
    )

    frames = [
        spark.createDataFrame(
            [(d, i + 1) for i, d in enumerate(lst)], "doc_id long, rank int"
        )
        for lst in lists
    ]
    top = 50
    out = rrf_fuse(frames, rrf_k=60, top=top).collect()
    want: dict[int, float] = {}
    for lst in lists:
        for i, d in enumerate(lst):
            want[d] = want.get(d, 0.0) + 1.0 / (60 + i + 1)
    want_rounded = {d: round(s, 6) for d, s in want.items()}
    got = {r["doc_id"]: r["rrf"] for r in out}
    assert got == dict(
        sorted(want_rounded.items(), key=lambda kv: (-kv[1], kv[0]))[:top]
    )
    order = [r["doc_id"] for r in out]
    assert order == sorted(got, key=lambda d: (-got[d], d))


# ---------------------------------------------- cooccurrence lift (r4)
@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.sampled_from("abcd")),
        min_size=1,
        max_size=30,
    )
)
def test_cooccurrence_matches_bruteforce(spark, rows):
    """pair_n and lift equal a brute-force basket model, multiplicity
    and row order notwithstanding."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.assoc import (
        cooccurrence_pairs,
    )

    df = spark.createDataFrame(rows, "basket long, item string")
    got = {
        (r["item_a"], r["item_b"]): (r["pair_n"], r["lift"])
        for r in cooccurrence_pairs(df, ["basket"], "item").collect()
    }
    baskets: dict[int, set] = {}
    for b, it in rows:
        baskets.setdefault(b, set()).add(it)
    n_total = len(baskets)
    item_n: dict[str, int] = {}
    pair_n: dict[tuple, int] = {}
    for items in baskets.values():
        for x in items:
            item_n[x] = item_n.get(x, 0) + 1
        s = sorted(items)
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                pair_n[(s[i], s[j])] = pair_n.get((s[i], s[j]), 0) + 1
    want = {
        p: (c, round(c * n_total / (item_n[p[0]] * item_n[p[1]]), 6))
        for p, c in pair_n.items()
    }
    assert got == want


# ------------------------------------------------ fuzzy linkage (r4)
_names = st.text(alphabet="abc1", min_size=1, max_size=6)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(_names, min_size=1, max_size=8, unique=True),
    st.lists(_names, min_size=1, max_size=8, unique=True),
)
def test_blocked_fuzzy_join_matches_bruteforce_within_blocks(
    spark, left_names, right_names
):
    """Within-block pairs match a brute-force Levenshtein filter;
    cross-block pairs never appear (the declared blocking loss)."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.linkage import (
        blocked_fuzzy_join,
    )

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    left = spark.createDataFrame(
        list(enumerate(left_names)), "id long, name string"
    )
    right = spark.createDataFrame(
        [(100 + i, n) for i, n in enumerate(right_names)],
        "id long, name string",
    )
    got = {
        (r["left_key"], r["right_key"]): r["distance"]
        for r in blocked_fuzzy_join(
            left,
            right,
            left_key="id",
            right_key="id",
            left_col="name",
            right_col="name",
            block=lambda c: F.substring(c, 1, 1),
            max_dist=2,
        ).collect()
    }
    want = {
        (i, 100 + j): lev(a, b)
        for i, a in enumerate(left_names)
        for j, b in enumerate(right_names)
        if a[0] == b[0] and lev(a, b) <= 2
    }
    assert got == want


# ---------------------------------------------------- scd2 (r4)
@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 30), st.sampled_from("xy")),
        min_size=1,
        max_size=20,
    )
)
def test_scd2_matches_python_reference(spark, rows):
    """Interval output equals a per-entity run-collapse in Python,
    with (ts, uid) ordering and open last runs."""
    import datetime as dt

    from cloud_native_medical_data_etl_pipeline_spark.operators.scd import (
        scd2_intervals,
    )

    data = [
        (k, dt.datetime(2024, 1, 1, 0, m), v, uid)
        for uid, (k, m, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "user_id long, ts timestamp, event_type string, event_id long"
    )
    got = {
        (r["user_id"], r["valid_from_us"], r["event_type"], r["valid_to_us"])
        for r in scd2_intervals(
            df, "user_id", "ts", "event_type", "event_id"
        ).collect()
    }
    by_key: dict[int, list] = {}
    for k, ts, v, uid in data:
        us = int(ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
        by_key.setdefault(k, []).append((us, uid, v))
    want = set()
    for k, events in by_key.items():
        events.sort()
        runs = []
        for us, _uid, v in events:
            if not runs or runs[-1][1] != v:
                runs.append((us, v))
        for i, (us, v) in enumerate(runs):
            nxt = runs[i + 1][0] if i + 1 < len(runs) else None
            want.add((k, us, v, nxt))
    assert got == want


# ------------------------------------------- quantile buckets (r4)
@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from("pq"), st.integers(0, 50)),
        min_size=2,
        max_size=30,
    )
)
def test_quantile_buckets_matches_percent_rank(spark, rows):
    from cloud_native_medical_data_etl_pipeline_spark.operators.stats import (
        quantile_buckets,
    )

    data = [(i, g, float(v)) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "event_id long, event_type string, value double")
    got = {
        r["event_id"]: r["bucket"]
        for r in quantile_buckets(df, "event_type", "value", 10).collect()
    }
    want = {}
    for g in {g for _, g, _ in data}:
        grp = sorted(v for _, gg, v in data if gg == g)
        n = len(grp)
        for i, gg, v in data:
            if gg != g:
                continue
            rank = grp.index(v)  # first index == SQL rank-1 for ties
            pr = 0.0 if n == 1 else rank / (n - 1)
            want[i] = min(int(pr * 10), 9)
    assert got == want


# ----------------------------------------------------- cdc apply (r4)
@settings(max_examples=6, deadline=None)
@given(
    st.dictionaries(st.integers(0, 8), st.sampled_from("abc"), max_size=6),
    st.lists(
        st.tuples(
            st.integers(0, 8),            # key
            st.sampled_from("xyz"),       # payload
            st.integers(0, 3),            # ts
            st.sampled_from(["I", "U", "D"]),
        ),
        max_size=12,
    ),
)
def test_apply_cdc_matches_python_model(spark, base_d, log):
    """Merged snapshot equals a sequential last-writer-wins fold (by
    ts, then change id) over a randomized base + change log."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.cdc import (
        apply_cdc,
    )

    base_rows = list(base_d.items())
    change_rows = [
        (k, v, ts, op, cid) for cid, (k, v, ts, op) in enumerate(log)
    ]
    base = spark.createDataFrame(base_rows, "k long, v string")
    changes = spark.createDataFrame(
        change_rows, "k long, v string, ts int, op string, change_id long"
    )
    got = {
        r["k"]: r["v"]
        for r in apply_cdc(base, changes, "k", "ts", "op", "change_id")
        .select("k", "v")
        .collect()
    }
    state = dict(base_d)
    latest: dict[int, tuple] = {}
    for k, v, ts, op, cid in change_rows:
        cur = latest.get(k)
        if cur is None or (ts, cid) > (cur[0], cur[1]):
            latest[k] = (ts, cid, op, v)
    for k, (_ts, _cid, op, v) in latest.items():
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = v
    assert got == state


# --- pure-stdlib codecs: arbitrary payloads must round-trip exactly ---

@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
    st.sampled_from([1, 2, 3, 4]),
    st.randoms(use_true_random=False),
)
def test_png_roundtrip_property(width, height, channels, rng):
    from cloud_native_medical_data_etl_pipeline_spark.functions import png

    px = bytes(rng.randrange(256) for _ in range(width * height * channels))
    w, h, ch, out = png.decode(png.encode(px, width, height, channels))
    assert (w, h, ch, out) == (width, height, channels, px)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=400
    ),
    st.sampled_from([8000, 16000, 44100]),
)
def test_wav_roundtrip_property(samples, rate):
    from cloud_native_medical_data_etl_pipeline_spark.functions import riff

    r, ch, out = riff.wav_decode(riff.wav_encode(samples, rate))
    assert (r, ch, out) == (rate, 1, samples)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.binary(min_size=0, max_size=64), min_size=0, max_size=8))
def test_avi_demux_roundtrip_property(frames):
    from cloud_native_medical_data_etl_pipeline_spark.functions import riff

    assert riff.avi_frames(riff.avi_encode(frames)) == frames


# strategy tuned to hit the trainer's branchy edges: tiny dims, heavy
# duplication (n < k pads, empty-cell refills), integer-ish values
# (exact distance ties exercise the lowest-index/min-key tiebreaks)
_pq_vals = st.sampled_from([0.0, 1.0, 2.0, 0.5, -1.0])
_pq_rows = st.lists(
    st.tuples(st.integers(0, 10**6), st.lists(_pq_vals, min_size=2, max_size=2)),
    min_size=1,
    max_size=12,
    unique_by=lambda t: t[0],
)


@settings(max_examples=5, deadline=None)
@given(_pq_rows, st.sampled_from([2, 4]), st.sampled_from([1, 2]))
def test_pq_train_engines_agree_property(spark, rows, k, iters):
    """The r9 engine contract under randomized duplication/tie-heavy
    inputs: the driver-side numpy trainer and the in-engine SQL spec
    path must produce IDENTICAL codebooks — pads, refills, D²-race
    winners, Lloyd means, all of it."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.quantize import (
        pq_train,
    )

    df = spark.createDataFrame(
        [(key, vec) for key, vec in rows],
        "vec_id long, embedding array<double>",
    )
    a = pq_train(df, m=2, k=k, iters=iters)
    with distributed_loops():
        b = pq_train(df, m=2, k=k, iters=iters)
    assert a == b


# kcenter engine parity under randomized NULL patterns: the r11
# alive-lane argmax fix's property form.  Values integer-ish to force
# exact distance ties (tiebreak coverage), None elements injected to
# exercise the NaN/NULL-radius lanes on BOTH engines.
_kc_vals = st.sampled_from([0.0, 1.0, 2.0, 3.0, None])
_kc_rows = st.lists(
    st.tuples(
        st.integers(0, 10**6),
        st.lists(_kc_vals, min_size=2, max_size=2),
    ),
    min_size=1,
    max_size=10,
    unique_by=lambda t: t[0],
)


@settings(max_examples=6, deadline=None)
@given(_kc_rows, st.sampled_from([2, 4, 8]))
def test_kcenter_engines_agree_under_null_elements(spark, rows, k):
    """numpy and sql k-center must emit identical (rank, key, radius)
    triples — including all-NaN candidate pools (NULL radii, smallest
    alive key), NULL-element centers (null-skipping least), and exact
    distance ties (ascending-key argmax tiebreak)."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.similarity import (
        kcenter_select,
    )

    df = spark.createDataFrame(
        [(key, vec) for key, vec in rows],
        "vec_id long, embedding array<double>",
    )
    a = sorted(tuple(r) for r in kcenter_select(df, k=k).collect())
    with distributed_loops():
        b = sorted(tuple(r) for r in kcenter_select(df, k=k).collect())
    assert a == b


# minhash / n-gram-Jaccard parity of the Arrow base pass with its
# references, randomized-text form: the fixed-corpus cross-checks in
# test_dedup_similarity.py run on the driver corpus only.  This feeds
# adversarial text (unicode, digits, punctuation, whitespace runs,
# tab/newline, empty, NULL) through the Arrow pass and through the SQL
# expression reference (conftest.minhash_reference_base) or a Python
# brute force, exact equality demanded.  Low thresholds so candidate
# pairs actually emit.
_tx_chars = "ab1 .,-\t\né中"
_tx_word = st.text(alphabet=_tx_chars, min_size=0, max_size=24)
_tx_docs = st.lists(
    st.tuples(st.integers(0, 10**6), st.one_of(st.none(), _tx_word)),
    min_size=2,
    max_size=8,
    unique_by=lambda t: t[0],
)


@settings(max_examples=5, deadline=None)
@given(_tx_docs, st.sampled_from([1, 2]))
def test_minhash_engines_agree_on_random_text(spark, docs, ngram_n):
    from cloud_native_medical_data_etl_pipeline_spark.operators import dedup

    df = spark.createDataFrame(
        [(k, t) for k, t in docs], "doc_id long, text string"
    )
    kw = dict(ngram_n=ngram_n, jaccard_threshold=0.1, num_hashes=8, bands=4)
    ref_base = minhash_reference_base(df, ngram_n)
    base = dedup.minhash_base(df, ngram_n=ngram_n)
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, ref_base.collect())
    )
    a = sorted(tuple(r) for r in dedup.minhash_lsh_pairs(df, **kw).collect())
    b = sorted(
        tuple(r)
        for r in dedup.minhash_lsh_pairs(df, base=ref_base, **kw).collect()
    )
    assert a == b


@settings(max_examples=5, deadline=None)
@given(_tx_docs)
def test_ngram_jaccard_engines_agree_on_random_text(spark, docs):
    from cloud_native_medical_data_etl_pipeline_spark.operators import dedup

    df = spark.createDataFrame(
        [(k, t) for k, t in docs], "doc_id long, text string"
    )
    grams = sorted(
        map(tuple, minhash_reference_base(df, num_hashes=0).collect())
    )
    got = sorted(map(tuple, dedup.minhash_base(df, num_hashes=0).collect()))
    assert got == grams
    a = sorted(
        tuple(r)
        for r in dedup.ngram_jaccard_pairs(df, jaccard_threshold=0.1).collect()
    )
    assert a == ngram_jaccard_bruteforce(dict(grams), 0.1)


# salted_join output-invariance, randomized form: the fixed-case units
# (test_skew.py) pin inner/left parity on two tiny frames; this fuzzes
# duplicate rows (the positional-salt reason-for-being), NULL keys,
# NULL payloads, and missing/extra right keys, demanding exact
# multiset equality with the plain join under both supported hows.
_sj_key = st.one_of(st.none(), st.integers(0, 3))
_sj_left = st.lists(
    st.tuples(_sj_key, st.one_of(st.none(), st.integers(0, 5))),
    min_size=0,
    max_size=12,
)
_sj_right = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 9)),
    min_size=0,
    max_size=6,
    unique_by=lambda t: t[0],
)


@settings(max_examples=6, deadline=None)
@given(_sj_left, _sj_right, st.sampled_from(["inner", "left"]))
def test_salted_join_output_invariant_random(spark, lrows, rrows, how):
    from cloud_native_medical_data_etl_pipeline_spark.operators.skew import (
        salted_join,
    )

    left = spark.createDataFrame(
        lrows or [(None, None)], "key int, v int"
    )
    if not lrows:
        left = left.limit(0)
    right = spark.createDataFrame(
        rrows or [(0, 0)], "key int, w int"
    )
    if not rrows:
        right = right.limit(0)
    def _key(t):
        # None-safe multiset ordering (the rows carry NULL lanes)
        return tuple((x is None, x if x is not None else 0) for x in t)

    plain = sorted(
        (tuple(r) for r in left.join(right, "key", how).collect()),
        key=_key,
    )
    salted = sorted(
        (
            tuple(r)
            for r in salted_join(
                left, right, "key", salt_factor=4, how=how
            ).collect()
        ),
        key=_key,
    )
    assert salted == plain


# asof_join vs a brute-force reference: the union+window form's edge
# semantics — inclusive match, greatest-ts predecessor, (key, ts) ties
# resolved to the max payload tuple, NULL right_ts dropped, NULL
# left_ts matches nothing, duplicate left rows each matched — are
# golden-unit-pinned on fixed frames; this is the randomized form.
_aj_key = st.integers(0, 2)
_aj_ts = st.one_of(st.none(), st.integers(0, 6))
_aj_left = st.lists(
    st.tuples(_aj_key, _aj_ts, st.integers(0, 9)), min_size=1, max_size=10
)
_aj_right = st.lists(
    st.tuples(_aj_key, _aj_ts, st.integers(0, 9)), min_size=0, max_size=10
)


@settings(max_examples=6, deadline=None)
@given(_aj_left, _aj_right)
def test_asof_join_matches_bruteforce(spark, lrows, rrows):
    from cloud_native_medical_data_etl_pipeline_spark.operators import joins

    left = spark.createDataFrame(lrows, "k int, lt int, lv int")
    right = spark.createDataFrame(
        rrows or [(0, 0, 0)], "k int, rt int, rid int"
    )
    if not rrows:
        right = right.limit(0)
    got = [
        (r["k"], r["lt"], r["lv"], r["r_rt"], r["r_rid"])
        for r in joins.asof_join(
            left,
            right,
            on="k",
            left_ts="lt",
            right_ts="rt",
            left_keep=["lv"],
            right_payload=["rid"],
        ).collect()
    ]

    def ref(k, lt, lv):
        if lt is None:
            return (k, lt, lv, None, None)
        cands = [
            (rt, rid)
            for (rk, rt, rid) in rrows
            if rk == k and rt is not None and rt <= lt
        ]
        if not cands:
            return (k, lt, lv, None, None)
        mt = max(rt for rt, _ in cands)
        rid = max(rid for rt, rid in cands if rt == mt)
        return (k, lt, lv, mt, rid)

    want = [ref(*row) for row in lrows]

    def _key(t):
        return tuple((x is None, x if x is not None else 0) for x in t)

    assert sorted(got, key=_key) == sorted(want, key=_key)


# range_lookup_join vs a brute-force [lo, hi) reference: the bin
# explosion is an optimization and must be semantically TRANSPARENT —
# the reference never looks at bins, so any boundary bug (an interval
# whose hi lands exactly on a bin edge, values at lo/hi, negative
# ranges, bins wider/narrower than intervals, overlapping intervals)
# shows up as a missing or phantom pair.  Values and bounds are exact
# quarter-multiples so float floor-division agrees across engines.
_rl_val = st.sampled_from([x / 4.0 for x in range(-12, 25)])
_rl_fact = st.lists(
    st.tuples(st.integers(0, 99), st.one_of(st.none(), _rl_val)),
    min_size=1,
    max_size=10,
    unique_by=lambda t: t[0],
)
_rl_dim = st.lists(
    st.tuples(_rl_val, _rl_val, st.integers(0, 9)).map(
        lambda t: (min(t[0], t[1]), max(t[0], t[1]) + 0.25, t[2])
    ),
    min_size=0,
    max_size=6,
)


@settings(max_examples=6, deadline=None)
@given(_rl_fact, _rl_dim, st.sampled_from([1.0, 2.5]), st.sampled_from(["inner", "left"]))
def test_range_lookup_join_matches_bruteforce(spark, frows, drows, w, how):
    from cloud_native_medical_data_etl_pipeline_spark.operators import joins

    fact = spark.createDataFrame(frows, "fid int, v double")
    dim = spark.createDataFrame(
        drows or [(0.0, 1.0, 0)], "lo double, hi double, attr int"
    )
    if not drows:
        dim = dim.limit(0)
    got = [
        (r["fid"], r["v"], r["lo"], r["hi"], r["attr"])
        for r in joins.range_lookup_join(
            fact, dim, "v", bin_width=w, how=how
        ).collect()
    ]
    want = []
    for fid, v in frows:
        matches = (
            []
            if v is None
            else [(lo, hi, a) for lo, hi, a in drows if lo <= v < hi]
        )
        if matches:
            want.extend((fid, v, lo, hi, a) for lo, hi, a in matches)
        elif how == "left":
            want.append((fid, v, None, None, None))

    def _key(t):
        return tuple((x is None, x if x is not None else 0) for x in t)

    assert sorted(got, key=_key) == sorted(want, key=_key)


# binned_interval_join vs brute force: the time-bin blocking must be
# transparent to the (lo, hi]-gap pair semantics — boundary gaps
# exactly AT lo_s (excluded) and AT hi_s (included), cross-bin pairs,
# duplicate timestamps, and multi-key mixes all checked against a
# reference that never bins.
_bi_rows = st.lists(
    st.tuples(
        st.integers(0, 2),            # key
        st.integers(0, 12),           # offset seconds
        st.integers(0, 9),            # id payload
    ),
    min_size=1,
    max_size=10,
)


@settings(max_examples=6, deadline=None)
@given(_bi_rows, _bi_rows, st.sampled_from([(0.0, 2.0), (1.0, 5.0)]))
def test_binned_interval_join_matches_bruteforce(spark, lrows, rrows, bounds):
    import datetime as dt

    from cloud_native_medical_data_etl_pipeline_spark.operators import joins

    lo_s, hi_s = bounds
    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(k, t0 + dt.timedelta(seconds=s), i) for k, s, i in lrows],
        "k long, ts timestamp, lid long",
    )
    right = spark.createDataFrame(
        [(k, t0 + dt.timedelta(seconds=s), i) for k, s, i in rrows],
        "k long, ts timestamp, rid long",
    )
    got = sorted(
        (r["k"], r["lid"], r["gap_us"], r["r_rid"])
        for r in joins.binned_interval_join(
            left, right, on="k", lo_s=lo_s, hi_s=hi_s, right_payload=["rid"]
        ).collect()
    )
    want = sorted(
        (lk, lid, int((rs - ls) * 1_000_000), rid)
        for lk, ls, lid in lrows
        for rk, rs, rid in rrows
        if lk == rk and ls + lo_s < rs <= ls + hi_s
    )
    assert got == want


# interval_overlap_join vs brute force: closed-interval overlap with
# the canonical-bin claim (no dedup pass) must emit each overlapping
# pair EXACTLY once — double-claims from multi-bin overlaps are the
# failure mode the canonical rule exists to prevent.
_io_iv = st.lists(
    st.tuples(st.integers(0, 1), st.integers(0, 10), st.integers(0, 5),
              st.integers(0, 9)).map(
        lambda t: (t[0], t[1] * 1_000_000, (t[1] + t[2]) * 1_000_000, t[3])
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=6, deadline=None)
@given(_io_iv, _io_iv, st.sampled_from([2_000_000, 7_000_000]))
def test_interval_overlap_join_matches_bruteforce(spark, lrows, rrows, span):
    from cloud_native_medical_data_etl_pipeline_spark.operators import joins

    left = spark.createDataFrame(lrows, "k long, s long, e long, lid long")
    right = spark.createDataFrame(rrows, "k long, s long, e long, rid long")
    got = sorted(
        (r["k"], r["lid"], r["r_rid"])
        for r in joins.interval_overlap_join(
            left, right, "s", "e", "s", "e", on="k", bin_span_us=span
        ).collect()
    )
    want = sorted(
        (lk, lid, rid)
        for lk, ls, le, lid in lrows
        for rk, rs, re_, rid in rrows
        if lk == rk and ls <= re_ and rs <= le
    )
    assert got == want  # exactly-once: multisets equal, no double claims


# ---------------------------------------------------------------------------
# Indexed BM25 vs the direct scorer: the staged q141 contract.  The
# indexed path prunes to the query terms' md5 buckets and (since r13)
# sums per-doc term contributions in FIXED term order, so on ANY
# corpus it must reproduce bm25_scores' positive-score set exactly —
# same docs, same rounded scores — including empty/whitespace/NULL
# texts, unicode tokens, duplicate-content docs, terms absent from
# the corpus, and terms present in every doc.
# ---------------------------------------------------------------------------
_bm25_vocab = ["spark", "query", "join", "stream", "δζ", "the", "x1"]
_bm25_text = st.one_of(
    st.none(),
    st.just(""),
    st.just("   "),
    st.lists(st.sampled_from(_bm25_vocab), min_size=1, max_size=8).map(
        " ".join
    ),
)


@settings(max_examples=5, deadline=None)
@given(st.lists(_bm25_text, min_size=1, max_size=12))
def test_bm25_indexed_matches_direct_random(spark, texts):
    import shutil
    import tempfile

    from cloud_native_medical_data_etl_pipeline_spark.operators import (
        dedup,
        ranking,
    )

    # guarantee at least one posting (an all-empty corpus is a
    # different contract: build_term_index writes a fileless postings
    # dir no schemaless read can open)
    rows = [(i, t) for i, t in enumerate(texts)] + [
        (len(texts), "spark join")
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    terms = ["spark", "join", "δζ", "absent"]  # absent: df=0 branch
    work = tempfile.mkdtemp(prefix="bm25_prop_")
    try:
        ranking.build_term_index(df, f"{work}/idx")
        indexed = {
            r["doc"]: r["bm25"]
            for r in ranking.bm25_topk_indexed(
                spark, f"{work}/idx", terms, k=10_000
            ).collect()
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # the indexed path's candidate set is the MATCHED docs (any query
    # term present), not the positive-score docs: a matched doc whose
    # 6dp-rounded score is exactly 0.0 (idf*tf/norm < 5e-7, possible
    # for a term in nearly all docs at large N) stays in the indexed
    # result but a `bm25 > 0.0` filter would drop it from the direct
    # set (ADVICE r13) — so recompute the matched set from the corpus
    # with the operator's own tokenization (lowercased whitespace
    # split) and filter on membership instead
    term_set = set(terms)
    matched = {
        i
        for i, t in rows
        if t and any(tok in term_set for tok in t.lower().split())
    }
    scored = ranking.bm25_scores(df, terms)
    direct = {
        r["doc_id"]: r["bm25"]
        for r in scored.collect()
        if r["doc_id"] in matched
    }
    dedup.release(scored)
    assert indexed == direct


# ---------------------------------------------------------------------------
# Lake text round-trips: the lossless envelope q140 claims, fuzzed.
# JSON through the Hive layout must round-trip EVERYTHING (full
# unicode, quotes/commas/newlines, subnormal and max-magnitude
# doubles, NULLs).  The header CSV extract has two documented seams —
# Spark CSV cannot distinguish NULL from '' (nullValue is the empty
# string both ways) and the default reader does not reassemble quoted
# embedded newlines — so its strategy EXCLUDES those inputs: the test
# pins the envelope, the exclusions document its boundary.
# ---------------------------------------------------------------------------
_rt_doubles = st.one_of(
    st.none(),
    st.floats(allow_nan=False, allow_infinity=False),
    st.sampled_from([0.0, -0.0, 5e-324, 1.7976931348623157e308, 1e-300]),
)
_rt_json_text = st.one_of(
    st.none(), st.text(max_size=12)
)
_rt_csv_text = st.one_of(
    st.none(),
    st.text(
        alphabet=st.characters(blacklist_characters="\n\r", blacklist_categories=("Cs", "Cc")),
        min_size=1,
        max_size=12,
    ).filter(lambda s: s == s.strip() and s != ""),
)


def _rt_rows(texts):
    return st.lists(
        st.tuples(st.integers(-(2**62), 2**62), _rt_doubles, texts),
        min_size=1,
        max_size=10,
        unique_by=lambda t: t[0],
    )


@settings(max_examples=5, deadline=None)
@given(_rt_rows(_rt_json_text))
def test_lake_json_roundtrip_lossless_random(spark, rows):
    import shutil
    import tempfile

    from cloud_native_medical_data_etl_pipeline_spark.sources import lake

    df = spark.createDataFrame(rows, "event_id long, value double, props string")
    work = tempfile.mkdtemp(prefix="lake_prop_")
    try:
        lake.write_partitioned(df, f"{work}/jlake", "2024-01-01", fmt="json")
        back = lake.read_partition(
            spark, f"{work}/jlake", "2024-01-01", schema=df.schema, fmt="json"
        )
        got = sorted(
            (r["event_id"], r["value"], r["props"]) for r in back.collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    assert got == sorted(rows)


@settings(max_examples=5, deadline=None)
@given(_rt_rows(_rt_csv_text))
def test_lake_csv_head_roundtrip_lossless_random(spark, rows):
    import shutil
    import tempfile

    from cloud_native_medical_data_etl_pipeline_spark.sources import lake

    df = spark.createDataFrame(rows, "event_id long, value double, props string")
    work = tempfile.mkdtemp(prefix="lake_prop_")
    try:
        lake.write_csv_head(df.orderBy("event_id"), f"{work}/chead", 1000)
        back = (
            spark.read.schema(df.schema)
            .option("header", True)
            .csv(f"{work}/chead")
        )
        got = sorted(
            (r["event_id"], r["value"], r["props"]) for r in back.collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    assert got == sorted(rows)


# ---------------------------------------------------------------------------
# asof_join vs brute-force reference, NULLABLE keys
# ---------------------------------------------------------------------------

_asof_key = st.one_of(st.none(), st.sampled_from(["k1", "k2", "k3"]))
_asof_ts = st.one_of(st.none(), st.integers(min_value=0, max_value=20))


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.tuples(_asof_key, _asof_ts), min_size=1, max_size=25),
    st.lists(
        st.tuples(_asof_key, _asof_ts, st.integers(0, 9)),
        min_size=0,
        max_size=25,
    ),
)
def test_asof_join_null_keys_matches_bruteforce(spark, lrows, rrows):
    """Randomized parity with a brute-force model over small key/ts
    domains (dense ties, NULL keys, NULL timestamps): for each left
    row the match is the greatest right_ts <= left_ts within the SAME
    non-null key, ties by max payload, NULLs on either side of the
    equality match nothing (SQL semantics — the r16 null-key fix).
    The r15 fuzz above this one (`test_asof_join_matches_bruteforce`)
    generates NON-NULL int keys — which is exactly why the null-key
    NULL<=>NULL match survived it; this variant's key domain includes
    None.  (It briefly SHADOWED the r15 test by reusing its name — a
    later same-name def silently replaces the earlier one at module
    level, and only the collection count betrays it.)"""
    from cloud_native_medical_data_etl_pipeline_spark.operators.joins import (
        asof_join,
    )

    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lrows)],
        "k string, ts long, lid long",
    )
    right = spark.createDataFrame(rrows, "k string, ts long, v long")
    got = {
        r["lid"]: (r["r_ts"], r["r_v"])
        for r in asof_join(
            left, right, on="k", left_keep=["lid"], right_payload=["v"]
        ).collect()
    }

    want = {}
    for i, (k, t) in enumerate(lrows):
        cands = [
            (rt, rv)
            for (rk, rt, rv) in rrows
            if k is not None and rk == k and rt is not None
            and t is not None and rt <= t
        ]
        # max ts, then max payload tuple (mirrors the struct tiebreak)
        want[i] = max(cands) if cands else (None, None)
    assert got == want
