#!/usr/bin/env python
"""Per-operator 1x vs 10x scale evidence, one case per operator.

    python tools/decade.py OPERATOR [OPERATOR ...]

Each case builds its operator's frames at 1x and 10x (or a sweep),
asserts the plan facts, output counts and decade ratios of its claim,
and prints one JSON line ``{"<key>": {...}, "cores": N}`` to stdout
under the key SCALING.md quotes (CASES); progress goes to stderr.
Several operators share one session and print one line each.

Session: get_spark()'s default (master ``local[$SPARK_GRAFT_CPUS or
*]``, its shuffle width, the Spark UI off).  ``cores`` is
sc.defaultParallelism; quote it with every number.

Timing, the same rule in every case: run once untimed as a warm-up,
then REPS timed runs, and report the fastest run's wall time and that
same run's stage metrics.

Stage metrics come from Spark's in-process status store, the store the
UI's REST API serves, read over py4j without the UI or a port: the
completed stages a run added, summed to input records and bytes and
shuffle read + write bytes.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time
from collections import Counter
from functools import reduce

TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(TOOLS))
sys.path.insert(0, TOOLS)

from pyspark.sql import functions as F  # noqa: E402

from _decade_common import export_repo_to_workers, sf_dir  # noqa: E402

REPS = 2


# ---------------------------------------------------------------------------
# Stage metrics and timing


def _stage_list(spark):
    """Every stage in the status store, newest first (its natural
    (stageId, attemptId) index, reversed)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the store is fed asynchronously
    jvm = sc._jvm
    return jsc.statusStore().stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )


def _last_stage_id(spark):
    stages = _stage_list(spark)
    return stages.head().stageId() if stages.nonEmpty() else -1


def _ms(opt_date):
    return opt_date.get().getTime() if opt_date.isDefined() else None


def stages_after(spark, last_id):
    """The completed stages whose id is above ``last_id``, as dicts of
    the status-store fields the cases read.  Stage ids only grow, so
    these are the stages of the actions run since ``last_id`` was
    read."""
    out = []
    it = _stage_list(spark).iterator()
    while it.hasNext():
        st = it.next()
        if st.stageId() <= last_id:
            break
        if st.status().toString() != "COMPLETE":
            continue
        out.append(
            {
                "numTasks": st.numTasks(),
                "inputRecords": st.inputRecords(),
                "inputBytes": st.inputBytes(),
                "shuffleReadBytes": st.shuffleReadBytes(),
                "shuffleWriteBytes": st.shuffleWriteBytes(),
                "executorRunTime": st.executorRunTime(),
                "firstTaskLaunchedTime": _ms(st.firstTaskLaunchedTime()),
                "completionTime": _ms(st.completionTime()),
            }
        )
    return out


def run_once(spark, fn):
    """``fn()``'s result and its metrics: wall seconds, the summed
    stage delta and the stages themselves."""
    last = _last_stage_id(spark)
    t0 = time.perf_counter()
    res = fn()
    wall = time.perf_counter() - t0
    stages = stages_after(spark, last)
    return res, {
        "wall_sec": round(wall, 4),
        "input_records": sum(s["inputRecords"] for s in stages),
        "input_bytes": sum(s["inputBytes"] for s in stages),
        "shuffle_bytes": sum(
            s["shuffleReadBytes"] + s["shuffleWriteBytes"] for s in stages
        ),
        "stages": stages,
    }


def timed(spark, fn):
    """The module's timing rule: one untimed warm-up, then REPS timed
    runs; the fastest run's result and metrics (see run_once)."""
    fn()
    runs = [run_once(spark, fn) for _ in range(REPS)]
    return min(runs, key=lambda r: r[1]["wall_sec"])


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _progress(label, value):
    print(f"  {label}: {value}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# Cases


def asof(spark, root):
    """As-of join, q29 (`operators/joins.py:asof_join`).

    Claim (SCALING.md "Window operators"): the union-then-window shape
    shuffles |left| + |right| rows exactly ONCE on the key; per-key
    state is O(1) (last-carry-forward), so cost is linear in total
    rows, where a per-key range join explodes to O(|l|x|r|) candidate
    pairs per key before pruning.  10x rows should therefore cost ~10x
    shuffle bytes and ~linear wall, with exactly one hash exchange in
    the executed plan, at ANY per-key density, including the hot-key
    shape (many rows on few keys) that breaks the range-join
    formulation quadratically.

    Setup: synthetic trade/quote-like frames generated distributed
    (`spark.range` arithmetic).  Two shapes: UNIFORM (1,000 rows per
    key) and HOT (100,000 rows per key, 100x denser; a range join would
    face 10^10 candidate pairs per key here).  Output correctness is
    not re-proven (q29's oracle and the brute-force fuzz own that);
    this records the cost SHAPE: wall, shuffle bytes/row and the
    single-exchange plan property.
    """
    from cloud_native_medical_data_etl_pipeline_spark.operators.joins import (
        asof_join,
    )

    def frames(n_rows, rows_per_key):
        # left: one event per id; right: one state change per id
        keys = F.lit(max(1, n_rows // rows_per_key))
        left = spark.range(n_rows).select(
            (F.col("id") % keys).alias("key"),
            (F.col("id") * 7 % 1_000_000_000).alias("ts"),
            F.col("id").alias("lid"),
        )
        right = spark.range(n_rows).select(
            (F.col("id") % keys).alias("key"),
            (F.col("id") * 13 % 1_000_000_000).alias("ts"),
            F.col("id").alias("rid"),
        )
        return left.localCheckpoint(), right.localCheckpoint()

    results = {}
    for label, n_rows, per_key in (
        ("A_1x_2M_uniform", 2_000_000, 1_000),
        ("B_10x_20M_uniform", 20_000_000, 1_000),
        ("C_10x_20M_hotkeys", 20_000_000, 100_000),
    ):
        left, right = frames(n_rows, per_key)
        df = asof_join(
            left, right, on="key", left_ts="ts", right_ts="ts",
            left_keep=["lid"], right_payload=["rid"],
        )
        # the scale property: ONE hash exchange total; the union rides
        # a single (key)-partitioned window, no join explosion
        n_exchanges = _plan(df).split("== Initial Plan ==")[0].count(
            "Exchange hashpartitioning"
        )
        assert n_exchanges == 1, (label, n_exchanges)

        out_rows, m = timed(
            spark,
            lambda: df.agg(
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("key", "ts", "lid", "r_rid")).alias("c"),
            ).first()["n"],
        )
        assert out_rows == n_rows, (label, out_rows)
        results[label] = {
            "rows_each_side": n_rows,
            "rows_per_key": per_key,
            "wall_sec": m["wall_sec"],
            "shuffle_bytes": m["shuffle_bytes"],
            "shuffle_bytes_per_input_row": round(
                m["shuffle_bytes"] / (2 * n_rows), 1
            ),
            "exchanges_in_plan": n_exchanges,
        }
        _progress(label, results[label])
    # the decade claims: shuffle scales with rows (not pairs) and is
    # indifferent to per-key density
    a, b, c = (results[k] for k in sorted(results))
    assert b["shuffle_bytes"] < 15 * a["shuffle_bytes"], (a, b)
    assert 0.5 < c["shuffle_bytes"] / b["shuffle_bytes"] < 2.0, (b, c)
    return results


def bm25(spark, root):
    """Inverted-index BM25, q141 (`operators/ranking.py`).

    `build_term_index` / `bm25_topk_indexed`, the staged q141
    registration.

    Claim: a BM25 query against the built index reads ONLY its terms'
    md5 buckets (Catalyst partition pruning over the 256-way bucket
    layout), so per-query input tracks the probed buckets' posting rows,
    a small, corpus-PROPORTIONAL fraction (term document frequency
    grows with the corpus; that linear term is honest and unavoidable
    for exact BM25), while the direct `bm25_topk` re-tokenizes the
    ENTIRE corpus per query bag.  The index should read exactly the
    probed buckets' rows (twice: document frequencies + scoring) at
    every size, never the other ~25x buckets.  The wall-clock advantage
    at 50k documents is modest (tokenizing 50k docs parallelizes well);
    the structural win is the SCAN SHAPE: at corpus scale the direct
    path re-reads and re-tokenizes every text byte per query bag while
    the indexed path reads its buckets.

    Setup: 1x = sf0.1 documents (5,000 docs); 10x = shifted-key
    replicas with UNCHANGED text (postings per term genuinely grow
    10x).  Query = the q71/q141 term bag.  Per config: build the index
    (one-time cost, reported), then time the indexed and the direct
    path; PartitionFilters asserted in the indexed plan; indexed and
    direct top-k ranks asserted equal (k <= matched docs here).
    """
    from cloud_native_medical_data_etl_pipeline_spark.operators.dedup import (
        release,
    )
    from cloud_native_medical_data_etl_pipeline_spark.operators.ranking import (
        bm25_topk,
        bm25_topk_indexed,
        build_term_index,
        read_term_index,
    )

    terms, k = ["spark", "query", "join", "stream"], 20
    docs1 = spark.read.parquet(f"{sf_dir('sf0.1')}/documents.parquet").select(
        "doc_id", "text"
    )
    n1 = docs1.count()
    ten = docs1
    for i in range(1, 10):
        ten = ten.unionByName(
            docs1.select((F.col("doc_id") + F.lit(i * n1)).alias("doc_id"), "text")
        )
    ten.write.mode("overwrite").parquet(f"{root}/docs10x")
    docs10 = spark.read.parquet(f"{root}/docs10x")
    buckets = sorted({hashlib.md5(t.encode()).hexdigest()[:2] for t in terms})

    def measured(m):
        return {
            "wall_sec": m["wall_sec"],
            "input_records": m["input_records"],
            "input_bytes": m["input_bytes"],
            "shuffle_bytes": m["shuffle_bytes"],
        }

    results = {}
    for label, corpus, n in (
        ("A_1x_5k_docs", docs1, n1),
        ("B_10x_50k_docs", docs10, 10 * n1),
    ):
        idx = f"{root}/{label}_idx"
        t0 = time.perf_counter()
        build_term_index(corpus, idx)
        build_s = round(time.perf_counter() - t0, 2)
        total_postings = read_term_index(spark, idx).count()
        bucket_rows = (
            read_term_index(spark, idx).where(F.col("bucket").isin(buckets)).count()
        )

        def indexed(idx=idx):
            return bm25_topk_indexed(spark, idx, terms, k=k).collect()

        def direct(corpus=corpus):
            # release the per_doc cache after every call: without it the
            # timed runs read the persisted tokenization and 'direct'
            # collapses to a cache scan, which is NOT the per-query cost
            # of a fresh query bag
            df = bm25_topk(corpus, terms, k=k)
            rows = df.collect()
            release(df)
            return rows

        plan = _plan(bm25_topk_indexed(spark, idx, terms, k=k))
        assert "PartitionFilters" in plan and "bucket" in plan, label
        # rank parity: the matched-doc pool exceeds k here, so the
        # indexed ranking must equal the direct one exactly
        assert [tuple(r) for r in indexed()] == [
            (r["doc_id"], r["bm25"]) for r in direct()
        ], label

        m_idx = measured(timed(spark, indexed)[1])
        m_dir = measured(timed(spark, direct)[1])
        results[label] = {
            "corpus_rows": n,
            "build_sec": build_s,
            "total_posting_rows": total_postings,
            "probed_buckets": len(buckets),
            "probed_bucket_rows": bucket_rows,
            "probed_bucket_fraction": round(bucket_rows / total_postings, 4),
            "indexed": m_idx,
            "direct": m_dir,
            "indexed_speedup": round(m_dir["wall_sec"] / m_idx["wall_sec"], 2)
            if m_idx["wall_sec"]
            else None,
        }
        _progress(label, results[label])
    # the pruning claim: per query the indexed path reads the probed
    # buckets' rows (twice: document frequencies, then scoring) plus the
    # one-row stats sidecar, NEVER the other 25x buckets.  The q71 bag's
    # terms are high-DF, so the probed buckets are dominated by the
    # query's own postings (the honest corpus-proportional term) and the
    # pruned-away fraction is what the layout buys.
    for label in results:
        r = results[label]
        assert r["indexed"]["input_records"] <= 2.2 * r["probed_bucket_rows"] + 64, r
    return results


def _seq_reference(word_freq: dict[str, int], k: int):
    """Brute-force full-recount trainer (tests/test_bpe._ref_merges
    semantics) — the parity anchor for `_train_merges_fast`."""
    from collections import Counter

    syms = {w: list(w) for w in word_freq}
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


def _train_merges_fast(word_freq: dict[str, int], k: int):
    """Driver-side incremental BPE trainer — MEASUREMENT TOOLING ONLY
    (generates the >=1k-rule table the realistic-merge-count apply
    measurement needs; the engine trainer is `train_bpe_merges`).
    Same per-round semantics: argmax by (count DESC, left ASC, right
    ASC), left-to-right non-overlapping rewrite.  Incremental pair
    bookkeeping + a lazy-invalidation heap instead of a full recount
    per round — the standard trainer structure, so 1k rounds over a
    ~65k-word vocabulary finish in seconds."""
    import heapq
    from collections import Counter, defaultdict

    syms = {w: list(w) for w in word_freq}
    pair_counts: Counter = Counter()
    pair_words: dict = defaultdict(set)
    for w, f in word_freq.items():
        s = syms[w]
        for p in zip(s, s[1:]):
            pair_counts[p] += f
            pair_words[p].add(w)
    heap = [(-c, l, r) for (l, r), c in pair_counts.items()]
    heapq.heapify(heap)
    out = []
    for step in range(1, k + 1):
        best = None
        while heap:
            negc, l, r = heap[0]
            if pair_counts.get((l, r), 0) == -negc:
                best = (l, r, -negc)
                break
            heapq.heappop(heap)  # stale entry (count changed since push)
        if best is None or best[2] <= 0:
            break
        l, r, cnt = best
        out.append((step, l, r, cnt))
        touched = pair_words.pop((l, r), set())
        for w in touched:
            f = word_freq[w]
            s = syms[w]
            old_pairs = list(zip(s, s[1:]))
            ns: list = []
            i, n = 0, len(s)
            while i < n:
                if i + 1 < n and s[i] == l and s[i + 1] == r:
                    ns.append(l + r)
                    i += 2
                else:
                    ns.append(s[i])
                    i += 1
            syms[w] = ns
            for p in old_pairs:
                pair_counts[p] -= f
                if pair_counts[p] <= 0:
                    pair_counts.pop(p, None)
                    pair_words.pop(p, None)
                else:
                    heapq.heappush(heap, (-pair_counts[p], p[0], p[1]))
            for p in zip(ns, ns[1:]):
                pair_counts[p] += f
                pair_words[p].add(w)
                heapq.heappush(heap, (-pair_counts[p], p[0], p[1]))
        # (l, r) cannot recur: the rewrite leaves no (l,r) adjacency
        # ('aaa' -> [aa, a] holds (aa,a)) and later merges only create
        # pairs containing their output symbol; its count is now 0
    return out


def bpe(spark, root):
    """BPE train and encode, q143/q144 (`operators/bpe.py`).

    1. TRAIN cost tracks the corpus only through the one word-count
       aggregate; the merge loop runs on the vocabulary-sized frequency
       table.  Replicating the corpus 10x (exact copies, shifted ids)
       multiplies every pair count by exactly 10 and leaves the
       vocabulary unchanged, so the merge SEQUENCE must be identical
       with counts x10 (greedy argmax is scale-invariant), and train
       wall must grow far slower than 10x.
    2. APPLY (encoding, `apply_bpe_merges`' Arrow kernel) is per-doc
       map-side work: throughput in encoded tokens/s holds across the
       decade.  The in-order fold-chain reference (`_apply_bpe_fold`)
       is timed next to it and must match it token for token.
    3. At realistic rule counts (8, 1k and 10k rules over a hex
       workload) per-word cost tracks word length, not table size, and
       throughput at 10k rules holds across the decade.
    """
    from cloud_native_medical_data_etl_pipeline_spark.operators.bpe import (
        _apply_bpe_fold,
        apply_bpe_merges,
        train_bpe_merges,
    )

    num_merges = 8
    docs = spark.read.parquet(f"{sf_dir('sf0.1')}/documents.parquet").select(
        "doc_id", "text"
    )
    n1 = docs.count()
    results = {}
    merge_tables = {}
    # exact replicas (same text, shifted ids): every pair count scales
    # by the factor, the vocabulary does not change
    for label, factor in (("1x", 1), ("10x", 10)):
        parts = [
            docs.select((F.col("doc_id") + F.lit(i * n1)).alias("doc_id"), "text")
            for i in range(factor)
        ]
        corpus_path = f"{root}/{label}"
        reduce(lambda a, b: a.unionByName(b), parts).write.mode(
            "overwrite"
        ).parquet(corpus_path)
        # repartition before the CPU-bound stages: the encoders (apply)
        # and the tokenize+explode (train's word count) inherit the
        # scan's split count, and a compact corpus arrives as few
        # splits, the same lever the mm case measures for decoding
        corpus = spark.read.parquet(corpus_path).repartition(32)

        merges, m = timed(
            spark,
            lambda c=corpus: [
                tuple(r)
                for r in train_bpe_merges(c, num_merges=num_merges)
                .orderBy("step")
                .collect()
            ],
        )
        train_wall = m["wall_sec"]
        merge_tables[label] = merges
        rules = [(mm[1], mm[2]) for mm in merges]

        def run_apply(encode, c=corpus, rules=rules):
            # token-content checksum (not just counts): the
            # kernel-vs-fold parity below compares real tokens
            row = (
                encode(c, rules)
                .agg(
                    F.count(F.lit(1)).alias("docs"),
                    F.sum("n_bpe_tokens").alias("toks"),
                    F.bit_xor(
                        F.xxhash64("doc_id", F.array_join("tokens", "\x00"))
                    ).alias("c"),
                )
                .first()
            )
            return int(row["docs"]), int(row["toks"]), int(row["c"])

        (docs_out, toks, chk), m = timed(spark, lambda: run_apply(apply_bpe_merges))
        apply_wall = m["wall_sec"]
        (docs_f, toks_f, chk_f), m = timed(spark, lambda: run_apply(_apply_bpe_fold))
        fold_wall = m["wall_sec"]
        assert docs_out == n1 * factor, (label, docs_out)
        # the parity contract, held on the REAL corpus at both scales:
        # identical docs, token totals, and content hash
        assert (docs_f, toks_f, chk_f) == (docs_out, toks, chk), (
            label, (docs_f, toks_f, chk_f), (docs_out, toks, chk),
        )
        results[label] = {
            "docs": n1 * factor,
            "train_wall_sec": train_wall,
            "apply_wall_sec": apply_wall,
            "fold_reference_wall_sec": fold_wall,
            "encoded_tokens": toks,
            "encoded_tokens_per_sec": round(toks / apply_wall),
            "fold_reference_tokens_per_sec": round(toks / fold_wall),
        }
        _progress(label, results[label])

    # the scale-invariance assert: same merge sequence, counts x10
    m1, m10 = merge_tables["1x"], merge_tables["10x"]
    assert [(s, l, r) for s, l, r, _ in m1] == [
        (s, l, r) for s, l, r, _ in m10
    ], (m1, m10)
    assert all(
        c10 == 10 * c1 for (_, _, _, c1), (_, _, _, c10) in zip(m1, m10)
    ), (m1, m10)
    results["merge_sequence"] = [
        {"step": s, "left": l, "right": r, "count_1x": c} for s, l, r, c in m1
    ]
    # train wall must not track the corpus linearly (the loop runs on
    # the unchanged vocabulary; only the word count sees 10x)
    assert (
        results["10x"]["train_wall_sec"] < 5 * results["1x"]["train_wall_sec"]
    ), results
    # encode throughput holds within the linear-scaling band
    assert (
        results["10x"]["encoded_tokens_per_sec"]
        > 0.5 * results["1x"]["encoded_tokens_per_sec"]
    ), results

    # Realistic merge count: the corpus's natural vocabulary is ~31
    # words (max ~107 learnable merges), so the >=1k-rule apply
    # measurement derives a deterministic hex workload: md5(doc_id)
    # split into eight 4-char words (vocabulary up to 16^4).  The merge
    # table comes from the incremental driver trainer above (tooling);
    # the MEASURED path is the engine's: apply_bpe_merges must hold its
    # throughput at 1k rules across the decade.  The fold reference is
    # not timed here (its plan depth is linear in the merge count).
    hex_text = F.trim(
        F.regexp_replace(F.md5(F.col("doc_id").cast("string")), "(.{4})", "$1 ")
    )
    vocab = Counter()
    for row in (
        docs.select(F.explode(F.split(hex_text, " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .collect()
    ):
        vocab[row["w"]] = int(row["f"])
    big_table = _train_merges_fast(dict(vocab), 10000)
    n_rules = len(big_table)
    assert n_rules >= 10000, n_rules
    # the encoder refuses duplicate-producer tables; this trainer never
    # learns one on this workload (global in-rank-order rewrites keep
    # groupings consistent), asserted so a workload change that breaks
    # the property fails HERE, not as an opaque refusal in the measured
    # path
    outs = [l + r for _, l, r, _ in big_table]
    assert len(set(outs)) == n_rules, "trainer learned dup producer"
    # tooling self-check: the incremental trainer must replay the
    # brute-force reference (test_bpe._ref_merges semantics) on a
    # recount of the first 25 rounds
    probe_vocab = dict(list(vocab.items())[:400])
    ref = _seq_reference(probe_vocab, 25)
    fast = _train_merges_fast(probe_vocab, 25)
    assert fast[: len(ref)] == ref, (fast[:5], ref[:5])
    big_rules = [(l, r) for _, l, r, _ in big_table]

    def run_hex(c, rules):
        row = (
            apply_bpe_merges(c, rules)
            .agg(F.count(F.lit(1)).alias("docs"), F.sum("n_bpe_tokens").alias("toks"))
            .first()
        )
        return int(row["docs"]), int(row["toks"])

    # Merge-count sweep: encode the SAME 1x workload with rule-table
    # prefixes of 8, 1k and 10k (a prefix of a valid table is itself
    # rank-monotone with unique producers).  The claim: per-word cost
    # tracks WORD LENGTH (merges that actually fire, bounded by
    # len(word)-1), never table size; the table ships once per executor
    # as a dict, and each candidate pair is one O(1) rank lookup.  8
    # rules do LESS work than 1k/10k (almost nothing fires), so the
    # flat-cost comparison is 1k vs 10k, where this 4-char-word
    # workload is merge-saturated.
    hex1 = (
        spark.read.parquet(f"{root}/1x")
        .repartition(32)
        .select("doc_id", hex_text.alias("text"))
    )
    sweep = {}
    for n_prefix in (8, 1000, n_rules):
        rules_n = big_rules[:n_prefix]
        (nd, toks), m = timed(spark, lambda c=hex1, r=rules_n: run_hex(c, r))
        assert nd == n1, nd
        sweep[str(n_prefix)] = {
            "rules": n_prefix,
            "apply_arrow_wall_sec": m["wall_sec"],
            "encoded_tokens": toks,
            "tokens_per_sec": round(toks / m["wall_sec"]),
        }
        _progress(f"sweep {n_prefix} rules", sweep[str(n_prefix)])
    # table-size independence: 10x the rules, same saturated work.
    # Margin 2.5x (not the 1.16x measured quiet-host ratio): the min of
    # only 2 timed runs on a shared host can inflate one leg ~2x with
    # zero signal; a LINEAR-in-rules kernel would read ~10x, so 2.5x
    # still separates the claim from its alternative
    assert (
        sweep[str(n_rules)]["apply_arrow_wall_sec"]
        < 2.5 * sweep["1000"]["apply_arrow_wall_sec"]
    ), sweep

    # decade at the full 10k-rule table: throughput must hold.  The 1x
    # leg IS the sweep's n_rules row (same corpus path, same
    # repartition, same table), reused rather than re-measured
    hk = {"1x": {"docs": n1, **sweep[str(n_rules)]}}
    hexed10 = (
        spark.read.parquet(f"{root}/10x")
        .repartition(32)
        .select("doc_id", hex_text.alias("text"))
    )
    (nd, toks), m = timed(spark, lambda: run_hex(hexed10, big_rules))
    assert nd == n1 * 10, nd
    hk["10x"] = {
        "docs": nd,
        "rules": n_rules,
        "apply_arrow_wall_sec": m["wall_sec"],
        "encoded_tokens": toks,
        "tokens_per_sec": round(toks / m["wall_sec"]),
    }
    _progress("10k-merge 10x", hk["10x"])
    assert hk["10x"]["tokens_per_sec"] > 0.5 * hk["1x"]["tokens_per_sec"], hk
    results["realistic_merges"] = {
        "rule_count_sweep_1x": sweep,
        **{f"hex_{k}": v for k, v in hk.items()},
    }
    return results


def catalog(spark, root):
    """Lake catalog calls and pruned reads, q142 (`sources/lake.py`).

    list_partition_dates / latest_partition_date / read_partition.

    1. Catalog calls are driver-side FS metadata: their cost tracks the
       PARTITION COUNT, not the data volume; a 10x-partition lake lists
       in ~10x the directory entries (linear, milliseconds), and row
       volume per partition is irrelevant to the listing.
    2. `read_partition` is partition-pruned IO: reading one date out of
       N scans only that directory's bytes (asserted via the read's
       rows: exactly the partition's rows, never N partitions' worth).
    """
    from cloud_native_medical_data_etl_pipeline_spark.sources import lake

    rows_per_date = 500
    results = {}
    for label, n_dates in (("64p", 64), ("640p", 640)):
        base = f"{root}/{label}/lake"
        # one partitioned write into the lake's year=/month=/day= Hive
        # layout over deterministic dates off a fixed epoch (q142's
        # probe writes per date; here the LISTING is under test)
        d = F.date_add(
            F.lit("2024-01-01").cast("date"), (F.col("id") % n_dates).cast("int")
        )
        spark.range(n_dates * rows_per_date).select(
            F.col("id").alias("event_id"),
            (F.col("id") % 97).cast("double").alias("value"),
            F.date_format(d, "yyyy").alias("year"),
            F.date_format(d, "MM").alias("month"),
            F.date_format(d, "dd").alias("day"),
        ).write.mode("overwrite").partitionBy("year", "month", "day").parquet(base)

        listed, m_list = timed(spark, lambda b=base: lake.list_partition_dates(spark, b))
        latest, m_latest = timed(
            spark, lambda b=base: lake.latest_partition_date(spark, b)
        )
        assert len(listed) == n_dates, (label, len(listed))
        assert latest == listed[-1], (latest, listed[-1])

        probe_date = listed[n_dates // 2]
        n_rows, m_read = timed(
            spark,
            lambda b=base, d=probe_date: lake.read_partition(
                spark, b, d, schema="event_id long, value double"
            ).count(),
        )
        # claim 2: the pruned read sees EXACTLY one partition's rows
        assert n_rows == rows_per_date, (label, n_rows)

        results[label] = {
            "n_partitions": n_dates,
            "list_wall_sec": m_list["wall_sec"],
            "latest_wall_sec": m_latest["wall_sec"],
            "pruned_read_wall_sec": m_read["wall_sec"],
            "pruned_read_rows": n_rows,
        }
        _progress(label, results[label])

    # linearity envelope: 10x partitions must cost far less than 100x
    # listing wall (driver-side directory metadata, no Spark job) and
    # the pruned read must NOT track partition count
    assert (
        results["640p"]["list_wall_sec"]
        < 50 * max(results["64p"]["list_wall_sec"], 1e-3)
    ), results
    assert (
        results["640p"]["pruned_read_wall_sec"]
        < 5 * max(results["64p"]["pruned_read_wall_sec"], 1e-3)
    ), results
    return results


def cc(spark, root):
    """Pointer-jumping connected components, q57 (`operators/components.py`).

    1. Rounds = O(log diameter), not O(diameter).  A D-node path graph
       is the worst case (diameter D-1); min-label propagation alone
       needs D-1 rounds, pointer jumping ~log2(D).  Sweep D = 512 /
       2048 / 8192: rounds grow by ~+2 per 4x depth, nowhere near 4x.
    2. Per-round cost is the narrow (vertex, label) frame, never the
       corpus payload.  A near-dup-shaped graph (many small clusters,
       shallow diameter) at 1x and 10x vertices: rounds stay FLAT
       (diameter unchanged), while wall/shuffle grow ~linearly with the
       vertex count; cluster diameter is a property of the dedup
       threshold, not the corpus size.

    Edges are generated distributed (spark.range + column arithmetic,
    no driver-side lists).
    """
    from cloud_native_medical_data_etl_pipeline_spark.operators.components import (
        connected_components,
    )

    def path_edges(n):
        """One n-node path: 0-1-2-...-(n-1). Diameter n-1."""
        return spark.range(n - 1).select(
            F.col("id").alias("key_a"), (F.col("id") + 1).alias("key_b")
        )

    def cluster_edges(n_vertices, cluster_size):
        """n_vertices/cluster_size disjoint paths of cluster_size nodes:
        component diameter fixed at cluster_size-1 however many
        clusters (corpus size) there are."""
        return (
            spark.range(n_vertices)
            .where((F.col("id") % cluster_size) != cluster_size - 1)
            .select(F.col("id").alias("key_a"), (F.col("id") + 1).alias("key_b"))
        )

    def measure(edges, expect_components):
        edges = edges.localCheckpoint()  # freeze the generator out of the loop
        stats: dict = {}
        got = (
            connected_components(edges, stats=stats)
            .select(F.countDistinct("component"))
            .first()[0]
        )
        assert got == expect_components, (got, expect_components)

        def rep():
            # every timed run must converge in the verification run's
            # round count: the algorithm is deterministic, so a
            # mismatch means the harness, not noise
            rep_stats: dict = {}
            connected_components(edges, stats=rep_stats).count()
            assert rep_stats["rounds"] == stats["rounds"], (
                rep_stats["rounds"],
                stats["rounds"],
            )

        _, m = timed(spark, rep)
        return {
            "rounds": stats["rounds"],
            "wall_sec": m["wall_sec"],
            "shuffle_bytes": m["shuffle_bytes"],
        }

    results = {"diameter_sweep": {}, "vertex_decade": {}}
    for depth in (512, 2048, 8192):
        r = measure(path_edges(depth), 1)
        results["diameter_sweep"][f"path_{depth}"] = r
        _progress(f"path_{depth}", r)
    for label, nv in (("1x_50k", 50_000), ("10x_500k", 500_000)):
        r = measure(cluster_edges(nv, 10), nv // 10)
        results["vertex_decade"][label] = r
        _progress(f"clusters_{label}", r)
    return results


def enrich(spark, root):
    """Containment enrichment join, J1/q02 (`operators/enrich.py`).

    Claim (SCALING.md "Containment enrichment"): the broadcast NLJ's
    cost is |indications| x |conditions| exact containment comparisons,
    fine while the condition summary broadcasts, quadratic at corpus
    scale.

    Synthetic frames: the vocabulary is fixed-width tokens 'w'+5
    digits.  60% of indications are contiguous 2-word slices of a
    condition phrase (guaranteed matches), 40% arbitrary 2-word phrases
    (mostly non-matches).  Sizes: 20k x 20k with a 2k-word vocabulary
    (400M comparisons) and 100k x 100k with a 20k-word vocabulary
    (10^10 comparisons, 25x).  The timed run is a checksum aggregate
    over EVERY output column: a bare count() lets Catalyst eliminate
    the final left join (key-unique aggregated right side, no
    referenced columns) and times nothing.
    """
    from cloud_native_medical_data_etl_pipeline_spark.operators import (
        enrich as enrich_op,
    )

    def word(expr, vocab):
        return F.format_string("w%05d", F.pmod(expr, F.lit(vocab)))

    def frames(n_drugs, n_conds, vocab):
        # condition c -> phrase "w(3c) w(3c+1) w(3c+2)"; one trial per row
        ct = spark.range(n_conds).select(
            F.format_string("NCT%07d", F.col("id")).alias("nct_id"),
            F.concat_ws(
                " ",
                word(F.col("id") * 3, vocab),
                word(F.col("id") * 3 + 1, vocab),
                word(F.col("id") * 3 + 2, vocab),
            ).alias("conditions_clean"),
            ((F.col("id") % 500) + 1).cast("double").alias("enrollment_count"),
            (F.col("id") % 2 == 0).alias("is_completed"),
        )
        # drug j: 60% take the (w(3c+1), w(3c+2)) slice of condition
        # c = j mod n_conds (aligned containment guaranteed), 40% an
        # arbitrary pair (accidental aligned matches allowed)
        m = F.col("id") % 10 < 6
        c = F.col("id") % n_conds
        fda = spark.range(n_drugs).select(
            F.format_string("R%08d", F.col("id")).alias("safetyreportid"),
            F.format_string("DRUG%06d", F.col("id")).alias("drug_name_clean"),
            F.when(m, F.concat_ws(" ", word(c * 3 + 1, vocab), word(c * 3 + 2, vocab)))
            .otherwise(
                F.concat_ws(
                    " ", word(F.col("id") * 5, vocab), word(F.col("id") * 5 + 7, vocab)
                )
            )
            .alias("drug_indication"),
            ((F.col("id") % 7) + 1.0).alias("severity_score"),
            (F.col("id") % 11 == 0).cast("long").alias("seriousnessdeath"),
            (F.col("id") % 5 == 0).cast("long").alias("seriousnesshospitalization"),
        )
        return fda.localCheckpoint(), ct.localCheckpoint()

    results = {}
    for label, n, vocab in (
        ("20k_x_20k_vocab2k", 20_000, 2_000),
        ("100k_x_100k_vocab20k", 100_000, 20_000),
    ):
        fda, ct = frames(n, n, vocab)
        collected = enrich_op.enrich(fda, ct).collect()

        def checksum():
            df = enrich_op.enrich(fda, ct)
            df.agg(F.sum(F.xxhash64(*[F.col(c) for c in df.columns]))).first()

        _, m = timed(spark, checksum)
        results[label] = {
            "vocab": vocab,
            "nlj_comparisons": n * n,
            "enrich_nlj_sec": m["wall_sec"],
            "out_rows": len(collected),
            "drugs_with_matches": sum(
                1 for r in collected if (r["trial_count"] or 0) > 0
            ),
        }
        _progress(label, results[label])
    return results


def ingest(spark, root):
    """Streaming dedup-ingest, q115 (`streaming/ingest.py:ingest_batch`).

    Claim: per-batch ingest cost tracks the BATCH, not the stored
    corpus.  The heavy per-document work (shingle + md5 minhash) runs
    only on batch rows, the corpus side of the near-dup probe reads the
    PERSISTED signature index, and the band equi-join's shuffle carries
    signatures/candidates, never document text.  Growing the stored
    corpus 10x should therefore grow per-batch wall sub-linearly and
    leave shuffle bytes per batch far below the bytes scanned.

    Setup: two corpora built from sf0.1 documents (5,000 docs): 1x
    as-is, 10x via shifted-key replicas whose every TOKEN is prefixed
    with a replica tag (distinct shingle sets, so the 10x corpus really
    stores 10x rows instead of near-dup-collapsing back to 1x).  Into
    each, ingest 3 consecutive FRESH 500-doc batches (tokens prefixed
    with a batch tag: fully novel content; every batch must admit the
    same count in both configs, its in-batch-dup survivors), then
    REPLAY the last batch once (must append 0, the exactly-once guard)
    and measure the pure gate cost.  Ingest changes the corpus, so it
    has no warm-up: each batch runs once, and the batches are the
    timed runs (fastest batch's wall and that batch's stage delta).
    """
    from cloud_native_medical_data_etl_pipeline_spark.streaming.ingest import (
        ingest_batch,
    )

    batches, batch_rows = 3, 500

    def retag(df, tag):
        """Prefix every whitespace token with ``tag``: every shingle
        differs from any other tag's copy of the same text, so replicas
        and batches are novel content to the minhash gate, with token
        counts and byte scale kept."""
        return df.withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
                    lambda t: F.concat(F.lit(tag), t),
                ),
                " ",
            ),
        )

    def dir_bytes(path):
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _dirs, files in os.walk(path)
            for f in files
        )

    cols = ("text", "lang", "source", "n_chars")
    docs = spark.read.parquet(f"{sf_dir('sf0.1')}/documents.parquet")
    n1 = docs.count()
    results = {}
    survivors_1x = None
    admits_by_config = {}
    # fresh batches, shared across configs: novel keys + novel content
    # (batch-tagged tokens); written once, read per ingest
    batch_paths = []
    for i in range(batches):
        p = f"{root}/batch{i}"
        retag(
            docs.where(F.col("doc_id") < batch_rows).select(
                (F.col("doc_id") + F.lit(100_000_000 + i * 10_000)).alias("doc_id"),
                *cols,
            ),
            f"b{i}_",
        ).write.mode("overwrite").parquet(p)
        batch_paths.append(p)

    for label, factor in (("A_1x_corpus", 1), ("B_10x_corpus", 10)):
        seed = docs
        if factor > 1:
            seed = reduce(
                lambda a, b: a.unionByName(b),
                [
                    retag(
                        docs.select(
                            (F.col("doc_id") + F.lit(i * n1)).alias("doc_id"), *cols
                        ),
                        f"r{i}_",
                    )
                    for i in range(factor)
                ],
            )
        corpus_path = f"{root}/{label}/corpus"
        t0 = time.perf_counter()
        seeded = ingest_batch(seed, corpus_path)  # one giant seed batch
        build_s = round(time.perf_counter() - t0, 2)
        # the ORGANIC corpus carries in-batch exact/near dups, so the
        # seed legitimately collapses below n1 (5000 -> 4756 at sf0.1);
        # replicas are token-tagged, so the 10x corpus collapses to ~10x
        # the 1x survivor count.  TOLERANCE, not equality: Jaccard is
        # tag-invariant but LSH BANDING is not (band collisions hash the
        # re-tagged shingles), so a borderline near-dup pair caught in
        # one replica can be missed in another
        if factor == 1:
            survivors_1x = seeded
            assert 0 < seeded <= n1, (label, seeded)
        else:
            expect = factor * survivors_1x
            assert abs(seeded - expect) <= max(2, expect // 200), (
                label,
                seeded,
                expect,
            )

        runs = []
        for p in batch_paths:
            b = spark.read.parquet(p)
            appended, m = run_once(spark, lambda b=b: ingest_batch(b, corpus_path))
            # batches share one dup structure (same 500 docs, different
            # tag), so the admit count matches across batches up to LSH
            # banding variance on the re-tagged shingles; nothing may be
            # dropped by the CROSS-batch/corpus guards, so a large
            # deficit means a guard bug.  Admits are recorded PER CONFIG
            # and cross-config agreement is asserted after the loop
            admits = admits_by_config.setdefault(label, [])
            if not admits:
                assert 0 < appended <= batch_rows, (label, appended)
            else:
                assert abs(appended - admits[0]) <= 2, (label, p, appended)
            admits.append(appended)
            runs.append(m)
        # replay the LAST batch: the exactly-once gate must admit 0
        b = spark.read.parquet(batch_paths[-1])
        appended, replay = run_once(spark, lambda: ingest_batch(b, corpus_path))
        assert appended == 0, (label, "replay admitted rows", appended)

        fastest = min(runs, key=lambda m: m["wall_sec"])
        results[label] = {
            "corpus_rows": seeded,
            "corpus_bytes": dir_bytes(corpus_path),
            "sig_index_bytes": dir_bytes(corpus_path + "_sigs"),
            "seed_build_sec": build_s,
            "batch_rows": batch_rows,
            "batch_admitted": admits_by_config[label],
            "batch_walls_sec": [m["wall_sec"] for m in runs],
            "batch_wall_min_sec": fastest["wall_sec"],
            "batch_input_bytes": fastest["input_bytes"],
            "batch_shuffle_bytes": fastest["shuffle_bytes"],
            "replay_wall_sec": replay["wall_sec"],
            "replay_appended": 0,
            "replay_shuffle_bytes": replay["shuffle_bytes"],
        }
        _progress(label, results[label])
    # the decade claim: per-batch shuffle is batch/signature-sized, so a
    # 10x corpus must NOT grow it anywhere near 10x (the corpus-sized
    # terms, key scan + signature index scan, show up in input bytes,
    # never in the shuffle)
    a, b10 = results["A_1x_corpus"], results["B_10x_corpus"]
    assert b10["batch_shuffle_bytes"] < 3 * a["batch_shuffle_bytes"], (a, b10)
    # cross-config admit agreement, on the recorded per-config lists
    assert abs(a["batch_admitted"][0] - b10["batch_admitted"][0]) <= 2, (
        a["batch_admitted"],
        b10["batch_admitted"],
    )
    return results


def mm(spark, root):
    """Real-codec PNG/WAV decode, q24 (`operators/multimodal.py`).

    The stdlib decoders inside mapInPandas: q24's fake=False tier.

    1. A compact parquet media corpus arrives as FEW input splits (tens
       of MB compressed << spark.sql.files.maxPartitionBytes), so the
       decode stage (CPU-bound Python, not IO) inherits almost no
       parallelism from the scan.  Repartitioning to the session's
       slot count before the decode spreads payloads across all slots:
       the difference between a single-task straggler and a balanced
       stage.  Wider than the slots, the extra shuffle costs more than
       it spreads (at 4 slots a 32-way split lost to the straggler).
    2. Decode throughput (decoded bytes/s) is corpus-size-independent:
       the 10x corpus decodes at the same per-byte rate, so the
       operator scales linearly with executors (no cross-row state).

    Corpus: self-encoded PNGs (functions/png.py encode: filter-0 rows,
    so decode exercises zlib + scanline reassembly) with a 90/10
    small/large size skew, plus 16-bit PCM WAVs (functions/riff.py).
    Payload bytes are deterministic functions of media_id.
    """
    import pandas as pd

    from cloud_native_medical_data_etl_pipeline_spark.operators.multimodal import (
        decode_audio_features,
        decode_features,
    )

    small_wh, large_wh = 32, 192  # grayscale; 10% of images are large
    wav_samples = 4_000

    def png_corpus(n, path):
        """n deterministic PNGs -> parquet(media_id, payload, ...)."""

        def gen(batches):
            import numpy as np

            from cloud_native_medical_data_etl_pipeline_spark.functions import png

            for pdf in batches:
                out = []
                for mid in pdf["id"]:
                    mid = int(mid)
                    wh = large_wh if mid % 10 == 0 else small_wh
                    px = (
                        (np.arange(wh * wh, dtype=np.int64) * 2654435761 + mid) % 251
                    ).astype(np.uint8)
                    out.append(
                        {
                            "media_id": mid,
                            "payload": png.encode(px.tobytes(), wh, wh, 1),
                            "mime": "image/png",
                            "n_pixels": wh * wh,
                        }
                    )
                yield pd.DataFrame(
                    out, columns=["media_id", "payload", "mime", "n_pixels"]
                )

        # generate 32-way parallel, then land ONE compact file via a
        # shuffle (repartition, not coalesce, which would collapse the
        # generation stage too): the shape of an ingested media corpus,
        # and the few-input-splits regime claim 1 is about
        spark.range(n).repartition(32).mapInPandas(
            gen, "media_id long, payload binary, mime string, n_pixels long"
        ).repartition(1).write.mode("overwrite").parquet(path)

    def wav_corpus(n, path):
        def gen(batches):
            from cloud_native_medical_data_etl_pipeline_spark.functions import riff

            for pdf in batches:
                out = []
                for mid in pdf["id"]:
                    mid = int(mid)
                    samples = [
                        ((mid * 7 + i * 31) % 65536) - 32768
                        for i in range(wav_samples)
                    ]
                    out.append(
                        {"media_id": mid, "payload": riff.wav_encode(samples, 16_000)}
                    )
                yield pd.DataFrame(out, columns=["media_id", "payload"])

        spark.range(n).repartition(32).mapInPandas(
            gen, "media_id long, payload binary"
        ).repartition(1).write.mode("overwrite").parquet(path)

    def run(df):
        row = (
            decode_features(df, dim=8, fake=False)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("n_bytes").alias("b"),
                F.bit_xor(F.xxhash64("byte_mean")).alias("c"),
            )
            .first()
        )
        # the xor checksum joins the parity tuple: count+bytes alone
        # would pass a divergence that preserves lengths
        return int(row["n"]), int(row["b"]), int(row["c"])

    slots = spark.sparkContext.defaultParallelism
    results = {}
    for label, n in (("1x_2k_png", 2_000), ("10x_20k_png", 20_000)):
        path = f"{root}/{label}"
        t0 = time.perf_counter()
        png_corpus(n, path)
        cfg = {"corpus_build_sec": round(time.perf_counter() - t0, 2)}
        media = spark.read.parquet(path)
        parity = set()
        for mode, df in (
            ("as_written", media),
            ("size_repartitioned", media.repartition(slots)),
        ):
            (cnt, dec_bytes, csum), m = timed(spark, lambda d=df: run(d))
            parity.add((cnt, dec_bytes, csum))
            cfg[mode] = {
                "decode_tasks": df.rdd.getNumPartitions(),
                "wall_sec": m["wall_sec"],
                "decoded_mb": round(dec_bytes / 1e6, 1),
                "decoded_mb_per_sec": round(dec_bytes / 1e6 / m["wall_sec"], 1),
            }
            _progress(f"{label}/{mode}", cfg[mode])
        # both layouts decode the same corpus to the same bytes
        assert len(parity) == 1, f"layouts disagree: {parity}"
        cfg["result_parity"] = "identical across layouts"
        results[label] = cfg

    # the repartition lever: on the 10x corpus (compact parquet -> few
    # scan splits) the slot-wide repartition must beat the as-written
    # decode, and per-byte throughput must hold within 2x across corpus
    # sizes (linear scaling)
    a = results["1x_2k_png"]["size_repartitioned"]
    b = results["10x_20k_png"]["size_repartitioned"]
    aw = results["10x_20k_png"]["as_written"]
    assert aw["decode_tasks"] < b["decode_tasks"], (aw, b)
    assert b["wall_sec"] < aw["wall_sec"], (
        "repartitioned decode slower than the straggler layout",
        results,
    )
    assert b["decoded_mb_per_sec"] > 0.5 * a["decoded_mb_per_sec"], (a, b)

    # WAV leg: PCM decode throughput through the same mapInPandas
    # plumbing (samples/s; payloads ~8 KB each)
    wav_corpus(2_000, f"{root}/wav")
    wav = spark.read.parquet(f"{root}/wav").repartition(slots)

    def run_wav():
        row = (
            decode_audio_features(wav, fake=False)
            .agg(F.count(F.lit(1)).alias("n"), F.sum("n_samples").alias("s"))
            .first()
        )
        return int(row["n"]), int(row["s"])

    (cnt, samples), m = timed(spark, run_wav)
    assert cnt == 2_000 and samples == 2_000 * wav_samples
    results["wav_2k"] = {
        "wall_sec": m["wall_sec"],
        "decoded_samples": samples,
        "samples_per_sec": round(samples / m["wall_sec"]),
    }
    _progress("wav_2k", results["wav_2k"])
    return results


def pack(spark, root):
    """Sequence packers FFD vs shelf, q63 (`operators/packing.py`).

    * FFD (`pack_sequences`): bins respect the budget exactly and
      documents are never split, at the cost of PADDING: in-budget
      utilization = tokens-in-budget-bins / (budget-respecting bins x
      budget) < 1 (over-budget docs are closed singleton bins by
      contract and excluded from the metric).  Arrow batch per xxhash
      group.
    * Shelf (`pack_sequences_shelf`, the oracle-exact kernel): the
      concat-and-split layout fills every token position (utilization ~
      1 by construction, group tails aside), at the cost of SPLITS: a
      doc whose start offset + length crosses a budget boundary is cut
      across training sequences; the split fraction is the quality
      metric.  Pure JVM window plan.

    Both are one shuffle on the group key; the decade question is
    whether wall scales linearly in docs and whether the quality
    metrics are corpus-size-independent (they are functions of the
    length distribution, not of N).

    Corpus: deterministic synthetic lengths from spark.range
    arithmetic, 90% short docs (20-500 tokens), 10% long
    (1,000-3,800), under a 2,048-token budget, groups of ~4k docs.
    """
    from cloud_native_medical_data_etl_pipeline_spark.operators.packing import (
        pack_sequences,
        pack_sequences_shelf,
    )

    budget = 2048
    results = {}
    for label, n in (("1x_200k", 200_000), ("10x_2M", 2_000_000)):
        # xxhash-derived lengths: the distribution is stable at any N
        path = f"{root}/{label}"
        spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 10 < 9, F.pmod(F.xxhash64("id"), F.lit(481)) + 20)
            .otherwise(F.pmod(F.xxhash64("id", F.lit(1)), F.lit(2801)) + 1000)
            .cast("long")
            .alias("n_tokens"),
        ).write.mode("overwrite").parquet(path)
        toks = spark.read.parquet(path)
        groups = max(1, n // 4096)

        def run_ffd(toks=toks, groups=groups):
            packed = pack_sequences(toks, budget=budget, num_groups=groups)
            # utilization over the BUDGET-RESPECTING bins only: docs
            # longer than the budget become closed singleton bins by
            # contract (the caller truncates or drops them), so counting
            # their excess tokens as "packed" would read > 1
            return (
                packed.groupBy("pack_id")
                .agg(F.sum("n_tokens").alias("t"))
                .agg(
                    F.count(F.lit(1)).alias("bins"),
                    F.sum("t").alias("tokens"),
                    F.sum(F.when(F.col("t") > budget, 1).otherwise(0)).alias(
                        "oversized"
                    ),
                    F.sum(F.when(F.col("t") <= budget, F.col("t")).otherwise(0)).alias(
                        "in_budget_tokens"
                    ),
                )
                .first()
            )

        def run_shelf(toks=toks, groups=groups):
            packed = pack_sequences_shelf(
                toks, budget=budget, num_groups=groups, with_offset=True
            )
            # a doc SPLITS when its in-shelf offset + length crosses the
            # budget boundary; the kernel's pack_offset makes it explicit
            return (
                packed.select(
                    "n_tokens",
                    "pack_id",
                    (F.col("pack_offset") + F.col("n_tokens") > budget).alias("split"),
                )
                .agg(
                    F.count(F.lit(1)).alias("docs"),
                    F.sum("n_tokens").alias("tokens"),
                    F.count_distinct("pack_id").alias("shelves"),
                    F.sum(F.col("split").cast("long")).alias("split_docs"),
                )
                .first()
            )

        f_row, m_ffd = timed(spark, run_ffd)
        s_row, m_shelf = timed(spark, run_shelf)
        total_tokens = int(f_row["tokens"])
        assert total_tokens == int(s_row["tokens"])  # same corpus
        in_budget_bins = int(f_row["bins"]) - int(f_row["oversized"])
        util = int(f_row["in_budget_tokens"]) / (in_budget_bins * budget)
        results[label] = {
            "docs": n,
            "total_tokens": total_tokens,
            "ffd": {
                "wall_sec": m_ffd["wall_sec"],
                "bins": int(f_row["bins"]),
                "oversized_singletons": int(f_row["oversized"]),
                "in_budget_utilization": round(util, 4),
                "docs_per_sec": round(n / m_ffd["wall_sec"]),
            },
            "shelf": {
                "wall_sec": m_shelf["wall_sec"],
                "shelves": int(s_row["shelves"]),
                "split_docs": int(s_row["split_docs"]),
                "split_frac": round(int(s_row["split_docs"]) / n, 4),
                "docs_per_sec": round(n / m_shelf["wall_sec"]),
            },
        }
        _progress(label, results[label])

    a, b = results["1x_200k"], results["10x_2M"]
    # quality metrics are length-distribution properties, not functions
    # of N: both must be corpus-size-independent (+-2pp)
    assert (
        abs(a["ffd"]["in_budget_utilization"] - b["ffd"]["in_budget_utilization"])
        < 0.02
    ), (a, b)
    assert abs(a["shelf"]["split_frac"] - b["shelf"]["split_frac"]) < 0.02, (a, b)
    # both packers scale: 10x docs may not cost more than ~20x wall
    # (generous: absorbs fixed overhead amortization both ways)
    assert b["ffd"]["wall_sec"] < 20 * max(a["ffd"]["wall_sec"], 0.2), (a, b)
    assert b["shelf"]["wall_sec"] < 20 * max(a["shelf"]["wall_sec"], 0.2), (a, b)
    return results


def probe(spark, root):
    """IVF-PQ pruned probe (`operators/quantize.py:ivfpq_topk_indexed`).

    Claim: probe cost tracks nprobe x cell size, NOT corpus size.  The
    partition-pruned scan reads only the probed cell partitions, so
    growing the corpus 10x while scaling num_cells 10x (constant cell
    size) keeps per-query probe cost flat, while growing the corpus 10x
    at FIXED num_cells grows it ~10x (cells get 10x fatter).

    Three index configurations over sf0.1 embeddings (2,000 x dim-64)
    and a 10x shifted-key replica (20,000):

      A  1x corpus, 16 cells, nprobe=4   (baseline: ~nprobe/16 of corpus)
      B  10x corpus, 16 cells, nprobe=4  (fat cells: probe rows ~10x A)
      C  10x corpus, 160 cells, nprobe=4 (cells re-sized: probe rows ~ A)

    Each index is built once (one-time cost, reported), then the probe
    is timed.  PartitionFilters presence is asserted from the executed
    plan.
    """
    from cloud_native_medical_data_etl_pipeline_spark.operators.quantize import (
        build_ivfpq_index,
        ivfpq_topk_indexed,
    )

    nprobe = 4
    emb1 = spark.read.parquet(f"{sf_dir('sf0.1')}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n1 = emb1.count()
    # 10x corpus: shifted-key replicas (identical payload bytes; probe
    # COST is layout/size-driven, not value-driven)
    ten = emb1
    for i in range(1, 10):
        ten = ten.unionByName(
            emb1.select((F.col("vec_id") + F.lit(i * n1)).alias("vec_id"), "embedding")
        )
    ten.write.mode("overwrite").parquet(f"{root}/emb10x")
    emb10 = spark.read.parquet(f"{root}/emb10x")
    n10 = emb10.count()

    qv = [float(x) for x in emb1.where(F.col("vec_id") == 0).first()["embedding"]]
    results = {}
    for label, corpus, n, cells in (
        ("A_1x_16cells", emb1, n1, 16),
        ("B_10x_16cells", emb10, n10, 16),
        ("C_10x_160cells", emb10, n10, 160),
    ):
        path = f"{root}/{label}"
        t0 = time.perf_counter()
        build_ivfpq_index(
            corpus, path, num_cells=cells, train_iters=2, m=8, k=16, pq_iters=2,
            residual=True,
        )
        build_s = round(time.perf_counter() - t0, 2)

        def query(path=path):
            return ivfpq_topk_indexed(spark, path, qv, k=10, nprobe=nprobe)

        assert "PartitionFilters" in _plan(query()), label
        _, m = timed(spark, lambda: query().collect())
        results[label] = {
            "corpus_rows": n,
            "num_cells": cells,
            "nprobe": nprobe,
            "build_sec": build_s,
            "probe_sec": m["wall_sec"],
            "probe_input_records": m["input_records"],
            "probe_input_bytes": m["input_bytes"],
            "probe_shuffle_bytes": m["shuffle_bytes"],
        }
        _progress(label, results[label])
    return results


def skew(spark, root):
    """Hot-key skew levers, q81 (`operators/skew.py:salted_join`).

    Claim (SCALING.md "Joins"): a single pathological hot key
    serializes a shuffle join into one straggler task; AQE's skew-join
    split is the first lever, and `salted_join` is the
    planner-independent form that fixes the same straggler even with
    AQE disabled, at the cost of replicating the small side
    salt_factor times.

    Setup: left corpus with 90% of rows on ONE key (the rest uniform
    over 50k keys), right side 50k+1 keys, auto-broadcast DISABLED
    (`spark.sql.autoBroadcastJoinThreshold=-1`, set for this case and
    restored after it): the regime where the right side is too big to
    broadcast and the join must shuffle.  The timed run is a sum
    aggregate over the join output (full join materialization, tiny
    result).  Three configs per corpus size, result parity asserted
    across all of them:

      plain_aqe_off  - the straggler: hot key lands in one task
      plain_aqe_on   - AQE OptimizeSkewedJoin subdivides the partition
      salted_aqe_off - salted_join(salt_factor=8), AQE still off

    Balance metric per config, from the fastest run's heaviest stage
    (max shuffle read): tasks, stage wall (completion - first task
    launch) and total executorRunTime.  A straggler shows stage wall ~
    executorRunTime (one task runs alone); a balanced stage shows wall
    ~ runtime/slots.
    """
    from cloud_native_medical_data_etl_pipeline_spark.operators.skew import (
        salted_join,
    )

    hot_share, n_keys, salt = 0.9, 50_000, 8
    aqe, broadcast = "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold"

    def build(n_rows, label):
        spark.range(n_rows).select(
            F.when((F.col("id") % 100) < int(hot_share * 100), F.lit(0))
            .otherwise(F.pmod(F.xxhash64("id"), F.lit(n_keys)) + 1)
            .cast("long")
            .alias("key"),
            (F.col("id") % 997).cast("double").alias("value"),
        ).write.mode("overwrite").parquet(f"{root}/{label}_left")
        spark.range(n_keys + 1).select(
            F.col("id").alias("key"),
            ((F.col("id") % 13) + 1).cast("double").alias("weight"),
        ).write.mode("overwrite").parquet(f"{root}/{label}_right")
        return (
            spark.read.parquet(f"{root}/{label}_left"),
            spark.read.parquet(f"{root}/{label}_right"),
        )

    def join_stage(stages):
        if not stages:
            return None
        st = max(stages, key=lambda s: s["shuffleReadBytes"])
        wall = None
        if st["firstTaskLaunchedTime"] and st["completionTime"]:
            wall = round((st["completionTime"] - st["firstTaskLaunchedTime"]) / 1000, 3)
        return {
            "tasks": st["numTasks"],
            "stage_wall_sec": wall,
            "executor_run_sec": round(st["executorRunTime"] / 1000.0, 3),
            "shuffle_read_mb": round(st["shuffleReadBytes"] / 1e6, 1),
        }

    saved = {k: spark.conf.get(k) for k in (aqe, broadcast)}
    spark.conf.set(broadcast, "-1")
    results = {}
    try:
        for label, n_rows in (("1x_2M", 2_000_000), ("10x_20M", 20_000_000)):
            left, right = build(n_rows, label)

            def run(joiner):
                out = (
                    joiner()
                    # parity is an EXACT INTEGER aggregate: value and
                    # weight are integer-valued by construction, so
                    # casting to long before the multiply makes the SUM
                    # order-independent by type, not by luck; a constant
                    # tweak that makes either column fractional fails
                    # loudly in the cast-equality guard below
                    .select(
                        F.col("value").cast("long").alias("vl"),
                        F.col("weight").cast("long").alias("wl"),
                        "value",
                        "weight",
                    )
                    .select(
                        (F.col("vl") * F.col("wl")).alias("x"),
                        (
                            (F.col("vl") == F.col("value"))
                            & (F.col("wl") == F.col("weight"))
                        ).alias("ok"),
                    )
                    .agg(F.sum("x").alias("s"), F.min("ok").alias("all_integer"))
                    .first()
                )
                assert out["all_integer"], "parity inputs drifted off integers"
                return out["s"]

            def plain(left=left, right=right):
                return left.join(right, "key")

            def salted(left=left, right=right):
                return salted_join(left, right, "key", salt_factor=salt)

            parity = set()
            cfg = {}
            for name, aqe_on, joiner in (
                ("plain_aqe_off", "false", plain),
                ("plain_aqe_on", "true", plain),
                ("salted_aqe_off", "false", salted),
            ):
                spark.conf.set(aqe, aqe_on)
                s, m = timed(spark, lambda j=joiner: run(j))
                parity.add(s)
                cfg[name] = {"wall_sec": m["wall_sec"], "join_stage": join_stage(m["stages"])}
                _progress(f"{label}/{name}", cfg[name])
            assert len(parity) == 1, f"configs disagree: {parity}"
            cfg["result_parity"] = "identical across all 3 configs"
            results[label] = cfg
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    return results


# operator -> (the JSON line's top-level key, case)
CASES = {
    "asof": ("asof_decade", asof),
    "bm25": ("bm25_indexed_decade", bm25),
    "bpe": ("bpe_decade", bpe),
    "catalog": ("catalog_decade", catalog),
    "cc": ("cc_decade", cc),
    "enrich": ("enrich_decade", enrich),
    "ingest": ("ingest_decade", ingest),
    "mm": ("mm_decade", mm),
    "pack": ("pack_decade", pack),
    "probe": ("ivfpq_probe_decade", probe),
    "skew": ("skew_decade", skew),
}


def main(argv=None):
    ap = argparse.ArgumentParser(
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
        epilog="operators:\n"
        + "\n".join(
            f"  {name:8} {case.__doc__.splitlines()[0]}"
            for name, (_, case) in CASES.items()
        ),
    )
    ap.add_argument("operators", nargs="+", choices=list(CASES), metavar="OPERATOR")
    args = ap.parse_args(argv)

    export_repo_to_workers()
    from cloud_native_medical_data_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="decade")
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    for name in args.operators:
        key, case = CASES[name]
        root = tempfile.mkdtemp(prefix=f"decade_{name}_")
        try:
            out = case(spark, root)
        finally:
            shutil.rmtree(root, ignore_errors=True)
        print(json.dumps({key: out, "cores": cores}), flush=True)


if __name__ == "__main__":
    main()
