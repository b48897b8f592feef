#!/usr/bin/env python
"""Measured evidence for the BPE operator family (r14 —
`operators/bpe.py`; staged q143).

Two claims under test:

1. TRAIN cost tracks the corpus only through the one word-count
   aggregate; the merge loop runs on the vocabulary-sized frequency
   table.  Replicating the corpus 10× (exact copies, shifted ids)
   multiplies every pair count by exactly 10 and leaves the
   vocabulary unchanged — so the merge SEQUENCE must be identical
   with counts ×10 (asserted mechanically: greedy argmax is
   scale-invariant), and train wall must grow far slower than 10×.
2. APPLY (encoding, `apply_bpe_merges`' Arrow kernel) is per-doc
   map-side work: throughput in encoded tokens/s holds across the
   decade.  The in-order fold-chain reference (`_apply_bpe_fold`) is
   timed next to it and must match it token for token.

Run: `python tools/bpe_decade.py` (one JSON line to stdout).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cloud_native_medical_data_etl_pipeline_spark.operators.bpe import (  # noqa: E402
    _apply_bpe_fold,
    apply_bpe_merges,
    train_bpe_merges,
)
from cloud_native_medical_data_etl_pipeline_spark.session import get_spark  # noqa: E402

from _decade_common import export_repo_to_workers, parse_cli, sf_dir  # noqa: E402

SF_DIR = sf_dir("sf0.1")
NUM_MERGES = 8
REPS = 2


def _timed(fn):
    fn()
    walls = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        res = fn()
        walls.append(time.perf_counter() - t0)
    return round(min(walls), 3), res


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


def main():
    import shutil
    import tempfile

    export_repo_to_workers()
    spark = get_spark(master="local[32]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    n1 = docs.count()
    root = tempfile.mkdtemp(prefix="bpe_decade_")
    results = {}
    merge_tables = {}
    try:
        # exact replicas (same text, shifted ids): every pair count
        # scales by the factor, the vocabulary does not change
        for label, factor in (("1x", 1), ("10x", 10)):
            parts = [
                docs.select(
                    (F.col("doc_id") + F.lit(i * n1)).alias("doc_id"), "text"
                )
                for i in range(factor)
            ]
            from functools import reduce

            corpus_path = f"{root}/{label}"
            reduce(lambda a, b: a.unionByName(b), parts).write.mode(
                "overwrite"
            ).parquet(corpus_path)
            # repartition before the CPU-bound stages: the encoders
            # (apply) and the tokenize+explode (train's word count)
            # inherit the scan's split count, and
            # a compact corpus arrives as few splits — the same lever
            # tools/mm_decade.py measures for the decode path
            corpus = spark.read.parquet(corpus_path).repartition(32)

            train_wall, merges = _timed(
                lambda c=corpus: [
                    tuple(r)
                    for r in train_bpe_merges(c, num_merges=NUM_MERGES)
                    .orderBy("step")
                    .collect()
                ]
            )
            merge_tables[label] = merges
            rules = [(m[1], m[2]) for m in merges]

            def run_apply(encode, c=corpus, rules=rules):
                # token-content checksum (not just counts): the
                # kernel-vs-fold parity below compares real tokens
                row = (
                    encode(c, rules)
                    .agg(
                        F.count(F.lit(1)).alias("docs"),
                        F.sum("n_bpe_tokens").alias("toks"),
                        F.bit_xor(
                            F.xxhash64(
                                "doc_id", F.array_join("tokens", "\x00")
                            )
                        ).alias("c"),
                    )
                    .first()
                )
                return int(row["docs"]), int(row["toks"]), int(row["c"])

            apply_wall, (docs_out, toks, chk) = _timed(
                lambda: run_apply(apply_bpe_merges)
            )
            fold_wall, (docs_f, toks_f, chk_f) = _timed(
                lambda: run_apply(_apply_bpe_fold)
            )
            assert docs_out == n1 * factor, (label, docs_out)
            # the r15 parity contract, held on the REAL corpus at both
            # scales: identical docs, token totals, and content hash
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
            print(f"  {label}: {results[label]}", file=sys.stderr)

        # the scale-invariance assert: same merge sequence, counts x10
        m1, m10 = merge_tables["1x"], merge_tables["10x"]
        assert [(s, l, r) for s, l, r, _ in m1] == [
            (s, l, r) for s, l, r, _ in m10
        ], (m1, m10)
        assert all(
            c10 == 10 * c1
            for (_, _, _, c1), (_, _, _, c10) in zip(m1, m10)
        ), (m1, m10)
        results["merge_sequence"] = [
            {"step": s, "left": l, "right": r, "count_1x": c}
            for s, l, r, c in m1
        ]
        # train wall must not track the corpus linearly (the loop runs
        # on the unchanged vocabulary; only the word count sees 10x)
        assert (
            results["10x"]["train_wall_sec"]
            < 5 * results["1x"]["train_wall_sec"]
        ), results
        # encode throughput holds within the linear-scaling band
        assert (
            results["10x"]["encoded_tokens_per_sec"]
            > 0.5 * results["1x"]["encoded_tokens_per_sec"]
        ), results

        # ------------------------------------------------------------------
        # Realistic merge count (r15): the corpus's natural vocabulary
        # is ~31 words (max ~107 learnable merges), so the >=1k-rule
        # apply measurement derives a deterministic hex workload —
        # md5(doc_id) split into eight 4-char words (vocabulary up to
        # 16^4).  The merge table comes from the incremental driver
        # trainer above (tooling); the MEASURED path is the engine's:
        # apply_bpe_merges must hold its throughput at 1k rules across
        # the decade.  The fold reference is not timed here (its plan
        # depth is linear in the merge count).
        # ------------------------------------------------------------------
        from collections import Counter

        hex_text = F.trim(
            F.regexp_replace(
                F.md5(F.col("doc_id").cast("string")), "(.{4})", "$1 "
            )
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
        # the encoder refuses duplicate-producer tables (r15 ADVICE)
        # — this trainer never learns one on this workload (global
        # in-rank-order rewrites keep groupings consistent), asserted
        # so a workload change that breaks the property fails HERE,
        # not as an opaque refusal in the measured path
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
                .agg(
                    F.count(F.lit(1)).alias("docs"),
                    F.sum("n_bpe_tokens").alias("toks"),
                )
                .first()
            )
            return int(row["docs"]), int(row["toks"])

        # --- merge-count sweep (r15 verdict task 3): encode the SAME
        # 1x workload with rule-table prefixes of 8, 1k, and 10k (a
        # prefix of a valid table is itself rank-monotone with unique
        # producers).  The claim the docstring makes at 30k-50k rules:
        # per-word cost tracks WORD LENGTH (merges that actually fire,
        # bounded by len(word)-1), never table size — the table ships
        # once per executor as a dict, and each candidate pair is one
        # O(1) rank lookup.  8 rules do LESS work than 1k/10k (almost
        # nothing fires), so the flat-cost comparison is 1k vs 10k,
        # where this 4-char-word workload is merge-saturated.
        hex1 = (
            spark.read.parquet(f"{root}/1x")
            .repartition(32)
            .select("doc_id", hex_text.alias("text"))
        )
        sweep = {}
        for n_prefix in (8, 1000, n_rules):
            rules_n = big_rules[:n_prefix]
            wall, (nd, toks) = _timed(
                lambda c=hex1, r=rules_n: run_hex(c, r)
            )
            assert nd == n1, nd
            sweep[str(n_prefix)] = {
                "rules": n_prefix,
                "apply_arrow_wall_sec": wall,
                "encoded_tokens": toks,
                "tokens_per_sec": round(toks / wall),
            }
            print(f"  sweep {n_prefix} rules: {sweep[str(n_prefix)]}",
                  file=sys.stderr)
        # table-size independence: 10x the rules, same saturated work.
        # Margin 2.5x (not the 1.16x measured quiet-host ratio): min of
        # only 2 timed reps on a shared host can inflate one leg ~2x
        # with zero signal; a LINEAR-in-rules kernel would read ~10x,
        # so 2.5x still separates the claim from its alternative
        assert (
            sweep[str(n_rules)]["apply_arrow_wall_sec"]
            < 2.5 * sweep["1000"]["apply_arrow_wall_sec"]
        ), sweep

        # --- decade at the full 10k-rule table: throughput must hold.
        # The 1x leg IS the sweep's n_rules row (same corpus path, same
        # repartition, same table) — reuse it rather than re-measure
        # and risk two supposedly-identical numbers drifting apart
        hk = {"1x": {"docs": n1, **{k: v for k, v in
                                    sweep[str(n_rules)].items()}}}
        hexed10 = (
            spark.read.parquet(f"{root}/10x")
            .repartition(32)
            .select("doc_id", hex_text.alias("text"))
        )
        wall, (nd, toks) = _timed(lambda: run_hex(hexed10, big_rules))
        assert nd == n1 * 10, nd
        hk["10x"] = {
            "docs": nd,
            "rules": n_rules,
            "apply_arrow_wall_sec": wall,
            "encoded_tokens": toks,
            "tokens_per_sec": round(toks / wall),
        }
        print(f"  10k-merge 10x: {hk['10x']}", file=sys.stderr)
        assert (
            hk["10x"]["tokens_per_sec"] > 0.5 * hk["1x"]["tokens_per_sec"]
        ), hk
        results["realistic_merges"] = {
            "rule_count_sweep_1x": sweep,
            **{f"hex_{k}": v for k, v in hk.items()},
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({"bpe_decade": results}))


if __name__ == "__main__":
    parse_cli(__doc__)
    main()
