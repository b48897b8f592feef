"""Distributed BPE merge training: learn byte-pair-encoding merge
rules from a document corpus (the tokenizer-induction step of an LLM
data pipeline).

Shape of the computation — and why it scales: BPE statistics are a
function of the WORD-FREQUENCY table, not of the corpus.  One
corpus-sized aggregate builds (word, freq); every merge round after
that runs on the vocabulary-sized frequency table (pair counting is
one partial-agg shuffle over |vocab| rows × avg word length) plus ONE
driver round-trip carrying a single (left, right) row — the same
bounded-driver-loop contract as the k-means trainers
(`similarity.train_ivf_centroids`).  At 100 TB the corpus term is the
word count you were going to compute anyway; the merge loop never
re-reads documents.  Industrial BPE trainers (HF tokenizers,
SentencePiece in BPE mode) factor the problem the same way.

Semantics (deliberately the textbook algorithm, so an external SQL
engine reproduces it merge-for-merge):

* words = lowercased whitespace tokens; symbols start as single
  characters (optionally with an end-of-word marker symbol).
* each round counts adjacent symbol pairs weighted by word frequency,
  picks argmax with the deterministic tie-break (count DESC, left
  ASC, right ASC), and rewrites every word left-to-right
  non-overlapping — the fold: scan symbols, merging the pair wherever
  the accumulator's last symbol is `left` and the next is `right`.
* no sub-word regularization, no byte fallback — merge RULES are the
  output; apply-side encoding is the caller's concern.

Unicode note: Spark's regex split operates on UTF-16 code units,
DuckDB's on codepoints — identical on BMP text (the oracle corpus is
ASCII); astral-plane input would charize differently and is outside
the oracle contract.

Reference analog: none (LLM-pipeline extension surface, like
packing/profile/dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as X


def _merge_fold(sym_col, left, right):
    """Left-to-right non-overlapping merge of the adjacent pair
    (left, right) over a symbol array — pure JVM higher-order fold.

    ``sym_col`` is referenced exactly ONCE (empty-array init; the
    first element is seated inside the lambda): when apply-side
    encoding CHAINS these folds, a twice-referenced input would
    double the expression tree per merge level — 2^n copies of the
    innermost tokenization under interpreted HOF evaluation, a
    measured multi-minute stall at 8 merges on 600k words."""
    return F.aggregate(
        sym_col,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(F.size(acc) == 0, F.array(x))
        .when(
            (F.element_at(acc, -1) == left) & (x == right),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(left, right)),
            ),
        )
        .otherwise(F.concat(acc, F.array(x))),
    )


def train_bpe_merges(
    df: DataFrame,
    content_col: str = "text",
    num_merges: int = 8,
    min_word_freq: int = 1,
    word_end_marker: str | None = None,
) -> DataFrame:
    """Learn ``num_merges`` BPE merge rules from ``content_col``.

    Returns a driver-built DataFrame (step int starting at 1, left
    string, right string, pair_count long) — the merge table in
    learned order, which IS the tokenizer artifact.

    ``num_merges`` is a bounded driver loop (one 1-row collect per
    round); real vocabularies are built with thousands of rounds over
    a CACHED frequency table — pass a pre-aggregated (word, freq)
    corpus via ``df`` if the word count itself is expensive to
    recompute.  ``min_word_freq`` prunes the long vocabulary tail
    before the loop (standard practice; rare words cannot win an
    argmax anyway until the tail dominates).
    """
    if num_merges < 1:
        raise ValueError("train_bpe_merges: num_merges must be >= 1")
    spark = df.sparkSession

    words = (
        df.select(F.explode(X.lower_tokens(content_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    if min_word_freq > 1:
        words = words.where(F.col("freq") >= min_word_freq)
    syms = F.split(F.col("word"), "")
    if word_end_marker is not None:
        syms = F.concat(syms, F.array(F.lit(word_end_marker)))
    cur = words.select("word", "freq", syms.alias("syms")).persist()

    merges: list[tuple[int, str, str, int]] = []
    try:
        for step in range(1, num_merges + 1):
            pairs = (
                cur.select(
                    "freq",
                    F.explode(
                        F.arrays_zip(
                            F.slice(
                                F.col("syms"),
                                1,
                                F.greatest(F.size("syms") - 1, F.lit(0)),
                            ).alias("l"),
                            F.slice(F.col("syms"), 2, F.size("syms") - 1).alias(
                                "r"
                            ),
                        )
                    ).alias("p"),
                )
                .groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right"))
                .agg(F.sum("freq").alias("pair_count"))
            )
            best = (
                pairs.orderBy(
                    F.col("pair_count").desc(), F.col("left"), F.col("right")
                )
                .limit(1)
                .collect()
            )
            if not best:
                break  # every word is a single symbol — nothing to merge
            b = best[0]
            merges.append(
                (step, b["left"], b["right"], int(b["pair_count"]))
            )
            nxt = cur.select(
                "word",
                "freq",
                _merge_fold(
                    F.col("syms"), F.lit(b["left"]), F.lit(b["right"])
                ).alias("syms"),
            ).persist()
            nxt.count()  # materialize before dropping the parent
            cur.unpersist()
            cur = nxt
    finally:
        cur.unpersist()

    return spark.createDataFrame(
        merges, "step int, left string, right string, pair_count long"
    )


def _validate_merge_table(merges: list[tuple[str, str]]) -> None:
    """Well-formedness gate for the encoder.  Two conditions,
    together sufficient for greedy-minimum-rank == fold-chain-in-order
    (every symbol then has exactly ONE producing rank, so the rank-
    ordering argument in `_bpe_encode_udf`'s docstring is sound):

    1. RANK-MONOTONE: every rule's constituents must be BUILDABLE when
       the rule fires — a single character, or the output of an
       EARLIER rule.  [("ab","c"), ("a","b")] violates it: rule 0
       references a symbol only rule 1 can create, so applying the
       later rule retroactively enables the earlier one.
    2. UNIQUE PRODUCERS up to exact repetition: no two DISTINCT pairs
       may build the same output string.  With such a duplicate
       producer, a symbol gains a second producing rank and the
       argument breaks: in
       [("a","b"), ("b","a"), ("a","ba"), ("aba","c"), ("ab","a")]
       both rule 2 and rule 4 build "aba", and on "abac" the fold
       yields [aba, c] (rule 3 has already passed when rule 4
       rebuilds "aba") while greedy yields [abac] (it happily applies
       rule 3 after rule 4) — r15 ADVICE, divergence reproduced in
       tests/test_bpe.py.  An EXACT repeat of an earlier rule (same
       (l, r) pair) is accepted and skipped instead: under
       rank-monotonicity + distinct-pair uniqueness the (l, r)
       adjacency can never re-arise after the first application (a
       later merge would need to OUTPUT l or r, which only an exact
       repeat — itself a no-op by induction — could), so the repeat
       is a provable fold no-op and the kernel's first-rank-wins
       setdefault reproduces it exactly.

    THIS package's trainers satisfy both by construction — a merge
    only ever creates adjacencies containing its output symbol, so
    once one factorization of a string has merged, the adjacency a
    second producer would need never arises (zero duplicate producers
    observed across a 3000-trial random-corpus fuzz and a 10k-rule
    hex workload, r16) — but a merge list from another tokenizer's
    trainer can carry duplicate outputs (e.g. ("ab","c") and
    ("a","bc") both in the list), and for such tables the greedy
    kernel is semantically wrong on some probe text, so the encoder
    refuses rather than silently disagree."""
    seen_rules: set[tuple[str, str]] = set()
    seen_outputs: set[str] = set()
    for i, (left, right) in enumerate(merges):
        if (left, right) in seen_rules:
            continue  # exact repeat: provable fold no-op (see above)
        for side in (left, right):
            if len(side) > 1 and side not in seen_outputs:
                raise ValueError(
                    f"apply_bpe_merges: rule {i} "
                    f"({left!r}, {right!r}) references multi-char symbol "
                    f"{side!r} that no earlier rule produces — not a "
                    "learned-order (rank-monotone) merge table"
                )
        out = left + right
        if out in seen_outputs:
            raise ValueError(
                f"apply_bpe_merges: rule {i} "
                f"({left!r}, {right!r}) rebuilds {out!r}, already the "
                "output of a DIFFERENT earlier rule — a duplicate "
                "producer gives a symbol two producing ranks, where "
                "greedy-minimum-rank provably diverges from the fold "
                "spec on some inputs"
            )
        seen_rules.add((left, right))
        seen_outputs.add(out)


def _bpe_encode_udf(merges: list[tuple[str, str]]):
    """Arrow-vectorized BPE encoder over pre-tokenized word arrays —
    the scale path for realistic merge counts (30k-50k rules).

    The merge-RANK table ships once per worker inside the UDF closure
    (broadcast-the-model: the closure is pickled with the UDF) and
    each word encodes by the standard greedy-minimum-rank loop: find
    the lowest-ranked adjacent pair present, rewrite ALL its
    occurrences left-to-right non-overlapping (exactly `_merge_fold`'s
    batch rewrite), repeat.  This replays the learned sequence: a
    merge at rank r only ever CREATES pairs that contain its output
    symbol, and any learned rule touching that symbol necessarily has
    rank > r (the symbol first exists at step r), so at every moment
    the minimum-rank pair present is the next one sequential order
    would apply — greedy-by-rank == fold-chain-in-order (unit-pinned
    and hypothesis-fuzzed token-identical in tests/test_bpe.py).
    The rank argument needs the table in learned order — enforced by
    `_validate_merge_table` before this kernel is built.

    Cost per unique word is O(len^2) pair scans, INDEPENDENT of the
    merge count — rules whose pair never appears are never looked up —
    and a per-batch memo collapses repeated words (Zipf: most of the
    batch is the head of the vocabulary)."""
    import pandas as pd

    ranks: dict[tuple[str, str], int] = {}
    pairs = [tuple(m) for m in merges]
    for i, p in enumerate(pairs):
        # an exact repeated pair is a provable fold no-op (accepted
        # and skipped by _validate_merge_table); setdefault keeps the
        # first rank, which reproduces that no-op exactly
        ranks.setdefault(p, i)

    def _encode(word: str, memo: dict) -> list[str]:
        got = memo.get(word)
        if got is None:
            syms = list(word)
            while len(syms) > 1:
                best = None
                for i in range(len(syms) - 1):
                    r = ranks.get((syms[i], syms[i + 1]))
                    if r is not None and (best is None or r < best):
                        best = r
                if best is None:
                    break
                left, right = pairs[best]
                out: list[str] = []
                i, n = 0, len(syms)
                while i < n:
                    if (
                        i + 1 < n
                        and syms[i] == left
                        and syms[i + 1] == right
                    ):
                        out.append(left + right)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            got = memo[word] = syms
        return got

    # NB: no signature annotations — pandas_udf's type-hint inference
    # stringifies locally-imported names and rejects them
    def _fn(word_arrays):
        memo: dict[str, list[str]] = {}
        out = []
        for words in word_arrays:
            if words is None:
                out.append([])
                continue
            toks: list[str] = []
            for w in words:
                toks.extend(_encode(w, memo))
            out.append(toks)
        return pd.Series(out, dtype=object)

    return F.pandas_udf(_fn, "array<string>")


def apply_bpe_merges(
    df: DataFrame,
    merges: list[tuple[str, str]],
    content_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Encode documents with a learned merge list: (key_col, tokens
    array<string>, n_bpe_tokens long).  Merges apply in learned order
    within each whitespace word.

    The `_bpe_encode_udf` vectorized kernel: cost independent of merge
    count (the lever for realistic 30k-50k-rule tokenizers), ZERO
    shuffle, one output row per input row (duplicate ``key_col``
    values stay separate rows).  Token-identical to the in-order fold
    chain the DuckDB oracles replay (`_apply_bpe_fold`, unit-pinned
    and fuzzed); tables where the two could differ are refused by
    `_validate_merge_table`.
    """
    _validate_merge_table(merges)
    # X.lower_tokens never yields NULL (tokens() coalesces NULL
    # text to '' -> empty array), so the kernel sees a list per row
    toks = X.lower_tokens(content_col)
    return df.select(
        F.col(key_col),
        _bpe_encode_udf(merges)(toks).alias("tokens"),
    ).select(
        key_col,
        "tokens",
        F.size("tokens").cast("long").alias("n_bpe_tokens"),
    )


def _apply_bpe_fold(
    df: DataFrame,
    merges: list[tuple[str, str]],
    content_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """The in-order spec `apply_bpe_merges` is tested against: one
    chained `_merge_fold` per merge, pure JVM expression work, for any
    rule list.  Plan depth is linear in the merge count, so it suits
    test-sized tables only.  Its posexplode/groupBy round-trip
    collapses duplicate ``key_col`` values into one row."""
    word_syms = F.split(F.col("__w"), "")
    for left, right in merges:
        word_syms = _merge_fold(word_syms, F.lit(left), F.lit(right))
    # posexplode_OUTER: documents with no tokens (null/empty/whitespace
    # text) must survive as (key, [], 0), matching the repo's other
    # text operators — plain posexplode would silently drop them
    exploded = df.select(
        F.col(key_col),
        F.posexplode_outer(X.lower_tokens(content_col)).alias(
            "__pos", "__w"
        ),
    )
    per_word = exploded.select(
        key_col,
        "__pos",
        F.when(F.col("__w").isNull(), F.array().cast("array<string>"))
        .otherwise(word_syms)
        .alias("__syms"),
    )
    # collect_list order is partition-dependent: carry the word
    # position and sort before flattening so token order is the
    # document's
    return (
        per_word.groupBy(key_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__pos", "__syms"))
            ).alias("__ws")
        )
        .select(
            key_col,
            F.flatten(
                F.transform(F.col("__ws"), lambda w: w["__syms"])
            ).alias("tokens"),
        )
        .select(
            key_col,
            "tokens",
            F.size("tokens").cast("long").alias("n_bpe_tokens"),
        )
    )
