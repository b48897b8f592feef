"""End-to-end corpus curation: the composite a training-data pipeline
actually runs, as ONE lazy plan.

    keep language == target
    keep quality_score >= threshold
    drop exact duplicates           (keep the min-key copy)
    drop near-duplicates            (keep the min-key member of each
                                     near-dup pair)

Plan shape at scale: the language/quality filters are pure map-side
column expressions, so they run inside the scan stage and shrink
everything downstream; exact dedup shuffles once on the content hash;
near-dup removal reuses the MinHash-LSH pair generator (band equi-join,
never a cross join) and turns its pair list into an anti join — the
survivors never carry shingle arrays past the pair stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as X
from . import dedup as D


def curate(
    df: DataFrame,
    content_col: str = "text",
    key_col: str = "doc_id",
    lang: str = "en",
    min_quality: float = 0.3,
    jaccard_threshold: float = 0.5,
    num_hashes: int = 8,
    bands: int = 4,
    ngram_n: int = 3,
) -> DataFrame:
    """Returns the curated subset of `df` (all original columns)."""
    # the filtered frame feeds both branches of the exact-dedup
    # semi-join, the minhash pipeline, and the final anti join —
    # persist so the (HOF-heavy) lang/quality expressions run ONCE
    # over the corpus, not once per consumer. At scale this is where
    # a pipeline would checkpoint the filtered corpus anyway.
    filtered = df.where(
        (X.lang_id(content_col) == lang)
        & (X.quality_score(content_col) >= min_quality)
    ).persist()
    kept = D.exact_dedup(filtered, content_col, key_col)
    pairs = D.minhash_lsh_pairs(
        kept,
        content_col=content_col,
        key_col=key_col,
        num_hashes=num_hashes,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
        ngram_n=ngram_n,
    )
    # a doc is dropped iff it is the LARGER key of some near-dup pair
    # (pairs are emitted with key_a < key_b), so the smallest member of
    # every near-dup cluster chain survives
    losers = pairs.select(F.col("key_b").alias(key_col)).distinct()
    # caller-unpersists contract: the filtered corpus plus whatever the
    # minhash stage cached are freed together by D.release(result)
    return D._with_cached_deps(
        kept.join(losers, key_col, "left_anti"), filtered, pairs
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    n: int,
    key_col: str = "doc_id",
) -> DataFrame:
    """Corpus balancing: keep at most ``n`` rows per group (domain,
    source, language...), chosen deterministically by md5-of-key order
    — the same members survive on any cluster layout, any engine, any
    re-run, which seeded rand() does not guarantee.

    Plan shape: one hash shuffle on the group key + per-group sort of
    md5 strings; the filter drops rows before anything downstream sees
    them. A group with 10^9 rows concentrates one partition's sort —
    same hot-key caveat and salting remedy as the window family.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(key_col).cast("string")), F.col(key_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n)
        .drop("__rn")
    )


def mix_corpora(
    sources: dict[str, tuple[DataFrame, float]],
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic mixture sampling across corpora: keep each
    source's rows with probability = its weight, chosen by an md5 hash
    of (source name, key) — reproducible across layouts, engines, and
    re-runs, unlike seeded rand(). Output schemas align by name
    (missing columns null-filled) and a ``source`` column tags
    provenance.

    Scale shape: the keep-filter is map-side per source (folds into
    each scan); the union is a plan-level concat, no shuffle. Weights
    are per-source KEEP probabilities (0..1], not normalized shares —
    compute shares upstream from corpus sizes if that's the contract
    you need.
    """
    if not sources:
        # returning None would surface as an AttributeError far from
        # the root cause (e.g. an upstream config filter removed every
        # source); fail at the call site instead
        raise ValueError("mix_corpora needs at least one source")
    out = None
    for name, (df, weight) in sorted(sources.items()):
        frac = (
            F.conv(F.substring(F.md5(F.concat(F.lit(name), F.col(key_col).cast("string"))), 1, 8), 16, 10)
            .cast("double")
            / F.lit(float(0xFFFFFFFF))
        )
        kept = df.where(frac <= F.lit(float(weight))).withColumn(
            "source", F.lit(name)
        )
        out = kept if out is None else out.unionByName(kept, allowMissingColumns=True)
    return out


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    n: int,
    key_col: str = "doc_id",
    group_col: str | None = None,
    round_dp: int = 9,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via Efraimidis-Spirakis
    A-Res priorities in LOG DOMAIN: each row gets
    ``priority = ln(-ln u) - ln w`` for a uniform u in (0, 1], and the
    n SMALLEST priorities win — the monotone transform of the classic
    ``u ** (1/w)`` descending rule, so the sampled DISTRIBUTION is
    identical, but the sort key keeps relative precision at every
    weight scale (the raw power collapses onto a rounding grid for
    large w).  One-pass distributed reservoir, exact in distribution,
    no driver state, no rejection loop.  u is DETERMINISTIC (md5 of
    the key, the mix_corpora trick): the sample is reproducible across
    partition layouts, re-runs, and engines, unlike seeded rand().

    Returns the sampled rows (all original columns plus ``priority``,
    lower = stronger).  Rows with NULL or non-positive weight are
    excluded (they have no defined priority).  Priorities are ROUNDED
    before ranking — log() may differ by an ulp between libm
    implementations, and ranking on the rounded value with a key
    tiebreak keeps the selected set engine-stable (the q19/q79
    rounded-score pattern).

    Scale shape: the priority is a map-side expression; selection is
    one top-n window per group (WindowGroupLimit keeps only running
    winners ahead of the shuffle).  ``group_col=None`` means ONE
    global sample: that window is single-partition by construction,
    but only the per-partition top-n survivors reach it.
    """
    from ._common import col_ref
    from ._sampling import md5_uniform

    key = col_ref(key_col)
    w = col_ref(weight_col).cast("double")
    u = md5_uniform(key)
    # LOG-DOMAIN E-S key: rank ASC by ln(-ln u) - ln w, the monotone
    # transform of u**(1/w) DESC.  Ranking the raw power collapses for
    # large weights — u**(1/w) spans only ~|ln u|/w below 1.0, so at
    # w ~ 1e7+ (token counts of large docs) a 9dp round maps nearly
    # every row to the same grid value and "weighted sampling"
    # degrades to smallest-key order.  A rounded LOG is relative
    # precision at every weight scale (the key's magnitude is O(10),
    # ulp noise ~1e-15, grain 1e-9).  u == 1 (one md5 prefix in 2^32)
    # means priority 1.0 exactly — the best possible — spelled -inf.
    priority = F.when(
        u < 1, F.round(F.log(-F.log(u)) - F.log(w), round_dp)
    ).otherwise(F.lit(float("-inf")))
    win = (
        Window.partitionBy(col_ref(group_col))
        if group_col
        else Window.partitionBy()
    ).orderBy(F.col("priority").asc(), key.asc())
    return (
        df.where(w.isNotNull() & (w > 0))
        .withColumn("priority", priority)
        .withColumn("__rn", F.row_number().over(win))
        .where(F.col("__rn") <= n)
        .drop("__rn")
    )


def temperature_weights(
    df: DataFrame,
    group_col: str = "source",
    tau: float = 0.3,
    round_dp: int = 6,
) -> DataFrame:
    """Temperature-scaled mixture weights over sources — the standard
    multilingual/multi-source rebalancing rule (sample source i with
    probability n_i^tau / sum_j n_j^tau): tau=1 keeps natural
    proportions, tau->0 approaches uniform, lifting low-resource
    sources without flattening the mixture entirely.

    Returns per group: ``n`` (row count), ``raw_share`` (natural
    proportion), ``temp_share`` (temperature-scaled sampling
    probability) and ``sample_factor`` (temp_share / raw_share — the
    up/down-sampling multiplier a sampler like `mix_corpora` or
    `weighted_sample` should apply). Shares are rounded: pow() may
    differ by ulps across libm implementations (the weighted_sample
    precedent).

    Scale shape: ONE map-side-combinable counting aggregate to
    group-cardinality rows, then a one-row broadcast of the totals —
    the corpus is scanned once, counts only.
    """
    from ._common import col_ref

    counts = df.groupBy(col_ref(group_col).alias(group_col)).agg(
        F.count(F.lit(1)).alias("n")
    )
    t = float(tau)
    totals = counts.agg(
        F.sum("n").cast("double").alias("__N"),
        F.sum(F.pow(F.col("n").cast("double"), F.lit(t))).alias("__T"),
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        group_col,
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n") / F.col("__N"), round_dp).alias("raw_share"),
        F.round(
            F.pow(F.col("n").cast("double"), F.lit(t)) / F.col("__T"), round_dp
        ).alias("temp_share"),
        F.round(
            (F.pow(F.col("n").cast("double"), F.lit(t)) / F.col("__T"))
            / (F.col("n") / F.col("__N")),
            round_dp,
        ).alias("sample_factor"),
    )


def mix_plan(
    df: DataFrame,
    token_budget: int,
    group_col: str = "source",
    content_col: str = "text",
    tau: float = 0.3,
    round_dp: int = 6,
) -> DataFrame:
    """Training-mix planner: given a TOKEN budget and a temperature,
    how many tokens to draw from each source and how many epochs of
    each source that implies — the actual planning artifact behind
    `temperature_weights` (a share is advice; a token count and an
    oversampling factor are a plan, and epochs > ~4 on a small source
    is the standard early-warning for memorization).

    Per group: ``tokens_available`` (whitespace tokens), ``share``
    (available^tau normalized), ``tokens_target`` (floor of share ×
    budget), ``epochs`` (target / available — >1 means oversampling).

    Scale shape: ONE map-side token-count aggregate to |groups| rows
    and a one-row totals broadcast; the corpus is scanned once.
    """
    from ._common import col_ref

    t = float(tau)
    avail = df.groupBy(col_ref(group_col).alias(group_col)).agg(
        F.sum(X.token_count(content_col)).alias("tokens_available")
    )
    totals = avail.agg(
        F.sum(F.pow(F.col("tokens_available").cast("double"), F.lit(t))).alias(
            "__T"
        )
    )
    share = (
        F.pow(F.col("tokens_available").cast("double"), F.lit(t)) / F.col("__T")
    )
    target = F.floor(share * F.lit(float(token_budget))).cast("bigint")
    return avail.crossJoin(F.broadcast(totals)).select(
        group_col,
        F.col("tokens_available").cast("bigint").alias("tokens_available"),
        F.round(share, round_dp).alias("share"),
        target.alias("tokens_target"),
        # a group whose docs are all empty has tokens_available = 0 and
        # a 0 target: its epochs are 0, not NULL (default mode) nor a
        # DivideByZero (ANSI) — NULL epochs would silently drop the
        # group in execute_mix_plan's n_repeats > 0 filter
        F.round(
            F.when(
                F.col("tokens_available") > 0,
                target / F.col("tokens_available"),
            ).otherwise(F.lit(0.0)),
            round_dp,
        ).alias("epochs"),
    )


def execute_mix_plan(
    df: DataFrame,
    token_budget: int,
    group_col: str = "source",
    content_col: str = "text",
    key_col: str = "doc_id",
    tau: float = 0.3,
    round_dp: int = 6,
) -> DataFrame:
    """Turn `mix_plan`'s epoch factors into a concrete sampled corpus:
    every document gets ``floor(epochs)`` guaranteed repeats plus one
    more with probability ``frac(epochs)``, decided by the md5-of-
    (source, key) uniform (the `mix_corpora` trick) — deterministic
    across partition layouts, engines, and re-runs, and in expectation
    each source delivers exactly its token target.

    Returns (key_col, group_col, n_repeats) for documents with
    n_repeats >= 1; a downstream writer expands repeats (posexplode of
    `sequence(1, n_repeats)`) or feeds them to a dataloader as sample
    weights.

    Scale shape: the plan is |sources| rows broadcast back; the repeat
    decision is a map-side expression — one corpus scan for counting,
    one for assignment, no shuffle of documents at all.
    """
    plan = mix_plan(df, token_budget, group_col, content_col, tau, round_dp)
    j = df.join(
        F.broadcast(plan.select(group_col, "epochs")), group_col
    )
    full = F.floor(F.col("epochs")).cast("bigint")
    # epochs is already rounded; re-round the fractional part to kill
    # float residue so both engines compare u against the same double
    frac = F.round(F.col("epochs") - F.floor(F.col("epochs")), round_dp)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(group_col), F.col(key_col).cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(0xFFFFFFFF))
    )
    n_repeats = full + F.when(u <= frac, F.lit(1)).otherwise(F.lit(0))
    return (
        j.select(
            key_col, group_col, n_repeats.cast("bigint").alias("n_repeats")
        )
        .where(F.col("n_repeats") > 0)
    )


def hash_split_by_group(
    df: DataFrame,
    group_col: str,
    fractions: dict[str, float] | None = None,
    salt: str = "",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split is decided by
    an md5 hash of the GROUP key (user, session, patient...), so every
    row of a group lands in the same split — the invariant row-level
    splitting (q43's shape) silently violates whenever rows of one
    entity correlate, which is how eval metrics end up optimistic.

    ``fractions`` maps split name -> fraction (must sum to ~1);
    assignment walks cumulative thresholds in the dict's insertion
    order. ``salt`` re-rolls the assignment without touching the data
    (a new experiment = a new salt). Deterministic across partition
    layouts, engines, and re-runs — no seeded rand().

    Returns ``df`` plus a ``split`` column; pure map-side expression.
    """
    from ._common import col_ref

    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"fractions must sum to 1, got {total}")
    # NULL group keys hash as ONE sentinel entity (NUL-prefixed, so no
    # real key collides with it): without the coalesce, md5(NULL) is
    # NULL, every threshold compare is NULL, and ALL NULL-group rows
    # silently fall into the otherwise-branch (the last split),
    # inflating it past its fraction
    grp = F.coalesce(col_ref(group_col).cast("string"), F.lit("\x00null"))
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), grp)),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(0xFFFFFFFF))
    )
    names = list(fractions)
    # the last split is the otherwise-branch: it absorbs the float
    # residue of the cumulative thresholds
    expr = None
    cum = 0.0
    for name in names[:-1]:
        cum += fractions[name]
        cond = u <= F.lit(float(cum))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        expr.otherwise(names[-1]) if expr is not None else F.lit(names[-1])
    )
    return df.withColumn("split", expr)


def budget_batches(
    df: DataFrame,
    budget_tokens: int,
    order_col: str,
    group_col: str = "source",
    content_col: str = "text",
    key_col: str = "doc_id",
    descending: bool = False,
) -> DataFrame:
    """Deterministic curriculum batching: within each ``group_col``,
    walk docs in (order_col, key_col) order and cut a new batch every
    time the running token total crosses ``budget_tokens`` — the
    "fill each training batch to ~N tokens" step between curation and
    packing (q63 packs WITHIN a sequence budget; this slices the
    corpus into sequential GLOBAL batches a trainer consumes in
    order).

    A doc belongs to the batch its EXCLUSIVE prefix sum falls in
    (batch_id = floor(prefix/budget)), so batch boundaries never split
    a document and a batch can overshoot by at most one doc — the
    greedy rule whose determinism survives any partitioning because it
    is a pure function of the running sum, not of task boundaries.

    Scale shape: one hash-partition shuffle on ``group_col`` + a
    streaming window (running SUM is O(1) state per row); the batch id
    is a map-side expression on the sum. Per-group ordering means no
    global sort — groups batch independently, which is also what
    data-parallel loaders want. Docs with zero tokens get batched like
    any other (they consume no budget).

    Returns ``df`` plus ``n_tokens``, ``batch_id``. Deterministic:
    ties on ``order_col`` break on ``key_col``.
    """
    from pyspark.sql import Window

    from ..functions import text as X
    from ._common import col_ref

    oc = col_ref(order_col)
    w = (
        Window.partitionBy(col_ref(group_col))
        .orderBy(
            oc.desc() if descending else oc.asc(), col_ref(key_col).asc()
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_tokens = df.withColumn(
        "n_tokens",
        X.token_count(F.coalesce(col_ref(content_col), F.lit(""))),
    )
    return with_tokens.withColumn(
        "batch_id",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens"))
            / F.lit(budget_tokens)
        ).cast("long"),
    )


def split_leakage_report(
    docs: DataFrame,
    split_col: str = "split",
    eval_split: str = "val",
    train_split: str = "train",
    content_col: str = "text",
    key_col: str = "doc_id",
    group_col: str = "lang",
    jaccard_threshold: float = 0.5,
    num_hashes: int = 8,
    bands: int = 4,
    ngram_n: int = 3,
) -> DataFrame:
    """Eval-hygiene audit: per ``group_col``, how many eval-split docs
    are near-duplicates of a train-split doc — the contamination a
    row-level split silently admits and the reason
    `hash_split_by_group` exists. Pure-split metrics (q43) say the
    SIZES are right; this says the CONTENT is disjoint.

    Composition: the asymmetric `minhash_lsh_join` probes eval against
    train (candidate volume tracks eval's true-match rate, never
    |train|²), then one group aggregate:
    (group, n_eval, n_leaked, n_leak_pairs, leak_rate). Eval docs with
    no group (NULL) report under the NULL group rather than dropping —
    the null-safe aggregation convention every categorical stat here
    follows.
    """
    from . import dedup as D
    from ._common import col_ref

    ev = docs.where(F.col(split_col) == eval_split)
    tr = docs.where(F.col(split_col) == train_split)
    # an audit that matches zero rows is a misconfiguration, not a
    # clean bill: a split-name mismatch (e.g. hash_split_by_group's
    # default names are train/val/test) would otherwise return an
    # empty report that reads as "no leakage"
    for name, frame in ((eval_split, ev), (train_split, tr)):
        if frame.first() is None:
            raise ValueError(
                f"no rows carry {split_col}={name!r} — split names "
                "must match the assignment (default fractions name "
                "them train/val/test)"
            )
    leaks = D.minhash_lsh_join(
        ev,
        tr,
        content_col=content_col,
        key_col=key_col,
        num_hashes=num_hashes,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
        ngram_n=ngram_n,
    )
    per_doc = leaks.groupBy(F.col("probe_key").alias("__k")).agg(
        F.count(F.lit(1)).alias("__pairs")
    )
    out = (
        ev.select(col_ref(key_col).alias("__k"), col_ref(group_col).alias("grp"))
        .join(per_doc, "__k", "left")
        .groupBy(F.col("grp").alias(group_col))
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            F.count_if(F.col("__pairs").isNotNull()).cast("long").alias("n_leaked"),
            F.sum(F.coalesce("__pairs", F.lit(0))).cast("long").alias("n_leak_pairs"),
            F.round(
                F.count_if(F.col("__pairs").isNotNull())
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("leak_rate"),
        )
    )
    # the probe join persisted two signature frames and recorded them
    # on `leaks`; re-recording them on the returned aggregate keeps
    # the caller-releases contract working (D.release(report))
    return D._with_cached_deps(out, leaks)
