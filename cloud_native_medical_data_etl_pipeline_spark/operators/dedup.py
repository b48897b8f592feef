"""Deduplication operators for large-scale training-data pipelines.

Five strategies, cheapest to fuzziest, each as DataFrame -> DataFrame:

  exact_dedup        hash-groupBy on content, keep min-key row
  minhash_lsh_pairs  shingle -> minhash signature -> band buckets ->
                     candidate pairs -> exact Jaccard verification
  simhash_pairs      per-token portable hash -> bit-vote simhash ->
                     hamming-distance pairs
  ngram_jaccard_pairs word n-gram candidate generation + exact Jaccard
  embedding_near_dups cosine-similarity pairs over embedding vectors

Scale notes (100 TB design point): every strategy generates candidates
with an EQUI-join (band bucket / shared n-gram / LSH bucket), never an
all-pairs cross join; all hashes are computed with JVM-side expressions
(md5 / polynomial rolling hash) so signatures parallelize map-side, and
verification runs only on the candidate set. Hash functions are chosen
to be expressible in ANSI SQL so every operator has a DuckDB oracle
(md5 hex strings compared lexicographically; integer rolling hashes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text as X

HASH_MOD = 2147483647  # 2^31 - 1, fits every SQL engine's int64


_REBALANCE_MIN_STATS_BYTES = 128 << 10  # absolute floor, see below


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate for ``df``, via the
    private ``_jdf.queryExecution()`` bridge.

    The py4j path (`queryExecution().optimizedPlan().stats()
    .sizeInBytes()`) is not public API and has no cross-version
    stability guarantee, so any failure degrades to ``sys.maxsize``:
    rebalance_for_cpu then repartitions whenever the partition count is
    below the slot count. Over-parallelizing a CPU-bound kernel costs
    ~0.2 s of scheduling; silently serializing it on one core costs
    multiples of the kernel time — so the fail-open direction is the
    cheap one."""
    try:
        return _plan_size_bytes_raw(df)
    except Exception:
        import sys

        return sys.maxsize


def _plan_size_bytes_raw(df: DataFrame) -> int:
    # the private py4j probe, isolated so version-drift tests can break
    # it in place
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def rebalance_for_cpu(df: DataFrame, persist: bool = True) -> DataFrame:
    """Spread CPU-bound per-row kernels across all cores — but only
    when the input is big enough for parallelism to pay.

    Mid-size inputs can plan as a handful of file partitions (file
    splitting is byte-based, openCostInBytes-floored), which serializes
    hash/shingle kernels on a few threads. If the scan has fewer
    partitions than the cluster has slots and isn't unit-test tiny,
    round-robin repartition + persist. The persist is what makes the
    repartition effective: without the cache boundary, column pruning
    pushes downstream projections BELOW the exchange, moving the
    expensive expressions back to the map side.

    The gate is an ABSOLUTE stats floor, not bytes-per-slot: Catalyst's
    sizeInBytes for a pruned string column underestimates the real
    text volume ~40x (measured: 254 KB reported for ~10 MB of
    documents), so any per-slot proportional gate silently never
    fires. Measured at sf0.1/local[32]: the serialized shingle+minhash
    pass is 1.7 s on one core vs 0.67 s repartitioned — the ~0.2 s of
    32-task scheduling + cache build is far below the kernel win once
    the input clears the floor. For tiny inputs (unit tests, sf0.001)
    the fixed cost dominates, so they stay put; at 100 TB the scan
    already has >= slots partitions and this is a no-op.

    persist=False skips the cache barrier: correct ONLY when the
    downstream compute is a mapInPandas (a barrier node Catalyst
    cannot push below the Exchange), where it saves a cache
    materialization of the raw input.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    size = _plan_size_bytes(df)
    if size > _REBALANCE_MIN_STATS_BYTES:
        out = df.repartition(target)
        if persist:
            out = out.persist()
            # self-registration so operators can propagate the cache
            # into their result's release() set (caller-unpersists
            # contract, see release())
            out._cached_deps = [out]
        return out
    return df


def repartition_key_for_cpu(df: DataFrame, cols: list[Column]) -> DataFrame:
    """Hash-repartition on ``cols`` pinned to the slot count — the
    keyed sibling of :func:`rebalance_for_cpu`, for key-partitioned
    stages (windows, sessionization) rather than keyless kernels.

    Why pinning matters: a window's own ENSURE_REQUIREMENTS exchange
    is AQE-coalescible — at small shuffle volumes adaptive execution
    merges the post-shuffle partitions down to ~bytes/minPartitionSize
    (a handful of tasks), serializing the sort+window stage on a
    machine with far more slots.  An explicit ``repartition(n, key)``
    is exempt from coalescing, and because it hashes on the window's
    own partition key it satisfies the window's clustering
    requirement — the plan gets ONE pinned exchange, not two (r17
    measured on q37: 0.672 -> 0.555 s interleaved min at sf0.1).

    Same gates as rebalance_for_cpu, same scale story: inputs already
    at/above the slot count (any real-scale scan) return unchanged, so
    AQE keeps managing the exchange (including skew handling) where
    the shuffle is big enough for that to be the right call; inputs
    below the 128 KiB stats floor (unit tests) stay put so tiny plans
    don't pay a 32-task exchange.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if _plan_size_bytes(df) > _REBALANCE_MIN_STATS_BYTES:
        return df.repartition(target, *cols)
    return df


def _with_cached_deps(result: DataFrame, *frames: DataFrame) -> DataFrame:
    """Record on ``result`` every intermediate frame the operator
    persisted (directly, or transitively via rebalance_for_cpu) so the
    caller can free them with :func:`release`. Frames that are not
    actually cached are skipped, so operators can pass candidates
    unconditionally."""
    # identity-dedup (DataFrame.__eq__ builds a Column, so `in` on a
    # list of frames would not mean membership)
    deps: list[DataFrame] = []
    seen: set[int] = set()

    def add(d: DataFrame) -> None:
        if id(d) not in seen:
            seen.add(id(d))
            deps.append(d)

    for f in frames:
        for d in getattr(f, "_cached_deps", ()):
            add(d)
        if f.is_cached:
            add(f)
    result._cached_deps = deps
    return result


def release(result: DataFrame) -> None:
    """Unpersist the intermediate frames cached on behalf of ``result``.

    Operators here return LAZY frames whose plans read persisted
    intermediates (band frames, shingle bases, fingerprint sets);
    unpersisting before returning would evict the cache before the
    caller's action ever runs, so the contract is caller-unpersists:
    consume the result (collect/write), then ``release(result)``.
    Harmless on frames with no recorded deps, and safe to call twice —
    one-query sessions can ignore it; long-lived pipelines should not
    (each un-released call leaks one cached frame for the session's
    lifetime)."""
    for dep in getattr(result, "_cached_deps", ()):
        dep.unpersist()


def exact_dedup(
    df: DataFrame,
    content_col: str = "text",
    key_col: str = "doc_id",
    payload: list[str] | None = None,
) -> DataFrame:
    """Exact dedup: one row per distinct content, keeping the row with
    the smallest key (deterministic, unlike dropDuplicates). One
    shuffle on the content hash; at scale group on sha2 rather than the
    full text to keep shuffle rows narrow.

    ``payload`` names the non-key columns the caller actually needs.
    When given, the kept row's (key, *payload) is computed in ONE
    map-side-combinable ``min(struct(key, *payload))`` aggregate — one
    scan and one Exchange, versus two scans + agg + semi-join for the
    full-row form (r16 A/B at sf0.1: 0.553 -> 0.432 s on local[32],
    0.612 -> 0.498 on local[8]). Identical keep-first semantics while
    ``key_col`` is unique (the struct comparison only reaches the
    payload fields on a key tie). The full-row form remains the default
    because it returns every column WITHOUT shipping wide content
    (e.g. the text itself) through the shuffle."""
    h = F.sha2(F.coalesce(F.col(content_col), F.lit("")), 256)
    if payload is not None:
        kept = (
            df.groupBy(h.alias("__h"))
            .agg(F.min(F.struct(key_col, *payload)).alias("__m"))
        )
        return kept.select(
            *[F.col(f"__m.{c}").alias(c) for c in (key_col, *payload)]
        )
    keep = (
        df.withColumn("__h", h)
        .groupBy("__h")
        .agg(F.min(key_col).alias(key_col))
        .drop("__h")
    )
    return df.join(keep, key_col, "left_semi")


def _poly_hash(col: Column, seed: int, mult: int = 31) -> Column:
    """Portable polynomial rolling hash of a string, seeded:
    h = fold(chars, seed, (acc, c) -> (acc*mult + ascii(c)) % (2^31-1)).
    Identical arithmetic is expressible in DuckDB via list_reduce, which
    is what makes the minhash/simhash oracles exact.

    ``mult`` exists because two hashes that differ only in ``seed`` are
    NOT independent: h = seed*mult^len + sum(c_i*mult^...), so for
    equal-length inputs a second seed is a constant offset of the first.
    Callers that need a structurally independent second hash (simhash's
    high bits) must vary the multiplier, not just the seed."""
    chars = F.split(F.coalesce(col, F.lit("")), "")
    return F.aggregate(
        chars,
        F.lit(seed).cast("long"),
        lambda acc, ch: (acc * mult + F.ascii(ch)) % HASH_MOD,
    )


def _minhash_band_cols(num_hashes: int, bands: int) -> list[Column]:
    """The ONE definition of the band bucket string ('<band>#<lane>#
    <lane>...'): both the self-join pair generator and the asymmetric
    probe join derive buckets from it, which is what makes a corpus
    indexed for self-dedup serve probe joins unchanged (and what the
    q17/q86 oracles mirror).

    bands must divide num_hashes: bands > num_hashes would make every
    bucket a lane-less constant — every doc in ONE bucket per band,
    i.e. the N² cross join banding exists to avoid — and a remainder
    would silently drop the trailing lanes, weakening recall below the
    configured signature size."""
    if bands < 1 or num_hashes % bands:
        raise ValueError(
            f"bands ({bands}) must be a positive divisor of "
            f"num_hashes ({num_hashes})"
        )
    rows_per_band = num_hashes // bands
    return [
        F.concat_ws(
            "#",
            F.lit(str(b)),
            *[
                F.col(f"mh{b * rows_per_band + r}")
                for r in range(rows_per_band)
            ],
        ).alias(f"band{b}")
        for b in range(bands)
    ]


def minhash_signature(
    shingles: Column, num_hashes: int = 8, prefix: str = "mh"
) -> list[Column]:
    """MinHash signature as md5-hex lane minima: one md5 digest per
    shingle per GROUP of four hashes, with signature component
    g*4+j = min over shingles of hex lane substr(md5(g || '|' || s),
    1+8j, 8). Each 32-bit lane is a distinct uniform hash of the
    shingle, so each lane-min is a valid minhash estimate, at a
    quarter of the md5 work of one-digest-per-hash (md5 dominates the
    signature stage; measured 2.3x on the sf0.1 corpus). Hex substrings
    order identically in Spark and DuckDB, which keeps the oracle
    exact. Catalyst CSEs the shared digest subtree across the four
    lane projections — verified faster than a persist barrier."""
    def digest(group: int):
        # NB: must be a ONE-arg lambda — Spark treats two-arg lambdas
        # as (element, index) and would bind the index to the second
        # parameter, clobbering a captured default.
        return lambda s: F.md5(F.concat(F.lit(f"{group}|"), s))

    def lane(group: int, pos: int):
        return lambda s: F.substring(digest(group)(s), pos, 8)

    return [
        F.array_min(
            F.transform(shingles, lane(i // 4, 1 + 8 * (i % 4)))
        ).alias(f"{prefix}{i}")
        for i in range(num_hashes)
    ]


def _minhash_base_arrow(
    pre: DataFrame, ngram_n: int, num_hashes: int
) -> DataFrame:
    """Arrow-batched (k, sh, mh0..mhN-1) base frame: word-ngram shingles
    plus md5-lane minhash signature, computed in ONE mapInPandas pass.

    Same output, bit for bit, as the expression path (`tokens` ->
    `word_ngrams_from_tokens` -> `minhash_signature`): Python `hashlib`
    md5 hex == Spark `md5`, ASCII `\\s+` split == Java regex split,
    `str.lower`/`min` == `lower`/`array_min` on the hex alphabet. The
    point is throughput — Spark's higher-order functions evaluate
    interpreted (outside codegen), so the n-gram zip_with passes and the
    per-shingle md5 transforms dominate the pipeline; a tight Python
    loop over Arrow batches is several times faster (same trade as the
    vectorized all-pairs cosine in embedding_near_dups, measured there
    30 s -> 0.8 s). The expression path is the tests' reference (built
    from those public functions and fed through ``base=``); the DuckDB
    oracle checks the Arrow path end-to-end.

    Docs with fewer than `ngram_n` tokens are dropped (mirrors
    `where(size(sh) > 0)`).
    """
    import hashlib
    import re as _re

    from pyspark.sql import types as T

    key_field = pre.schema["k"]
    out_schema = T.StructType(
        [
            T.StructField("k", key_field.dataType),
            T.StructField("sh", T.ArrayType(T.StringType())),
            *[T.StructField(f"mh{i}", T.StringType()) for i in range(num_hashes)],
        ]
    )
    groups = (num_hashes + 3) // 4
    # Java regex \s is ASCII-only; pin the Python side to match
    split = _re.compile(r"\s+", _re.ASCII).split

    def gen(batches):
        import pandas as pd

        # Grams repeat heavily across documents (natural-language
        # shingle vocabularies are Zipfian), so memoize each gram's
        # per-group lane substrings — identical md5 values, a fraction
        # of the digest work. The cache is BOUNDED: high-cardinality
        # corpora (IDs, codes) would otherwise grow it without limit
        # on a long-lived partition and OOM the Python worker; past
        # the cap new grams are computed without being stored (the
        # frequent grams that benefit are cached first anyway).
        _CACHE_MAX = 1 << 20
        lane_cache: dict[str, list[str]] = {}

        def gram_lanes(gram: str) -> list[str]:
            got = lane_cache.get(gram)
            if got is None:
                got = []
                for g in range(groups):
                    d = hashlib.md5(f"{g}|{gram}".encode()).hexdigest()
                    got.extend(d[8 * j : 8 * j + 8] for j in range(4))
                if len(lane_cache) < _CACHE_MAX:
                    lane_cache[gram] = got
            return got

        for pdf in batches:
            keys, shingles = [], []
            lanes: list[list[str]] = [[] for _ in range(num_hashes)]
            for k, txt in zip(pdf["k"], pdf["txt"]):
                # Arrow nulls may surface as None or NaN depending on
                # the batch dtype — treat anything non-str as empty.
                # Edge trim strips JAVA \s ([ \t\n\x0B\f\r]) ONLY: a
                # bare .strip() also eats Unicode whitespace (NBSP in
                # scraped HTML), silently diverging from the SQL
                # path's ASCII regexp trim — the bit-for-bit contract.
                s = (
                    txt.lower().strip(" \t\n\r\x0b\x0c")
                    if isinstance(txt, str)
                    else ""
                )
                toks = split(s) if s else []
                if len(toks) < ngram_n:
                    continue
                grams = list(
                    dict.fromkeys(
                        " ".join(toks[i : i + ngram_n])
                        for i in range(len(toks) - ngram_n + 1)
                    )
                )
                keys.append(k)
                shingles.append(grams)
                per_gram = [gram_lanes(gram) for gram in grams]
                for i in range(num_hashes):
                    lanes[i].append(min(pl[i] for pl in per_gram))
            # dtype=object throughout: a batch whose docs ALL filtered
            # out (e.g. a partition of empty texts) would otherwise
            # produce float64 empty columns, which pyarrow cannot
            # convert to list<string>/string and the task dies
            yield pd.DataFrame(
                {
                    "k": pd.Series(keys, dtype=object),
                    "sh": pd.Series(shingles, dtype=object),
                    **{
                        f"mh{i}": pd.Series(lanes[i], dtype=object)
                        for i in range(num_hashes)
                    },
                }
            )

    return pre.mapInPandas(gen, out_schema)


def minhash_base(
    df: DataFrame,
    content_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 8,
    ngram_n: int = 3,
) -> DataFrame:
    """The reusable MinHash signature frame ``(k, sh, mh0..mhN-1)`` for
    ``df`` — the persistable INDEX the banded operators consume.

    This is the word-mode Arrow base pass of :func:`minhash_lsh_pairs`
    exposed as a first-class product: compute it once, write it to
    parquet alongside the corpus, and every later
    :func:`minhash_lsh_pairs` / :func:`minhash_lsh_join` call can take
    it via their ``base=`` / ``corpus_base=`` hooks instead of
    re-hashing the corpus text (the per-batch cost of incremental
    ingest then tracks the DELTA, not the corpus). Signatures are pure
    functions of the text, so a stored base is bit-identical to a
    recomputed one. Docs producing no shingles (< ``ngram_n`` tokens)
    have no row. NOT persisted/cached here — callers decide (a
    parquet-backed base needs no cache at all). ``num_hashes=0`` gives
    just ``(k, sh)``: the word n-gram sets without any md5 work."""
    # the repartition carries RAW text, so tokenization, shingling and
    # signatures run post-shuffle across all slots; mapInPandas blocks
    # pushdown by itself, so no persist barrier is needed
    pre = rebalance_for_cpu(
        df.select(F.col(key_col).alias("k"), F.col(content_col).alias("txt")),
        persist=False,
    )
    return _minhash_base_arrow(pre, ngram_n, num_hashes)


def minhash_lsh_pairs(
    df: DataFrame,
    content_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    ngram_n: int = 3,
    base: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding.

    Plan shape (each step matters at 100 TB):
      * shingle/signature computation is one map pass, persisted so the
        candidate path and both verification joins reuse it instead of
        recomputing the md5 pipeline three times;
      * the band explode carries ONLY (key, bucket) — narrow shuffle
        rows; the shingle arrays never ride through the self-join;
      * candidates come from an equi-join on the band bucket, deduped,
        then verified by exact Jaccard via two narrow key joins.

    Shingles are word n-grams: char shingles over a small vocabulary
    give every doc pair high baseline Jaccard, which floods the LSH
    buckets with candidates (the classic stop-gram problem); word
    n-grams keep unrelated docs out of each other's buckets. The
    shingle + signature base frame is :func:`minhash_base`'s Arrow
    pass. Returns (key_a, key_b, jaccard), key_a < key_b.
    """
    # base= (a minhash_base product, possibly parquet-backed) skips the
    # signature computation entirely.
    if base is None:
        # ONE persisted frame carries both the shingle sets (for the
        # exact-Jaccard verification joins) and the signature columns
        # (for band bucketing): a single cache-materialization pass
        # does all the md5 work. The band explode is NOT persisted —
        # each self-join side re-derives it from this cache with a
        # cheap concat+explode over already-computed mh columns, which
        # beats building and scanning a second cache.
        base = minhash_base(
            df, content_col, key_col, num_hashes, ngram_n
        ).persist()
    verified = _minhash_verify_pairs(base, num_hashes, bands, jaccard_threshold)
    return _with_cached_deps(verified, base)


def _minhash_verify_pairs(
    base: DataFrame, num_hashes: int, bands: int, jaccard_threshold: float
) -> DataFrame:
    """Band-bucket self-join + exact-Jaccard verification over a
    (k, sh, mh*) base frame -> (key_a, key_b, jaccard), key_a < key_b."""
    sh = base.select("k", "sh")
    band_cols = _minhash_band_cols(num_hashes, bands)
    banded = base.select("k", F.explode(F.array(*band_cols)).alias("bucket"))
    # r17: hash the candidates on key_a ONCE — hash(key_a) clusters the
    # (key_a, key_b) pair-dedup aggregate (subset of its grouping keys)
    # AND satisfies the key_a verification join's requirement, so both
    # ride a single exchange; without it the dedup shuffles on
    # (key_a, key_b) and the join re-shuffles the candidates on key_a
    # (invisible at sf0.1 where AQE broadcasts the verify joins, a full
    # extra candidate shuffle at SMJ scale). Trade, measured: a
    # near-dup hub's pairs concentrate on its low key_a (bounded by
    # cluster size per key; AQE cannot split an aggregate partition) —
    # on a synthetic 1000-copy hub corpus (457k verified pairs) the
    # shared-exchange form still won, 9.62 -> 7.71 s interleaved min.
    candidates = (
        banded.select(F.col("k").alias("key_a"), "bucket")
        .join(banded.select(F.col("k").alias("key_b"), "bucket"), "bucket")
        .where(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b")
        .repartition(F.col("key_a"))
        .dropDuplicates(["key_a", "key_b"])
    )
    return (
        candidates.join(
            sh.select(F.col("k").alias("key_a"), F.col("sh").alias("sh_a")), "key_a"
        )
        .join(sh.select(F.col("k").alias("key_b"), F.col("sh").alias("sh_b")), "key_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("key_a", "key_b", "jaccard")
    )


def minhash_lsh_join(
    probe: DataFrame,
    corpus: DataFrame,
    content_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    ngram_n: int = 3,
    probe_out: str = "probe_key",
    corpus_out: str = "corpus_key",
    probe_base: DataFrame | None = None,
    corpus_base: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric near-duplicate JOIN: which docs in ``probe`` are
    near-dups of something already in ``corpus``?  This is the
    incremental-ingest shape — at 100 TB nobody re-runs all-pairs
    dedup per batch; the corpus signatures are computed once (and in
    practice persisted as a table), each delta batch computes only its
    OWN signatures, and candidates come from the band equi-join
    BETWEEN the two frames.  Candidate volume is bounded by band-bucket
    co-occupancy between batch and corpus — proportional to the
    batch's true-match rate, never to |corpus|².

    Same signature family as :func:`minhash_lsh_pairs` (word-n-gram
    shingles, md5-lane minhash, Arrow base pass), so a corpus indexed
    for self-dedup serves probe joins unchanged.  Returns
    ``(probe_out, corpus_out, jaccard)`` for verified pairs with
    ``jaccard >= jaccard_threshold``.  Keys shared by both frames are
    the caller's concern (an ingest delta has fresh keys by
    construction); call :func:`release` on the result when done.

    ``probe_base`` / ``corpus_base`` take PRECOMPUTED signature frames
    (:func:`minhash_base` products — in the persisted-index ingest
    path, the corpus side is a parquet scan of the signature table, so
    per-batch hashing cost tracks the batch alone); when supplied, the
    corresponding text frame is not touched (and may be None).
    """
    def _base(df: DataFrame) -> DataFrame:
        pre = rebalance_for_cpu(
            df.select(
                F.col(key_col).alias("k"), F.col(content_col).alias("txt")
            ),
            persist=False,
        )
        return _minhash_base_arrow(pre, ngram_n, num_hashes).persist()

    def _banded(base: DataFrame, out: str) -> DataFrame:
        band_cols = _minhash_band_cols(num_hashes, bands)
        return base.select(
            F.col("k").alias(out), F.explode(F.array(*band_cols)).alias("bucket")
        )

    base_p = probe_base if probe_base is not None else _base(probe)
    base_c = corpus_base if corpus_base is not None else _base(corpus)
    candidates = (
        _banded(base_p, probe_out)
        .join(_banded(base_c, corpus_out), "bucket")
        .select(probe_out, corpus_out)
        .dropDuplicates([probe_out, corpus_out])
    )
    verified = (
        candidates.join(
            base_p.select(F.col("k").alias(probe_out), F.col("sh").alias("sh_p")),
            probe_out,
        )
        .join(
            base_c.select(F.col("k").alias(corpus_out), F.col("sh").alias("sh_c")),
            corpus_out,
        )
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_p", "sh_c")).cast("double")
                / F.size(F.array_union("sh_p", "sh_c")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .select(probe_out, corpus_out, "jaccard")
    )
    return _with_cached_deps(verified, base_p, base_c)


def simhash(text_col: Column | str, bits: int = 60) -> Column:
    """SimHash over whitespace tokens with the portable polynomial
    hash: bit b of the result is 1 iff more tokens have bit b set in
    their hash than not (strict majority, ties -> 0). Returns a long.

    A single poly-hash mod 2^31-1 only yields ~31 usable bits, which
    caps the band space and makes banded blocking quadratic on a big
    corpus; for ``bits`` > 30 a SECOND polynomial hash supplies bits
    30..59, so the default 60-bit fingerprint supports 12-bit bands
    (4096 bucket values per band) that keep band-bucket occupancy
    ~N/4096.  The second hash varies the MULTIPLIER (37 vs 31), not
    just the seed — two seeds of the same polynomial differ only by
    seed_delta*31^len(token), a constant offset for equal-length
    tokens, which would correlate the high 30 bits with the low 30 and
    shrink the effective band entropy below the N/4096 claim."""
    _HALF = 30  # usable low bits per polynomial hash
    toks = F.array_distinct(X.lower_tokens(text_col))
    hashes_lo = F.transform(toks, lambda t: _poly_hash(t, 7))
    hashes_hi = (
        F.transform(toks, lambda t: _poly_hash(t, 13, mult=37))
        if bits > _HALF
        else None
    )
    n = F.size(hashes_lo)

    def bit_set(bit: int):
        return lambda h: F.shiftright(h, bit).bitwiseAND(1) == 1

    out = F.lit(0).cast("long")
    for b in range(bits):
        src, shift = (
            (hashes_lo, b) if b < _HALF else (hashes_hi, b - _HALF)
        )
        ones = F.size(F.filter(src, bit_set(shift)))
        out = out + F.when(ones * 2 > n, F.lit(1 << b)).otherwise(F.lit(0)).cast("long")
    return out


def simhash_pairs(
    df: DataFrame,
    content_col: str = "text",
    key_col: str = "doc_id",
    bits: int = 60,
    max_hamming: int = 3,
    band_bits: int = 12,
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance <= max_hamming.

    Candidate generation: split the simhash into `bits/band_bits` bit
    bands; by pigeonhole any pair within hamming distance < #bands
    shares at least one identical band -> equi-join on (band index,
    band value), never a cross join. Returns (key_a, key_b, hamming).

    Scale shape: each band key ranges over 2^band_bits values, so a
    band bucket holds ~N/2^band_bits docs and the self-join emits
    ~num_bands * N^2 / 2^band_bits candidate rows for non-duplicate
    corpora. The old 16-bit/4-band-bit default collapsed to 16 bucket
    values per band (O(N^2/16) — quadratic in practice); the 60-bit /
    12-band-bit default keeps 4096 values per band while preserving
    the pigeonhole guarantee (5 bands > max_hamming=3).
    """
    num_bands = bits // band_bits
    if num_bands <= max_hamming:
        raise ValueError(
            f"pigeonhole violated: {num_bands} bands <= max_hamming={max_hamming}"
        )
    pre = rebalance_for_cpu(
        df.select(F.col(key_col).alias("k"), F.col(content_col).alias("txt"))
    )
    sh = pre.select("k", simhash("txt", bits).alias("sim"))
    band_cols = [
        F.concat_ws(
            "#",
            F.lit(str(b)),
            (F.shiftright(F.col("sim"), b * band_bits) % (1 << band_bits)).cast(
                "string"
            ),
        ).alias(f"band{b}")
        for b in range(num_bands)
    ]
    # cached: the self-join below would otherwise run the bit-vote
    # simhash expression over the corpus once per side
    banded = sh.select(
        "k", "sim", F.explode(F.array(*band_cols)).alias("bucket")
    ).persist()
    pairs = (
        banded.alias("a")
        .join(banded.alias("b"), "bucket")
        .where(F.col("a.k") < F.col("b.k"))
        .select(
            F.col("a.k").alias("key_a"),
            F.col("b.k").alias("key_b"),
            F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim"))).alias("hamming"),
        )
        .dropDuplicates(["key_a", "key_b"])
    )
    return _with_cached_deps(
        pairs.where(F.col("hamming") <= max_hamming), banded, pre
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    content_col: str = "text",
    key_col: str = "doc_id",
    n: int = 3,
    jaccard_threshold: float = 0.4,
    min_df_prune: int = 50,
) -> DataFrame:
    """Near-dup pairs by word n-gram Jaccard.

    Candidates share at least one n-gram (equi-join on the n-gram).
    n-grams appearing in more than `min_df_prune` docs are pruned from
    candidate generation (stop-gram skew guard — the classic salt
    against hot keys at scale); verification uses the FULL n-gram sets
    so pruning never changes a pair's score, only which pairs are
    discovered — pairs sharing only ultra-common n-grams score low and
    sit below any useful threshold anyway.
    """
    # the n-gram sets come from the minhash base pass with no hashes
    grams = (
        minhash_base(df, content_col, key_col, num_hashes=0, ngram_n=n)
        .withColumnRenamed("sh", "g")
        .persist()  # reused by candidate explode + both verification joins
    )
    exploded = grams.select("k", F.explode("g").alias("gram")).persist()
    rare = exploded.groupBy("gram").count().where(F.col("count") <= min_df_prune)
    cand_grams = exploded.join(rare.select("gram"), "gram")
    pairs = (
        cand_grams.alias("a")
        .join(cand_grams.alias("b"), "gram")
        .where(F.col("a.k") < F.col("b.k"))
        .select(F.col("a.k").alias("key_a"), F.col("b.k").alias("key_b"))
        .distinct()
    )
    ga = grams.select(F.col("k").alias("key_a"), F.col("g").alias("g_a"))
    gb = grams.select(F.col("k").alias("key_b"), F.col("g").alias("g_b"))
    inter = F.size(F.array_intersect("g_a", "g_b")).cast("double")
    union = F.size(F.array_union("g_a", "g_b")).cast("double")
    out = (
        pairs.join(ga, "key_a")
        .join(gb, "key_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("key_a", "key_b", "jaccard")
    )
    return _with_cached_deps(out, grams, exploded)


# Hot-bucket bound of the banded group-verify kernel: a band bucket
# holding more vectors than this is verified in chunk-pair groups, so
# no applyInPandas group holds more than ~2 * CHUNK_CAP vectors.
CHUNK_CAP = 32768
# Planes per band from which banded verification runs as a JVM
# per-pair join instead of one GEMM per bucket (crossover r ~ 10).
PAIR_VERIFY_MIN_PLANES = 10


def _banded_embedding_near_dups(
    df: DataFrame,
    vec_col: str,
    key_col: str,
    threshold: float,
    plane_bands: list[list[list[float]]],
) -> DataFrame:
    """OR-amplified banded sign-LSH candidate generation: each of the B
    independent plane sets buckets every vector ("band#code"), and
    every candidate that shares a band bucket is verified with the
    exact cosine; the cross-band dedup runs on the surviving set.

    Scale shape: each vector ships once per band as a (key, vector,
    bucket) row — never once per candidate pair — and in-bucket work is
    quadratic in BUCKET occupancy, which r (planes per band) tunes:
    high thresholds (0.9+) support r >= 12 (2^12 bucket values,
    sub-quadratic); low thresholds are intrinsically near-quadratic for
    ANY LSH family (rho ~ 0.67 at cosine 0.4) and IVF (similarity.py)
    is the better tool there.

    The verify kernel follows from r = len(plane_bands[0]); both emit
    the SAME pairs:
      * r < PAIR_VERIFY_MIN_PLANES — per-bucket GEMM via applyInPandas.
        Buckets are FAT: one matrix multiply replaces ~b^2/2 per-pair
        dots and vectors never ship per candidate (q20, r=4: 5.3 s ->
        1.4 s at sf0.1 against the pair-join form).
      * r >= PAIR_VERIFY_MIN_PLANES — narrow (key, bucket) self-join ->
        distinct candidate pairs -> JVM zip_with dot per pair. Buckets
        are mostly singletons, so the group kernel would pay per-group
        Arrow/pandas overhead on groups that cannot emit a pair, while
        candidate volume ~B*N^2/2^r is already sub-quadratic (q20b,
        r=12: 17.4 s -> 4.0 s at sf0.01 against the group kernel).
    The crossover recorded between the two is r ~ 10.

    ``CHUNK_CAP`` bounds PER-TASK memory of the group kernel on hot
    buckets: a bucket with occupancy b > CHUNK_CAP is hash-split into
    K = ceil(b/CHUNK_CAP) chunks and verified as K*(K+1)/2 chunk-pair
    groups, each holding at most ~2*CHUNK_CAP vectors — same emitted
    pairs exactly (every (a, b) pair lands in precisely the group of
    its own chunk pair), ~2x the flops on split buckets only, and no
    single applyInPandas group can exceed ~2*CHUNK_CAP*dim*8 bytes
    however skewed the bucket. The pair kernel has no grouped
    materialization to bound (its memory shape is ordinary join
    spill), so the cap does not apply there.
    """
    import numpy as np
    import pandas as pd

    n_bands, r_planes = len(plane_bands), len(plane_bands[0])
    pair_verify = r_planes >= PAIR_VERIFY_MIN_PLANES
    # the group kernel ships the STORED vector type (float32 for the
    # embeddings corpus): every consumer of `v` on that path is a
    # NumPy kernel that widens to float64 itself (np.float64(float32)
    # is exact, the same doubles the JVM cast produced), so the
    # interpreted per-element cast bought nothing and doubled the
    # bytes of the banded explode's shuffle — the operator's dominant
    # byte mover (r17, guide §2.3 "narrower types"). The pair kernel
    # keeps the JVM-side double cast: its zip_with dot runs in the
    # JVM, where float accumulation would diverge from the oracle.
    if pair_verify:
        vec_in = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    else:
        vec_in = F.col(vec_col)
    # rebalance: a single parquet file plans as one partition, which
    # would serialize the bucket/verify kernels onto one core
    base = rebalance_for_cpu(
        df.select(F.col(key_col).alias("k"), vec_in.alias("v")), persist=False
    )

    # Bucket computation is one (batch x dim) @ (dim x B*r) GEMM per
    # Arrow batch instead of B*r interpreted zip_with/aggregate dots
    # per ROW (measured ~44 ms/row at B=12, r=4, dim=64 — interpreted
    # HOF eval re-builds the 64-literal plane array per evaluation).
    # Sign decisions agree with the oracle's list_dot_product up to
    # summation-order ulps; a Gaussian plane dot sits ~|sqrt(dim)| from
    # zero, so a flipped sign needs |dot| within an ulp of 0 (~1e-13
    # odds per dot) — the same fp-consistency budget the group
    # kernel's verify GEMM carries.
    plane_mat = np.array(
        [p for band in plane_bands for p in band], dtype=np.float64
    )  # (B*r, dim)
    bit_weights = 1 << np.arange(r_planes)

    def _buckets_fn(vs):
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        M = np.array(list(vs), dtype=np.float64)
        signs = (M @ plane_mat.T >= 0).reshape(len(M), n_bands, r_planes)
        codes = signs @ bit_weights  # (n, B)
        return pd.Series(
            [[f"{b}#{int(c)}" for b, c in enumerate(row)] for row in codes]
        )

    _buckets_fn.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    _buckets = F.pandas_udf(_buckets_fn, "array<string>")

    if pair_verify:
        from ..functions import vectors as V

        # base feeds both sides of the (bucket) self-join AND the two
        # vector-side verification joins — persist it with its bucket
        # codes so the scan, the cast and the plane GEMM run once
        base = base.select("k", "v", _buckets("v").alias("codes")).persist()
        narrow = base.select("k", F.explode("codes").alias("bucket"))
        # same shared key_a exchange as _minhash_verify_pairs (r17):
        # the pair dedup and the key_a vector join ride one shuffle
        cand = (
            narrow.select(F.col("k").alias("key_a"), "bucket")
            .join(narrow.select(F.col("k").alias("key_b"), "bucket"), "bucket")
            .where(F.col("key_a") < F.col("key_b"))
            .select("key_a", "key_b")
            .repartition(F.col("key_a"))
            .dropDuplicates(["key_a", "key_b"])
        )
        vecs = base.select("k", "v", V.norm(F.col("v")).alias("nrm"))
        joined = cand.join(
            vecs.select(
                F.col("k").alias("key_a"),
                F.col("v").alias("v_a"),
                F.col("nrm").alias("n_a"),
            ),
            "key_a",
        ).join(
            vecs.select(
                F.col("k").alias("key_b"),
                F.col("v").alias("v_b"),
                F.col("nrm").alias("n_b"),
            ),
            "key_b",
        )
        dot = F.aggregate(
            F.zip_with("v_a", "v_b", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out = (
            joined.withColumn(
                "cosine", F.round(dot / (F.col("n_a") * F.col("n_b")), 6)
            )
            .where(F.col("cosine") >= threshold)
            .select("key_a", "key_b", "cosine")
        )
        return _with_cached_deps(out, base)

    banded = base.select("k", "v", F.explode(_buckets("v")).alias("bucket"))

    cached: list[DataFrame] = []
    max_occ = None
    # A bucket can never hold more rows than the corpus: when the WHOLE
    # input fits under the cap, the memory bound holds trivially and
    # the split machinery (cache + occupancy pass) would be pure
    # overhead. The count is one cheap column-less scan job; at 100 TB
    # the corpus exceeds the cap and the occupancy pass runs.
    if df.count() > CHUNK_CAP:
        # Persist the exploded (key, vector, bucket) frame ONCE
        # (MEMORY_AND_DISK — its byte volume is the same N*B vector
        # rows the verify groupBy is about to shuffle, so the spillable
        # cache costs one extra shuffle-sized write, not a new
        # asymptotic term; recomputing instead would run the bucket
        # GEMM stage twice, measured +0.9 s at sf0.1), count band-bucket
        # occupancy from it, and check the max. The max is ONE scalar
        # (bounded driver action, same class as the IVF centroid
        # collect): when no bucket exceeds the cap — every
        # non-adversarial corpus — the split short-circuits to literal
        # group columns with NO join and NO explode, so the unskewed
        # path pays only the cache materialization.
        from pyspark import StorageLevel

        banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
        cached.append(banded)
        sizes = (
            banded.select("bucket")
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("__bn"))
        )
        max_occ = sizes.agg(F.max("__bn")).first()[0]
    if max_occ is not None and max_occ > CHUNK_CAP:
        # Hot-bucket split: broadcast the tiny size table back
        # (#buckets <= B * 2^r rows) and explode each hot bucket's rows
        # to its chunk-pair groups. K = 1 for every bucket under the
        # cap, so only skewed buckets replicate.
        k_col = F.ceil(F.col("__bn") / F.lit(CHUNK_CAP)).cast("int")
        grouped = (
            banded.join(F.broadcast(sizes), "bucket")
            .withColumn("__ci", F.pmod(F.xxhash64("k"), k_col).cast("int"))
            .select(
                "k",
                "v",
                "bucket",
                "__ci",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), k_col - 1),
                        lambda j: F.struct(
                            F.least(F.col("__ci"), j).alias("i"),
                            F.greatest(F.col("__ci"), j).alias("j"),
                        ),
                    )
                ).alias("__g"),
            )
            .select(
                "k",
                "v",
                "bucket",
                "__ci",
                F.col("__g.i").alias("__gi"),
                F.col("__g.j").alias("__gj"),
            )
        )
    else:
        grouped = banded.select(
            "k",
            "v",
            "bucket",
            F.lit(0).alias("__ci"),
            F.lit(0).alias("__gi"),
            F.lit(0).alias("__gj"),
        )

    # Verify INSIDE each (bucket, chunk-pair) group: one GEMM per group
    # emits only the pairs that clear the threshold, so each vector
    # ships once per band (times K on split buckets) instead of once
    # per CANDIDATE PAIR — the pair-join formulation moved ~100x more
    # bytes and needed a large dropDuplicates BEFORE verification; here
    # the cross-band dedup runs on the tiny surviving pair set. A pair
    # is scored only in the group matching its own (sorted) chunk pair,
    # so split buckets emit each pair exactly once. np.round(...,6)
    # absorbs GEMM-vs-sequential summation ulps.
    # key handling adapts to the frame's key type (the block_col path
    # and the pair kernel accept any orderable key; hardcoded int64
    # here crashed string-keyed corpora inside the worker)
    key_sql = banded.schema["k"].dataType.simpleString()
    key_integral = key_sql in ("bigint", "int", "smallint", "tinyint")
    key_np = "int64" if key_integral else "object"

    def _bucket_pairs(pdf):
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"key_a": [], "key_b": [], "cosine": []}).astype(
                {"key_a": key_np, "key_b": key_np, "cosine": "float64"}
            )
        keys = pdf["k"].to_numpy(dtype=key_np)
        ci = pdf["__ci"].to_numpy(dtype=np.int64)
        gi = int(pdf["__gi"].iloc[0])
        gj = int(pdf["__gj"].iloc[0])
        M = np.array(list(pdf["v"]), dtype=np.float64)
        norms = np.sqrt((M * M).sum(axis=1))
        sims = np.round((M @ M.T) / np.outer(norms, norms), 6)
        own_group = (np.minimum(ci[:, None], ci[None, :]) == gi) & (
            np.maximum(ci[:, None], ci[None, :]) == gj
        )
        ia, ib = np.nonzero(
            (sims >= threshold) & (keys[:, None] < keys[None, :]) & own_group
        )
        return pd.DataFrame(
            {"key_a": keys[ia], "key_b": keys[ib], "cosine": sims[ia, ib]}
        )

    # The group-verify exchange is AQE-coalescible, and AQE's
    # parallelism-first coalescing floors partitions at
    # minPartitionSize (1 MB by default): a banded shuffle of a few MB
    # gets bytes/minPartitionSize tasks — fewer than the machine has
    # slots — for a GEMM-bound stage (shipping float32 instead of
    # float64 halved the shuffle and thereby halved the stage's
    # tasks).  Pin the exchange to the slot count exactly in that
    # regime: above slots x minPartitionSize the condition is false
    # and AQE keeps managing the exchange (at real volumes it
    # provisions >= slots tasks itself); below the unit-test stats
    # floor tiny plans stay untouched.  Both bounds compare Catalyst's
    # plan stats, which underestimate the shuffled bytes (see
    # rebalance_for_cpu), so the pin also fires somewhat above the
    # real slots x minPartitionSize volume.
    spark = df.sparkSession
    slots = spark.sparkContext.defaultParallelism
    java_utils = spark._jvm.org.apache.spark.network.util.JavaUtils
    min_partition_bytes = java_utils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    )
    if (
        _REBALANCE_MIN_STATS_BYTES
        < _plan_size_bytes(grouped)
        < slots * min_partition_bytes
    ):
        grouped = grouped.repartition(slots, "bucket", "__gi", "__gj")
    pairs = grouped.groupBy("bucket", "__gi", "__gj").applyInPandas(
        _bucket_pairs, f"key_a {key_sql}, key_b {key_sql}, cosine double"
    )
    return _with_cached_deps(pairs.dropDuplicates(["key_a", "key_b"]), *cached)


def embedding_near_dups(
    df: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    threshold: float = 0.95,
    block_col: str | None = None,
    plane_bands: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (key_a, key_b, cosine)
    with cosine >= threshold.

    Candidates come from blocking, so pass either ``block_col`` (a
    precomputed bucket column) or ``plane_bands`` (independent sets of
    sign-LSH hyperplanes — OR-amplified banded LSH: a pair is a
    candidate if it shares the bucket of ANY band, recall
    1-(1-p^r)^B for per-plane agreement p, r planes per band, B bands;
    one plane set is ``plane_bands=[planes]``). Candidate pairs come
    from an equi-join on the bucket — never all-pairs, never a driver
    gather — and every candidate is verified with the exact cosine, so
    blocking affects RECALL only, never precision. Exact search over a
    whole table is similarity.cosine_topk (per query) or IVF
    (similarity.build_ivf_index).
    """
    from ..functions import vectors as V

    if plane_bands is not None:
        return _banded_embedding_near_dups(
            df, vec_col, key_col, threshold, plane_bands
        )
    if not block_col:
        raise ValueError(
            "embedding_near_dups needs block_col or plane_bands: it only "
            "verifies blocked candidates, never all pairs"
        )

    # Candidate sets are small post-blocking: per-ROW prep (cast to
    # double[] once, precompute the L2 norm once), then ONE
    # zip_with+aggregate dot per pair — fp-identical to V.cosine
    # (same doubles, same sequential accumulation), JVM-side.
    # The prep frame is computed ONCE and persisted; both join
    # sides are renamed projections of the SAME cache — two
    # unpersisted projections would run the cast/norm twice over the
    # corpus.  Caller releases (the caller-unpersists contract).
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    prep = df.select(
        F.col(key_col).alias("__key"),
        vd.alias("__v"),
        V.norm(vd).alias("__n"),
        F.col(block_col),
    ).persist()

    def _side(suffix: str) -> DataFrame:
        return prep.select(
            F.col("__key").alias(f"key_{suffix}"),
            F.col("__v").alias(f"v_{suffix}"),
            F.col("__n").alias(f"n_{suffix}"),
            F.col(block_col),
        )

    joined = _side("a").join(_side("b"), block_col)
    dot = F.aggregate(
        F.zip_with("v_a", "v_b", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    out = (
        joined.where(F.col("key_a") < F.col("key_b"))
        .withColumn(
            "cosine", F.round(dot / (F.col("n_a") * F.col("n_b")), 6)
        )
        .where(F.col("cosine") >= threshold)
        .select("key_a", "key_b", "cosine")
    )
    return _with_cached_deps(out, prep)


def winnow_fingerprints(
    df: DataFrame,
    content_col: str = "text",
    key_col: str = "doc_id",
    ngram_n: int = 3,
    window: int = 4,
    seed: int = 11,
) -> DataFrame:
    """MOSS-style winnowing fingerprints: hash the ordered word
    n-grams, slide a ``window``-wide window over the hash sequence,
    and keep the minimum of each window — a position-robust fingerprint
    set with density ~2/(window+1) that is guaranteed to share a value
    for any match of length >= window + ngram_n - 1 tokens (the
    winnowing guarantee; Schleimer/Wilkerson/Aiken, SIGMOD'03).

    Returns exploded distinct (key_col, fingerprint) rows — join two
    corpora's fingerprints on the hash to find local overlaps (the
    same equi-join shape as every other candidate generator here).
    Docs with fewer grams than ``window`` contribute min-of-all; docs
    with no grams contribute nothing.

    Scale shape: pure per-row expression work, NO key shuffle — the
    portable polynomial hash keeps the oracle exact, and only the
    8-byte fingerprints (never gram text) leave the map stage. An
    input scanned as fewer partitions than the cluster has slots is
    spread first (rebalance_for_cpu: one parquet file of documents
    otherwise winnows on one core); call :func:`release` on the result
    when done with it.
    """
    pre = rebalance_for_cpu(df.select(key_col, content_col))
    toks = X.lower_tokens(content_col)
    grams = X.word_ngrams_ordered(toks, ngram_n)
    hashes = F.transform(grams, lambda g: _poly_hash(g, seed))
    m = F.size(hashes)
    windowed = F.transform(
        F.sequence(F.lit(1), m - F.lit(window - 1)),
        lambda i: F.array_min(F.slice(hashes, i, window)),
    )
    fps = F.when(m >= window, windowed).otherwise(
        F.when(m > 0, F.array(F.array_min(hashes))).otherwise(
            F.array().cast("array<long>")
        )
    )
    out = pre.select(
        F.col(key_col),
        F.explode(F.array_distinct(fps)).alias("fingerprint"),
    )
    return _with_cached_deps(out, pre)


def winnow_overlap_pairs(
    df: DataFrame,
    content_col: str = "text",
    key_col: str = "doc_id",
    ngram_n: int = 3,
    window: int = 4,
    seed: int = 11,
    min_shared: int = 2,
    max_df_prune: int = 50,
) -> DataFrame:
    """Local-overlap candidate pairs from winnowing fingerprints:
    (key_a, key_b, n_shared) for documents sharing >= ``min_shared``
    fingerprints — MOSS's detection join.  Because winnowing keeps a
    fingerprint for every >= window+ngram_n-1 token run, this finds
    PARTIAL overlaps (shared paragraphs, quoted blocks) that whole-doc
    similarity scores dilute away.

    Scale shape: the self-join carries only (key, 8-byte fingerprint)
    rows; fingerprints present in more than ``max_df_prune`` docs are
    pruned before the join (the q18 stop-gram skew guard — ubiquitous
    boilerplate minima would otherwise form quadratic hot buckets),
    and the pair aggregation is one shuffle on the pair key.  The
    fingerprint frame is persisted (df-prune and self-join both read
    it); call :func:`release` on the result when done with it.
    """
    fps = winnow_fingerprints(
        df, content_col, key_col, ngram_n, window, seed
    ).persist()
    rare = (
        fps.groupBy("fingerprint")
        .count()
        .where(F.col("count") <= max_df_prune)
        .select("fingerprint")
    )
    pruned = fps.join(rare, "fingerprint")
    out = (
        pruned.alias("a")
        .join(pruned.alias("b"), "fingerprint")
        .where(F.col(f"a.{key_col}") < F.col(f"b.{key_col}"))
        .groupBy(
            F.col(f"a.{key_col}").alias("key_a"),
            F.col(f"b.{key_col}").alias("key_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    return _with_cached_deps(out, fps)


def _gram_hash_rows(
    df: DataFrame,
    key: Column,
    content_col: str,
    ngram_n: int,
    key_name: str,
    gram: str = "g",
    hashed: str = "gh",
) -> DataFrame:
    """Distinct ``(key_name, hashed)`` rows: ``key`` beside the md5 of
    each of its lower-cased word ``ngram_n``-grams (``gram`` names the
    exploded text column). The hash, never the gram text, rides the
    shuffle; md5 keeps the operators oracle-checkable (DuckDB has md5,
    not xxhash64), and no operator outputs it."""
    return (
        df.select(
            key.alias(key_name),
            F.explode(
                X.word_ngrams_from_tokens(X.lower_tokens(content_col), ngram_n)
            ).alias(gram),
        )
        .select(key_name, F.md5(gram).alias(hashed))
        .dropDuplicates()
    )


def ngram_contamination(
    corpus: DataFrame,
    probe: DataFrame,
    content_col: str = "text",
    key_col: str = "doc_id",
    ngram_n: int = 8,
) -> DataFrame:
    """Train/eval contamination check: corpus keys that share ANY
    length-``ngram_n`` word n-gram with the probe (benchmark/eval) set.

    Scale shape: each side explodes to distinct (key, md5(gram)) rows
    — the hash, never the gram text, rides the shuffle — and detection
    is a left-semi equi-join on the hash. The probe side (eval sets are
    small) broadcasts under AQE; corpus-side work is one map pass + one
    semi-join, the same plan at 100 TB.

    Returns distinct contaminated corpus keys as column ``key_col``.
    """
    key = F.col(key_col)
    probe_hashes = (
        _gram_hash_rows(probe, key, content_col, ngram_n, "pk")
        .select("gh")
        .dropDuplicates()
    )
    return (
        _gram_hash_rows(corpus, key, content_col, ngram_n, key_col)
        .join(probe_hashes, "gh", "left_semi")
        .select(key_col)
        .dropDuplicates()
    )


def span_dedup_rebuild(
    df: DataFrame,
    content_col: str = "text",
    key_col: str = "doc_id",
    chunk_tokens: int = 32,
) -> DataFrame:
    """Span-level exact dedup with document reconstruction (the
    sub-document analogue of exact_dedup, after Lee et al.,
    "Deduplicating Training Data Makes Language Models Better",
    ACL'22): split every document into non-overlapping
    ``chunk_tokens``-token spans, keep only the FIRST corpus-wide
    occurrence of each distinct span (first = smallest
    (``key_col``, span index), the same deterministic keep rule
    exact_dedup uses), and rebuild each document from its surviving
    spans in order.

    Returns one row per document that produced at least one span:
    (key_col, text, n_spans_kept, n_spans_total) — ``text`` is the
    kept spans re-joined with single spaces (empty string when every
    span was a repeat of an earlier document's span).

    Scale shape: chunking is map-side expression work
    (operators/chunking.py — one posexplode, no UDFs); the keep-first
    decision is ONE window shuffle keyed by the span's md5 (uniform by
    construction, no skew), and reconstruction is ONE groupBy shuffle
    back on the document key. Both shuffles move the corpus once —
    the floor for any operator that must re-emit document text. The
    md5 keeps the winner rule oracle-expressible in ANSI SQL.
    """
    from pyspark.sql import Window

    from .chunking import chunk_documents

    spans = chunk_documents(
        df, content_col=content_col, key_col=key_col, chunk_tokens=chunk_tokens
    )
    w = Window.partitionBy("__h").orderBy(key_col, "chunk_id")
    flagged = (
        spans.withColumn("__h", F.md5("chunk_text"))
        .withColumn("kept", F.row_number().over(w) == F.lit(1))
    )
    spans_sorted = F.array_sort(
        F.collect_list(F.struct("chunk_id", "kept", "chunk_text"))
    )
    return (
        flagged.groupBy(key_col)
        .agg(
            spans_sorted.alias("__s"),
            F.sum(F.col("kept").cast("int")).alias("n_spans_kept"),
            F.count(F.lit(1)).alias("n_spans_total"),
        )
        .select(
            key_col,
            F.array_join(
                F.transform(
                    F.filter("__s", lambda s: s["kept"]),
                    lambda s: s["chunk_text"],
                ),
                " ",
            ).alias("text"),
            F.col("n_spans_kept").cast("long").alias("n_spans_kept"),
            F.col("n_spans_total").cast("long").alias("n_spans_total"),
        )
    )


def source_similarity_matrix(
    df: DataFrame,
    group_col: str = "source",
    content_col: str = "text",
    ngram_n: int = 8,
    round_dp: int = 6,
) -> DataFrame:
    """Corpus-LEVEL overlap diagnostics: pairwise n-gram Jaccard
    between document GROUPS (sources, snapshots, mixture components)
    — the zoom-out of the doc-pair operators: before designing a
    mixture or debugging contamination you want "how much does source
    A repeat source B" as one small matrix, not a million doc pairs.

    Returns ``(group_a, group_b, n_a, n_b, n_common, jaccard)`` with
    group_a < group_b, over each group's DISTINCT gram-hash set.

    Scale shape: the corpus reduces map-side to distinct
    (group, md5(gram)) rows — hashes ride the shuffle, never text;
    per-group set sizes are one grouped count; the intersection
    self-join is keyed on the gram hash, where each gram shared by k
    groups emits C(k,2) pairs — bounded by |groups|² per gram, and
    |groups| is mixture-sized (tens), never corpus-sized.
    """
    from ._common import col_ref

    grams = _gram_hash_rows(
        df, col_ref(group_col), content_col, ngram_n, "__g", "__gram", "__gh"
    ).persist()
    sizes = grams.groupBy("__g").agg(F.count(F.lit(1)).alias("__n"))
    inter = (
        grams.select(F.col("__g").alias("group_a"), "__gh")
        .join(grams.select(F.col("__g").alias("group_b"), "__gh"), "__gh")
        .where(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        inter.join(
            F.broadcast(
                sizes.select(F.col("__g").alias("group_a"), F.col("__n").alias("n_a"))
            ),
            "group_a",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("__g").alias("group_b"), F.col("__n").alias("n_b"))
            ),
            "group_b",
        )
        .select(
            "group_a",
            "group_b",
            "n_a",
            "n_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                round_dp,
            ).alias("jaccard"),
        )
    )
    return _with_cached_deps(out, grams)


def duplication_report(
    df: DataFrame,
    group_col: str = "source",
    content_col: str = "text",
    key_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
    round_dp: int = 6,
    **lsh_kwargs,
) -> DataFrame:
    """Per-group duplication health report: how much of each source is
    exact-duplicate or near-duplicate content — the number that decides
    which upstream source gets throttled or re-crawled, and the first
    thing to check when a mixture suddenly trains worse.

    A document counts as `exact_dups` if it is a non-minimal copy of
    identical content (the copies `exact_dedup` would drop, attributed
    to THEIR source, so a scraper mirroring another source is charged
    for the copies) and as `near_dups` if it survives exact dedup but
    is the greater key of a minhash near-dup pair (the row
    `minhash_lsh_pairs`-based removal drops). Returns
    (group_col, n_docs, exact_dups, near_dups, dup_rate).

    Scale shape: exact dedup is one content-hash shuffle; near-dup is
    the q17 band-join kernel over the already-deduped set; everything
    aggregates to |groups| rows with map-side combine.
    """
    keys = df.select(key_col, group_col)
    totals = keys.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))

    kept = exact_dedup(df, content_col, key_col)
    exact_removed = (
        keys.join(kept.select(key_col), key_col, "left_anti")
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("exact_dups"))
    )

    pairs = minhash_lsh_pairs(
        kept,
        content_col=content_col,
        key_col=key_col,
        jaccard_threshold=jaccard_threshold,
        **lsh_kwargs,
    )
    near_removed = (
        pairs.select(F.col("key_b").alias(key_col))
        .dropDuplicates()
        .join(keys, key_col)
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("near_dups"))
    )

    out = (
        totals.join(exact_removed, group_col, "left")
        .join(near_removed, group_col, "left")
        .select(
            group_col,
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.coalesce("exact_dups", F.lit(0)).cast("bigint").alias("exact_dups"),
            F.coalesce("near_dups", F.lit(0)).cast("bigint").alias("near_dups"),
            F.round(
                (F.coalesce("exact_dups", F.lit(0)) + F.coalesce("near_dups", F.lit(0)))
                / F.col("n_docs"),
                round_dp,
            ).alias("dup_rate"),
        )
    )
    # the pair frame persists its signature scan (caller-unpersists
    # contract); the report is small, so materialize then release
    out = out.localCheckpoint(eager=True)
    release(pairs)
    return out


def ngram_novelty(
    corpus: DataFrame,
    probe: DataFrame,
    content_col: str = "text",
    key_col: str = "doc_id",
    ngram_n: int = 8,
    round_dp: int = 6,
) -> DataFrame:
    """Per-probe-document n-gram novelty: the fraction of each probe
    doc's distinct ``ngram_n``-grams that do NOT appear anywhere in the
    corpus — the graded form of `ngram_contamination` (which answers
    "any overlap at all?"). Low novelty on an eval set means the
    benchmark leaks into training data; low novelty on candidate
    training data means it adds nothing the corpus doesn't have —
    both are drop signals, read from opposite ends.

    Returns (key_col, n_grams, known_grams, novelty_rate) — probe docs
    with fewer than ``ngram_n`` tokens emit nothing (no grams to
    judge).

    Scale shape: both sides explode to distinct (key, md5(gram)) rows
    — the hash, never the gram text, rides the shuffle — known-gram
    detection is one equi-join against the corpus's distinct gram
    hashes, then one probe-keyed rollup.
    """
    key = F.col(key_col)
    corpus_hashes = (
        _gram_hash_rows(corpus, key, content_col, ngram_n, "ck")
        .select("gh")
        .dropDuplicates()
    )
    pg = _gram_hash_rows(probe, key, content_col, ngram_n, key_col)
    return (
        pg.join(
            corpus_hashes.withColumn("__known", F.lit(1)), "gh", "left"
        )
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce("__known", F.lit(0)))
            .cast("bigint")
            .alias("known_grams"),
            F.round(
                1.0
                - F.sum(F.coalesce("__known", F.lit(0))) / F.count(F.lit(1)),
                round_dp,
            ).alias("novelty_rate"),
        )
    )
