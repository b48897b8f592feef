"""Embedding quantization for storage-scale vector corpora.

At 100 TB the embedding column IS the table: float32×D per row. The
standard storage answer is symmetric int8 — 4× smaller, recall loss
usually <1% for retrieval — with the scale kept per row so the
transform is a pure map-side expression: no corpus statistics pass,
no shuffle, quantization cost folds into the scan/write stage.

Everything is built from JVM-side array expressions (transform /
aggregate / array_max) — no UDFs — so the quantize step runs inside
whole-stage codegen and is reproducible across engines: the scale is
one exact division of exact doubles, and ROUND-half-away-from-zero
agrees between Spark (HALF_UP on positives/negatives) and C-family
round().
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_double(vec_col: str) -> Column:
    return F.transform(F.col(vec_col), lambda x: x.cast("double"))


def quantize_embeddings_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    round_dp: int = 6,
) -> DataFrame:
    """Row-wise symmetric int8 quantization.

    Per row: ``scale = max(|v_d|) / 127``; ``q_d = round(v_d /
    scale)`` — bounded in [-127, 127] by construction (|v_d| ≤
    max|v_d|), so no clipping branch exists to get wrong. The
    reconstruction error ``mean(|q_d·scale − v_d|)`` rides along so a
    pipeline can gate on quantization loss before committing the
    smaller table.

    Returns (key_col, scale, qvec array<int>, mean_abs_err). An
    all-zero vector has scale 0 and quantizes to zeros with zero
    error (the exact representation); empty/NULL vectors propagate
    NULLs.
    """
    v = _as_double(vec_col)
    amax = F.array_max(F.transform(v, F.abs))
    scale = amax / F.lit(127.0)
    # 0/0 is the all-zero vector: quantize to literal zeros, not NaN
    qvec = F.when(
        scale == 0, F.transform(v, lambda x: F.lit(0))
    ).otherwise(F.transform(v, lambda x: F.round(x / scale, 0).cast("int")))
    err = F.when(scale == 0, F.lit(0.0)).otherwise(
        F.aggregate(
            F.zip_with(qvec, v, lambda q, x: F.abs(q.cast("double") * scale - x)),
            F.lit(0.0),
            lambda acc, e: acc + e,
        )
        / F.size(v)
    )
    return df.select(
        F.col(key_col),
        F.round(scale, round_dp).alias("scale"),
        qvec.alias("qvec"),
        F.round(err, round_dp).alias("mean_abs_err"),
    )


def dequantize_int8(
    qvec_col: str = "qvec",
    scale_col: str = "scale",
) -> Column:
    """Reconstruction expression: ``q_d · scale`` as array<double> —
    compose into a select to materialize approximate vectors for
    downstream cosine/top-k without ever storing the float column."""
    return F.transform(
        F.col(qvec_col), lambda q: q.cast("double") * F.col(scale_col)
    )


# --- product quantization (PQ) ----------------------------------------------
#
# int8 buys 4x; product quantization buys 16-64x: split each vector
# into m subspaces, k-means each subspace independently (k codewords),
# store only the m one-byte codeword ids per vector.  Search uses
# asymmetric distance computation (ADC): per query, precompute the
# m x k lookup table of exact query-subvector -> codeword distances
# (driver-side, tiny), then every corpus row's approximate distance is
# m table lookups and a sum — pure column expressions over the m-byte
# codes; the float corpus is never read at query time.  This is the
# memory-bound ANN layout (Jegou et al., "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011) and composes with the IVF cell
# index (IVF-PQ): prune cells by partition, rank in-cell by ADC.
#
# Determinism contract (same playbook as train_ivf_centroids):
# min-key init, fixed Lloyd iterations, per-iteration ROUNDED means,
# assignment on ROUNDED squared distances with lowest-index tiebreak
# (array_position(array_min)), left-to-right distance folds.


def _sub_slices(vec_col: str, m: int, dsub: int) -> list[Column]:
    return [
        F.slice(_as_double(vec_col), s * dsub + 1, dsub) for s in range(m)
    ]


def _lit_subvec(vals: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vals])


def _fold_sq(sub: Column, cw: Column) -> Column:
    """Rounded squared L2 distance between two array columns —
    left-to-right fold, 9dp (the cross-engine ranking grain used by
    the similarity operators)."""
    return F.round(
        F.aggregate(
            F.zip_with(sub, cw, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        9,
    )


def _book_lit(codebook: list[list[float]]) -> Column:
    """One codebook as a literal array-of-arrays column — k·dsub
    literal DATA leaves that Catalyst constant-folds into a single
    array literal."""
    return F.array(*[_lit_subvec(c) for c in codebook])


def _dist_battery(sub: Column, codebook: list[list[float]]) -> Column:
    """Array of rounded squared distances to every codeword: ONE fold
    lambda evaluated k times over the constant-folded literal
    codebook, so plan and codegen size are O(1) in k — k unrolled
    per-codeword fold expressions (the pre-r9 form) made every
    battery-bearing plan compile in O(m·k·dsub) generated code, the
    k=256 scale-killer."""
    return F.transform(_book_lit(codebook), lambda c: _fold_sq(sub, c))


def _assign_code(sub: Column, codebook: list[list[float]]) -> Column:
    """Lowest-index argmin over the codebook, as ONE array column of
    rounded distances (linear expression tree — see assign_cells)."""
    d = _dist_battery(sub, codebook)
    return (F.array_position(d, F.array_min(d)) - 1).cast("int")


def _u_subspace(s: int) -> Column:
    """Deterministic per-(subspace, key) uniform in (0, 1]
    (`_sampling.md5_uniform`).  Salting by subspace index keeps the m
    sampling streams independent — one shared stream would correlate
    the seed choices across subspaces."""
    from ._sampling import md5_uniform

    return md5_uniform(F.col("key"), f"kpp{s}:")


def _kmeanspp_seed_books(
    base: DataFrame, m: int, k: int
) -> list[list[list[float]]]:
    """Deterministic k-means++ (D²-sampled) seeding, per subspace, all
    live subspaces per scan.

    Seed 0 is the min-key row's subvector (same seedless rule as
    `train_ivf_centroids` / `kcenter_select`).  Each later hop picks,
    independently per subspace, the subvector winning an
    Efraimidis-Spirakis race with weight = ROUNDED min squared
    distance to the codewords chosen so far: priority = round(u **
    (1/dmin), 9) for the md5-deterministic uniform u (`_u_subspace`),
    max priority wins, ascending-key tiebreak via min-of-struct on
    (-priority, key).  That is exactly D²-proportional sampling
    without replacement (Arthur & Vassilvitskii, "k-means++", SODA
    2007) — but reproducible across partition layouts, re-runs, and
    engines, unlike seeded rand().  One aggregate scan per hop
    computes all live argmaxes — at most k-1 scans total over the
    cached (key, v0..v{m-1}) frame, zero shuffle.

    Why not farthest-point: FPS seeds *extremes* — on natural spread
    data the outlier codewords start so far out that a short Lloyd
    budget cannot pull them back, leaving per-subspace distortion too
    high for ADC (the r7 recall defect).  D² sampling keeps the
    spread property on clustered data (the far cluster carries almost
    all the D² mass) while placing seeds at typical points on spread
    data.

    A subspace where no point has dmin > 0 has fewer than k distinct
    subvectors — it is marked done, skipped in later hops' aggregates,
    and its remaining slots pad with fresh COPIES of codeword 0 (never
    the same list object, so later in-place slot updates cannot leak
    into the pads).  Pads are memberless under the lowest-index argmin
    of `_assign_code`, so every Lloyd update treats them as empty
    cells (`_refill_empty_cells`): refilled to the farthest point if
    the rounded means opened any refillable spread, otherwise
    re-synced to codeword 0's current value — either way no slot holds
    a stale seed-time copy that could drift from codeword 0 and steal
    its assignments.

    Cost note: this is the distributed SPEC path `pq_train` takes above
    `_kmeans_np.DRIVER_TRAIN_CAP` — k-1 driver round-trips, one
    aggregate scan each.  The per-hop distance battery is a single
    fold over the constant-folded literal codebook (`_dist_battery`),
    so plan size is O(k·dsub) literal data, not O(k) unrolled fold
    code; the round-trip COUNT is what the driver-side trainer removes
    at the k=256 regime (`_kmeans_np.pq_train_np` — identical
    algorithm on the collected pool, unit-pinned equal).
    """
    seed = base.orderBy(F.col("key").asc()).limit(1).collect()[0]
    books = [[[float(x) for x in seed[f"v{s}"]]] for s in range(m)]
    done = [False] * m
    for _ in range(k - 1):
        if all(done):
            break
        aggs = []
        for s in range(m):
            if done[s]:
                continue
            dmin = F.array_min(_dist_battery(F.col(f"v{s}"), books[s]))
            pri = F.when(
                dmin > 0, F.round(F.pow(_u_subspace(s), F.lit(1.0) / dmin), 9)
            ).otherwise(F.lit(-1.0))
            aggs.append(
                F.min(
                    F.struct(
                        (-pri).alias("np"),
                        F.col("key").alias("key"),
                        F.col(f"v{s}").alias("v"),
                    )
                ).alias(f"win{s}")
            )
        far = base.agg(*aggs).collect()[0]
        for s in range(m):
            if done[s]:
                books[s].append(list(books[s][0]))
                continue
            hit = far[f"win{s}"]
            if hit is None or hit["np"] >= 0.0:
                done[s] = True
                books[s].append(list(books[s][0]))
            else:
                books[s].append([float(x) for x in hit["v"]])
    for s in range(m):
        while len(books[s]) < k:
            books[s].append(list(books[s][0]))
    return books


def pq_train(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    iters: int = 4,
    round_dp: int = 6,
    train_sample_mod: int | None = None,
    max_train_rows: int | None = None,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks: returns m lists of k codewords of
    dim/m doubles each.

    The training pool's size picks the executor for the SAME
    deterministic algorithm — the two produce identical codebooks
    (unit-pinned in tests/test_pq.py):

    * up to `_kmeans_np.DRIVER_TRAIN_CAP` rows: collect the
      (hash-sampled) training frame ONCE and run seeding + Lloyd
      driver-side (`_kmeans_np.pq_train_np`).  Codebooks are
      driver-side metadata by construction.  O(1) Spark jobs instead
      of k-1 seeding round-trips + iters Lloyd rounds — the path at
      the k=256 regime, where the distributed loop is
      round-trip-bound regardless of data size.
    * above it: the distributed literal-battery loop below, on the
      FULL pool — the cross-engine SPEC that the DuckDB oracles unroll
      CTE-for-CTE (q137/q138).

    Init is deterministic k-means++ D²-sampled seeding per subspace
    (`_kmeanspp_seed_books`).  Each Lloyd iteration runs ONE map pass
    assigning all m subspaces at once (m argmin expression batteries
    over the same scan) and ONE (subspace, code, pos)-keyed mean
    aggregate — map-side combinable, m*k*dsub output rows collected to
    the driver (the codebook is metadata-sized by construction).
    Codewords that lose all members are RESEEDED to the point farthest
    from the updated codebook (rounded min distance, ascending-key
    tiebreak, one extra aggregate scan per refill — rare, usually
    zero), so no codeword slot stays dead; slots that cannot be
    refilled (fewer distinct subvectors than k) re-sync to codeword
    0's current value each iteration.  The (key, subvectors)
    projection is materialized once (localCheckpoint) and shared by
    the seeding scans and the `iters` Lloyd passes.

    ``train_sample_mod`` is the 100 TB lever (the codebook is a
    STATISTIC, not a transform): train on the deterministic 1/mod
    md5-hash-sample of rows — a pure function of the key, so the
    sample (and therefore the codebook) is reproducible across
    layouts, re-runs, and engines — then encode the full corpus with
    `pq_encode`.  k·dsub parameters per subspace saturate at ~10⁴-10⁵
    rows, so a sampled pool usually fits the driver-side trainer (the
    classifier's `train_sample_mod` contract, applied here).

    ``max_train_rows`` is the same lever expressed as a target row
    count instead of a modulus: when set and the pool is larger, it
    auto-derives ``mod = ceil(n / max_train_rows)`` — the same
    deterministic md5 sample, applied BEFORE the size selection so
    both executors train on byte-identical frames.  BOTH caps default
    to None (train on the whole pool — the exact spec the q137/q138
    oracles unroll; a default cap would silently diverge from them
    above the cap, ADVICE r10): sampling is always the caller's
    explicit choice, and the driver collect stays bounded by the size
    selection.
    """
    probe = df.where(F.col(vec_col).isNotNull()).select(vec_col).first()
    if probe is None:
        return []
    dim = len(probe[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    slices = _sub_slices(vec_col, m, dsub)
    # NULL keys are excluded like NULL vectors (the train_ivf_centroids
    # / kcenter_select convention): the determinism contract is keyed —
    # seeding order, md5 uniforms, and tiebreaks are all functions of
    # the key, none of which is defined for NULL (Spark would sort a
    # NULL key first and race it with a null priority; the numpy
    # trainer's driver sort would reject it outright)
    pool = df.where(
        F.col(vec_col).isNotNull() & F.col(key_col).isNotNull()
    )
    if train_sample_mod is not None:
        from ._sampling import hash_sample

        pool = hash_sample(pool, key_col, train_sample_mod)
        if train_sample_mod > 1 and pool.first() is None:
            raise ValueError(
                f"train_sample_mod={train_sample_mod} leaves no "
                "training rows — lower it for this corpus size"
            )
    exact_n = None  # pool size, when a branch below already measured it
    if max_train_rows is not None and train_sample_mod is None:
        n = pool.count()
        if n > max_train_rows:
            from ._sampling import hash_sample

            pool = hash_sample(
                pool, key_col, -(-n // max_train_rows)
            )
        else:
            exact_n = n  # unsampled: the count IS the pool size
    proj = pool.select(
        F.col(key_col).alias("key"),
        *[slices[s].alias(f"v{s}") for s in range(m)],
    )
    from ._kmeans_np import DRIVER_TRAIN_CAP, pq_train_np

    # over-cap gate without a full scan (ADVICE r11): reuse the exact
    # count when the max_train_rows branch already measured the
    # (unsampled) pool; otherwise scan at most CAP+1 rows — the
    # selection only needs "more than CAP?", never n itself, and
    # min(n, CAP+1) > CAP iff n > CAP
    if exact_n is not None:
        over_cap = exact_n > DRIVER_TRAIN_CAP
    else:
        over_cap = proj.limit(DRIVER_TRAIN_CAP + 1).count() > DRIVER_TRAIN_CAP
    if not over_cap:
        return pq_train_np(proj.collect(), m, k, dsub, iters, round_dp)
    base = proj.localCheckpoint()
    from ._iterate import iterate_fixed

    def step(books: list[list[list[float]]]):
        tagged = base.select(
            *[
                c
                for s in range(m)
                for c in (
                    _assign_code(F.col(f"v{s}"), books[s]).alias(f"c{s}"),
                    F.col(f"v{s}").alias(f"w{s}"),
                )
            ]
        )
        # one unpivoted (subspace, code, pos, val) frame -> one agg
        stacked = tagged.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("s"),
                            F.col(f"c{s}").alias("code"),
                            F.col(f"w{s}").alias("sub"),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("x")
        ).select(
            F.col("x.s").alias("s"),
            F.col("x.code").alias("code"),
            F.posexplode("x.sub").alias("pos", "val"),
        )
        return (
            stacked.groupBy("s", "code", "pos")
            .agg(F.round(F.avg("val"), round_dp).alias("mv"))
            .collect()
        )

    def update(books: list[list[list[float]]], rows):
        got: dict[tuple[int, int], dict[int, float]] = {}
        for r in rows:
            got.setdefault((r["s"], r["code"]), {})[r["pos"]] = r["mv"]
        books = [
            [
                [got[(s, c)][p] for p in range(dsub)]
                if (s, c) in got
                else books[s][c]
                for c in range(k)
            ]
            for s in range(m)
        ]
        empties = {
            s: [c for c in range(k) if (s, c) not in got] for s in range(m)
        }
        return _refill_empty_cells(base, books, empties)

    return iterate_fixed(
        _kmeanspp_seed_books(base, m, k), iters, step, update
    )


def _refill_empty_cells(
    base: DataFrame,
    books: list[list[list[float]]],
    empties: dict[int, list[int]],
) -> list[list[list[float]]]:
    """Reseed codewords that lost every member: each empty slot takes
    the point FARTHEST from the just-updated codebook (rounded min
    squared distance, ascending-key tiebreak), distances frozen at the
    post-mean codebook so refills within one iteration don't chase
    each other; already-used points are excluded per subspace.  Slots
    with no eligible point left (every subvector coincides with a
    codeword — the n < k pad case) re-sync to codeword 0's current
    value, so pads track codeword 0 across Lloyd updates and can never
    outrank it under `_assign_code`'s lowest-index argmin.  One
    aggregate scan per refill round; on healthy data empties are rare
    and this is zero scans."""
    m = len(books)
    todo = {s: list(cs) for s, cs in empties.items() if cs}
    if todo:
        battery = {
            s: _dist_battery(F.col(f"v{s}"), books[s]) for s in todo
        }
        used: dict[int, list] = {s: [] for s in todo}
        while todo:
            aggs = []
            for s in todo:
                dmin = F.array_min(battery[s])
                ok = dmin > 0
                if used[s]:
                    ok = ok & ~F.col("key").isin(used[s])
                nd = -F.when(ok, dmin).otherwise(F.lit(-1.0))
                aggs.append(
                    F.min(
                        F.struct(
                            nd.alias("nd"),
                            F.col("key").alias("key"),
                            F.col(f"v{s}").alias("v"),
                        )
                    ).alias(f"far{s}")
                )
            far = base.agg(*aggs).collect()[0]
            for s in list(todo):
                hit = far[f"far{s}"]
                c = todo[s].pop(0)
                if hit is None or hit["nd"] >= 0.0:
                    # nothing refillable in this subspace: sync the
                    # remaining empty slots to codeword 0 and stop
                    for cc in [c] + todo[s]:
                        books[s][cc] = list(books[s][0])
                    todo[s] = []
                else:
                    books[s][c] = [float(x) for x in hit["v"]]
                    used[s].append(hit["key"])
                if not todo[s]:
                    del todo[s]
    return books


def _pq_code_expr(
    books: list[list[list[float]]], code_col: str
) -> Column:
    """The m-codeword-id array expression over ``code_col``: one
    literal distance battery and argmin per subspace."""
    m = len(books)
    subs = _sub_slices(code_col, m, len(books[0][0]))
    return F.array(
        *[_assign_code(subs[s], books[s]) for s in range(m)]
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    key_col: str = "vec_id",
) -> DataFrame:
    """``(key, pq_code array<int>)`` — m codeword ids per vector, one
    map pass, codebooks inlined as literals.  At dim=64, m=8, k<=256
    the stored code is 8 bytes vs 256 for float32: 32x smaller.  Zero
    Python in the plan, and the byte-stable form the DuckDB oracles
    replay."""
    return df.where(F.col(vec_col).isNotNull()).select(
        F.col(key_col).alias("key"),
        _pq_code_expr(codebooks, vec_col).alias("pq_code"),
    )


def pq_reconstruct(
    encoded: DataFrame, codebooks: list[list[list[float]]]
) -> DataFrame:
    """Decode codes back to the quantized vector (concatenated
    codewords) — the error-measurement companion: join-free, the
    codebooks ride as literal array-of-array columns."""
    books = [
        F.array(*[_lit_subvec(c) for c in book]) for book in codebooks
    ]
    return encoded.select(
        "key",
        F.flatten(
            F.array(
                *[
                    F.element_at(
                        books[s], F.col("pq_code")[s] + 1
                    )
                    for s in range(len(codebooks))
                ]
            )
        ).alias("vec_hat"),
    )


def _adc_score(
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    code_col: str = "pq_code",
) -> Column:
    """The ADC distance expression: per subspace, the exact
    query-subvector -> codeword squared distances (rounded 9dp, the
    cross-engine grain) ride as an m x k literal table; each row costs
    m element_at lookups + a left-to-right sum."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    if len(query_vec) != m * dsub:
        raise ValueError(
            f"query dim {len(query_vec)} != codebook dim {m * dsub}"
        )
    from ._kmeans_np import round_spark_scalar

    score = F.lit(0.0)
    for s in range(m):
        qs = [float(x) for x in query_vec[s * dsub : (s + 1) * dsub]]
        # round_spark_scalar, not Python round (HALF_EVEN on the binary
        # value): the LUT entries are the same 9dp-grain quantities as
        # `_fold_sq`'s F.round distances and use its exact semantics
        lut = [
            round_spark_scalar(
                sum((a - b) * (a - b) for a, b in zip(qs, c)), 9
            )
            for c in codebooks[s]
        ]
        score = score + F.element_at(
            F.array(*[F.lit(v) for v in lut]), F.col(code_col)[s] + 1
        )
    return score


def pq_adc_topk(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    round_dp: int = 6,
) -> DataFrame:
    """Asymmetric-distance top-k: exact query-subvector -> codeword
    distance tables computed once driver-side (m x k floats),
    broadcast as literals; each corpus row costs m element_at lookups
    + a sum.  Returns (key, adc_dist) ascending, key tiebreak.

    The float corpus is NEVER scanned — only the m-byte codes — which
    is the point: at 100 TB the code table is 1/32nd the bytes, and
    the scan is the cost.  Composes with the IVF index for cell
    pruning (`build_ivfpq_index` / `ivfpq_topk_indexed`)."""
    score = _adc_score(codebooks, query_vec)
    return (
        encoded.select(
            "key", F.round(score, round_dp).alias("adc_dist")
        )
        .orderBy(F.col("adc_dist").asc(), F.col("key").asc())
        .limit(k)
    )


# --- IVF-PQ: cell-pruned ADC over a persisted code table --------------------


def _assign_cell_l2(
    vec_col: str, centroids: list[list[float]]
) -> Column:
    """Id of the squared-L2-nearest centroid (rounded 9dp, lowest
    index on ties) — the cell-membership rule matching the ADC
    ranking metric.  One array battery, linear expression tree."""
    d = _dist_battery(_as_double(vec_col), centroids)
    return (F.array_position(d, F.array_min(d)) - 1).cast("int")


def _ivfpq_code_source(
    clean: DataFrame,
    centroids: list[list[float]],
    residual: bool,
    vec_col: str,
    key_col: str,
) -> tuple[DataFrame, str]:
    """(key, cell_id, <code-source vector>) plus the name of the
    vector column the codes quantize — raw vectors, or x −
    centroid(cell) for residual indexes.  Shared by the index build
    and the incremental append so membership/residual semantics cannot
    drift between them."""
    cell = _assign_cell_l2(vec_col, centroids)
    if residual:
        cent_arr = F.array(*[_lit_subvec(c) for c in centroids])
        rvec = F.zip_with(
            _as_double(vec_col),
            F.element_at(cent_arr, cell + 1),
            lambda x, c: x - c,
        )
        return (
            clean.select(
                F.col(key_col).alias("key"),
                cell.alias("cell_id"),
                rvec.alias("rvec"),
            ),
            "rvec",
        )
    return (
        clean.select(
            F.col(key_col).alias("key"),
            cell.alias("cell_id"),
            _as_double(vec_col).alias("v"),
        ),
        "v",
    )


def build_ivfpq_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    num_cells: int = 16,
    train_iters: int = 2,
    m: int = 8,
    k: int = 16,
    pq_iters: int = 4,
    train_sample_mod: int | None = None,
    residual: bool = False,
) -> None:
    """Materialize the IVF-PQ index: the 100 TB ANN layout.

    Train IVF centroids (`similarity.train_ivf_centroids`) and PQ
    codebooks (`pq_train`) over the corpus, then write ONE
    cell-partitioned parquet table of (key, pq_code) — m small ints
    per vector instead of dim floats.  Queries prune to nprobe cell
    partitions (Catalyst PartitionFilters, zero IO on unprobed cells)
    and rank the survivors by ADC over the code column alone: the
    float corpus is read once at build time and never again.  At
    dim=64 float32 vs m=8 codes that is a 32x smaller scan on ~1/4 of
    the partitions.  Centroids and codebooks ride in underscore-
    prefixed side directories (ignored by Spark's file listing), the
    `build_ivf_index` convention.  ``train_sample_mod`` caps BOTH
    training passes — `pq_train` (passthrough) and the IVF centroid
    Lloyd scans run on the same deterministic 1/mod key-sample — the
    100 TB lever (SCALING.md's documented mitigation for the k-1
    seeding round-trips): with it set, the only full-corpus work left
    is the single unavoidable encode+write pass.  NULL-embedding rows
    are dropped once up front, so a NULL among the smallest keys
    cannot crash centroid init.

    Metric consistency: ADC ranks by squared L2, so cell MEMBERSHIP
    and cell PROBING are both squared L2 too (`_assign_cell_l2` /
    the query's L2 probe order) — a vector lives in the cell of its
    L2-nearest centroid and queries open the L2-nearest cells, the
    standard IVFADC geometry.  Ranking by one metric while pruning by
    another (the cosine `assign_cells` used by the cosine-ranked IVF
    index) would systematically drop true L2 neighbors with atypical
    norms.  Centroid TRAINING reuses `train_ivf_centroids` — the
    training metric only shapes centroid quality, not the correctness
    of the prune, which depends on membership and probing agreeing.

    Two encodings, chosen by ``residual``:

    * ``residual=False`` (default): codes quantize the RAW vectors
      against one global codebook — cheapest, and codes stay valid if
      cells are ever re-trained.
    * ``residual=True``: classic IVFADC (Jegou et al., TPAMI 2011
      §V) — codes quantize x − centroid(cell).  Residuals are
      centered near zero with far less spread than raw vectors, so
      the same m×k code budget buys materially lower distortion; the
      cost is cell-dependent codes (re-assigning a vector to a new
      cell invalidates its code) and a per-probed-cell LUT at query
      time (nprobe·m·k driver-side floats — still metadata).

    The encoding rides in the `_ivfpq_meta` sidecar so the query path
    self-selects the right ADC form."""
    from .similarity import train_ivf_centroids

    clean = df.where(F.col(vec_col).isNotNull())
    cent_src = clean
    if train_sample_mod is not None and train_sample_mod > 1:
        # Centroids are the same kind of metadata statistic as the
        # codebooks: without this, a capped PQ training would still
        # leave the build corpus-scan-bound on train_iters+1 full
        # centroid passes.  The SAME 1/mod key-sample feeds both.
        from ._sampling import hash_sample

        cent_src = hash_sample(clean, key_col, train_sample_mod)
        if cent_src.first() is None:
            raise ValueError(
                f"train_sample_mod={train_sample_mod} leaves no "
                "training rows — lower it for this corpus size"
            )
    centroids = train_ivf_centroids(
        cent_src, num_cells, vec_col, key_col, iters=train_iters
    )
    if not centroids:
        raise ValueError("cannot build an IVF-PQ index over an empty corpus")
    code_src, code_col = _ivfpq_code_source(
        clean, centroids, residual, vec_col, key_col
    )
    books = pq_train(
        code_src,
        m=m,
        k=k,
        vec_col=code_col,
        key_col="key",
        iters=pq_iters,
        train_sample_mod=train_sample_mod,
    )
    code_src.select(
        "key",
        _pq_code_expr(books, code_col).alias("pq_code"),
        "cell_id",
    ).write.mode("overwrite").partitionBy("cell_id").parquet(path)
    spark = df.sparkSession
    spark.createDataFrame(
        list(enumerate(centroids)), "cell_id int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_ivf_centroids")
    spark.createDataFrame(
        [(s, c, books[s][c]) for s in range(m) for c in range(k)],
        "s int, code int, codeword array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_pq_codebooks")
    spark.createDataFrame(
        [(bool(residual),)], "residual boolean"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_ivfpq_meta")


def _load_ivfpq_sidecars(spark, path: str):
    """(centroid dict by cell_id, codebooks, residual flag) from the
    underscore sidecar directories — shared by the query path and the
    incremental append."""
    cents = {
        r["cell_id"]: [float(x) for x in r["centroid"]]
        for r in spark.read.parquet(f"{path}/_ivf_centroids").collect()
    }
    brows = spark.read.parquet(f"{path}/_pq_codebooks").collect()
    m = 1 + max(r["s"] for r in brows)
    kk = 1 + max(r["code"] for r in brows)
    books: list[list[list[float]]] = [[None] * kk for _ in range(m)]
    for r in brows:
        books[r["s"]][r["code"]] = [float(x) for x in r["codeword"]]
    try:
        residual = spark.read.parquet(f"{path}/_ivfpq_meta").first()[
            "residual"
        ]
    except AnalysisException as e:
        # ONLY the sidecar-absent case (a pre-meta index) may fall back
        # to raw-vector codes; a corrupt or unreadable sidecar on a
        # residual index must surface, not silently rank residual codes
        # against raw-vector LUT semantics.
        if "PATH_NOT_FOUND" not in str(e):
            raise
        residual = False
    return cents, books, residual


def append_to_ivfpq_index(
    spark,
    batch: DataFrame,
    path: str,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
) -> None:
    """Incremental IVF-PQ maintenance: encode a delta batch against the
    index's STORED centroids and codebooks and append it to its cell
    partitions — `append_to_ivf_index`'s contract for the code table,
    the per-ingest path that keeps `build_ivfpq_index` a one-time
    cost.

    Centroids and codebooks stay FIXED: retraining moves cell
    boundaries and codeword positions, stranding every stored code —
    for residual indexes doubly so, since codes quantize
    x − centroid(cell) and are cell-sticky by construction (the
    documented trade of `residual=True`).  Rebuild offline when drift
    accumulates.  Cost per batch: one map-side membership+encode pass
    over the BATCH (cell ids and residuals from the same shared
    helper the build used, so semantics cannot drift) + a partitioned
    append; the stored corpus is never read or rewritten.  A replayed
    batch appends duplicate rows — callers needing exactly-once wrap
    this with the key anti-join guard the streaming-ingest module
    uses."""
    cents, books, residual = _load_ivfpq_sidecars(spark, path)
    centroids = [cents[i] for i in sorted(cents)]
    clean = batch.where(
        F.col(vec_col).isNotNull() & F.col(key_col).isNotNull()
    )
    code_src, code_col = _ivfpq_code_source(
        clean, centroids, residual, vec_col, key_col
    )
    code_src.select(
        "key",
        _pq_code_expr(books, code_col).alias("pq_code"),
        "cell_id",
    ).write.mode("append").partitionBy("cell_id").parquet(path)


def ivfpq_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    round_dp: int = 6,
) -> DataFrame:
    """Query a `build_ivfpq_index` table: rank cells by squared-L2
    distance to the query on the driver (the centroid set is
    metadata-sized) — the SAME metric as both cell membership and the
    ADC ranking, so the standard IVF pruning guarantee holds — scan
    ONLY the nprobe nearest cell partitions, and rank by ADC over the
    m-byte codes: partition pruning x a 32x narrower scan, the
    compounding that makes ANN affordable at 100 TB.  Returns (key,
    adc_dist) ascending with key tiebreak, the `pq_adc_topk`
    contract."""
    from ._kmeans_np import round_spark_scalar

    cents, books, residual = _load_ivfpq_sidecars(spark, path)
    # round_spark_scalar, not Python round (HALF_EVEN on the binary
    # value): probe order is part of the result contract, at the same
    # 9dp F.round grain as every other distance in the family
    probes = sorted(
        cents,
        key=lambda i: (
            round_spark_scalar(
                sum(
                    (a - b) * (a - b)
                    for a, b in zip(query_vec, cents[i])
                ),
                9,
            ),
            i,
        ),
    )[:nprobe]
    if residual:
        score = _adc_score_residual(
            books, cents, probes, query_vec
        )
    else:
        score = _adc_score(books, query_vec)
    return (
        spark.read.parquet(path)
        .where(F.col("cell_id").isin(probes))
        .select("key", F.round(score, round_dp).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("key").asc())
        .limit(k)
    )


def _adc_score_residual(
    books: list[list[list[float]]],
    cents: dict[int, list[float]],
    probes: list[int],
    query_vec: list[float],
    code_col: str = "pq_code",
) -> Column:
    """IVFADC distance expression: codes quantize x − centroid(cell),
    so the LUT is per PROBED cell — distances from (q − centroid_i)'s
    subvectors to the codewords.  nprobe·m·k floats computed
    driver-side; cell_id maps to its slot in the probed list through
    ONE nprobe-int literal array (`array_position`; the upstream
    cell_id filter guarantees a hit), so plan/codegen size scales with
    nprobe, never with num_cells — at the k=256, 1024-cell regime a
    per-cell table would inline ~2M mostly-zero literals per query."""
    from ._kmeans_np import round_spark_scalar

    m = len(books)
    dsub = len(books[0][0])
    if len(query_vec) != m * dsub:
        raise ValueError(
            f"query dim {len(query_vec)} != codebook dim {m * dsub}"
        )
    pos = F.array_position(
        F.array(*[F.lit(int(i)) for i in probes]), F.col("cell_id")
    ).cast("int")
    score = F.lit(0.0)
    for s in range(m):
        per_probe = []
        for i in probes:
            qr = [
                query_vec[j] - cents[i][j]
                for j in range(s * dsub, (s + 1) * dsub)
            ]
            lut = [
                round_spark_scalar(
                    sum((a - b) * (a - b) for a, b in zip(qr, c)), 9
                )
                for c in books[s]
            ]
            per_probe.append(F.array(*[F.lit(v) for v in lut]))
        score = score + F.element_at(
            F.element_at(F.array(*per_probe), pos),
            F.col(code_col)[s] + 1,
        )
    return score
