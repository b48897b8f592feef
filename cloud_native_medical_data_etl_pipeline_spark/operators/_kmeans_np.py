"""Driver-side numpy replica of the deterministic PQ trainer.

`quantize.pq_train`'s distributed loop (the path above
`DRIVER_TRAIN_CAP`) is the cross-engine SPEC: every arithmetic step
(left-to-right squared-distance folds, 9dp-rounded distances and
priorities, 6dp-rounded Lloyd means, md5-seeded D² races,
lowest-index/min-key tiebreaks) is expressible in plain SQL,
and the DuckDB oracles replay it CTE-for-CTE (q137/q138).  But as an
in-engine loop it costs k-1 driver round-trips whose expression
batteries grow with the codebook — plan-compile-bound at the k=256
regime PQ normally runs at, regardless of data size.

This module is the path for the same contract while the pool fits
the driver: codebooks are driver-side METADATA by construction, so the
(optionally md5-hash-sampled, `_sampling.hash_sample`) training frame
is collected ONCE and seeding + Lloyd run here in numpy — O(1) Spark
jobs, O(n·k·dsub) numpy work, identical results (unit-pinned against
the distributed loop in tests/test_pq.py).

Rounding replicates Spark EXACTLY, not approximately: F.round on a
double is HALF_UP over the value's SHORTEST DECIMAL REPR
(BigDecimal.valueOf → setScale(dp, HALF_UP)), while np.round is
HALF_EVEN over the binary value — and dyadic rationals DO land on
decimal midpoints at dp>0 (round(2⁻¹⁰, 9): Spark 0.000976563, numpy
0.000976562; reachable from quantized/float32 inputs, e.g. a 2⁻⁵
component diff squared).  `round_spark` therefore does the fast
half-even magic round and re-rounds the rare lanes near a decimal
midpoint through the exact Decimal(repr(x)) HALF_UP path, which is
bit-equal to Spark everywhere.  Two RARER divergence channels remain
TOLERANCE-LEVEL, not exact, and are absorbed by the rounded-statistic
grain away from grain boundaries: (a) seeding priorities use pow
(JVM Math.pow vs numpy ** may differ by 1 ulp before the 9dp round);
(b) Lloyd means sum in different orders (F.avg's partition fold vs
numpy's pairwise mean) so the pre-round doubles can differ by ulps.
Neither has produced an engine mismatch on the pinned suites; both
are called out here because they are channels the exact-rounding fix
cannot close.
"""

from __future__ import annotations

import hashlib
import math
from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np


def md5_uniform_py(key: object, salt: str = "") -> float:
    """Driver-side replica of `_sampling.md5_uniform`: (first 8 hex
    digits of md5(salt || key) + 1) / 2^32, key stringified the way
    Spark casts it (ints print bare, matching ``CAST(key AS STRING)``)."""
    h = hashlib.md5((salt + str(key)).encode("utf-8")).hexdigest()[:8]
    return (int(h, 16) + 1.0) / 4294967296.0


_MAGIC = 6755399441055744.0  # 1.5 * 2^52

# What "fits the driver": the largest pool each operator collects and
# runs here; above it the operator runs its distributed loop.
# `quantize.pq_train`'s training pool (sampling stays the caller's
# explicit choice, see the call site):
DRIVER_TRAIN_CAP = 100_000
# `similarity.kcenter_select`'s candidate pool (the selection is the
# output, so it is never sampled):
DRIVER_SELECT_CAP = 1_000_000


# quantize() needs headroom over the default 28-digit context only in
# principle (a double's shortest repr is <= 17 significant digits, +9
# fractional = 26); a shared 60-digit context removes the ceiling
# without paying localcontext()'s thread-local swap per call
_DEC_CTX = Context(prec=60)
_QUANTA: dict[int, Decimal] = {}


def round_spark_scalar(x: float, dp: int) -> float:
    """One double through Spark's F.round semantics: HALF_UP at ``dp``
    decimals over the SHORTEST decimal repr of the value —
    BigDecimal.valueOf(x).setScale(dp, HALF_UP).doubleValue(), with
    Python's repr standing in for Double.toString (both emit the
    shortest decimal string that round-trips; on midpoint-adjacent
    values pre-JDK-19 Double.toString may carry extra digits, but the
    extra digits are beyond the round-trip boundary and cannot cross a
    dp-level midpoint the shortest repr doesn't).  Non-finite values
    pass through (F.round(NaN)=NaN, F.round(±Inf)=±Inf)."""
    if not math.isfinite(x) or abs(x) >= 2.0**52:
        # non-finite passes through; |x| >= 2^52 has ulp >= 1, so the
        # value is an integer and rounding at dp >= 0 is the identity
        return x
    q = _QUANTA.get(dp)
    if q is None:
        q = _QUANTA.setdefault(dp, Decimal(1).scaleb(-dp))
    return float(
        Decimal(repr(x)).quantize(
            q, rounding=ROUND_HALF_UP, context=_DEC_CTX
        )
    )


def round_spark(a: np.ndarray, dp: int) -> np.ndarray:
    """``F.round(col, dp)``, vectorized and bit-equal to Spark.

    Fast path: scale by 10^dp, round half-even via the 2^52
    magic-constant add/subtract (exact for |scaled| < 2^51), unscale.
    This numpy build's rint/floor take a non-SIMD libm path (~0.6
    µs/element — it made rounding 84% of a 100k-row k=256 training);
    the magic add is ~125× faster.  Half-even-on-binary and Spark's
    HALF_UP-on-decimal-repr can disagree ONLY when the decimal value
    D = shortest_repr(x)·10^dp sits at or within error of a
    half-integer the fast path's t = fl(x·10^dp) also brushes;
    |t − D| ≤ ½ulp(t) + ½ulp(x)·10^dp ≤ |t|·2⁻⁵² (2 relative ulps),
    so lanes whose fractional offset from the nearest half-integer
    exceeds a 4-ulp band — one SCALAR threshold from the max
    already computed for the magic-add guard, conservative for every
    smaller lane — provably agree, and only the handful inside the
    band (≈2·10⁻⁵ of uniform lanes, exactly the dyadic-rational hits
    on real data) re-round through the exact `round_spark_scalar`
    path.  Arrays containing |scaled| ≥ 2^51 or non-finite lanes
    (where the magic add is not exact) go scalar lane-wise."""
    a = np.asarray(a, dtype=np.float64)
    scale = 10.0**dp
    with np.errstate(over="ignore", invalid="ignore"):
        t = a * scale
    # one max-reduction guard (False on NaN → fallback), not a per-lane
    # mask: the mask's abs/compare/invert/any cost 4 extra array passes
    # and dominated the rounding itself
    mx = float(np.max(np.abs(t), initial=0.0))
    if not mx < 2**51:
        # rare: huge or non-finite lanes present — exact lane-wise
        return np.array(
            [round_spark_scalar(float(x), dp) for x in a.ravel()]
        ).reshape(a.shape)
    r = t + _MAGIC
    r -= _MAGIC
    # |frac offset from nearest half-integer|, in place: t is not
    # needed again, so it hosts the scratch passes
    d = t
    d -= r
    np.abs(d, out=d)
    d -= 0.5
    np.abs(d, out=d)
    near = d <= mx * 2.0**-50 + 1e-15
    out = r
    out /= scale
    if near.any():
        flat = a.ravel()
        of = out.ravel()
        for i in np.flatnonzero(near.ravel()):
            of[i] = round_spark_scalar(float(flat[i]), dp)
    return out


def _round9(a: np.ndarray) -> np.ndarray:
    return round_spark(a, 9)


def _d2_round9(X: np.ndarray, cw: list[float] | np.ndarray) -> np.ndarray:
    """Rounded squared L2 distance from every row of X to one codeword
    — the exact arithmetic of `quantize._fold_sq`: acc starts at 0.0
    and adds each (x_d - y_d)² LEFT TO RIGHT, then rounds to 9dp."""
    acc = np.zeros(X.shape[0])
    for d in range(X.shape[1]):
        t = X[:, d] - cw[d]
        acc = acc + t * t
    return _round9(acc)


def _d2_matrix(X: np.ndarray, book: list[list[float]]) -> np.ndarray:
    """(n, k) rounded distances to every codeword, accumulated DIM BY
    DIM over (row-chunk × codewords) blocks: each element's sum is
    the same left-to-right fold as `_d2_round9` (0 + t₀² + t₁² + …,
    in-place add included), so values are identical — but the work
    runs as dsub passes over cache-sized blocks instead of k·dsub
    whole-column passes (k× less call overhead) or dsub full-matrix
    passes (whose n×k temporaries are memory-bandwidth-bound at a
    10⁵-row, k=256 sample)."""
    C = np.asarray(book, dtype=np.float64)
    n, k = X.shape[0], C.shape[0]
    out = np.empty((n, k))
    step = max(1, (1 << 22) // max(k, 1))  # ~4M-double blocks
    for lo in range(0, n, step):
        Xb = X[lo : lo + step]
        acc = np.zeros((Xb.shape[0], k))
        t = np.empty_like(acc)
        for d in range(X.shape[1]):
            np.subtract(Xb[:, d, None], C[None, :, d], out=t)
            np.multiply(t, t, out=t)
            acc += t
        out[lo : lo + step] = _round9(acc)
    return out


def _seed_book(
    X: np.ndarray, u: np.ndarray, k: int
) -> list[list[float]]:
    """`quantize._kmeanspp_seed_books`, one subspace: seed 0 is the
    min-key row (rows arrive key-sorted, so row 0); each later hop
    holds an Efraimidis-Spirakis race — priority = round(u **
    (1/dmin), 9) where dmin is the ROUNDED min squared distance to the
    codewords so far, candidates need priority > 0, max priority wins,
    min key breaks ties (first occurrence on key-sorted rows).  A hop
    with no candidate marks the subspace done; its remaining slots pad
    with copies of codeword 0 (memberless under the lowest-index
    argmin, re-synced by every Lloyd refill — nothing drifts)."""
    book = [[float(x) for x in X[0]]]
    dmin = _d2_round9(X, X[0])
    done = False
    for _ in range(k - 1):
        if done:
            book.append(list(book[0]))
            continue
        with np.errstate(over="ignore", under="ignore"):
            pri = np.where(
                dmin > 0,
                _round9(u ** (1.0 / np.where(dmin > 0, dmin, 1.0))),
                -1.0,
            )
        cand = pri > 0
        if not cand.any():
            done = True
            book.append(list(book[0]))
            continue
        i = int(np.argmax(np.where(cand, pri, -np.inf)))
        book.append([float(x) for x in X[i]])
        # incremental min == the SQL battery's array_min over all
        # codewords: per-codeword distances are rounded before the min
        dmin = np.minimum(dmin, _d2_round9(X, X[i]))
    return book


def _refill_empty(
    X: np.ndarray,
    book: list[list[float]],
    empties: list[int],
) -> list[list[float]]:
    """`quantize._refill_empty_cells`, one subspace: each empty slot
    takes the point FARTHEST from the just-updated codebook (rounded
    min distance, min-key tiebreak), distances FROZEN at the post-mean
    codebook, already-used points excluded; once nothing refillable
    remains (dmin == 0 everywhere left), this and all later empty
    slots re-sync to codeword 0's current value."""
    if not empties:
        return book
    dmin = _d2_matrix(X, book).min(axis=1)
    used = np.zeros(X.shape[0], dtype=bool)
    todo = list(empties)
    while todo:
        c = todo.pop(0)
        ok = (dmin > 0) & ~used
        if not ok.any():
            for cc in [c] + todo:
                book[cc] = list(book[0])
            break
        i = int(np.argmax(np.where(ok, dmin, -np.inf)))
        book[c] = [float(x) for x in X[i]]
        used[i] = True
    return book


def kcenter_np(
    keys: list,
    X: np.ndarray,
    k: int,
    dist_dp: int,
) -> list[tuple[int, object, float | None]]:
    """Driver-side replica of `similarity.kcenter_select`'s in-engine
    greedy loop over a gathered (keys, float64 matrix) pool (NULL
    vector elements arrive as NaN from the Arrow gather): key-sort,
    seed = min key (radius None), then per hop pick the candidate
    with the max ROUNDED min-distance-to-centers (ascending-key
    tiebreak — first occurrence on key-sorted arrays), remove it from
    the candidate pool, and `least`-update dmin against the new
    center.  Distances are the exact `vectors.sqdist` left-to-right
    fold rounded with Spark's F.round semantics, so picks, ranks, and
    radii are identical to the sql engine.  NaN distance lanes (NULL
    elements → NULL distances there) sort last in the argmax and
    never overwrite dmin, matching Spark's desc-nulls-last ordering
    and null-skipping `least`.  Returns the [(sel_rank, key, radius)]
    list the caller frames."""
    n = len(keys)
    if n == 0 or k < 1:
        return []
    order = sorted(range(n), key=keys.__getitem__)
    keys = [keys[i] for i in order]
    X = np.asarray(X, dtype=np.float64)[order]
    # transpose ONCE: the fold walks dimensions, and column slices of
    # a row-major matrix are 8-byte-strided (measured 0.26 s/hop at
    # 200k×64 — the whole traversal's cost); XT[d] is contiguous
    XT = np.ascontiguousarray(X.T)

    def d2(center: np.ndarray) -> np.ndarray:
        acc = np.zeros(n)
        for d in range(XT.shape[0]):
            t = XT[d] - center[d]
            acc = acc + t * t
        return round_spark(acc, dist_dp)

    selected: list[tuple[int, object, float | None]] = [(1, keys[0], None)]
    alive = np.ones(n, dtype=bool)
    alive[0] = False
    dmin = d2(X[0])
    for rank in range(2, min(k, n) + 1):
        order_key = np.where(np.isnan(dmin), -np.inf, dmin)
        # restrict the argmax to ALIVE lanes: masking dead lanes with
        # -inf is not enough, because when every alive candidate's dmin
        # is NaN (all-NULL-element vectors) alive and dead lanes tie at
        # -inf and np.argmax would return index 0 — an already-selected
        # center, emitting duplicate keys and fabricated radii (ADVICE
        # r10).  First-occurrence over the key-sorted alive subset is
        # exactly the sql engine's desc-nulls-last + ascending-key pick.
        idx = np.flatnonzero(alive)
        i = int(idx[np.argmax(order_key[idx])])
        picked = dmin[i]
        selected.append(
            (rank, keys[i], None if np.isnan(picked) else float(picked))
        )
        alive[i] = False
        nd = d2(X[i])
        # least() skips NULLs: a NaN new distance keeps the old dmin,
        # and a NaN old dmin is replaced by a real new distance
        dmin = np.where(
            np.isnan(nd), dmin, np.where(np.isnan(dmin), nd, np.minimum(dmin, nd))
        )
    return selected


def pq_train_np(
    rows: list,
    m: int,
    k: int,
    dsub: int,
    iters: int,
    round_dp: int,
) -> list[list[list[float]]]:
    """Full trainer over the collected (key, v0..v{m-1}) frame:
    key-sort (Spark's orderBy on the same values), then per subspace
    k-means++ seeding + `iters` Lloyd rounds — assignment by
    lowest-index argmin over ROUNDED distances, means ROUNDED to
    ``round_dp`` with Spark's exact rounding semantics (the summation
    ORDER under the round still differs — F.avg's partition fold vs
    numpy's pairwise mean — a tolerance-level channel the module doc
    calls out; the 1e-6 grain absorbs it away from grain boundaries),
    empty slots refilled per `_refill_empty`.  Subspaces never
    interact, so the SQL path's batched per-scan aggregates and this
    per-subspace loop compute identical books."""
    rows = sorted(rows, key=lambda r: r["key"])
    keys = [r["key"] for r in rows]
    books: list[list[list[float]]] = []
    for s in range(m):
        X = np.array([r[f"v{s}"] for r in rows], dtype=np.float64)
        u = np.array(
            [md5_uniform_py(key, f"kpp{s}:") for key in keys]
        )
        book = _seed_book(X, u, k)
        for _ in range(iters):
            codes = np.argmin(_d2_matrix(X, book), axis=1)
            empties: list[int] = []
            newbook: list[list[float]] = []
            for c in range(k):
                members = codes == c
                if members.any():
                    newbook.append(
                        [
                            float(x)
                            for x in round_spark(
                                X[members].mean(axis=0), round_dp
                            )
                        ]
                    )
                else:
                    newbook.append(list(book[c]))
                    empties.append(c)
            book = _refill_empty(X, newbook, empties)
        books.append(book)
    return books
