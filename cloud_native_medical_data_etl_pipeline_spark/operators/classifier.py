"""In-engine learned quality classifier (logistic regression via
full-batch gradient descent).

The heuristic quality filters in this repo (`functions/text.py`
quality_score, gopher_quality_flags — reference parity for
`data_quality.py`'s rule checks) stop at hand-set thresholds.  Modern
training-data pipelines (CCNet, fastText quality filters, FineWeb-Edu)
*learn* the keep/drop boundary from weak labels instead.  This module
trains that model inside the engine: features and labels are computed
as ordinary columns, and each gradient-descent step is ONE map-side
sufficient-statistics aggregate — the d+1 gradient components are the
only bytes that leave the executors per iteration, so the cost at
100 TB is `iterations` scans of a narrow cached feature frame, never a
collect of data rows.  (Spark MLlib's LogisticRegression has the same
treeAggregate shape; it is not used here because its L-BFGS path is
not bit-reproducible across engines, and this repo's oracle contract
needs DuckDB to replay training exactly.)

Determinism contract (cross-engine oracle parity, same playbook as
`graph.py` pagerank):

- fixed iteration count — training is a closed form, not a
  convergence loop;
- per-row sigmoids are ROUNDED (``sigma_dp``) so libm-exp ulp noise
  cannot reach the gradient sums at more than rounding-grain size;
- gradient components are ROUNDED (``grad_dp``) after the mean, so fp
  summation-order noise re-synchronizes every step;
- the learning rate must be a power of two: ``w - lr*g`` is then an
  EXACT IEEE-754 scaling + one correctly-rounded subtraction, so the
  Python driver update here and the oracle's SQL update produce
  bit-identical weights;
- the dot product is evaluated in fixed left-to-right association
  ``((b + w1*f1) + w2*f2) + ...`` on both engines.

Features must themselves be cross-engine-exact: integer counts,
integer-by-integer ratios (one correctly-rounded division), or
power-of-two scalings of integers.  `featurize_documents` builds such
a frame for the documents table.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as X
from ._common import col_ref


def featurize_documents(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 40,
    max_tokens: int = 300,
    alpha_pct: int = 82,
) -> DataFrame:
    """``(key, f1, f2, f3, y)`` training frame from raw documents.

    Every column is exactly reproducible in ANSI SQL: token /
    alpha-char counts are integers; f1 and f2 scale integers by powers
    of two (exact in binary floating point); f3 is one correctly-
    rounded integer division followed by a fixed center-and-scale.
    The weak label y is a pure integer-arithmetic rule (no float
    threshold): docs inside the token-count band whose alpha-character
    share is at least ``alpha_pct``% are "good" — the same
    length/alpha intuition as the Gopher rules (q113), here serving as
    weak supervision rather than the final verdict.

    Feature geometry matters for a LINEAR model: f2 is the distance to
    the band midpoint (so the band rule becomes one-sided, hence
    linearly separable), and f3 centers the alpha ratio at the rule
    threshold and scales by 64 — the raw ratio only spans ~0.81-0.83
    on this corpus, invisible to GD at unit scale.
    """
    s = F.coalesce(col_ref(content_col), F.lit(""))
    nt = X.token_count(s)
    nc = F.length(s).cast("long")
    na = F.length(F.regexp_replace(s, "[^A-Za-z]", "")).cast("long")
    band_mid = (min_tokens + max_tokens) // 2
    alpha_center = alpha_pct / 100.0
    return df.select(
        col_ref(id_col).alias("key"),
        (nt / F.lit(64.0)).alias("f1"),
        (F.abs(nt - F.lit(band_mid)) / F.lit(128.0)).alias("f2"),
        F.when(nc > 0, (na / nc - F.lit(alpha_center)) * F.lit(64.0))
        .otherwise(F.lit(0.0))
        .alias("f3"),
        F.when(
            nt.between(min_tokens, max_tokens)
            & (na * 100 >= nc * alpha_pct),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("y"),
    )


def _dot(weights: Sequence[float], features: Sequence[str]):
    """Fixed left-to-right ((b + w1*f1) + w2*f2) + ... association —
    the oracle SQL must be written in the same order."""
    z = F.lit(float(weights[0]))
    for w, c in zip(weights[1:], features):
        z = z + F.lit(float(w)) * F.col(c)
    return z


def train_logreg(
    feat: DataFrame,
    features: Sequence[str] = ("f1", "f2", "f3"),
    label: str = "y",
    lr: float = 2.0,
    iterations: int = 32,
    sigma_dp: int = 10,
    grad_dp: int = 8,
) -> list[float]:
    """Full-batch gradient descent; returns ``[bias, w1, ..., wd]`` —
    the in-engine loop the q135 oracle replays.

    Each step is one aggregate producing d+1 doubles (map-side
    combine, constant shuffle bytes in corpus size) — grad_j =
    round(mean((sigma_i - y_i) * x_ij), grad_dp).  The feature frame
    should be cached/localCheckpoint-ed by the caller when iterating
    over a derived plan (`quality_classifier_scores` does).
    """
    if lr <= 0 or (math.log2(lr) != int(math.log2(lr))):
        raise ValueError(f"lr must be a positive power of two, got {lr}")
    from ._iterate import iterate_fixed

    def step(w: list[float]):
        sig = F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-_dot(w, features))), sigma_dp
        )
        err = sig - F.col(label)
        aggs = [
            F.round(F.coalesce(F.avg(err), F.lit(0.0)), grad_dp).alias("g0")
        ] + [
            F.round(
                F.coalesce(F.avg(err * F.col(c)), F.lit(0.0)), grad_dp
            ).alias(f"g{i + 1}")
            for i, c in enumerate(features)
        ]
        return feat.agg(*aggs).collect()[0]

    def update(w: list[float], g) -> list[float]:
        # exact power-of-two scaling + one correctly-rounded subtract:
        # bit-identical to the oracle's SQL `w - lr*g`
        return [wi - lr * g[f"g{i}"] for i, wi in enumerate(w)]

    return iterate_fixed([0.0] * (len(features) + 1), iterations, step, update)


def score_logreg(
    feat: DataFrame,
    weights: Sequence[float],
    features: Sequence[str] = ("f1", "f2", "f3"),
    sigma_dp: int = 10,
    round_dp: int = 6,
) -> DataFrame:
    """Map-side scoring: adds ``p`` (rounded sigmoid) and ``pred``
    (p >= 0.5) to the feature frame.  Pure codegen expressions — at
    serving scale this folds into whatever scan feeds it."""
    p = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-_dot(weights, features))), sigma_dp
    )
    return feat.select(
        "key",
        F.col("y"),
        F.round(p, round_dp).alias("p"),
        (p >= 0.5).cast("int").alias("pred"),
    )


def quality_classifier_scores(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    lr: float = 2.0,
    iterations: int = 32,
    train_sample_mod: int | None = None,
) -> DataFrame:
    """End-to-end: featurize -> train (GD, driver sees only d+1
    scalars per step) -> score every document with the learned model.

    The feature frame is localCheckpoint-ed once so the `iterations`
    gradient aggregates and the final scoring pass all reuse the same
    materialized narrow frame instead of re-deriving the regex counts
    from raw text each step.

    ``train_sample_mod`` is the 100 TB lever: train on the
    deterministic 1/mod hash-sample of documents (pure function of the
    key — stable under repartitioning, same rule as q43's hash split)
    while still SCORING every document.  A 4-parameter model's
    gradient saturates at ~10^4 rows; running 32 aggregate passes over
    10^11 rows to estimate it is pure waste.  None trains on the full
    corpus (the oracle-checked configuration).
    """
    feat = featurize_documents(df, content_col, id_col).localCheckpoint()
    train = feat
    if train_sample_mod is not None:
        if train_sample_mod < 1:
            raise ValueError(f"train_sample_mod must be >= 1, got {train_sample_mod}")
        from ._sampling import hash_sample

        train = hash_sample(feat, "key", train_sample_mod)
    w = train_logreg(train, lr=lr, iterations=iterations)
    return score_logreg(feat, w)
