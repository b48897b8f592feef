"""Shared fixed-iteration training skeleton.

The engine's three in-engine training loops — IVF k-means
(`similarity.train_ivf_centroids`), PQ Lloyd (`quantize.pq_train`),
and logistic-regression GD (`classifier.train_logreg`) — are the same
shape, and their determinism contract lives HERE so it cannot drift
per kernel:

* the model state (centroids / codebooks / weights) is driver-side
  METADATA — small by construction, inlined into the next step's
  expressions as literals; the corpus never carries model state;
* each step runs ONE distributed aggregate whose output is
  metadata-sized (map-side combinable — constant shuffle bytes in
  corpus size) and collects it;
* the update is pure driver arithmetic on ROUNDED statistics: means /
  gradients are rounded before reuse, because raw float sums drift by
  ulps with summation order (partitioning, engine), and the rounding
  grain is what lets a plain-SQL oracle replay training to
  bit-identical state (the q23 / q135 / q137 unrolled-CTE oracles);
* the iteration count is FIXED — no data-dependent convergence test,
  which would itself be summation-order-sensitive.

The PQ trainer additionally has a driver-side numpy executor
(`_kmeans_np.pq_train_np`, which it runs while the training pool fits
`_kmeans_np.DRIVER_TRAIN_CAP`) bound to the SAME contract: identical
fold orders, roundings, and tiebreaks, unit- and property-pinned
exactly equal to the in-engine loop.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TypeVar

S = TypeVar("S")
R = TypeVar("R")


def iterate_fixed(
    state: S,
    iters: int,
    step: Callable[[S], R],
    update: Callable[[S, R], S],
) -> S:
    """Run ``iters`` rounds of ``state = update(state, step(state))``.

    ``step`` executes the distributed aggregate(s) for the current
    state and returns the collected, metadata-sized statistics;
    ``update`` folds them into the next state with rounded driver
    arithmetic.  Trivial on purpose: the value is the single
    documented contract above, not the control flow.
    """
    for _ in range(iters):
        state = update(state, step(state))
    return state
