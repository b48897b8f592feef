"""Semantic (embedding-space) corpus deduplication — the SemDeDup-style
composite an LLM data pipeline runs end-to-end: cluster the embedding
space, find near-duplicate pairs INSIDE each cluster, collapse pair
chains to components, keep one representative per component.

Pipeline (every stage is an existing scale-shaped operator):

  1. cell assignment — argmax-cosine against a deterministic centroid
     set (similarity.assign_cells; centroids are the num_cells
     smallest-key vectors, the q23 IVF scheme — a real deployment
     k-means them, the mechanics are identical). One map pass.
  2. in-cell exact pairs — embedding_near_dups(block_col="cell_id"):
     candidates come from the cell equi-join, verification is the JVM
     zip_with cosine. Blocking by cell bounds candidate volume to
     sum_c(n_c^2); cross-cell near-dups are deliberately out of scope
     (that is the recall/cost dial — more cells = cheaper + lower
     recall, same trade SemDeDup makes).
  3. connected components over the pair graph (pointer-jumping min-
     label, O(log diameter) rounds).
  4. keep-list: every vector that is not a non-canonical member of a
     component (vertex != component loses; the minimum key of each
     cluster and every unpaired vector survive). One anti join, sized
     by AQE (the loser set scales with the corpus dup rate).

At 100 TB: stage 2's per-cell pair volume is the only quadratic term
and num_cells tunes it; stages 1/4 are map passes and 3 runs on the
(tiny) pair graph, so the composite inherits the blocking guarantees
of its parts — never all-pairs, never a driver gather beyond the
num_cells centroid rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .components import connected_components
from .dedup import embedding_near_dups
from .similarity import assign_cells


def semantic_dedup_keep(
    df: DataFrame,
    threshold: float = 0.4,
    num_cells: int = 16,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
) -> DataFrame:
    """Keep-list after in-cell semantic near-dup removal: one row per
    surviving ``key_col``. Deterministic: centroid set, argmax ties,
    pair emission, and component minima are all key-ordered.

    NULL embeddings are excluded from centroid selection (a NULL among
    the smallest keys would crash init) and, like zero-norm vectors
    (whose cosine is undefined → NULL cell_id → no cell join), can
    never be marked duplicates — every such row survives in the
    keep-list, since "semantically duplicate" is undefined for them."""
    centroids = [
        [float(x) for x in r[0]]
        for r in df.where(F.col(vec_col).isNotNull())
        .select(vec_col, key_col)
        .orderBy(F.col(key_col).asc())
        .limit(num_cells)
        .collect()
    ]
    if not centroids:
        return df.select(key_col)  # no usable vectors: keep everything
    assigned = assign_cells(df, centroids, vec_col)
    pairs = embedding_near_dups(
        assigned,
        vec_col=vec_col,
        key_col=key_col,
        threshold=threshold,
        block_col="cell_id",
    )
    cc = connected_components(pairs)
    losers = cc.where(F.col("vertex") != F.col("component")).select(
        F.col("vertex").alias(key_col)
    )
    # no broadcast hint: the loser set scales with the corpus dup rate,
    # so let AQE pick broadcast-vs-shuffle from its measured size
    out = df.select(key_col).join(losers, key_col, "left_anti")
    # propagate the pair stage's persisted prep frame so release(out)
    # frees it (caller-unpersists contract)
    from .dedup import _with_cached_deps

    return _with_cached_deps(out, pairs)
