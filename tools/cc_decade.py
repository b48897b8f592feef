#!/usr/bin/env python
"""Measured decade evidence for pointer-jumping connected components
(q57's engine — evidence-only, no kernel changes).

Two claims under test, both currently property-tested but not
REST-measured (SCALING.md:191, components.py:13-30):

1. Rounds = O(log diameter), not O(diameter). A D-node path graph is
   the worst case (diameter D-1); min-label propagation alone needs
   D-1 rounds, pointer jumping needs ~log2(D). Sweep D = 512 / 2048 /
   8192: rounds must grow by ~+2 per 4x depth, nowhere near 4x.

2. Per-round cost is the narrow (vertex, label) frame, never the
   corpus payload. A near-dup-shaped graph (many small clusters,
   shallow diameter) at 1x and 10x vertices: rounds must stay FLAT
   (diameter unchanged), while wall/shuffle grow ~linearly with the
   vertex count — the 100 TB shape, where cluster diameter is a
   property of the dedup threshold, not the corpus size.

Edges are generated distributed (spark.range + column arithmetic, no
driver-side lists). Wall is one untimed warm-up then mean-of-REPS
consecutive reps; shuffle bytes are cumulative completed-stage REST
deltas / REPS (the probe_decade.py methodology).

Run: `python tools/cc_decade.py` (writes one JSON line to stdout).
"""

from __future__ import annotations

import json
import os
import sys
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(TOOLS))
sys.path.insert(0, TOOLS)

from pyspark.sql import functions as F  # noqa: E402

from cloud_native_medical_data_etl_pipeline_spark.operators.components import (  # noqa: E402
    connected_components,
)
from cloud_native_medical_data_etl_pipeline_spark.session import get_spark  # noqa: E402

from _decade_common import (  # noqa: E402
    export_repo_to_workers,
    parse_cli,
    stage_totals as _stage_totals,
)

REPS = 3



def _path_edges(spark, n):
    """One n-node path: 0-1-2-...-(n-1). Diameter n-1."""
    return spark.range(n - 1).select(
        F.col("id").alias("key_a"), (F.col("id") + 1).alias("key_b")
    )


def _cluster_edges(spark, n_vertices, cluster_size):
    """n_vertices/cluster_size disjoint paths of cluster_size nodes —
    the near-dup-graph shape: component diameter fixed at
    cluster_size-1 regardless of how many clusters (corpus size)."""
    return (
        spark.range(n_vertices)
        .where((F.col("id") % cluster_size) != cluster_size - 1)
        .select(F.col("id").alias("key_a"), (F.col("id") + 1).alias("key_b"))
    )


def _measure(spark, edges, expect_components):
    edges = edges.localCheckpoint()  # freeze the generator out of the loop
    stats: dict = {}
    cc = connected_components(edges, stats=stats)
    got = cc.select(F.countDistinct("component")).first()[0]
    assert got == expect_components, (got, expect_components)
    before = _stage_totals(spark)
    t0 = time.perf_counter()
    for _ in range(REPS):
        # per-rep stats: assert every TIMED run converges in the same
        # round count as the verification run instead of silently
        # assuming it (ADVICE r12) — deterministic algorithm, so a
        # mismatch here means the harness, not noise
        rep_stats: dict = {}
        connected_components(edges, stats=rep_stats).count()
        assert rep_stats["rounds"] == stats["rounds"], (
            rep_stats["rounds"],
            stats["rounds"],
        )
    wall = (time.perf_counter() - t0) / REPS
    after = _stage_totals(spark)
    return {
        "rounds": stats["rounds"],
        "wall_sec": round(wall, 3),
        "shuffle_bytes": (
            after["shuffleRead"]
            + after["shuffleWrite"]
            - before["shuffleRead"]
            - before["shuffleWrite"]
        )
        // REPS,
    }


def main():
    export_repo_to_workers()
    spark = get_spark(
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    results = {"diameter_sweep": {}, "vertex_decade": {}}

    # claim 1: rounds ~ log2(diameter)
    for depth in (512, 2048, 8192):
        r = _measure(spark, _path_edges(spark, depth), 1)
        results["diameter_sweep"][f"path_{depth}"] = r
        print(f"  path_{depth}: {r}", file=sys.stderr)

    # claim 2: 10x vertices at fixed cluster diameter
    for label, nv in (("1x_50k", 50_000), ("10x_500k", 500_000)):
        r = _measure(
            spark, _cluster_edges(spark, nv, 10), nv // 10
        )
        results["vertex_decade"][label] = r
        print(f"  clusters_{label}: {r}", file=sys.stderr)

    print(json.dumps({"cc_decade": results}))


if __name__ == "__main__":
    parse_cli(__doc__)
    main()
