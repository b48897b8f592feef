#!/usr/bin/env python
"""Measured decade evidence for the IVF-PQ probe path (r11 verdict
task 6, evidence-only — no kernel changes).

Claim under test: `ivfpq_topk_indexed` probe cost tracks
nprobe × cell-size, NOT corpus size — the partition-pruned scan reads
only the probed cell partitions, so growing the corpus 10× while
scaling num_cells 10× (constant cell size, the 100 TB operating rule)
keeps per-query probe cost flat, while growing the corpus 10× at
FIXED num_cells grows it ~10× (cells get 10× fatter).

Three index configurations over sf0.1 embeddings (2,000 × dim-64) and
a 10× shifted-key replica (20,000):

  A  1× corpus, 16 cells, nprobe=4   (baseline: ~nprobe/16 of corpus)
  B  10× corpus, 16 cells, nprobe=4  (fat cells: probe rows ~10× A)
  C  10× corpus, 160 cells, nprobe=4 (cells re-sized: probe rows ~ A)

For each config the index is built once (one-time cost, reported),
then the probe runs one untimed execution followed by N timed
consecutive reps; per-rep input records/bytes and shuffle bytes come
from the status REST API (cumulative completed-stage deltas / N).
PartitionFilters presence is asserted from the executed plan.

Run: `python tools/probe_decade.py` (writes one JSON line to stdout).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(TOOLS))
sys.path.insert(0, TOOLS)

from pyspark.sql import functions as F  # noqa: E402

from cloud_native_medical_data_etl_pipeline_spark.operators.quantize import (  # noqa: E402
    build_ivfpq_index,
    ivfpq_topk_indexed,
)
from cloud_native_medical_data_etl_pipeline_spark.session import get_spark  # noqa: E402

from _decade_common import (  # noqa: E402
    delta as _delta,
    export_repo_to_workers,
    parse_cli,
    sf_dir,
    stage_totals as _stage_totals,
)

SF_DIR = sf_dir("sf0.1")
REPS = 3
NPROBE = 4
M, K, PQ_ITERS, TRAIN_ITERS = 8, 16, 2, 2


def main():
    export_repo_to_workers()
    spark = get_spark(
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    emb1 = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n1 = emb1.count()
    root = tempfile.mkdtemp(prefix="probe_decade_")
    results = {}
    try:
        # 10x corpus: shifted-key replicas (identical payload bytes —
        # probe COST is layout/size-driven, not value-driven)
        ten = emb1
        for i in range(1, 10):
            ten = ten.unionByName(
                emb1.select(
                    (F.col("vec_id") + F.lit(i * n1)).alias("vec_id"),
                    "embedding",
                )
            )
        p10 = f"{root}/emb10x"
        ten.write.mode("overwrite").parquet(p10)
        emb10 = spark.read.parquet(p10)
        n10 = emb10.count()

        qv = [
            float(x)
            for x in emb1.where(F.col("vec_id") == 0).first()["embedding"]
        ]
        configs = [
            ("A_1x_16cells", emb1, n1, 16),
            ("B_10x_16cells", emb10, n10, 16),
            ("C_10x_160cells", emb10, n10, 160),
        ]
        for label, corpus, n, cells in configs:
            path = f"{root}/{label}"
            t0 = time.perf_counter()
            build_ivfpq_index(
                corpus,
                path,
                num_cells=cells,
                train_iters=TRAIN_ITERS,
                m=M,
                k=K,
                pq_iters=PQ_ITERS,
                residual=True,
            )
            build_s = round(time.perf_counter() - t0, 2)

            probe = lambda: ivfpq_topk_indexed(  # noqa: E731
                spark, path, qv, k=10, nprobe=NPROBE
            )
            plan = (
                probe()._jdf.queryExecution().executedPlan().toString()
            )
            assert "PartitionFilters" in plan, label
            probe().collect()  # untimed warm-up
            before = _stage_totals(spark)
            t0 = time.perf_counter()
            for _ in range(REPS):
                probe().collect()
            wall = (time.perf_counter() - t0) / REPS
            d = _delta(before, _stage_totals(spark))
            results[label] = {
                "corpus_rows": n,
                "num_cells": cells,
                "nprobe": NPROBE,
                "build_sec": build_s,
                "probe_sec": round(wall, 4),
                "probe_input_records": d["inputRecords"] // REPS,
                "probe_input_bytes": d["inputBytes"] // REPS,
                "probe_shuffle_bytes": (d["shuffleRead"] + d["shuffleWrite"])
                // REPS,
            }
            print(f"  {label}: {results[label]}", file=sys.stderr)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({"ivfpq_probe_decade": results}))


if __name__ == "__main__":
    parse_cli(__doc__)
    main()
