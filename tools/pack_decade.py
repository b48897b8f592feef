#!/usr/bin/env python
"""Measured evidence for the two sequence packers (r14 — q63's kernel
conversion added `pack_sequences_shelf`; this harness records the
trade the packing.py docstring claims, with throughput at decade
scale).

The trade under test:

* FFD (`pack_sequences`, the default): bins respect the budget
  exactly and documents are never split, at the cost of PADDING —
  in-budget utilization = tokens-in-budget-bins / (budget-respecting
  bins × budget) < 1 (over-budget docs are closed singleton bins by
  contract and excluded from the metric).  Arrow batch per xxhash
  group.
* Shelf (`pack_sequences_shelf`, the oracle-exact kernel): the
  concat-and-split layout fills every token position (utilization
  ≈ 1 by construction, group tails aside), at the cost of SPLITS —
  a doc whose start offset + length crosses a budget boundary is cut
  across training sequences; the split fraction is the quality
  metric.  Pure JVM window plan.

Both are one shuffle on the group key; the decade question is whether
wall scales linearly in docs and whether the quality metrics are
corpus-size-independent (they are functions of the length
distribution, not of N).

Corpus: deterministic synthetic lengths from spark.range arithmetic —
90% short docs (20–500 tokens), 10% long (1,000–3,800) — under a
2,048-token budget, groups sized ~4k docs.

Run: `python tools/pack_decade.py` (one JSON line to stdout).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cloud_native_medical_data_etl_pipeline_spark.operators.packing import (  # noqa: E402
    pack_sequences,
    pack_sequences_shelf,
)
from cloud_native_medical_data_etl_pipeline_spark.session import get_spark  # noqa: E402

from _decade_common import export_repo_to_workers, parse_cli  # noqa: E402

REPS = 2
BUDGET = 2048


def _corpus(spark, n, path):
    # 90% short (20..500), 10% long (1000..3800) — xxhash-derived so
    # the distribution is stable at any N
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 10 < 9,
            F.pmod(F.xxhash64("id"), F.lit(481)) + 20,
        )
        .otherwise(F.pmod(F.xxhash64("id", F.lit(1)), F.lit(2801)) + 1000)
        .cast("long")
        .alias("n_tokens"),
    )
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _timed(fn):
    fn()
    walls = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        res = fn()
        walls.append(time.perf_counter() - t0)
    return round(min(walls), 3), res


def main():
    import shutil
    import tempfile

    export_repo_to_workers()
    spark = get_spark(master="local[32]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="pack_decade_")
    results = {}
    try:
        for label, n in (("1x_200k", 200_000), ("10x_2M", 2_000_000)):
            toks = _corpus(spark, n, f"{root}/{label}")
            groups = max(1, n // 4096)

            def run_ffd():
                packed = pack_sequences(
                    toks, budget=BUDGET, num_groups=groups
                )
                # utilization over the BUDGET-RESPECTING bins only:
                # docs longer than the budget become closed singleton
                # bins by contract (the caller truncates or drops
                # them), so counting their excess tokens as "packed"
                # would report utilization > 1
                row = (
                    packed.groupBy("pack_id")
                    .agg(F.sum("n_tokens").alias("t"), F.count(F.lit(1)).alias("d"))
                    .agg(
                        F.count(F.lit(1)).alias("bins"),
                        F.sum("t").alias("tokens"),
                        F.sum(F.when(F.col("t") > BUDGET, 1).otherwise(0)).alias(
                            "oversized"
                        ),
                        F.sum(
                            F.when(F.col("t") <= BUDGET, F.col("t")).otherwise(0)
                        ).alias("in_budget_tokens"),
                    )
                    .first()
                )
                return row

            def run_shelf():
                packed = pack_sequences_shelf(
                    toks, budget=BUDGET, num_groups=groups, with_offset=True
                )
                # a doc SPLITS when its in-shelf offset + length
                # crosses the budget boundary — the kernel's
                # pack_offset makes the test explicit
                row = (
                    packed.select(
                        "n_tokens",
                        "pack_id",
                        (
                            F.col("pack_offset") + F.col("n_tokens") > BUDGET
                        ).alias("split"),
                    )
                    .agg(
                        F.count(F.lit(1)).alias("docs"),
                        F.sum("n_tokens").alias("tokens"),
                        F.count_distinct("pack_id").alias("shelves"),
                        F.sum(F.col("split").cast("long")).alias("split_docs"),
                    )
                    .first()
                )
                return row

            ffd_wall, f_row = _timed(run_ffd)
            shelf_wall, s_row = _timed(run_shelf)
            total_tokens = int(f_row["tokens"])
            assert total_tokens == int(s_row["tokens"])  # same corpus
            in_budget_bins = int(f_row["bins"]) - int(f_row["oversized"])
            util = int(f_row["in_budget_tokens"]) / (in_budget_bins * BUDGET)
            results[label] = {
                "docs": n,
                "total_tokens": total_tokens,
                "ffd": {
                    "wall_sec": ffd_wall,
                    "bins": int(f_row["bins"]),
                    "oversized_singletons": int(f_row["oversized"]),
                    "in_budget_utilization": round(util, 4),
                    "docs_per_sec": round(n / ffd_wall),
                },
                "shelf": {
                    "wall_sec": shelf_wall,
                    "shelves": int(s_row["shelves"]),
                    "split_docs": int(s_row["split_docs"]),
                    "split_frac": round(int(s_row["split_docs"]) / n, 4),
                    "docs_per_sec": round(n / shelf_wall),
                },
            }
            print(f"  {label}: {results[label]}", file=sys.stderr)

        a, b = results["1x_200k"], results["10x_2M"]
        # quality metrics are length-distribution properties, not
        # functions of N: both must be corpus-size-independent (±2pp)
        assert (
            abs(
                a["ffd"]["in_budget_utilization"]
                - b["ffd"]["in_budget_utilization"]
            )
            < 0.02
        ), (a, b)
        assert abs(a["shelf"]["split_frac"] - b["shelf"]["split_frac"]) < 0.02, (
            a,
            b,
        )
        # both packers scale: 10x docs may not cost more than ~20x wall
        # (generous: absorbs fixed overhead amortization both ways)
        assert b["ffd"]["wall_sec"] < 20 * max(a["ffd"]["wall_sec"], 0.2), (a, b)
        assert b["shelf"]["wall_sec"] < 20 * max(a["shelf"]["wall_sec"], 0.2), (
            a,
            b,
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({"pack_decade": results}))


if __name__ == "__main__":
    parse_cli(__doc__)
    main()
