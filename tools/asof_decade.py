#!/usr/bin/env python
"""Measured decade evidence for the as-of join (`operators/joins.py:
asof_join` — q29's engine; evidence-only, no kernel changes).

Claim under test (SCALING.md "Window operators"): the union-then-window
shape shuffles |left| + |right| rows exactly ONCE on the key — per-key
state is O(1) (last-carry-forward), so cost is linear in total rows —
where a per-key range join explodes to O(|l|×|r|) candidate pairs per
key before pruning.  10× rows should therefore cost ~10× shuffle bytes
and ~linear wall, with exactly one hash exchange in the executed plan,
at ANY per-key density — including the hot-key shape (many rows on few
keys) that breaks the range-join formulation quadratically.

Setup: synthetic trade/quote-like frames generated distributed
(`spark.range` arithmetic).  Two shapes per size: UNIFORM (1,000 rows
per key) and HOT (100,000 rows per key — 100× denser; a range join
would face 10¹⁰ candidate pairs per key here).  Correctness of the
output is not re-proven (q29's oracle + the r12 brute-force fuzz own
that); this harness records the cost SHAPE: wall, shuffle bytes/row,
and the single-exchange plan property.

Run: `python tools/asof_decade.py` (one JSON line to stdout).
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

from cloud_native_medical_data_etl_pipeline_spark.operators.joins import (  # noqa: E402
    asof_join,
)
from cloud_native_medical_data_etl_pipeline_spark.session import get_spark  # noqa: E402

from _decade_common import (  # noqa: E402
    delta as _delta,
    export_repo_to_workers,
    parse_cli,
    stage_totals as _stage_totals,
)

REPS = 3


def _frames(spark, n_rows, rows_per_key):
    # left: one event per id; right: one state change per id, earlier ts
    left = spark.range(n_rows).select(
        (F.col("id") % F.lit(max(1, n_rows // rows_per_key))).alias("key"),
        (F.col("id") * 7 % 1_000_000_000).alias("ts"),
        F.col("id").alias("lid"),
    )
    right = spark.range(n_rows).select(
        (F.col("id") % F.lit(max(1, n_rows // rows_per_key))).alias("key"),
        (F.col("id") * 13 % 1_000_000_000).alias("ts"),
        F.col("id").alias("rid"),
    )
    return left.localCheckpoint(), right.localCheckpoint()


def main():
    export_repo_to_workers()
    spark = get_spark(
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    results = {}
    for label, n_rows, per_key in (
        ("A_1x_2M_uniform", 2_000_000, 1_000),
        ("B_10x_20M_uniform", 20_000_000, 1_000),
        ("C_10x_20M_hotkeys", 20_000_000, 100_000),
    ):
        left, right = _frames(spark, n_rows, per_key)
        df = asof_join(
            left, right, on="key", left_ts="ts", right_ts="ts",
            left_keep=["lid"], right_payload=["rid"],
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the scale property: ONE hash exchange total — the union
        # rides a single (key)-partitioned window, no join explosion
        n_exchanges = plan.split("== Initial Plan ==")[0].count(
            "Exchange hashpartitioning"
        )
        assert n_exchanges == 1, (label, n_exchanges)

        consume = lambda: df.agg(  # noqa: E731
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("key", "ts", "lid", "r_rid")).alias("c"),
        ).first()["n"]
        out_rows = consume()  # untimed warm-up
        assert out_rows == n_rows, (label, out_rows)
        before = _stage_totals(spark)
        t0 = time.perf_counter()
        for _ in range(REPS):
            consume()
        wall = (time.perf_counter() - t0) / REPS
        d = _delta(before, _stage_totals(spark))
        shuffle = (d["shuffleRead"] + d["shuffleWrite"]) // REPS
        results[label] = {
            "rows_each_side": n_rows,
            "rows_per_key": per_key,
            "wall_sec": round(wall, 3),
            "shuffle_bytes": shuffle,
            "shuffle_bytes_per_input_row": round(shuffle / (2 * n_rows), 1),
            "exchanges_in_plan": n_exchanges,
        }
        print(f"  {label}: {results[label]}", file=sys.stderr)
    # the decade claims, asserted: shuffle scales with rows (not
    # pairs) and is indifferent to per-key density
    a, b, c = (results[k] for k in sorted(results))
    assert b["shuffle_bytes"] < 15 * a["shuffle_bytes"], (a, b)
    assert 0.5 < c["shuffle_bytes"] / b["shuffle_bytes"] < 2.0, (b, c)
    print(json.dumps({"asof_decade": results}))


if __name__ == "__main__":
    parse_cli(__doc__)
    main()
