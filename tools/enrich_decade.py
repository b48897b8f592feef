#!/usr/bin/env python
"""Measured scale evidence for the containment-enrichment centerpiece
(J1, q02).

Claim under test (SCALING.md "Containment enrichment"): the broadcast
NLJ's cost is |indications| × |conditions| exact containment
comparisons — fine while the condition summary broadcasts, quadratic
at corpus scale.

Synthetic frames: the vocabulary is fixed-width tokens 'w'+5 digits.
60% of indications are contiguous 2-word slices of a condition phrase
(guaranteed matches), 40% are arbitrary 2-word phrases (mostly
non-matches).

Sizes: 20k×20k with a 2k-word vocabulary (400M NLJ comparisons) and
100k×100k with a 20k-word vocabulary (10¹⁰ comparisons, 25×). Timed
consumption is a checksum aggregate over EVERY output column — a
bare count() lets Catalyst eliminate the final left join (key-unique
aggregated right side, no referenced columns) and times nothing.
Wall is one untimed warm-up then min-of-2.

Run: `python tools/enrich_decade.py` (one JSON line to stdout).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cloud_native_medical_data_etl_pipeline_spark.operators import enrich  # noqa: E402
from cloud_native_medical_data_etl_pipeline_spark.session import get_spark  # noqa: E402

from _decade_common import export_repo_to_workers, parse_cli  # noqa: E402

REPS = 2


def _word(expr, vocab):
    return F.format_string("w%05d", F.pmod(expr, F.lit(vocab)))


def _frames(spark, n_drugs, n_conds, vocab):
    # condition c -> phrase "w(3c) w(3c+1) w(3c+2)"; one trial per row
    ct = spark.range(n_conds).select(
        F.format_string("NCT%07d", F.col("id")).alias("nct_id"),
        F.concat_ws(
            " ",
            _word(F.col("id") * 3, vocab),
            _word(F.col("id") * 3 + 1, vocab),
            _word(F.col("id") * 3 + 2, vocab),
        ).alias("conditions_clean"),
        ((F.col("id") % 500) + 1).cast("double").alias("enrollment_count"),
        (F.col("id") % 2 == 0).alias("is_completed"),
    )
    # drug j: 60% take the (w(3c+1), w(3c+2)) slice of condition
    # c = j mod n_conds (aligned containment guaranteed), 40% an
    # arbitrary pair (accidental aligned matches allowed)
    base = spark.range(n_drugs)
    m = F.col("id") % 10 < 6
    c = F.col("id") % n_conds
    fda = base.select(
        F.format_string("R%08d", F.col("id")).alias("safetyreportid"),
        F.format_string("DRUG%06d", F.col("id")).alias("drug_name_clean"),
        F.when(
            m,
            F.concat_ws(" ", _word(c * 3 + 1, vocab), _word(c * 3 + 2, vocab)),
        )
        .otherwise(
            F.concat_ws(
                " ",
                _word(F.col("id") * 5, vocab),
                _word(F.col("id") * 5 + 7, vocab),
            )
        )
        .alias("drug_indication"),
        ((F.col("id") % 7) + 1.0).alias("severity_score"),
        (F.col("id") % 11 == 0).cast("long").alias("seriousnessdeath"),
        (F.col("id") % 5 == 0).cast("long").alias("seriousnesshospitalization"),
    )
    return fda.localCheckpoint(), ct.localCheckpoint()


def _run(fn):
    collected = fn().collect()
    rows = sorted(tuple(r) for r in collected)
    matched = sum(1 for r in collected if (r["trial_count"] or 0) > 0)

    def _consume():
        # checksum over EVERY column: a bare count() lets Catalyst
        # eliminate the final left join outright (the aggregated right
        # side is key-unique and unreferenced), timing nothing
        df = fn()
        df.agg(
            F.sum(F.xxhash64(*[F.col(c) for c in df.columns])).alias("c")
        ).first()

    _consume()  # untimed warm-up of the real plan
    walls = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        _consume()
        walls.append(time.perf_counter() - t0)
    return rows, matched, round(min(walls), 3)


def main():
    export_repo_to_workers()
    spark = get_spark(master="local[32]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    results = {}
    for label, n, vocab in (
        ("20k_x_20k_vocab2k", 20_000, 2_000),
        ("100k_x_100k_vocab20k", 100_000, 20_000),
    ):
        fda, ct = _frames(spark, n, n, vocab)
        nlj_rows, matched, nlj_s = _run(lambda: enrich.enrich(fda, ct))
        results[label] = {
            "vocab": vocab,
            "nlj_comparisons": n * n,
            "enrich_nlj_sec": nlj_s,
            "out_rows": len(nlj_rows),
            "drugs_with_matches": matched,
        }
        print(f"  {label}: {results[label]}", file=sys.stderr)
    print(json.dumps({"enrich_decade": results}))


if __name__ == "__main__":
    parse_cli(__doc__)
    main()
