"""Regenerate PLANS.md: physical-plan evidence for representative
queries — scan pushdown, join strategies, and exchange counts, the
properties the plan-shape tests assert. Run from the repo root:

    python tools/dump_plans.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from _decade_common import parse_cli, sf_dir  # noqa: E402

SF_DIR = os.environ.get("PLANS_SF_DIR", sf_dir("sf0.01"))

# query -> the scale property its plan demonstrates
PICKS = {
    "q01_pricing_summary": "ship-date filter and 7-column projection "
    "reach the parquet scan; partial aggregation before the one shuffle",
    "q02_containment_enrich": "the containment theta-join broadcasts the "
    "pre-aggregated condition summary (BroadcastNestedLoopJoin on the "
    "small side only)",
    "q10_ship_delay": "large equi-join shuffles both fact sides once; "
    "AQE handles partition sizing",
    "q20_embedding_near_dups": "OR-amplified banded sign-LSH near-dup: "
    "per-band buckets exploded and hash-partitioned, pair generation + "
    "cosine verify group-local (FlatMapGroupsInPandas) — no cartesian, "
    "no driver gather",
    "q27_top_revenue": "filtered dimension broadcasts; top-k is "
    "TakeOrderedAndProject, never a global sort",
    "q29_asof_attribution": "as-of join as union+window: exactly one "
    "Exchange, no range-join pair blowup",
    "q47_regional_supplier_volume": "6-way join: every dim broadcast, "
    "fact-fact joins shuffle, date filter pushed to scan",
    "q56_stratified_sample": "sampling is a map-side filter folded into "
    "the scan stage — zero shuffle before the final aggregation",
    "q58_segment_spend_tiers": "spend pre-aggregation shrinks the window "
    "input to one row per customer; ntile costs one segment shuffle",
}

KEEP = re.compile(
    r"Scan parquet|PushedFilters|ReadSchema|Exchange|Broadcast|Join|"
    r"HashAggregate|Sort(?!MergeJoin)|Window|TakeOrdered|InMemory",
)


def _trim(plan: str, max_lines: int = 28) -> str:
    lines = [
        ln.rstrip()
        for ln in plan.splitlines()
        if KEEP.search(ln)
    ]
    out = []
    for ln in lines[:max_lines]:
        ln = re.sub(r"#\d+L?", "", ln)  # strip expr ids for readability
        out.append(ln[:100])
    if len(lines) > max_lines:
        out.append(f"... ({len(lines) - max_lines} more plan nodes)")
    return "\n".join(out)


def main() -> None:
    from cloud_native_medical_data_etl_pipeline_spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()

    chunks = [
        "# PLANS — physical-plan evidence (generated by tools/dump_plans.py)",
        "",
        f"Executed-plan excerpts at `{SF_DIR}` (joins, exchanges, scans,",
        "pushdown lines only; expression ids stripped). The same",
        "properties are ASSERTED in `tests/test_plans.py` — this file is",
        "the human-readable version. Regenerate after plan-affecting",
        "changes: `python tools/dump_plans.py`.",
        "",
    ]
    for name, why in PICKS.items():
        df = queries[name](spark, SF_DIR)
        df.collect()  # let AQE finalize the plan it actually ran
        plan = df._jdf.queryExecution().executedPlan().toString()
        chunks += [
            f"## {name}",
            "",
            f"*{why}.*",
            "",
            "```",
            _trim(plan),
            "```",
            "",
        ]
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(chunks))
    print("wrote PLANS.md")


if __name__ == "__main__":
    parse_cli(__doc__)
    main()
