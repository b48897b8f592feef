"""Plan shapes of registered queries, one TSV line per query.

    python tools/plans.py [query ...] [--out DIR] [--md]

Columns: build_s (seconds to build the DataFrame; builders that run
work at build time, such as streaming drains and index builds, pay it
here), shuffle Exchanges, BroadcastExchanges, join operators, Python
evaluation nodes, and flags: CARTESIAN (a CartesianProduct), ROW_UDF
(a row-at-a-time BatchEvalPython) and MANY_SHUFFLES (5 or more
shuffle Exchanges).  With no query named it covers every registered
query in registry order.

--out DIR writes each query's explain("formatted") to DIR/<query>.txt.
--md runs each query and prints its AQE-final executed plan, trimmed
to scans, pushdown, exchanges, joins, aggregates, sorts and windows
with expression ids stripped, as a markdown section instead of the
TSV line.  It writes no file: paste the sections you want into
PLANS.md by hand.

Test data: $SPARK_GRAFT_SF_DIR, else the sf0.001 set next to
$ORACLE_SF_DIR.  The session is get_spark()'s default.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(TOOLS))
sys.path.insert(0, TOOLS)

from _decade_common import data_dir, export_repo_to_workers  # noqa: E402

# explain("formatted") prints the operator tree ("+- Exchange (5)")
# and then one numbered detail header per operator ("(5) Exchange"):
# every count reads the headers only.
SHUFFLE = re.compile(r"\(\d+\) Exchange\b")
BROADCAST = re.compile(r"\(\d+\) BroadcastExchange\b")
JOIN = re.compile(
    r"\(\d+\) (\w*(?:HashJoin|MergeJoin|NestedLoopJoin|CartesianProduct))"
)
PYTHON = re.compile(r"\(\d+\) (\w*(?:Python|InPandas|InArrow)\w*)")
# the --md excerpt keeps these lines of the executed plan's tree string
KEEP = re.compile(
    r"Scan parquet|PushedFilters|ReadSchema|Exchange|Broadcast|Join|"
    r"HashAggregate|Sort(?!MergeJoin)|Window|TakeOrdered|InMemory"
)
EXPR_ID = re.compile(r"#\d+L?")


def summarize(plan: str) -> dict:
    """Shape of one explain("formatted") string."""
    shuffles = len(SHUFFLE.findall(plan))
    joins = sorted(set(JOIN.findall(plan)))
    python = sorted(set(PYTHON.findall(plan)))
    flags = []
    if "CartesianProduct" in joins:
        flags.append("CARTESIAN")
    if "BatchEvalPython" in python:
        flags.append("ROW_UDF")
    if shuffles >= 5:
        flags.append("MANY_SHUFFLES")
    return {
        "exchanges": shuffles,
        "broadcasts": len(BROADCAST.findall(plan)),
        "joins": joins,
        "py": python,
        "flags": flags,
    }


def trim(plan: str, max_lines: int = 28) -> str:
    """The --md excerpt of an executed plan's tree string."""
    lines = [ln.rstrip() for ln in plan.splitlines() if KEEP.search(ln)]
    out = [EXPR_ID.sub("", ln)[:100] for ln in lines[:max_lines]]
    if len(lines) > max_lines:
        out.append(f"... ({len(lines) - max_lines} more plan nodes)")
    return "\n".join(out)


def _row(name: str, build_s, shape: dict) -> str:
    cells = [name, str(build_s), str(shape["exchanges"]), str(shape["broadcasts"])]
    cells += [",".join(shape[k]) or "-" for k in ("joins", "py", "flags")]
    return "\t".join(cells)


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("queries", nargs="*", help="registered query names")
    ap.add_argument("--out", metavar="DIR", help="write explain dumps here")
    ap.add_argument("--md", action="store_true", help="print markdown excerpts")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from cloud_native_medical_data_etl_pipeline_spark.operators.dedup import release
    from cloud_native_medical_data_etl_pipeline_spark.session import get_spark

    registry = entry_mod.queries()
    unknown = [q for q in args.queries if q not in registry]
    if unknown:
        ap.error(f"not registered: {', '.join(unknown)}")
    sf = data_dir("sf0.001")
    if args.out:
        os.makedirs(args.out, exist_ok=True)
    export_repo_to_workers()
    spark = get_spark(app_name="plans")
    spark.sparkContext.setLogLevel("ERROR")

    if not args.md:
        print("query\tbuild_s\texchanges\tbroadcasts\tjoins\tpy\tflags")
    for name in args.queries or registry:
        t0 = time.perf_counter()
        try:
            df = registry[name](spark, sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            msg = " ".join(f"{type(e).__name__}: {e}".split())[:250]
            print(f"{name}\tERR\t-\t-\t-\t-\t{msg}")
            continue
        build_s = round(time.perf_counter() - t0, 2)
        if args.out:
            with open(os.path.join(args.out, f"{name}.txt"), "w") as fh:
                fh.write(plan)
        if args.md:
            df.collect()  # let AQE finalize the plan it actually ran
            executed = df._jdf.queryExecution().executedPlan().toString()
            print(f"## {name}\n\n```\n{trim(executed)}\n```\n")
        else:
            print(_row(name, build_s, summarize(plan)), flush=True)
        release(df)


if __name__ == "__main__":
    main()
