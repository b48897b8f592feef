"""Interleaved A/B of two query variants in one Spark session.

    python tools/ab.py A B [--reps N] [--conf key=value ...]

A and B are each a registered query name or a builder given as
``path/to/file.py:function``, where ``function(spark, sf_dir)`` returns
a DataFrame.  Keep candidate variants in a scratch file of your own;
the registered query is the other side.

1. Identity: both sides are collected and compared as sorted rows
   (column names included).  A mismatch prints the first differing
   rows and exits 1 before anything is timed.
2. Warm-up: each side runs twice untimed (page cache, codegen, JIT).
3. Reps: each rep times both sides, from building the DataFrame
   through bench.consume_full (row count plus a checksum over every
   column, so Catalyst cannot prune the plan).  The side that runs
   first alternates from rep to rep, so host drift hits both alike.

It prints the core count, each rep, per-side median and minimum, and
in how many reps A was faster.  --conf sets extra session confs for
both sides.

Test data: $SPARK_GRAFT_SF_DIR, else the sf0.1 set next to
$ORACLE_SF_DIR.  The session is get_spark()'s default.
"""

from __future__ import annotations

import argparse
import importlib.util
import os
import statistics
import sys
import time
from collections import Counter

TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(TOOLS))
sys.path.insert(0, TOOLS)

from _decade_common import data_dir, export_repo_to_workers  # noqa: E402


def resolve(spec: str, registry: dict):
    """The builder named by ``spec``: a key of ``registry`` or
    ``file.py:function``."""
    path, _, func = spec.rpartition(":")
    if path.endswith(".py"):
        name = os.path.splitext(os.path.basename(path))[0]
        mod_spec = importlib.util.spec_from_file_location(name, path)
        mod = importlib.util.module_from_spec(mod_spec)
        mod_spec.loader.exec_module(mod)
        fn = getattr(mod, func, None)
        if not callable(fn):
            raise ValueError(f"{path} defines no function {func!r}")
        return fn
    if spec not in registry:
        raise ValueError(
            f"{spec!r} is neither a registered query nor file.py:function"
        )
    return registry[spec]


def _rows(df) -> list[str]:
    return sorted(map(repr, df.collect()))


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("a", metavar="A")
    ap.add_argument("b", metavar="B")
    ap.add_argument("--reps", type=int, default=10)
    ap.add_argument("--conf", action="append", default=[], metavar="KEY=VALUE")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod

    registry = entry_mod.queries()
    try:
        sides = {"A": resolve(args.a, registry), "B": resolve(args.b, registry)}
    except ValueError as e:
        ap.error(str(e))
    if any("=" not in c for c in args.conf):
        ap.error("--conf takes key=value")
    extra = dict(c.split("=", 1) for c in args.conf)

    from bench import consume_full
    from cloud_native_medical_data_etl_pipeline_spark.operators.dedup import release
    from cloud_native_medical_data_etl_pipeline_spark.session import get_spark

    sf = data_dir("sf0.1")
    export_repo_to_workers()
    spark = get_spark(app_name="ab", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    print(
        f"cores={spark.sparkContext.defaultParallelism} sf_dir={sf} "
        f"conf={extra or '-'}\nA={args.a}\nB={args.b}"
    )

    def run(side, consume):
        t0 = time.perf_counter()
        df = sides[side](spark, sf)
        out = consume(df)
        wall = time.perf_counter() - t0
        release(df)
        return wall, out

    rows = {side: run(side, _rows)[1] for side in sides}
    if rows["A"] != rows["B"]:
        a, b = Counter(rows["A"]), Counter(rows["B"])
        print(
            f"MISMATCH: A {len(rows['A'])} rows, B {len(rows['B'])} rows\n"
            f"only in A: {list((a - b).elements())[:5]}\n"
            f"only in B: {list((b - a).elements())[:5]}"
        )
        sys.exit(1)
    print(f"identical: {len(rows['A'])} rows")

    for side in ("A", "B", "A", "B"):
        run(side, consume_full)
    walls = {"A": [], "B": []}
    for rep in range(args.reps):
        order = ("A", "B") if rep % 2 == 0 else ("B", "A")
        for side in order:
            walls[side].append(run(side, consume_full)[0])
        print(
            f"rep {rep + 1}: {order[0]} first  "
            f"A={walls['A'][-1]:.3f}s B={walls['B'][-1]:.3f}s"
        )
    for side in sides:
        print(
            f"{side}: median={statistics.median(walls[side]):.3f}s "
            f"min={min(walls[side]):.3f}s"
        )
    a_wins = sum(a < b for a, b in zip(walls["A"], walls["B"]))
    print(f"A faster in {a_wins} of {args.reps} reps")


if __name__ == "__main__":
    main()
