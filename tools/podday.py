"""Reference-shaped cold ETL day: two checkouts, fresh processes, 2 CPUs.

    python tools/podday.py A B [--pairs N]

A and B are paths of two checkouts of this repository (e.g. a
``git archive`` of the parent commit and the working tree).  Each run
is what one day's batch job pays in a driver pod sized like the
reference's (2 CPUs, at most 2 GiB): a fresh Python process, pinned
with ``taskset -c 0,1`` and started with ``SPARK_GRAFT_CPUS=2`` and a
2 GB driver heap, imports the checkout's package, starts a session
with ``get_spark`` (``local[2]``, 2 shuffle partitions through
``SPARK_SHUFFLE_PARTITIONS``, the warehouse in the run's directory,
every other setting the product default) and runs the pod's entry
point on one raw day: ``cli.main(["transform", ...])``, its two
``take(1)`` probes of the raw partitions included.  The day is
perfbench's ``etl_day_large`` day, generated once by
``perfbench/gen.py``, so both sides read the same bytes.

Each pair runs A and B once; the side that runs first alternates from
pair to pair, so host drift hits both alike.  Per run it prints
set-up (interpreter start to a usable session) and cold-day wall
seconds, their sum, the CPU seconds of the process tree in each, the
peak RSS (VmHWM) of the Python process and of the driver JVM, and the
share of the host's CPU stolen by the hypervisor meanwhile.  At the end it
prints each side's median and quartiles and in how many pairs B's
set-up plus cold day was faster.  A run whose day does not end in
status ``success`` exits the tool with code 1.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

T_START = time.perf_counter()

TOOLS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TOOLS)
sys.path.insert(0, TOOLS)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

import gen  # noqa: E402
import procstat  # noqa: E402
from _decade_common import export_repo_to_workers  # noqa: E402
from run import WORKLOADS  # noqa: E402

CPUS = "0,1"
WORKLOAD, SEED = "etl_day_large", 1
FIELDS = (
    ("setup_s", "{:.2f}"),
    ("cold_s", "{:.2f}"),
    ("total_s", "{:.2f}"),
    ("setup_cpu_s", "{:.1f}"),
    ("cold_cpu_s", "{:.1f}"),
    ("py_rss_mb", "{:.0f}"),
    ("jvm_rss_mb", "{:.0f}"),
)


def child(checkout: str, input_base: str, date: str, out: str) -> None:
    """One run: set-up and the cold day in this fresh process."""
    sys.path.insert(0, checkout)
    export_repo_to_workers(checkout)
    from cloud_native_medical_data_etl_pipeline_spark import cli
    from cloud_native_medical_data_etl_pipeline_spark.session import get_spark

    # the session `cli transform` asks for, started here so that set-up
    # ends before the day; the CLI's own get_spark call gets it back
    spark = get_spark(app_name=f"transform-{date}")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    cpu1 = procstat.tree_cpu_s(os.getpid())
    argv = ["transform", "--date", date, "--input-base", input_base]
    argv += ["--output-base", os.path.join(out, "lake")]
    with contextlib.redirect_stdout(io.StringIO()) as printed:
        cli.main(argv)
    result = json.loads(printed.getvalue().strip().splitlines()[-1])
    t2 = time.perf_counter()
    cpu2 = procstat.tree_cpu_s(os.getpid())
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    sample = {
        "status": result["status"],
        "setup_s": t1 - T_START,
        "cold_s": t2 - t1,
        "total_s": t2 - T_START,
        "setup_cpu_s": cpu1,
        "cold_cpu_s": cpu2 - cpu1,
        "py_rss_mb": procstat.peak_rss_mb([os.getpid()]),
        "jvm_rss_mb": procstat.peak_rss_mb([jvm_pid]),
    }
    print(json.dumps(sample), flush=True)
    spark.stop()


def run_side(checkout: str, input_base: str, date: str, work: str) -> dict:
    """One fresh pinned process for ``checkout``; its sample."""
    out = tempfile.mkdtemp(prefix="run-", dir=work)
    env = dict(os.environ)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    env.update(
        SPARK_GRAFT_CPUS="2",
        SPARK_SHUFFLE_PARTITIONS="2",
        SPARK_DRIVER_MEMORY="2g",
        SPARK_WAREHOUSE_DIR=os.path.join(out, "warehouse"),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        PYSPARK_PYTHON=sys.executable,
    )
    cmd = ["taskset", "-c", CPUS, sys.executable, os.path.abspath(__file__)]
    cmd += ["--child", checkout, input_base, date, out]
    host0 = procstat.host_cpu_ticks()
    try:
        proc = subprocess.run(cmd, env=env, cwd=out, capture_output=True, text=True, timeout=600)
    finally:
        steal = procstat.steal_share(host0, procstat.host_cpu_ticks())
        shutil.rmtree(out, ignore_errors=True)
    if proc.returncode != 0:
        raise RuntimeError(f"{checkout}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    sample = json.loads(proc.stdout.strip().splitlines()[-1])
    sample["steal"] = steal
    return sample


def _line(label: str, sample: dict) -> str:
    cells = [f"{name} {fmt.format(sample[name])}" for name, fmt in FIELDS]
    return f"{label}: " + ", ".join(cells) + f", steal {sample['steal']:.1%}, {sample['status']}"


def _spread(values: list[float], fmt: str) -> str:
    if len(values) < 2:
        return fmt.format(values[0])
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return f"{fmt.format(q2)} [{fmt.format(q1)}-{fmt.format(q3)}]"


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("a", metavar="A", nargs="?", help="checkout path")
    ap.add_argument("b", metavar="B", nargs="?", help="checkout path")
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--child", nargs=4, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.child:
        child(*args.child)
        return 0
    if not (args.a and args.b):
        ap.error("A and B are required")

    sides = {"A": os.path.abspath(args.a), "B": os.path.abspath(args.b)}
    work = tempfile.mkdtemp(prefix="podday-")
    samples: dict[str, list[dict]] = {"A": [], "B": []}
    try:
        date = gen.write_day(work, SEED, 0, WORKLOADS[WORKLOAD].size)
        print(f"# {WORKLOAD} seed {SEED}, day {date}; taskset -c {CPUS}, local[2], 2g driver")
        for name, path in sides.items():
            print(f"# {name} = {path}")
        for pair in range(args.pairs):
            order = ("A", "B") if pair % 2 == 0 else ("B", "A")
            for name in order:
                sample = run_side(sides[name], work, date, work)
                samples[name].append(sample)
                print(_line(f"pair {pair + 1} {name}", sample), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name in sides:
        cells = [
            f"{field} {_spread([s[field] for s in samples[name]], fmt)}" for field, fmt in FIELDS
        ]
        print(f"{name} median [q1-q3]: " + ", ".join(cells))
    wins = sum(b["total_s"] < a["total_s"] for a, b in zip(samples["A"], samples["B"]))
    print(f"B's set-up plus cold day faster in {wins} of {args.pairs} pairs")
    ok = all(s["status"] == "success" for side in samples.values() for s in side)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
