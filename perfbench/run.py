"""Benchmark of the daily medical ETL: one day's ``pipeline.run`` on
synthetic raw JSON days, end to end and per module.

    python3 perfbench/run.py --workload etl_day_large --seed 1 --seconds 16 --trace 0

Run it from the repository root. One driver process runs the workload
on ``local[4]`` with four shuffle partitions, as a closed loop with one
caller: each op is one day pushed through ``plans.pipeline.backfill``
with a loader that reads the raw day via ``sources.lake.read_partition``
(the ``cli transform`` read path). The first day in the fresh session
is the cold op and the next one a warm-up that no metric counts. A
fixed number of timed warm days follows: ``--seconds`` divided by the workload's warm
op time on a 4-CPU host, so the same arguments always measure the same
work. All raw days are generated from ``--seed`` before the first op
starts.

Every day is checked against an independent DuckDB replay of the
transform and enrichment (``oracle.py``): the run's status, its record
counts, and the processed partition read back from the lake. An op
fails when it raises, when its status is not ``success`` or when a
check fails.

Lines starting with ``#`` describe the run; the last line is the JSON
result. ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (from timing wrappers around the modules' public
functions and from Spark's event log).
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cloud_native_medical_data_etl_pipeline_spark"
sys.path.insert(0, HERE)

import gen  # noqa: E402
import probe  # noqa: E402
import procstat  # noqa: E402


@dataclass(frozen=True)
class Workload:
    size: gen.DaySize
    # warm op time on a 4-CPU host; a run times --seconds / op_s warm days
    op_s: float


# why each workload exists is in BENCHMARK.json and README.md
WORKLOADS = {
    "etl_day_large": Workload(
        gen.DaySize(events=6_000, trials=600, drugs=800, conditions=600), op_s=4.0
    ),
    "etl_backfill_small": Workload(
        gen.DaySize(events=2_000, trials=200, drugs=300, conditions=150), op_s=3.8
    ),
}

# fresh-process set-ups per untraced run; setup_s is their median
SETUP_SAMPLES = 2

# days between the cold day and the timed ones; the JIT compilers are
# busiest on them
WARMUP_DAYS = 1

# Work is measured in CPU seconds of the driver's process tree. Wall
# times are printed on the # lines only: hypervisor steal and busy
# neighbours on a shared host stretch them, and in sets of ten runs of
# the same code the cold day's wall time spread up to 28 % and the warm
# days' rows per wall second up to 22 %, their CPU figures 4-10 %.
END_TO_END = {
    "setup_s": "s",
    "cold_cpu_s": "s",
    "rows_per_cpu_s": "1/s",
    "peak_rss_mb": "MB",
}

# wrapped public functions: (module path, attribute) -> layer metric
WRAPPED = {
    ("sources.lake", "read_partition"): "sources.lake.read_partition_s",
    ("operators.transforms", "transform_fda_events"): "operators.transforms.s",
    ("operators.transforms", "transform_clinical_trials"): "operators.transforms.s",
    ("operators.enrich", "enrich"): "operators.enrich.s",
    ("sources.lake", "write_partitioned"): "sources.lake.write_partitioned_s",
    ("sources.lake", "write_csv_head"): "sources.lake.write_csv_head_s",
    ("operators.quality", "run_quality_checks"): "operators.quality.run_quality_checks_s",
}
COUNT_LAYER = "plans.pipeline.count_s"

PER_LAYER = {
    "session.get_spark_s": "s",
    "entry.import_s": "s",
    **{name: "s/day" for name in WRAPPED.values()},
    COUNT_LAYER: "s/day",
    "pipeline.jobs_per_day": "count/day",
    "spark.bnlj_stage_run_s": "s/day",
    "spark.jobs": "count/day",
    "spark.tasks": "count/day",
    "spark.executor_run_s": "s/day",
    "spark.executor_cpu_s": "s/day",
    "spark.jvm_gc_s": "s/day",
    "spark.input_bytes": "B/day",
    "spark.output_bytes": "B/day",
    "spark.shuffle_write_bytes": "B/day",
    "spark.shuffle_read_bytes": "B/day",
    "spark.spill_bytes": "B/day",
    "driver.gap_s": "s/day",
    "spark.slot_util": "ratio",
    "jvm.jit_compile_s": "s/day",
    "traced.rows_per_cpu_s": "1/s",
    "traced.rows_per_s": "1/s",
    "traced.op_p50_s": "s",
    "traced.cold_s": "s",
}


def tail_percentile(n: int) -> float | None:
    """Highest of p99.9, p99 and p90 that has at least ten of ``n``
    samples beyond it, or None when even p90 has fewer."""
    for p, tail_permille in ((99.9, 1), (99, 10), (90, 100)):
        if n * tail_permille >= 10_000:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(p / 100 * len(ordered)) - 1)]


class Tracer:
    """Time-and-tag wrappers around the ETL modules' public functions.

    Each wrapped call runs under a job group named after its layer, so
    the event log attributes its jobs; its wall time is added to the
    layer while ``active`` is set (the timed warm ops)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.seconds: dict[str, float] = {}
        self.active = False
        self._restore: list[tuple[object, str, object]] = []

    def _tagged(self, layer: str, fn):
        def wrapper(*args, **kwargs):
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(layer, layer)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                if self.active:
                    self.seconds[layer] = self.seconds.get(layer, 0.0) + time.perf_counter() - t0
                self.sc.setLocalProperty("spark.jobGroup.id", prev)

        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        import importlib

        from pyspark.sql.classic.dataframe import DataFrame

        from cloud_native_medical_data_etl_pipeline_spark.plans import pipeline

        for (mod, attr), layer in WRAPPED.items():
            module = importlib.import_module(f"{PACKAGE}.{mod}")
            self._patch(module, attr, self._tagged(layer, getattr(module, attr)))
        # DataFrame.count is timed only while pipeline.run is on the stack:
        # those are the post-write record counts
        count = DataFrame.count
        timed_count = self._tagged(COUNT_LAYER, count)
        run = pipeline.run

        def traced_run(*args, **kwargs):
            self.sc.setLocalProperty("perfbench.in_run", "1")
            DataFrame.count = timed_count
            try:
                return run(*args, **kwargs)
            finally:
                DataFrame.count = count
                self.sc.setLocalProperty("perfbench.in_run", None)

        self._patch(pipeline, "run", traced_run)

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, old = self._restore.pop()
            setattr(owner, attr, old)


@dataclass
class Op:
    index: int
    phase: str  # cold, warmup or warm (timed)
    date: str
    start: float  # epoch seconds
    seconds: float
    cpu_s: float  # the driver's process tree
    jit_s: float  # JIT compilation, summed over the JVM's compiler threads
    steal: float  # share of the host's CPU time stolen
    result: object  # pipeline.RunResult
    failure: str = ""


def phase(index: int) -> str:
    return "cold" if index == 0 else "warmup" if index <= WARMUP_DAYS else "warm"


def run_ops(spark, work: str, seed: int, size: gen.DaySize, warm_days: int, tracer) -> list[Op]:
    """Cold day 0, ``WARMUP_DAYS`` warm-up days, then ``warm_days``
    timed warm days; all raw days are generated before the first op
    starts."""
    from cloud_native_medical_data_etl_pipeline_spark import schemas
    from cloud_native_medical_data_etl_pipeline_spark.plans import pipeline
    from cloud_native_medical_data_etl_pipeline_spark.sources import lake

    raw, out = f"{work}/raw", f"{work}/lake"

    def load(spark, date):
        return (
            lake.read_partition(spark, f"{raw}/fda", date, schema=schemas.FDA_EVENTS, fmt="json"),
            lake.read_partition(
                spark, f"{raw}/clinicaltrials", date, schema=schemas.CLINICAL_TRIALS, fmt="json"
            ),
        )

    dates = [gen.write_day(work, seed, i, size) for i in range(1 + WARMUP_DAYS + warm_days)]
    sc = spark.sparkContext
    # the JVM ends idle compiler threads, so their time is read from the
    # JVM rather than from its threads in /proc
    compilation = sc._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()

    def counters():
        jit_s = compilation.getTotalCompilationTime() / 1000
        return procstat.tree_cpu_s(os.getpid()), jit_s, procstat.host_cpu_ticks()

    ops: list[Op] = []
    for index, date in enumerate(dates):
        sc.setLocalProperty("perfbench.phase", phase(index))
        sc.setLocalProperty("perfbench.op", str(index))
        if tracer is not None:
            tracer.active = phase(index) == "warm"
        start = time.time()
        cpu0, jit0, host0 = counters()
        t0 = time.perf_counter()
        (result,) = pipeline.backfill(spark, [date], load, out)
        took = time.perf_counter() - t0
        cpu1, jit1, host1 = counters()
        steal = procstat.steal_share(host0, host1)
        ops.append(Op(index, phase(index), date, start, took, cpu1 - cpu0, jit1 - jit0, steal, result))
    if tracer is not None:
        tracer.active = False
    sc.setLocalProperty("perfbench.phase", "check")
    sc.setLocalProperty("perfbench.op", None)
    return ops


CHECKSUMS = (
    "adverse_event_count",
    "death_count",
    "hospitalization_count",
    "trial_count",
    "completed_trials",
    "total_enrollment",
    "avg_severity_score",
)


def check_ops(spark, work: str, ops: list[Op]) -> dict[str, dict]:
    """Set ``Op.failure`` on every day whose outputs disagree with the
    DuckDB replay, and return the replay."""
    from pyspark.sql import functions as F

    import oracle

    expected = oracle.expected_days(f"{work}/raw")
    written = {}
    rows = (
        spark.read.parquet(f"{work}/lake/processed")
        .groupBy("year", "month", "day")
        .agg(
            F.count(F.lit(1)).alias("enriched_records"),
            *[F.sum(c).alias(c) for c in CHECKSUMS],
        )
        .collect()
    )
    for r in rows:
        written[f"{r['year']:04d}-{r['month']:02d}-{r['day']:02d}"] = r.asDict()
    for op in ops:
        exp, got, res = expected.get(op.date), written.get(op.date), op.result
        problems = []
        if res.status != "success":
            problems.append(f"status {res.status}")
        if exp is None or got is None:
            problems.append("day missing from the replay or the lake")
        else:
            for key in ("fda_records", "ct_records", "enriched_records"):
                if getattr(res, key) != exp[key]:
                    problems.append(f"{key} {getattr(res, key)} != {exp[key]}")
            if got["enriched_records"] != exp["enriched_records"]:
                problems.append("processed partition row count differs")
            for key in CHECKSUMS:
                if not math.isclose(float(got[key]), float(exp[key]), rel_tol=1e-9, abs_tol=1e-9):
                    problems.append(f"sum({key}) {got[key]} != {exp[key]}")
        op.failure = "; ".join(problems)
    return expected


def layer_metrics(event_log: str, ops: list[Op], tracer: Tracer) -> dict[str, float]:
    import eventlog

    warm = [op for op in ops if op.phase == "warm"]
    n = len(warm)
    jobs = [j for j in eventlog.read_jobs(event_log) if j.props.get("perfbench.phase") == "warm"]
    by_op: dict[str, list] = {}
    for j in jobs:
        by_op.setdefault(j.props.get("perfbench.op"), []).append(j)
    gap_ms = 0.0
    wall_ms = 0.0
    for op in warm:
        lo, hi = op.start * 1000, (op.start + op.seconds) * 1000
        wall_ms += hi - lo
        gap_ms += (hi - lo) - eventlog.covered_ms(by_op.get(str(op.index), []), lo, hi)
    run_ms = sum(j.run_ms for j in jobs)
    out = {name: tracer.seconds.get(name, 0.0) / n for name in set(WRAPPED.values())}
    out[COUNT_LAYER] = tracer.seconds.get(COUNT_LAYER, 0.0) / n
    out.update(
        {
            "pipeline.jobs_per_day": sum(1 for j in jobs if j.props.get("perfbench.in_run")) / n,
            "spark.bnlj_stage_run_s": sum(j.bnlj_run_ms for j in jobs) / 1000 / n,
            "spark.jobs": len(jobs) / n,
            "spark.tasks": sum(j.tasks for j in jobs) / n,
            "spark.executor_run_s": run_ms / 1000 / n,
            "spark.executor_cpu_s": sum(j.cpu_ns for j in jobs) / 1e9 / n,
            "spark.jvm_gc_s": sum(j.gc_ms for j in jobs) / 1000 / n,
            "spark.input_bytes": sum(j.input_bytes for j in jobs) / n,
            "spark.output_bytes": sum(j.output_bytes for j in jobs) / n,
            "spark.shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs) / n,
            "spark.shuffle_read_bytes": sum(j.shuffle_read_bytes for j in jobs) / n,
            "spark.spill_bytes": sum(j.spill_bytes for j in jobs) / n,
            "driver.gap_s": gap_ms / 1000 / n,
            "spark.slot_util": run_ms / (wall_ms * probe.CPUS),
            "jvm.jit_compile_s": sum(op.jit_s for op in warm) / n,
        }
    )
    return out


def setup_samples(work: str, count: int) -> list[dict]:
    """``count`` set-ups, each in a fresh child process, one at a time."""
    samples = []
    for _ in range(count):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "probe.py"), ROOT, work],
            capture_output=True,
            text=True,
            timeout=150,
            check=True,
        )
        samples.append(json.loads(proc.stdout.strip().splitlines()[-1]))
    return samples


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    ):
        print(f"perfbench: {PACKAGE} and __spark_entry__.py must sit next to perfbench/", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        os.environ.update(probe.child_env(work))
        return _run(args, workload, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, workload: Workload, work: str) -> int:
    trace = bool(args.trace)
    size = workload.size
    warm_days = max(1, round(args.seconds / workload.op_s))
    host0 = procstat.host_cpu_ticks()
    samples = [] if trace else setup_samples(work, SETUP_SAMPLES - 1)
    event_dir = os.path.join(work, "eventlog") if trace else None
    spark, own = probe.timed_setup(ROOT, probe.session_conf(work, event_dir))
    samples.append(own)
    tracer = None
    try:
        if trace:
            tracer = Tracer(spark)
            tracer.install()
        ops = run_ops(spark, work, args.seed, size, warm_days, tracer)
        if tracer is not None:
            tracer.uninstall()
        expected = check_ops(spark, work, ops)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = procstat.peak_rss_mb([os.getpid(), jvm_pid])
    finally:
        probe.stop_session(spark)
    steal = procstat.steal_share(host0, procstat.host_cpu_ticks())

    cold = ops[0]
    warm = [op for op in ops if op.phase == "warm"]
    rows = size.events + size.trials
    warm_s = sum(op.seconds for op in warm)
    latencies = [op.seconds for op in warm]
    failed = sum(1 for op in ops if op.failure)
    rows_per_s = rows * len(warm) / warm_s
    rows_per_cpu_s = rows * len(warm) / sum(op.cpu_s for op in warm)
    op_p50 = statistics.median(latencies)

    def say(text: str) -> None:
        print(f"# {text}")

    say(f"workload {args.workload} seed {args.seed}: {len(ops)} days of {size}")
    say(
        f"local[{probe.CPUS}], closed loop, one caller; the cold day, {WARMUP_DAYS} "
        f"warm-up day(s), then {len(warm)} timed warm days"
    )
    for op in ops:
        if op.failure:
            say(f"FAILED {op.date}: {op.failure}")
    first = expected.get(ops[0].date)
    if first:
        pairs = first["indication_pairs"] * first["conditions"]
        say(
            f"containment pairs on day 0: {first['indication_pairs']} (drug, indication) x "
            f"{first['conditions']} conditions = {pairs}, matched {first['matched_pairs']} "
            f"({first['matched_pairs'] / pairs:.2%})"
        )
    setups = sorted(s["setup_s"] for s in samples)
    metrics = {
        "setup_s": statistics.median(setups),
        "cold_cpu_s": cold.cpu_s,
        "rows_per_cpu_s": rows_per_cpu_s,
        "peak_rss_mb": rss,
    }
    say(f"setup_s samples (fresh processes): {', '.join(f'{s:.3f}' for s in setups)}")
    say(f"cold_s {cold.seconds:.4f} s wall ({cold.jit_s:.2f} s JIT compilation)")
    say(f"rows_per_s {rows_per_s:.4f} 1/s (rows per wall second of the timed warm days)")
    say(f"wall_s {warm_s:.3f} s ({len(warm)} warm ops)")
    say(f"op_p50_s {op_p50:.4f} s over {len(latencies)} ops")
    say(f"host CPU time stolen by the hypervisor during the run: {steal:.1%}")
    for label, key, fmt in (
        ("op seconds", "seconds", "{:.3f}"),
        ("op CPU seconds", "cpu_s", "{:.2f}"),
        ("op JIT compilation seconds", "jit_s", "{:.2f}"),
        ("op host steal", "steal", "{:.1%}"),
    ):
        say(f"{label}: {', '.join(fmt.format(getattr(op, key)) for op in ops)}")
    p = tail_percentile(len(latencies))
    if p is not None:
        say(f"op_p{p:g}_s {percentile(latencies, p):.4f} s over {len(latencies)} ops")
    else:
        say(f"no tail percentile: {len(latencies)} ops leave fewer than 10 beyond p90")
    say(f"error_frac {failed / len(ops):.4f} ({failed} of {len(ops)} ops failed)")

    if trace:
        (log,) = glob.glob(os.path.join(event_dir, "*"))
        out = layer_metrics(log, ops, tracer)
        out["session.get_spark_s"] = own["get_spark_s"]
        out["entry.import_s"] = own["entry_s"]
        out["traced.rows_per_cpu_s"] = rows_per_cpu_s
        out["traced.rows_per_s"] = rows_per_s
        out["traced.op_p50_s"] = op_p50
        out["traced.cold_s"] = cold.seconds
        units = PER_LAYER
    else:
        out, units = metrics, END_TO_END
    for name, value in metrics.items():
        say(f"{name} {value:.4f} {END_TO_END[name]}")
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {name: {"value": out[name], "unit": unit} for name, unit in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
