"""Tests of the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
sys.path.insert(0, BENCH_DIR)

import eventlog  # noqa: E402
import gen  # noqa: E402
import procstat  # noqa: E402
import run  # noqa: E402
import spread  # noqa: E402

SIZE = gen.DaySize(events=400, trials=60, drugs=50, conditions=40)


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_same_seed_gives_identical_bytes():
    assert gen.day_bytes(7, 3, SIZE) == gen.day_bytes(7, 3, SIZE)


def test_other_seed_or_day_gives_other_bytes():
    base = gen.day_bytes(7, 3, SIZE)
    assert gen.day_bytes(8, 3, SIZE) != base
    assert gen.day_bytes(7, 4, SIZE) != base


def test_write_day_layout(tmp_path):
    date = gen.write_day(str(tmp_path), 1, 0, SIZE)
    assert date == "2024-01-01"
    for source in ("fda", "clinicaltrials"):
        part = tmp_path / "raw" / source / "year=2024" / "month=01" / "day=01" / "part-00000.json"
        assert part.read_bytes()


def test_dirty_values_stay_under_the_quality_thresholds():
    fda = gen.fda_rows(5, 0, SIZE)
    ct = gen.trial_rows(5, 0, SIZE)
    assert len(fda) == SIZE.events and len(ct) == SIZE.trials
    # the range check allows no out-of-range age at all
    assert all(r["patient_age"] is None or 0 <= r["patient_age"] <= 120 for r in fda)
    for rows, fields in ((fda, ("receivedate", "drug_name")), (ct, ("brief_title", "overall_status"))):
        for f in fields:
            assert sum(r[f] is None for r in rows) / len(rows) < 0.10
    assert all(
        r["start_date"] is None or r["completion_date"] is None or r["start_date"] <= r["completion_date"]
        for r in ct
    )


@pytest.mark.parametrize("rows, key", [(gen.fda_rows(2, 1, SIZE), "safetyreportid"), (gen.trial_rows(2, 1, SIZE), "nct_id")])
def test_duplicate_ids_are_exact_copies(rows, key):
    first: dict = {}
    dups = 0
    for r in rows:
        if r[key] in first:
            dups += 1
            assert r == first[r[key]]
        first.setdefault(r[key], r)
    assert dups > 0


@pytest.mark.parametrize(
    "n, expected", [(1, None), (99, None), (100, 90), (999, 90), (1000, 99), (9999, 99), (10000, 99.9)]
)
def test_tail_percentile_needs_ten_samples_beyond_it(n, expected):
    assert run.tail_percentile(n) == expected


def test_percentile_is_nearest_rank():
    values = [float(v) for v in range(1, 101)]
    assert run.percentile(values, 50) == 50.0
    assert run.percentile(values, 90) == 90.0
    assert run.percentile([3.0], 90) == 3.0


def test_metric_names_and_units_match_benchmark_json():
    bench = _benchmark_json()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_first_day_is_cold_then_untimed_warm_up_then_timed():
    phases = [run.phase(i) for i in range(run.WARMUP_DAYS + 3)]
    assert phases == ["cold"] + ["warmup"] * run.WARMUP_DAYS + ["warm"] * 2


def test_stat_fields_end_the_name_at_the_last_parenthesis(tmp_path):
    path = tmp_path / "stat"
    path.write_text("42 (py (x) 1) S 7 " + " ".join(str(v) for v in range(100, 150)) + "\n")
    fields = procstat.stat_fields(str(path))
    assert fields[:2] == ["S", "7"]
    assert len(fields) == 52


def test_tree_cpu_counts_live_and_reaped_children():
    burn = "import sys, time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\nprint(flush=True)\nsys.stdin.read()"
    before = procstat.tree_cpu_s(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", burn], stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    try:
        child.stdout.readline()
        alive = procstat.tree_cpu_s(os.getpid())
    finally:
        child.stdin.close()
        child.wait()
    reaped = procstat.tree_cpu_s(os.getpid())
    assert alive - before >= 0.25
    assert reaped >= alive


def test_spread_is_quartile_distance_over_median():
    med, s = spread.spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert med == 3.0
    assert s == pytest.approx((4.5 - 1.5) / 3.0)


def test_covered_ms_merges_overlapping_jobs():
    jobs = [eventlog.Job(0, 100, 200), eventlog.Job(1, 150, 300), eventlog.Job(2, 400, 450)]
    assert eventlog.covered_ms(jobs, 0, 1000) == 250
    assert eventlog.covered_ms(jobs, 120, 420) == 200


def test_read_jobs_attributes_tasks_and_nested_loop_join_stages(tmp_path):
    def task(stage, run_ms):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor CPU Time": run_ms * 1_000_000,
                "JVM GC Time": 1,
                "Input Metrics": {"Bytes Read": 10},
                "Output Metrics": {"Bytes Written": 5},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                "Shuffle Read Metrics": {"Remote Bytes Read": 2, "Local Bytes Read": 3},
                "Memory Bytes Spilled": 0,
                "Disk Bytes Spilled": 0,
            },
        }

    plan = {
        "nodeName": "Project",
        "metrics": [{"accumulatorId": 1}],
        "children": [{"nodeName": "BroadcastNestedLoopJoin", "metrics": [{"accumulatorId": 42}], "children": []}],
    }
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"perfbench.phase": "warm"}},
        task(0, 30),
        task(1, 50),
        task(1, 20),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Accumulables": [{"ID": 1}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Accumulables": [{"ID": 42}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
    ]
    path = tmp_path / "log"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    (job,) = eventlog.read_jobs(str(path))
    assert (job.start_ms, job.end_ms, job.tasks, job.run_ms) == (1000, 1500, 3, 100)
    assert job.bnlj_run_ms == 70
    assert job.shuffle_read_bytes == 15
    assert job.props["perfbench.phase"] == "warm"
