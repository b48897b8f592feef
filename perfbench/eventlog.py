"""Read a Spark event log (uncompressed JSON lines) into per-job and
per-stage facts that the traced run turns into per-layer metrics.

Each job carries the local properties that were set when it was
submitted (``run.py`` tags the op index, the run phase and, through the
job group, the layer call). Tasks are attributed to the job that first
listed their stage.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# plan node whose stages count towards spark.bnlj_stage_run_s
BNLJ = "BroadcastNestedLoopJoin"


@dataclass
class Job:
    job_id: int
    start_ms: int
    end_ms: int = 0
    props: dict = field(default_factory=dict)
    stages: list = field(default_factory=list)
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    bnlj_run_ms: int = 0


def _plan_accumulators(info: dict, node_name: str, out: set) -> None:
    if info.get("nodeName", "").startswith(node_name):
        out.update(m["accumulatorId"] for m in info.get("metrics", []))
    for child in info.get("children", []):
        _plan_accumulators(child, node_name, out)


def read_jobs(path: str) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    bnlj_accs: set[int] = set()
    stage_accs: dict[int, set] = {}
    stage_run_ms: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                job = Job(ev["Job ID"], ev["Submission Time"], props=ev.get("Properties") or {})
                job.stages = list(ev["Stage IDs"])
                jobs[job.job_id] = job
                for sid in job.stages:
                    stage_job.setdefault(sid, job)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics")
                job = stage_job.get(sid)
                if job is None or not m:
                    continue
                job.tasks += 1
                job.run_ms += m["Executor Run Time"]
                stage_run_ms[sid] = stage_run_ms.get(sid, 0) + m["Executor Run Time"]
                job.cpu_ns += m["Executor CPU Time"]
                job.gc_ms += m["JVM GC Time"]
                job.input_bytes += m["Input Metrics"]["Bytes Read"]
                job.output_bytes += m["Output Metrics"]["Bytes Written"]
                job.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                sr = m["Shuffle Read Metrics"]
                job.shuffle_read_bytes += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                job.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stage_accs[info["Stage ID"]] = {a["ID"] for a in info.get("Accumulables", [])}
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _plan_accumulators(ev.get("sparkPlanInfo", {}), BNLJ, bnlj_accs)
    # a stage ran the containment join when it updated a metric of a
    # BroadcastNestedLoopJoin node
    for sid, accs in stage_accs.items():
        job = stage_job.get(sid)
        if job is not None and accs & bnlj_accs:
            job.bnlj_run_ms += stage_run_ms.get(sid, 0)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def covered_ms(jobs: list[Job], lo: int, hi: int) -> int:
    """Milliseconds of [lo, hi] during which at least one job ran."""
    spans = sorted(
        (max(j.start_ms, lo), min(j.end_ms, hi)) for j in jobs if j.end_ms > lo and j.start_ms < hi
    )
    total, cur_lo, cur_hi = 0, None, None
    for a, b in spans:
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
