"""Parser for Spark's JSON event log (uncompressed, non-rolling).

Jobs are keyed by their job group (``spark.jobGroup.id``), which the
benchmark sets to the span that started them. Stage metrics come from each
stage's accumulables at completion: the task metrics Spark keeps for every
stage, plus the SQL metrics of the Python operators (start, initialize and
run time of the Python workers, bytes sent to and returned from them).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# SQL metric name -> key in Stage.metrics; time units follow the metric's type.
PYTHON_METRICS = {
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_exec_ms",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_received_bytes",
}
TASK_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}
# Time metric types and their size in seconds.
_TIME_UNITS = {"timing": 1e-3, "nsTiming": 1e-9}


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Stage:
    stage_id: int
    tasks: int = 0
    failed_tasks: int = 0
    metrics: dict = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)

    def stage_job(self) -> dict[int, int]:
        """Stage id -> the first job that lists it (a stage listed again by
        a later job is skipped there: its output is reused)."""
        out: dict[int, int] = {}
        for job_id in sorted(self.jobs):
            for sid in self.jobs[job_id].stage_ids:
                out.setdefault(sid, job_id)
        return out

    def summarize(self, groups) -> dict:
        """Totals over the jobs whose group is in ``groups``."""
        groups = set(groups)
        jobs = [j for j in self.jobs.values() if j.group in groups]
        job_ids = {j.job_id for j in jobs}
        owner = self.stage_job()
        stages = [s for s in self.stages.values() if owner.get(s.stage_id) in job_ids]
        tot: dict[str, float] = {}
        for s in stages:
            for k, v in s.metrics.items():
                tot[k] = tot.get(k, 0.0) + v
        return {
            "jobs": len(jobs),
            "job_intervals": [
                (j.submit_ms / 1e3, j.end_ms / 1e3) for j in jobs if j.end_ms is not None
            ],
            "stages": len(stages),
            "tasks": sum(s.tasks for s in stages),
            "failed_tasks": sum(s.failed_tasks for s in stages),
            **tot,
        }


def parse(path: str) -> EventLog:
    log = EventLog()
    metric_types: dict[int, str] = {}

    def walk_plan(node: dict) -> None:
        for m in node.get("metrics", []):
            metric_types[m["accumulatorId"]] = m["metricType"]
        for child in node.get("children", []):
            walk_plan(child)

    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                walk_plan(e.get("sparkPlanInfo", {}))
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                log.jobs[e["Job ID"]] = Job(
                    job_id=e["Job ID"],
                    group=props.get("spark.jobGroup.id"),
                    submit_ms=e["Submission Time"],
                    stage_ids=list(e.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(e["Job ID"])
                if job is not None:
                    job.end_ms = e["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                stage = log.stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
                if e["Task End Reason"]["Reason"] != "Success":
                    stage.failed_tasks += 1
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                stage = log.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                stage.tasks += info["Number of Tasks"]
                for acc in info.get("Accumulables", []):
                    name, value = acc["Name"], acc.get("Value")
                    if not isinstance(value, (int, float)):
                        try:
                            value = float(value)
                        except (TypeError, ValueError):
                            continue
                    if name in TASK_METRICS:
                        key = TASK_METRICS[name]
                        stage.metrics[key] = stage.metrics.get(key, 0.0) + value
                    elif name in PYTHON_METRICS:
                        key = PYTHON_METRICS[name]
                        if key.endswith("_ms"):
                            unit = _TIME_UNITS.get(metric_types.get(acc["ID"], "timing"), 1e-3)
                            key, value = key[:-3] + "_s", value * unit
                        stage.metrics[key] = stage.metrics.get(key, 0.0) + value
    return log
