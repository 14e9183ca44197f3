"""Reader for Spark's JSON event log (uncompressed, single file).

The traced session writes the log with `spark.eventLog.compress=false` and
`spark.eventLog.rolling.enabled=false`, because neither zstandard nor a
rolling-log reader is available here. Each benchmark call runs under its own
job group, so its jobs, stages and tasks can be picked out of the log.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

PYTHON_RUN = "time to run Python workers"
PYTHON_START = ("time to start Python workers", "time to initialize Python workers")
TO_PYTHON = "data sent to Python workers"
FROM_PYTHON = "data returned from Python workers"
TASK_COMMIT = "task commit time"


@dataclass
class Stage:
    id: int
    submit_ms: int
    done_ms: int
    acc: dict[str, float]
    tasks: list[dict] = field(default_factory=list)  # "Task Metrics" of each task

    @property
    def wall_s(self) -> float:
        return (self.done_ms - self.submit_ms) / 1000

    def get(self, name: str) -> float:
        return self.acc.get(name, 0.0)


def covered_s(spans) -> float:
    """Seconds covered by at least one (start_ms, end_ms) span."""
    busy, end = 0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            busy += b - a
            end = b
        elif b > end:
            busy += b - end
            end = b
    return busy / 1000


@dataclass
class Call:
    """What one job group did: its jobs, completed stages and the spans of
    its SQL executions (planning and scheduling included)."""
    jobs: int
    stages: list[Stage]
    sql_spans: list[tuple[int, int]] = field(default_factory=list)

    def total(self, name: str) -> float:
        return sum(s.get(name) for s in self.stages)

    def stage_spans(self) -> list[tuple[int, int]]:
        return [(s.submit_ms, s.done_ms) for s in self.stages]


def read(log_dir: str) -> list[dict]:
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    with open(os.path.join(log_dir, name)) as f:
        return [json.loads(line) for line in f]


def _number(value) -> float:
    try:
        return float(value)
    except (TypeError, ValueError):
        return 0.0


_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def calls(events: list[dict]) -> dict[str, Call]:
    """Job group id -> Call, for every job that ran under a job group. The
    group id must also be the job description, which names the group's
    SQL executions."""
    group_of_stage: dict[int, str] = {}
    jobs: dict[str, int] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                jobs[group] = jobs.get(group, 0) + 1
                for sid in e["Stage IDs"]:
                    group_of_stage.setdefault(sid, group)
    stages: dict[int, Stage] = {}
    for e in events:
        if e["Event"] == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info["Stage ID"] in group_of_stage and "Submission Time" in info:
                stages[info["Stage ID"]] = Stage(
                    info["Stage ID"], info["Submission Time"], info["Completion Time"],
                    {a["Name"]: _number(a.get("Value")) for a in info["Accumulables"]},
                )
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stages:
            stages[e["Stage ID"]].tasks.append(e.get("Task Metrics") or {})
    out = {g: Call(n, []) for g, n in jobs.items()}
    for sid, st in sorted(stages.items()):
        out[group_of_stage[sid]].stages.append(st)
    started = {}
    for e in events:
        if e["Event"] == _SQL_START and e.get("description") in out:
            started[e["executionId"]] = (e["description"], e["time"])
        elif e["Event"] == _SQL_END and e["executionId"] in started:
            group, t0 = started.pop(e["executionId"])
            out[group].sql_spans.append((t0, e["time"]))
    return out


def stage_metrics(call: Call) -> dict[str, float]:
    """Per-layer numbers of one call: the Python (kernel) stages, the stages
    that commit output files, shuffle, and JVM memory."""
    kernel = [s for s in call.stages if PYTHON_RUN in s.acc]
    write = [s for s in call.stages if TASK_COMMIT in s.acc]
    tasks = [t for s in call.stages for t in s.tasks]

    def read_bytes(t):
        r = t.get("Shuffle Read Metrics") or {}
        return r.get("Local Bytes Read", 0) + r.get("Remote Bytes Read", 0)

    # skew of the main shuffle-read write stage: max / median task read
    reads = max(([read_bytes(t) for t in s.tasks] for s in write), key=sum, default=[])
    skew = max(reads) / max(statistics.median(reads), 1) if reads and max(reads) else 0.0
    return {
        "stage.kernel.wall_s": sum(s.wall_s for s in kernel),
        "stage.kernel.task_s": sum(s.get("internal.metrics.executorRunTime") for s in kernel) / 1000,
        "stage.write.wall_s": sum(s.wall_s for s in write),
        "stage.write.task_s": sum(s.get("internal.metrics.executorRunTime") for s in write) / 1000,
        "stage.jobs": call.jobs,
        # driver time inside the call's SQL executions that no stage covers:
        # planning, AQE re-planning and job scheduling
        "driver.plan_s": covered_s(call.stage_spans() + call.sql_spans)
        - covered_s(call.stage_spans()),
        "boundary.python_run_s": call.total(PYTHON_RUN) / 1000,
        "boundary.python_start_s": sum(call.total(n) for n in PYTHON_START) / 1000,
        "boundary.bytes_to_python": call.total(TO_PYTHON),
        "boundary.bytes_from_python": call.total(FROM_PYTHON),
        "shuffle.bytes": call.total("internal.metrics.shuffle.write.bytesWritten"),
        "shuffle.records": call.total("internal.metrics.shuffle.write.recordsWritten"),
        "shuffle.write_s": call.total("internal.metrics.shuffle.write.writeTime") / 1e9,
        "shuffle.skew": skew,
        "write.bytes": sum(s.get("internal.metrics.output.bytesWritten") for s in write),
        "write.commit_s": sum(s.get(TASK_COMMIT) for s in write) / 1000,
        "jvm.gc_s": call.total("internal.metrics.jvmGCTime") / 1000,
        "jvm.spill_bytes": call.total("internal.metrics.memoryBytesSpilled")
        + call.total("internal.metrics.diskBytesSpilled"),
        "jvm.peak_exec_mem_mb": max((t.get("Peak Execution Memory", 0) for t in tasks), default=0) / 2**20,
    }
