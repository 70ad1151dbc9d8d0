"""Read a Spark event log (plain JSON lines) into per-job and
per-SQL-execution metrics.

Jobs carry their job group (``spark.jobGroup.id``), which the tracer
sets to the open span's id.  Task metrics are summed per job from the
``SparkListenerTaskEnd`` accumulables, which hold both the task
metrics and the SQL metrics of the plan nodes the task ran; the
Python-worker metrics appear only on Python nodes (ArrowEvalPython,
MapInPandas and the like), so summing them by name needs no plan walk.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# task accumulable name -> job metric
_TASK = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.output.bytesWritten": "output_bytes",
    "internal.metrics.output.recordsWritten": "output_records",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_boot_ms",
    "data sent to Python workers": "py_bytes",
    "data returned from Python workers": "py_bytes",
}
# driver-side SQL metric name -> execution metric (task input metrics
# miss most parquet reads here, so bytes read come from the scans)
_DRIVER = {"number of written files": "files_written",
           "size of files read": "files_read_bytes"}
_PYTHON_NODES = ("Python", "InPandas", "InArrow")


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float  # epoch seconds
    end: float = 0.0
    metrics: dict = field(default_factory=dict)


@dataclass
class Execution:
    exec_id: int
    group: str | None
    python: bool = False  # the executed plan has a Python node
    metrics: dict = field(default_factory=dict)


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", []):
        yield from _walk(child)


def _add(d: dict, key: str, value) -> None:
    d[key] = d.get(key, 0) + int(value)


def parse(lines) -> tuple[dict[int, Job], dict[int, Execution]]:
    jobs: dict[int, Job] = {}
    execs: dict[int, Execution] = {}
    stage_job: dict[int, int] = {}
    acc_name: dict[int, str] = {}
    for line in lines:
        e = json.loads(line)
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = Job(jid, e.get("Properties", {}).get("spark.jobGroup.id"),
                            e["Submission Time"] / 1000.0)
            for st in e["Stage Infos"]:
                stage_job[st["Stage ID"]] = jid
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e["Stage ID"]))
            if job is None:
                continue
            for acc in e["Task Info"].get("Accumulables", []):
                key = _TASK.get(acc["Name"])
                if key is not None and acc.get("Update") is not None:
                    _add(job.metrics, key, acc["Update"])
        elif kind in ("SparkListenerSQLExecutionStart",
                      "SparkListenerSQLAdaptiveExecutionUpdate"):
            ex = execs.get(e["executionId"])
            if ex is None:
                ex = execs[e["executionId"]] = Execution(
                    e["executionId"], e.get("jobGroupId"))
            for node in _walk(e["sparkPlanInfo"]):
                if any(k in node["nodeName"] for k in _PYTHON_NODES):
                    ex.python = True
                for m in node.get("metrics", []):
                    acc_name[m["accumulatorId"]] = m["name"]
        elif kind == "SparkListenerDriverAccumUpdates":
            ex = execs.get(e["executionId"])
            if ex is None:
                continue
            for acc_id, value in e["accumUpdates"]:
                key = _DRIVER.get(acc_name.get(acc_id, ""))
                if key is not None:
                    _add(ex.metrics, key, value)
    return jobs, execs


def read(path: str) -> tuple[dict[int, Job], dict[int, Execution]]:
    with open(path) as f:
        return parse(f)
