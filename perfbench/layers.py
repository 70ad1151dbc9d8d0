"""Per-layer metrics of a traced run, from its spans and event log.

Layers are named after the program's modules.  Every number is per
measured pass.  A layer a workload does not use reads 0, which is also
the attribution check: no sink or pipeline work on ``headline``, no
query, Python-worker or snapshot work on the warehouse workloads.
"""

from __future__ import annotations

from collections import defaultdict

from survivor_processing_spark.pipelines.warehouse import CONFLICT_KEYS
from tracing import covered, self_time
from warehouse import PIPELINES

PIPELINE_NAMES = tuple(PIPELINES)
TABLES = tuple(CONFLICT_KEYS)
# the registry's snapshot-log queries (operators.snapshot, streaming.lakehouse)
SNAPSHOT_QUERIES = ("snapshot_dml", "snapshot_mor", "snapshot_mor_upsert",
                    "snapshot_time_travel", "stream_snapshot_ingest")

# name -> unit, in the order they are reported
UNITS: dict[str, str] = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MiB",
    "trace.overhead_s": "s",
    "trace.pass_self_s": "s",
    "queries.build_s": "s",
    "queries.action_s": "s",
    "queries.jobs": "count",
    "queries.build_jobs": "count",
    "queries.job_s": "s",
    "queries.driver_gap_s": "s",
    "queries.executor_run_s": "s",
    "queries.executor_cpu_s": "s",
    "queries.gc_s": "s",
    "queries.input_bytes": "bytes",
    "queries.shuffle_read_bytes": "bytes",
    "queries.shuffle_write_bytes": "bytes",
    "queries.spill_bytes": "bytes",
    "operators.kernel_queries_s": "s",
    "operators.python_s": "s",
    "operators.python_boot_s": "s",
    "operators.python_bytes": "bytes",
    "snapshot.queries_s": "s",
    "snapshot.jobs": "count",
    "snapshot.driver_gap_s": "s",
    "snapshot.files_written": "count",
    "snapshot.bytes_written": "bytes",
    **{f"pipelines.build_s.{p}": "s" for p in PIPELINE_NAMES},
    "pipelines.build_jobs": "count",
    **{f"pipelines.rows_in.{p}": "rows" for p in PIPELINE_NAMES},
    **{f"pipelines.rows_rejected.{p}": "rows" for p in PIPELINE_NAMES},
    **{f"sinks.merge_s.{t}": "s" for t in TABLES},
    **{f"sinks.rows_out.{t}": "rows" for t in TABLES},
    "sinks.jobs": "count",
    "sinks.job_s": "s",
    "sinks.driver_gap_s": "s",
    "sinks.executor_run_s": "s",
    "sinks.bytes_read": "bytes",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "sinks.rows_written": "rows",
    "sinks.shuffle_write_bytes": "bytes",
    "sinks.spill_bytes": "bytes",
    "sinks.rows_per_s": "rows/s",
    "sinks.write_amp": "ratio",
    "sinks.space_amp": "ratio",
    "sinks.preload_s": "s",
}


def _sum(jobs, key: str) -> int:
    return sum(j.metrics.get(key, 0) for j in jobs)


def _job_s(jobs) -> float:
    return sum(j.end - j.start for j in jobs if j.end)


def _gap(spans, jobs_of) -> float:
    """Span time not covered by any of the span's jobs."""
    return sum(s.duration - covered([(j.start, j.end) for j in jobs_of(s) if j.end],
                                    s.start, s.end) for s in spans)


def per_layer(tracer, jobs: dict, execs: dict, n_passes: int,
              fixed: dict[str, float]) -> dict[str, float]:
    """``fixed`` holds the numbers measured outside the event log
    (session start, tracing overhead, the workload's row counts and
    byte ratios); everything else comes from spans and jobs."""
    by_group = defaultdict(list)
    for j in jobs.values():
        by_group[j.group].append(j)
    ex_by_group = defaultdict(list)
    for x in execs.values():
        ex_by_group[x.group].append(x)

    def jobs_of(span):
        return [j for sid in tracer.subtree(span.sid) for j in by_group[sid]]

    def execs_of(span):
        return [x for sid in tracer.subtree(span.sid) for x in ex_by_group[sid]]

    def _exec_sum(spans, key):
        return sum(x.metrics.get(key, 0) for s in spans for x in execs_of(s))

    def named(name, **attrs):
        return [s for s in tracer.spans if s.name == name
                and all(s.attrs.get(k) == v for k, v in attrs.items())]

    queries = named("queries.query")
    q_jobs = [j for s in queries for j in jobs_of(s)]
    snaps = [s for s in queries if s.attrs["query"] in SNAPSHOT_QUERIES]
    transforms = named("pipelines.transform")
    merges = named("sinks.merge")
    m_jobs = [j for s in merges for j in jobs_of(s)]
    passes = [s for s in tracer.spans if s.parent is None]
    every_job = [j for p in passes for j in jobs_of(p)]
    m = {
        # pass time inside no layer's span: the benchmark's loop, and
        # on warehouse_delta reading the staged parquet
        "trace.pass_self_s": sum(
            self_time(p, [s for s in tracer.spans if s.parent == p.sid]) for p in passes),
        "queries.build_s": sum(s.duration for s in named("queries.build")),
        "queries.action_s": sum(s.duration for s in named("queries.action")),
        "queries.jobs": len(q_jobs),
        "queries.build_jobs": sum(len(jobs_of(s)) for s in named("queries.build")),
        "queries.job_s": _job_s(q_jobs),
        "queries.driver_gap_s": _gap(queries, jobs_of),
        "queries.executor_run_s": _sum(q_jobs, "run_ms") / 1e3,
        "queries.executor_cpu_s": _sum(q_jobs, "cpu_ns") / 1e9,
        "queries.gc_s": _sum(q_jobs, "gc_ms") / 1e3,
        "queries.input_bytes": _exec_sum(queries, "files_read_bytes"),
        "queries.shuffle_read_bytes": _sum(q_jobs, "shuffle_read_bytes"),
        "queries.shuffle_write_bytes": _sum(q_jobs, "shuffle_write_bytes"),
        "queries.spill_bytes": _sum(q_jobs, "spill_bytes"),
        "operators.kernel_queries_s": sum(
            s.duration for s in queries if any(x.python for x in execs_of(s))),
        "operators.python_s": _sum(every_job, "py_run_ms") / 1e3,
        "operators.python_boot_s": _sum(every_job, "py_boot_ms") / 1e3,
        "operators.python_bytes": _sum(every_job, "py_bytes"),
        "snapshot.queries_s": sum(s.duration for s in snaps),
        "snapshot.jobs": sum(len(jobs_of(s)) for s in snaps),
        "snapshot.driver_gap_s": _gap(snaps, jobs_of),
        "snapshot.files_written": _exec_sum(snaps, "files_written"),
        "snapshot.bytes_written": _sum([j for s in snaps for j in jobs_of(s)],
                                       "output_bytes"),
        "pipelines.build_jobs": sum(len(jobs_of(s)) for s in transforms),
        "sinks.jobs": len(m_jobs),
        "sinks.job_s": _job_s(m_jobs),
        "sinks.driver_gap_s": _gap(merges, jobs_of),
        "sinks.executor_run_s": _sum(m_jobs, "run_ms") / 1e3,
        "sinks.bytes_read": _exec_sum(merges, "files_read_bytes"),
        "sinks.bytes_written": _sum(m_jobs, "output_bytes"),
        "sinks.files_written": _exec_sum(merges, "files_written"),
        "sinks.rows_written": _sum(m_jobs, "output_records"),
        "sinks.shuffle_write_bytes": _sum(m_jobs, "shuffle_write_bytes"),
        "sinks.spill_bytes": _sum(m_jobs, "spill_bytes"),
    }
    for p in PIPELINE_NAMES:
        m[f"pipelines.build_s.{p}"] = sum(
            s.duration for s in named("pipelines.transform", pipeline=p))
    for t in TABLES:
        m[f"sinks.merge_s.{t}"] = sum(s.duration for s in named("sinks.merge", table=t))
    return {name: float(fixed[name] if name in fixed else m.get(name, 0.0) / n_passes)
            for name in UNITS}
