"""The parser reads a small recorded event log.

``data/eventlog.jsonl`` is a Spark 4.1 log of three jobs, trimmed to the
events the parser reads: job group ``g1`` wrote a mapInPandas result to
parquet (2 files, 1000 rows); job group ``g2`` ran a pandas UDF under
an aggregate (one shuffle job, one result job)."""

import os

import eventlog
from layers import per_layer
from tracing import Span, Tracer

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog.jsonl")


def test_jobs_carry_groups_times_and_task_metrics():
    jobs, execs = eventlog.read(LOG)
    assert {j: jobs[j].group for j in jobs} == {0: "g1", 1: "g2", 2: "g2"}
    assert all(j.end > j.start for j in jobs.values())
    w = jobs[0].metrics
    assert w["output_records"] == 1000 and w["output_bytes"] == 9681
    assert w["py_run_ms"] > 0 and w["py_boot_ms"] > 0 and w["py_bytes"] > 0
    assert jobs[1].metrics["shuffle_write_bytes"] == jobs[2].metrics["shuffle_read_bytes"] == 269
    assert "py_run_ms" not in jobs[2].metrics


def test_executions_know_their_python_nodes_and_written_files():
    _jobs, execs = eventlog.read(LOG)
    assert execs[0].group == "g1" and execs[0].python
    assert execs[0].metrics == {"files_written": 2}
    assert execs[1].group == "g2" and execs[1].python


def test_per_layer_attributes_jobs_to_spans():
    jobs, execs = eventlog.read(LOG)
    t = Tracer()
    j0, j2 = jobs[0], jobs[2]
    t.spans = [
        Span("p", "pass", None, j0.start - 1, j2.end + 1),
        Span("g1", "sinks.merge", "p", j0.start - 0.5, j0.end, {"table": "season"}),
        Span("g2", "queries.query", "p", jobs[1].start, j2.end + 0.25,
             {"query": "snapshot_dml"}),
    ]
    m = per_layer(t, jobs, execs, n_passes=1, fixed={"session.start_s": 9.0})
    assert m["session.start_s"] == 9.0
    pass_s = t.spans[0].duration
    covered_s = j0.end - (j0.start - 0.5) + (j2.end + 0.25 - jobs[1].start)
    assert abs(m["trace.pass_self_s"] - (pass_s - covered_s)) < 1e-6
    assert m["sinks.jobs"] == 1 and m["sinks.rows_written"] == 1000
    assert m["sinks.files_written"] == 2
    assert abs(m["sinks.driver_gap_s"] - 0.5) < 1e-6
    assert abs(m["sinks.merge_s.season"] - (j0.end - j0.start + 0.5)) < 1e-6
    assert m["queries.jobs"] == m["snapshot.jobs"] == 2
    gap = (j2.end + 0.25 - jobs[1].start) - (jobs[1].end - jobs[1].start) - (j2.end - j2.start)
    assert abs(m["snapshot.driver_gap_s"] - gap) < 1e-6
    assert m["operators.kernel_queries_s"] == m["snapshot.queries_s"]
    assert m["operators.python_s"] == (4773 + 1110) / 1e3
    assert m["pipelines.build_jobs"] == 0 and m["sinks.merge_s.vote"] == 0
