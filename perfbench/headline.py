"""The ``headline`` workload: a pass over headline queries to a noop sink.

One client runs the queries one after another (a closed loop).  Each
query is built by its registry function (``REGISTRY[q].fn``, which may
launch jobs of its own) and then driven to completion by writing it to
Spark's ``noop`` sink, as ``bench.py`` does.
"""

from __future__ import annotations

import importlib.util
import os
import time

import gen_headline

# A subset of bench.HEADLINE: a full 68-query pass takes about 69 s warm
# on a 4-core host, mostly fixed per-query driver and job cost, so a
# run could not fit in the benchmark's time budget.  The subset keeps
# one or more queries of every layer: relational operators and windows
# (flagship, grouped sums, multi-way join, ranks, unpivot), the as-of
# join, similarity search (cosine top-k), the numpy kernel over Arrow
# batches (semantic decontamination), the mapInPandas codec (multimodal
# headers), and the snapshot-log commit protocol (time travel).
QUERIES = (
    "flagship_contestant_stats",
    "grouped_sum_all_measures",
    "multiway_left_join",
    "window_rank_placement",
    "unpivot_measures",
    "asof_join_keyed",
    "cosine_topk",
    "semantic_decontaminate",
    "multimodal_header_parse",
    "snapshot_time_travel",
)


class Headline:
    def __init__(self, ctx):
        from survivor_processing_spark.queries import REGISTRY

        import bench

        missing = [q for q in QUERIES if q not in bench.HEADLINE or q not in REGISTRY]
        if missing:
            raise KeyError(f"not headline queries: {missing}")
        self.ctx = ctx
        self.registry = REGISTRY
        self.data = ctx.path("data")

    def prepare(self) -> None:
        """Input generation (part of set-up)."""
        gen_headline.write(self.ctx.seed, self.data)

    def warm(self) -> None:
        """One untimed pass that collects every result for the check; it
        also warms the JVM, codegen and the Python workers for the
        measured passes, which run the same plans."""
        self.results = {}
        for q in QUERIES:
            self.ctx.spark.catalog.clearCache()
            self.results[q] = self.registry[q].fn(self.ctx.spark, self.data).toPandas()

    def before_pass(self) -> None:
        pass

    def after_pass(self) -> None:
        pass

    def one_pass(self, tracer, ops: list) -> None:
        """One pass over the queries; appends (name, seconds, error)."""
        spark = self.ctx.spark
        for q in QUERIES:
            # clear before each query so no query reads another's cache
            spark.catalog.clearCache()
            err = None
            t0 = time.perf_counter()
            try:
                with tracer.span("queries.query", query=q):
                    with tracer.span("queries.build", query=q):
                        df = self.registry[q].fn(spark, self.data)
                    with tracer.span("queries.action", query=q):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # counted as a failed operation
                err = repr(e)
            ops.append((q, time.perf_counter() - t0, err))

    def check(self) -> list[str]:
        """Compare the collected results with each query's DuckDB
        oracle over the same files, as tools/check_correctness.py does."""
        cc = _oracle_gate()
        con = cc.duckdb_con(self.data)
        try:
            problems = []
            for q in QUERIES:
                want = con.execute(self.registry[q].oracle).df()
                if self.registry[q].partial:
                    found = cc.compare_partial(self.results[q], want)
                else:
                    found = cc.compare(q, self.results[q], want)
                problems += [f"{q}: {p}" for p in found]
            return problems
        finally:
            con.close()

    def layer_counts(self, wall_s: float) -> dict[str, float]:
        return {}


def _oracle_gate():
    """The project's DuckDB-oracle gate, ``tools/check_correctness.py``."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(root, "tools", "check_correctness.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod
