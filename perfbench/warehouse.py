"""The ``warehouse_delta`` workload.

Set-up loads the full staged extracts into an empty warehouse (the
sink's first-load branch).  A pass restores that warehouse, reads a 1%
delta of the staged extracts, runs the six ``transform_*`` pipelines
and merges all 16 tables through ``Warehouse.table(t).merge`` (what
``Warehouse.load`` does, one table at a time so each merge is timed):
the sink's read-union-rewrite branch.

Outputs are checked without going through the sink: DuckDB computes
each table's expected rows from the transformed delta and the table as
it was before the pass, and compares them with the parquet files the
pass left.  Re-loading the same delta must then leave every table's
content hash unchanged; that re-load costs as much as a pass, so it
runs with ``--trace 1`` only.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import pyarrow as pa

import gen_warehouse
from tracing import NO_TRACE

# staged frame -> the warehouse table it feeds one row per row, within
# each pipeline; ``rows_in - rows_out`` over these pairs is what the
# pipeline rejected (filters, and the confessional quarantine)
PIPELINES = {
    "season": {"season": "season"},
    "episodes": {"episodes": "episode"},
    "contestant": {"contestants": "contestant_season", "tribe": "tribe",
                   "alliance": "alliance"},
    "episode_stats": {"tribal_council": "vote",
                      "immunity_challenge": "immunity_challenge",
                      "reward_challenge": "reward_challenge",
                      "overall_episode": None},
    "confessional": {"confessional": "confessional"},
    "reddit": {"submissions": "reddit_submissions",
               "comments": "reddit_comments"},
}
STAGED = [f for frames in PIPELINES.values() for f in frames]


def transform_all(spark, staged: dict, full: dict, tracer) -> dict:
    """The six pipelines over ``staged``; lookups come from ``full``,
    the base extracts.  Returns table -> DataFrame for the 16 warehouse
    tables plus ``confessional_quarantine``."""
    from survivor_processing_spark.pipelines import (
        transform_confessional,
        transform_contestants,
        transform_episode_stats,
        transform_episodes,
        transform_reddit,
        transform_season,
    )

    out = {}
    with tracer.span("pipelines.transform", pipeline="season"):
        out.update(transform_season(staged["season"]))
    with tracer.span("pipelines.transform", pipeline="episodes"):
        out.update(transform_episodes(staged["episodes"], full["name_dim"]))
    with tracer.span("pipelines.transform", pipeline="contestant"):
        out.update(transform_contestants(
            staged["contestants"], full["tribe"].select("name", "tribe_id"),
            full["agg_stats"]))
        out["tribe"] = staged["tribe"]
        out["alliance"] = staged["alliance"]
    with tracer.span("pipelines.transform", pipeline="episode_stats"):
        out.update(transform_episode_stats(
            {k: staged[k] for k in PIPELINES["episode_stats"]}, full["name_map"]))
    with tracer.span("pipelines.transform", pipeline="confessional"):
        out.update(transform_confessional(staged["confessional"], full["contestant_dim"]))
    with tracer.span("pipelines.transform", pipeline="reddit"):
        seasons = transform_season(full["season"])["season"]
        episodes = transform_episodes(full["episodes"], full["name_dim"])["episode"]
        out.update(transform_reddit(staged["submissions"], staged["comments"],
                                    seasons, episodes))
    return out


def _files(root: str) -> dict[str, tuple]:
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def _select(src: pa.Table) -> str:
    """``src``'s columns for DuckDB, timestamps as epoch microseconds so
    Arrow's zoned timestamps compare with the naive ones in parquet."""
    return ", ".join(f'epoch_us("{f.name}")' if pa.types.is_timestamp(f.type)
                     else f'"{f.name}"' for f in src.schema)


class WarehouseDelta:
    def __init__(self, ctx, replay: bool):
        from survivor_processing_spark.pipelines import CONFLICT_KEYS

        self.ctx = ctx
        self.replay = replay
        self.keys = CONFLICT_KEYS
        self.base_paths: dict[str, str] = {}
        self.source_paths: dict[str, str] = {}
        self.rows_in: dict[str, int] = {}
        self.source_bytes = 0
        self.root = ctx.path("wh")
        self.pristine = ctx.path("wh_pristine")
        self.written: list[int] = []
        self.space: list[float] = []
        self.preload_s = 0.0
        self.rows_out: dict[str, int] = {}
        self._before: dict = {}
        self._outputs: dict = {}

    # -- set-up --------------------------------------------------------
    def prepare(self) -> None:
        base = gen_warehouse.base(self.ctx.seed)
        self.base_paths = gen_warehouse.write(base, self.ctx.path("staged"))
        delta = gen_warehouse.delta(self.ctx.seed, base)
        self.source_paths = gen_warehouse.write(delta, self.ctx.path("staged_delta"))
        self.rows_in = {f: delta[f].num_rows for f in STAGED}
        self.source_bytes = sum(os.path.getsize(self.source_paths[f]) for f in STAGED)

    def warm(self) -> None:
        """The pre-load: the full extracts into an empty warehouse,
        kept as the state every pass starts from."""
        ops: list = []
        t0 = time.perf_counter()
        self._load(self.base_paths, self.pristine, NO_TRACE, ops)
        self.preload_s = time.perf_counter() - t0
        errors = [f"pre-load {t}: {e}" for t, _s, e in ops if e]
        if errors:
            raise RuntimeError("; ".join(errors))

    # -- measured ------------------------------------------------------
    def before_pass(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        shutil.copytree(self.pristine, self.root)
        self._before = _files(self.root)

    def one_pass(self, tracer, ops: list) -> None:
        self._outputs = self._load(self.source_paths, self.root, tracer, ops)

    def after_pass(self) -> None:
        after = _files(self.root)
        new = [p for p, v in after.items() if self._before.get(p) != v]
        self.written.append(sum(after[p][0] for p in new if p.endswith(".parquet")))
        live = sum(after[p][0] for p in after
                   if p.endswith(".parquet")
                   and os.path.dirname(os.path.dirname(p)) == self.root
                   and os.path.basename(os.path.dirname(p)) in self.keys)
        self.space.append(sum(v[0] for v in after.values()) / live if live else 0.0)

    def _frames(self, paths: dict) -> tuple[dict, dict]:
        read = self.ctx.spark.read.parquet
        staged = {f: read(paths[f]) for f in STAGED}
        full = {f: read(self.base_paths[f]) for f in
                ("season", "episodes", "tribe", *gen_warehouse.LOOKUPS)}
        return staged, full

    def _load(self, paths: dict, root: str, tracer, ops: list) -> dict:
        """Transform and merge; returns the transformed frames."""
        from survivor_processing_spark.pipelines import Warehouse as Wh

        try:
            staged, full = self._frames(paths)
            outputs = transform_all(self.ctx.spark, staged, full, tracer)
        except Exception as e:  # every table of the pass fails
            ops.extend((t, 0.0, repr(e)) for t in self.keys)
            return {}
        wh = Wh(self.ctx.spark, root)
        for table in self.keys:
            err = None
            t0 = time.perf_counter()
            try:
                with tracer.span("sinks.merge", table=table):
                    wh.table(table).merge(outputs[table])
            except Exception as e:  # counted as a failed operation
                err = repr(e)
            ops.append((table, time.perf_counter() - t0, err))
        return outputs

    # -- checks --------------------------------------------------------
    def check(self) -> list[str]:
        """Compare every table the last pass left with DuckDB's expected
        rows.  With ``replay``, then merge the same delta again and check
        that no table's content hash moved."""
        import duckdb

        if not self._outputs:
            return ["the last pass did not transform its input"]
        # the last pass's plans, executed again
        outputs = {t: df.toArrow() for t, df in self._outputs.items()}
        self.rows_out = {t: a.num_rows for t, a in outputs.items()}
        con = duckdb.connect()
        try:
            problems = []
            for table in self.keys:
                problems += self._check_table(con, table, outputs[table])
            if self.replay:
                hashes = {t: self._hash(con, t, outputs[t]) for t in self.keys}
                ops: list = []
                self._load(self.source_paths, self.root, NO_TRACE, ops)
                problems += [f"re-load {t}: {e}" for t, _s, e in ops if e]
                problems += [f"{t}: re-loading the same delta changed the table"
                             for t in self.keys if self._hash(con, t, outputs[t]) != hashes[t]]
            return problems
        finally:
            con.close()

    def _check_table(self, con, table: str, src: pa.Table) -> list[str]:
        sel = _select(src)
        con.register("src", src)
        match = " AND ".join(f'b."{k}" IS NOT DISTINCT FROM s."{k}"'
                             for k in self.keys[table])
        # the delta wins on its keys; every other row stays as it was
        con.execute(
            f"CREATE OR REPLACE TEMP TABLE expected AS SELECT {sel} "
            f"FROM read_parquet('{self.pristine}/{table}/*.parquet') b "
            f"WHERE NOT EXISTS (SELECT 1 FROM src s WHERE {match}) "
            f"UNION ALL SELECT {sel} FROM src")
        con.execute(
            f"CREATE OR REPLACE TEMP TABLE actual AS SELECT {sel} "
            f"FROM read_parquet('{self.root}/{table}/*.parquet')")
        con.unregister("src")
        n_exp = con.execute("SELECT count(*) FROM expected").fetchone()[0]
        n_act = con.execute("SELECT count(*) FROM actual").fetchone()[0]
        missing = con.execute("SELECT count(*) FROM (SELECT * FROM expected "
                              "EXCEPT ALL SELECT * FROM actual)").fetchone()[0]
        extra = con.execute("SELECT count(*) FROM (SELECT * FROM actual "
                            "EXCEPT ALL SELECT * FROM expected)").fetchone()[0]
        if n_exp == n_act and missing == 0 and extra == 0:
            return []
        return [f"{table}: {n_act} rows, expected {n_exp}; "
                f"{missing} expected rows missing, {extra} unexpected rows"]

    def _hash(self, con, table: str, src: pa.Table) -> tuple:
        return con.execute(
            f"SELECT count(*), sum(hash({_select(src)})::HUGEINT)::VARCHAR "
            f"FROM read_parquet('{self.root}/{table}/*.parquet')").fetchone()

    # -- per-layer numbers this workload knows without the event log ----
    def layer_counts(self, wall_s: float) -> dict[str, float]:
        m = {}
        for p, frames in PIPELINES.items():
            m[f"pipelines.rows_in.{p}"] = sum(self.rows_in[f] for f in frames)
            m[f"pipelines.rows_rejected.{p}"] = sum(
                self.rows_in[f] - self.rows_out[t] for f, t in frames.items() if t)
        for t in self.keys:
            m[f"sinks.rows_out.{t}"] = self.rows_out[t]
        m["sinks.rows_per_s"] = sum(self.rows_in.values()) / wall_s
        m["sinks.write_amp"] = statistics.median(self.written) / self.source_bytes
        m["sinks.space_amp"] = statistics.median(self.space)
        m["sinks.preload_s"] = self.preload_s
        return m
