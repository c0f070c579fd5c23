"""The three workloads: one warm-up pass with output checks, then timed passes.

Each workload is a closed loop with one client: an operation starts only
after the previous one has finished. A pass runs the workload's operation
list once; its wall time is the sum of the operations' times, without the
untimed housekeeping between them.
"""

from __future__ import annotations

import gc
import os
import random
import shutil
import time
import traceback

import duckdb

# Read side: relational, TPC-H, window and time queries whose work happens
# in the returned plan (no artifacts, no streaming, no rank kernels).
STAR_QUERIES = [
    "star_fact_join",
    "agg_pricing_summary",
    "multi_join_groupby",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_revenue_forecast",
    "window_rank_topk",
    "tumbling_window_agg",
    "asof_join_clicks",
]

# Operators that fire Spark jobs inside fn(), in dependency order: a rank
# kernel, an artifact build and its consumer, an iterative operator and a
# streaming replay.
EAGER_OPERATORS = [
    "agg_bowley_skewness",
    "recs_lists_materialize",
    "recs_item_cooccurrence",
    "stream_bloom_dedup_ingest",
]

ELT_TABLES = ("staging_events", "staging_songs", "songplays", "users", "songs", "artists", "time")
STAR_TABLES = ("songplays", "users", "songs", "artists", "time")
# Tables an incremental batch overwrites (everything but the appended ones).
REWRITTEN = ("users", "_users_versioned", "songs", "artists", "time")


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


class Workload:
    """Shared pass loop. Subclasses list their operations and check them."""

    name = ""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self._check_s = 0.0  # check time inside the current operation

    def ops(self) -> list[str]:
        raise NotImplementedError

    def run_op(self, op: str, check: bool) -> None:
        raise NotImplementedError

    def before_pass(self) -> None:
        pass

    def housekeeping(self) -> None:
        # localCheckpoint blocks are freed only when the JVM-side RDD is
        # collected; unpersist so one operation's blocks cannot slow the next.
        gc.collect()
        for rdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist()

    def run_pass(self, check: bool = False) -> dict:
        """One pass. Returns the pass's timed wall and per-op times; check
        time is excluded from both."""
        self.before_pass()
        times: dict[str, float] = {}
        for op in self.ops():
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with self.tracer.span(op, "op"):
                    self.run_op(op, check)
            except Exception as exc:  # one failed op must not end the run
                self.failed += 1
                self.problems.append(f"{op}: {type(exc).__name__}: {exc}".splitlines()[0][:300])
                traceback.print_exc()
            times[op] = time.perf_counter() - t0 - self._check_s
            self._check_s = 0.0
            self.housekeeping()
        return {"wall_s": sum(times.values()), "ops": times}

    def checked(self, fn) -> None:
        """Run an output check outside the timed window; a failed check
        counts the operation as failed."""
        t0 = time.perf_counter()
        try:
            problem = fn()
        finally:
            self._check_s += time.perf_counter() - t0
        if problem:
            raise AssertionError(problem)


class QueryWorkload(Workload):
    """Registry operations: fn() then the noop write of the returned
    DataFrame, each under its own job group; checked against the DuckDB
    oracle on the warm-up pass."""

    names: list[str] = []

    def __init__(self, spark, tracer, specs, sf_dir):
        super().__init__(spark, tracer)
        self.specs = specs
        self.sf_dir = sf_dir
        missing = [n for n in self.names if n not in specs or not specs[n].oracle]
        if missing:
            raise RuntimeError(f"{self.name}: unknown or oracle-less operations {missing}")

    def ops(self) -> list[str]:
        return list(self.names)

    def run_op(self, op: str, check: bool) -> None:
        with self.tracer.span("suite.fn", "suite"):
            df = self.specs[op].fn(self.spark, self.sf_dir)
        with self.tracer.span("exec.noop_write", "exec"):
            df.write.format("noop").mode("overwrite").save()
        if check:
            from cdw_spark.compare import compare_frames

            def oracle_check():
                res = compare_frames(op, df, self.specs[op].oracle, self.sf_dir)
                return None if res.ok else str(res)

            self.checked(oracle_check)


class StarQueries(QueryWorkload):
    name = "star_queries"

    def __init__(self, spark, tracer, specs, sf_dir, seed):
        self.names = list(STAR_QUERIES)
        random.Random(seed).shuffle(self.names)
        super().__init__(spark, tracer, specs, sf_dir)


class EagerOperators(QueryWorkload):
    name = "eager_operators"
    names = EAGER_OPERATORS

    def before_pass(self) -> None:
        from cdw_spark.operators.artifacts import clear_all

        clear_all()


class SparkifyElt(Workload):
    """Full fixed-mode rebuild, then the same events as two incremental
    batches, each pass into empty output directories."""

    name = "sparkify_elt"

    def __init__(self, spark, tracer, data_dir, out_root):
        super().__init__(spark, tracer)
        self.data = data_dir
        self.out_root = out_root
        self.passes = 0
        self.input_bytes = dir_bytes(os.path.join(data_dir, "events")) + dir_bytes(
            os.path.join(data_dir, "songs")
        )

    def ops(self) -> list[str]:
        return ["elt_full", "elt_batch1", "elt_batch2"]

    def before_pass(self) -> None:
        shutil.rmtree(self.out_root, ignore_errors=True)
        self.passes += 1
        self.full_dir = os.path.join(self.out_root, f"p{self.passes}", "full")
        self.inc_dir = os.path.join(self.out_root, f"p{self.passes}", "inc")

    def run_op(self, op: str, check: bool) -> None:
        from cdw_spark.pipeline import elt

        ev, so = os.path.join(self.data, "events"), os.path.join(self.data, "songs")
        if op == "elt_full":
            with self.tracer.span("elt.run_elt", "elt"):
                elt.run_elt(self.spark, f"{ev}/b*", f"{so}/b*", self.full_dir, faithful=False, mode="overwrite")
        else:
            b = op[-1]
            with self.tracer.span("elt.run_elt_incremental", "elt", batch=int(b)) as s:
                elt.run_elt_incremental(self.spark, f"{ev}/b{b}", f"{so}/b{b}", self.inc_dir)
            if self.tracer.enabled:
                s.attrs["rewrite_bytes"] = sum(dir_bytes(os.path.join(self.inc_dir, t)) for t in REWRITTEN)
            if check and op == "elt_batch2":
                self.checked(self.check_incremental)

    def check_incremental(self) -> str | None:
        """The documented contract of run_elt_incremental: batches A then B
        give the star tables of one full fixed-mode run over A and B, as
        multisets, with songplay_id (a partition-dependent surrogate)
        excluded."""
        con = duckdb.connect()
        try:
            for t in STAR_TABLES:
                full = f"read_parquet('{self.full_dir}/{t}/*.parquet')"
                inc = f"read_parquet('{self.inc_dir}/{t}/*.parquet')"
                cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {full}").fetchall()]
                sel = ", ".join(f'"{c}"' for c in cols if c != "songplay_id")
                n = con.execute(f"SELECT count(*) FROM {full}").fetchone()[0]
                diff = con.execute(
                    f"SELECT (SELECT count(*) FROM (SELECT {sel} FROM {full} EXCEPT ALL SELECT {sel} FROM {inc})),"
                    f" (SELECT count(*) FROM (SELECT {sel} FROM {inc} EXCEPT ALL SELECT {sel} FROM {full}))"
                ).fetchone()
                if n == 0 or diff != (0, 0):
                    return f"{t}: full rows={n}, only-full/only-incremental rows={diff}"
        finally:
            con.close()
        return None

    def stored_bytes(self) -> int:
        return sum(dir_bytes(os.path.join(self.full_dir, t)) for t in ELT_TABLES)
