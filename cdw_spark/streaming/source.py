"""Streaming sources and the one bounded-replay lifecycle.

The driver fixtures are static parquet, so the streaming source is Spark's
file source replaying a fixture table as ordered micro-batches: the table
is staged once into N time-range-split files and read with
``maxFilesPerTrigger=1``, which makes event time advance monotonically
across batches — watermarks progress exactly as they would on a live
stream. On a real deployment the same DataFrame comes from
``spark.readStream.format("kafka")``; every operator downstream is
source-agnostic.

Every bounded replay (Trigger.AvailableNow) drains through ``_drain``, the
only place a stream is started and awaited:

- ``run_available_now`` runs a query into a memory sink and returns the
  sink as a batch DataFrame; a streaming aggregate keeps its state in
  Spark's state store under the replay's checkpoint;
- ``replay`` runs a ``foreachBatch`` body ``handle(batch, batch_id)``
  under a throwaway checkpoint and writes nothing else: the body keeps
  its own state (driver variables, cut relations, its own tables);
- ``replay_into`` is ``replay`` against parquet sinks seeded under one
  scratch root: it returns one sink materialized off that root and
  removes the root on success and on failure.

A staged directory carries its file-stream schema in ``_SCHEMA.json``
beside the ``_STAGED`` marker, so opening a staged stream fires no Spark
job (the file source ignores ``_``-prefixed files).

Memory sinks and throwaway scratch roots serve bounded replays — the
production sink is ``writeStream.format("parquet")`` / kafka with a
durable checkpoint, same query graph.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType

from ..plans.lineage import cut

_qid = itertools.count()
_STAGE_ROOT = os.path.join(tempfile.gettempdir(), "cdw_stream_src")
_SCHEMA = "_SCHEMA.json"


def _is_staged(out: str) -> bool:
    """A directory is staged once both its marker and its stored schema
    exist; either missing means stage again."""
    return all(os.path.exists(os.path.join(out, f)) for f in ("_STAGED", _SCHEMA))


def _store_schema(spark: SparkSession, out: str) -> None:
    """Store the batch-read schema of the files just staged in ``out``:
    the schema ``staged_stream`` opens the stream with, taken once here
    instead of by an inference job per stream."""
    with open(os.path.join(out, _SCHEMA), "w") as f:
        f.write(spark.read.parquet(out).schema.json())


def replay_scratch(prefix: str) -> str:
    """mkdtemp for THROWAWAY replay scratch (checkpoints, WAL, per-batch
    parquet state), preferring RAM-backed /dev/shm when present.

    A bounded replay deletes this directory at the end of the call — its
    durability guarantee is nil by design (production sinks keep real
    checkpoints on durable storage). But the checkpoint path is
    fsync-heavy (offset WAL + commit log per micro-batch + one state
    delta per store per batch), and on a virtio disk those fsyncs stall
    unpredictably — measured 3-10x run-to-run swings on identical
    replays, the dominant noise AND cost of the streaming suite. tmpfs
    makes them memory writes.

    tmpfs is RAM-capped, so the choice is GATED: an env override wins,
    and /dev/shm is used only while it has comfortable free headroom
    (8 GiB — orders of magnitude above any bounded replay here);
    otherwise fall back to the disk tempdir."""
    base = os.environ.get("SPARK_GRAFT_REPLAY_SCRATCH")
    if base:
        os.makedirs(base, exist_ok=True)
        return tempfile.mkdtemp(prefix=prefix, dir=base)
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        try:
            st = os.statvfs(shm)
            if st.f_bavail * st.f_frsize >= 8 * 1024**3:
                return tempfile.mkdtemp(prefix=prefix, dir=shm)
        except OSError:
            pass
    return tempfile.mkdtemp(prefix=prefix)


@contextlib.contextmanager
def replay_partition_cap(spark: SparkSession):
    """Cap ``spark.sql.shuffle.partitions`` at 16 for one bounded replay,
    restoring the caller's value on exit.

    The state store allocates one store (and one task, and for Python
    stateful ops one Arrow round-trip) per shuffle partition PER
    MICRO-BATCH, and so does every shuffle a foreachBatch body plans.
    At fixture scale a 32-partition session turns ~6 tiny shuffles x 4
    batches into ~750 near-empty tasks of pure scheduling overhead. On a
    real cluster the cap would be sized to executor count."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", min(int(old), 16))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def stage_ordered_files(
    spark: SparkSession, sf_dir: str, table: str = "events", n_files: int = 8,
    order_col: str = "ts",
) -> str:
    """Split a fixture table into ``n_files`` event-time-ordered parquet
    files (staged once per (sf_dir, table, n); cached across calls).

    ``repartitionByRange`` on the time column makes part-00000 hold the
    earliest rows; file mtimes are then stamped in that order because the
    file stream source processes oldest-mtime-first (latestFirst=false).
    """
    from ..catalog import load_fixture

    # Engine semantic (SURVEY.md §4): timestamp arithmetic is UTC.
    # load_fixture pins the session TZ, but only runs on a staging cache
    # MISS — pin unconditionally so a caller-built non-UTC session gets
    # the same hour()/window() semantics on the cache-hit path too.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = f"{sf_dir.strip('/').replace('/', '_')}__{table}__{n_files}"
    if order_col != "ts":
        key += f"__{order_col}"
    out = os.path.join(_STAGE_ROOT, key)
    if not _is_staged(out):
        # load_fixture normalizes the fixture's TIMESTAMP(NANOS) to
        # microsecond TimestampType, so the staged files stream cleanly.
        df = load_fixture(spark, sf_dir, table)
        df.repartitionByRange(n_files, order_col).write.mode("overwrite").parquet(out)
        parts = sorted(
            p for p in os.listdir(out) if p.startswith("part-") and p.endswith(".parquet")
        )
        base = 1_700_000_000
        for i, p in enumerate(parts):
            os.utime(os.path.join(out, p), (base + i * 60, base + i * 60))
        _store_schema(spark, out)
        with open(os.path.join(out, "_STAGED"), "w") as f:
            f.write("\n".join(parts))
    return out


def staged_stream(spark: SparkSession, path: str) -> DataFrame:
    """``readStream`` over a staged directory, one file per micro-batch,
    oldest mtime first.

    The file source needs an explicit schema (no inference mid-stream);
    it is the one stored at staging time, so opening fires no job.
    """
    with open(os.path.join(path, _SCHEMA)) as f:
        schema = StructType.fromJson(json.load(f))
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(path)
    )


def table_stream(
    spark: SparkSession, sf_dir: str, table: str, order_col: str, n_files: int = 4
) -> DataFrame:
    """Stream any fixture table in ``order_col`` order (documents etc.
    order by their id column)."""
    return staged_stream(
        spark, stage_ordered_files(spark, sf_dir, table, n_files, order_col)
    )


def events_stream(spark: SparkSession, sf_dir: str, n_files: int = 8) -> DataFrame:
    """Stream ``events`` in event-time order."""
    return table_stream(spark, sf_dir, "events", "ts", n_files)


def _drain(spark: SparkSession, writer: DataStreamWriter, chk: str) -> None:
    """Run ``writer`` as an AvailableNow query checkpointed at ``chk`` and
    block until it has drained every staged file.

    AvailableNow respects maxFilesPerTrigger and runs trailing no-data
    batches, so the final watermark flushes closed windows in append mode
    before the query stops — a deterministic bounded replay. The wait has
    no timeout, so a replay still running is never read as a result; the
    query is stopped on every exit, so a failed batch leaves none behind.
    The shuffle cap spans the run because foreachBatch bodies plan their
    shuffles on the caller's session."""
    with replay_partition_cap(spark):
        q = (
            writer.option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()


def run_available_now(sdf: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Run a bounded streaming query into a memory sink and return the
    sink contents as a batch DataFrame.

    The result reads the sink's ``MemoryPlan``, which Spark does not
    deduplicate: a plan that reads the result twice (a self-join, a
    ``crossJoin`` with its own aggregate) fails analysis with "Failure when
    resolving conflicting references in Join". Cut the result first
    (``plans.lineage.cut``) when it is read more than once.

    The sink's temp view is dropped before returning: the frame holds the
    sink itself, so the rows live as long as the frame does, not for the
    rest of the session."""
    spark = sdf.sparkSession
    qname = f"cdw_{name}_{next(_qid)}"
    # Memory-sink runs are throwaway replays: the checkpoint must be fresh
    # per run, or the file source sees every staged file as already
    # committed and emits nothing. Production sinks do the opposite —
    # a stable checkpoint dir is exactly what gives exactly-once resume.
    chk = replay_scratch(f"cdw_chk_{qname}_")
    try:
        writer = sdf.writeStream.format("memory").queryName(qname).outputMode(output_mode)
        _drain(spark, writer, chk)
    finally:
        # the memory sink holds the result; the checkpoint is throwaway
        shutil.rmtree(chk, ignore_errors=True)
    result = spark.table(qname)
    spark.catalog.dropTempView(qname)
    return result


def replay(sdf: DataFrame, handle: Callable[[DataFrame, int], None]) -> None:
    """Replay ``sdf`` through the foreachBatch body ``handle(batch,
    batch_id)``.

    The checkpoint is throwaway scratch, removed on success and on
    failure; the body keeps whatever state it needs (driver variables, cut
    relations, tables it writes). Production deployments keep the
    checkpoint — exactly-once resume depends on it, and ``batch_id`` is
    what makes a re-delivered batch idempotent."""
    chk = replay_scratch("cdw_replay_chk_")
    try:
        _drain(sdf.sparkSession, sdf.writeStream.foreachBatch(handle), chk)
    finally:
        shutil.rmtree(chk, ignore_errors=True)


def replay_into(
    sdf: DataFrame,
    sinks: dict[str, DataFrame],
    handle: Callable[[DataFrame, dict[str, str]], None],
    result: str,
) -> DataFrame:
    """Replay ``sdf`` through ``handle(batch, dirs)`` and return the
    ``result`` sink.

    ``sinks`` maps each parquet sink's name to an empty DataFrame seeding
    its schema; ``dirs`` maps the same names to their paths under one
    scratch root. The result is materialized (executor-block storage) so
    it outlives the root, which is removed on success and on failure.
    Production deployments keep sinks and checkpoint — exactly-once resume
    depends on them; a throwaway replay must not leak a directory per call.
    """
    spark = sdf.sparkSession
    root = replay_scratch("cdw_replay_")
    try:
        dirs = {name: os.path.join(root, name) for name in sinks}
        for name, empty in sinks.items():
            empty.write.mode("overwrite").parquet(dirs[name])
        replay(sdf, lambda batch, _id: handle(batch, dirs))
        return cut(spark.read.parquet(dirs[result]))
    finally:
        shutil.rmtree(root, ignore_errors=True)


def stage_exact_quarters(
    spark: SparkSession, sf_dir: str, table: str, id_col: str, n_files: int = 4
) -> tuple[str, int]:
    """Stage a fixture table into ``n_files`` files with EXACT id-quarter
    boundaries (file q holds rows with (id * n_files) div n_rows == q,
    ids dense 0..n-1) — unlike repartitionByRange's SAMPLED boundaries,
    the file membership is a pure function of (id, n_rows), so per-batch
    streaming audits can be restated in SQL oracles. Returns (dir,
    n_rows); staged once per (sf_dir, table, n_files), mtime-ordered so
    the file source replays quarters in id order. ``_STAGED`` stores
    n_rows, so a staged table is served without a Spark job."""
    from ..catalog import load_fixture

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = f"{sf_dir.strip('/').replace('/', '_')}__{table}__q{n_files}"
    out = os.path.join(_STAGE_ROOT, key)
    done = os.path.join(out, "_STAGED")
    if _is_staged(out):
        with open(done) as f:
            return out, int(f.read())
    df = load_fixture(spark, sf_dir, table)
    n_rows = df.count()
    # Loud precondition: the quarter formula silently
    # drops any row whose (id * n_files) div n_rows lands >= n_files,
    # which happens exactly when ids are not dense 0..n-1 (1-based or
    # sparse). Fail the replay setup instead of auditing a truncated
    # stream.
    lohi = df.agg(
        F.min(F.col(id_col).cast("bigint")).alias("lo"),
        F.max(F.col(id_col).cast("bigint")).alias("hi"),
    ).collect()[0]
    if lohi["lo"] != 0 or lohi["hi"] != n_rows - 1:
        raise ValueError(
            f"stage_exact_quarters needs dense 0..n-1 ids in "
            f"{table}.{id_col}: got min={lohi['lo']} max={lohi['hi']} "
            f"for n_rows={n_rows}"
        )
    base = 1_700_000_000
    for q in range(n_files):
        part = df.filter(
            F.expr(f"CAST({id_col} * {n_files} div {n_rows} AS BIGINT) = {q}")
        )
        pdir = os.path.join(out, f"q{q}")
        part.coalesce(1).write.mode("overwrite").parquet(pdir)
        src = next(
            p for p in os.listdir(pdir)
            if p.startswith("part-") and p.endswith(".parquet")
        )
        os.replace(
            os.path.join(pdir, src), os.path.join(out, f"quarter-{q}.parquet")
        )
        shutil.rmtree(pdir, ignore_errors=True)
        os.utime(
            os.path.join(out, f"quarter-{q}.parquet"),
            (base + q * 60, base + q * 60),
        )
    _store_schema(spark, out)
    with open(done, "w") as f:
        f.write(str(n_rows))
    return out, n_rows
