"""Lineage cuts and held relations: the one place the package
materializes a relation for repeated reads.

Iterative loops, relations read by several branches and replayed
micro-batch state all cut lineage, so a long run neither re-executes its
upstream once per reference nor plans an ever-growing tree. How to cut
depends on the deployment, not on the caller:

- With no checkpoint dir on the context (every local run, the tests and
  the benchmark), the cut is ``localCheckpoint``: blocks in executor
  storage, no file I/O. They are lost with their executor, so a job that
  reads a cut after losing an executor fails.
- With a checkpoint dir (``SparkContext.setCheckpointDir`` or
  ``spark.checkpoint.dir``, e.g. on HDFS/S3), the cut is a reliable
  ``checkpoint``: the rows are written under that dir and survive executor
  loss and dynamic de-allocation. ``get_spark`` sets
  ``spark.cleaner.referenceTracking.cleanCheckpoints`` so the files go
  once the cut's RDD is collected. A durable cut is always eager: it
  writes as it computes, in one job. A lazy ``checkpoint`` would write in
  a second job after the first action that reads it, and that job would
  compute its input again, so ``eager=False`` only applies to local cuts.
  No lazy call site relies on deferred evaluation: each cuts a pure
  function of inputs that do not change before its first action.

A relation that only a driver-side loop reads, for as long as one call
runs, is ``held`` instead: persisted on entry and unpersisted on every
exit, a raise included. It keeps its lineage, so a lost executor's
blocks are recomputed rather than failing the job, and its cache entry
is gone once the block ends, so no later query can read it in place of
its own plan. A cut's blocks stay until its RDD is garbage-collected;
callers release those between units of work.
"""

from __future__ import annotations

import contextlib
from collections.abc import Iterator

from pyspark.sql import DataFrame


def cut(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df`` with its lineage truncated: a plan over the materialized rows.

    ``eager=True`` materializes now (one job); ``eager=False`` when the
    first action on the result runs, for a local cut. A durable cut
    materializes now either way."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager)
    return df.checkpoint(eager=True)


@contextlib.contextmanager
def held(df: DataFrame) -> Iterator[DataFrame]:
    """``df`` persisted for the ``with`` block and unpersisted on every
    exit. Persisting fires no job: the first action inside the block
    fills the cache, and later reads in the block scan it."""
    df = df.persist()
    try:
        yield df
    finally:
        df.unpersist()
