"""Lineage cuts: the one place the package truncates a plan's lineage.

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
  once the cut's RDD is collected. An eager durable cut writes as it
  computes, in one job. A lazy one writes in a second job after the first
  action that reads it, and that job computes its input again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def cut(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df`` with its lineage truncated: a plan over the materialized rows.

    ``eager=True`` materializes now (one job); ``eager=False`` when the
    first action on the result runs."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager)
    return df.checkpoint(eager)
