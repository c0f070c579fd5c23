"""foreachBatch upsert sink: incremental MERGE of a stream into a
latest-state table.

This is the canonical Structured Streaming pattern for "stream into a
warehouse table": per micro-batch, ``foreachBatch`` hands us a batch
DataFrame with exactly-once replay semantics (the batch id is stable across
recovery), and we MERGE it into the target with the same
``merge_latest_state`` reducer the batch engine uses — one semantics, two
execution modes (the discipline of streaming/windows.py).

The target here is a versioned parquet directory: each batch writes
version N+1 from version N + batch, then atomically publishes it via a
rename-pointer file — a deliberately minimal stand-in for a transactional
table format (Delta/Iceberg) that keeps the read path (latest version) and
write path (copy-on-write merge) honest. On a real cluster the foreachBatch
body would be ``MERGE INTO`` on the table format; everything upstream is
unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..catalog import read_parquet, write_parquet
from ..operators.curate import merge_latest_state
from .source import replay, replay_scratch


class VersionedParquetTable:
    """Tiny copy-on-write versioned table: _v<N> directories plus a
    _LATEST pointer file written last (atomic publish on POSIX rename).
    A version this process published is read with the schema it was
    written with (``catalog.write_parquet``), so reading it fires no
    inference job."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def latest_version(self) -> int:
        ptr = os.path.join(self.root, "_LATEST")
        if not os.path.exists(ptr):
            return -1
        with open(ptr) as f:
            return int(f.read().strip())

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame | None:
        """Read the latest version, or a pinned historical one (time
        travel): every publish is immutable, so `version=N` reproduces the
        table exactly as batch N left it."""
        v = self.latest_version() if version is None else version
        if v < 0:
            return None
        path = os.path.join(self.root, f"_v{v}")
        if not os.path.isdir(path):
            raise ValueError(f"version {v} does not exist under {self.root}")
        return read_parquet(spark, path)

    def publish(self, df: DataFrame) -> int:
        v = self.latest_version() + 1
        path = os.path.join(self.root, f"_v{v}")
        write_parquet(df, path)
        tmp = os.path.join(self.root, "_LATEST.tmp")
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, os.path.join(self.root, "_LATEST"))
        return v


def upsert_stream_into_table(
    sdf: DataFrame,
    keys: list[str],
    order_cols: list[str],
    table_root: str | None = None,
) -> tuple[DataFrame, str]:
    """Drain a bounded stream (AvailableNow) into a latest-state table via
    foreachBatch MERGE; returns (final_state_df, table_root).

    Each batch reduces to one row per key BEFORE the merge join (the batch
    is the only full-width relation; the target stays one-row-per-key), so
    per-batch cost is O(batch + |keys seen|), not O(stream so far).
    The caller owns ``table_root``: it holds every published version
    (time travel), so only the checkpoint is removed here.
    """
    spark = sdf.sparkSession
    root = table_root or replay_scratch("cdw_upsert_tbl_")
    table = VersionedParquetTable(root)

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        target = table.read(batch.sparkSession)
        if target is None:
            from pyspark.sql import functions as F
            from pyspark.sql.window import Window

            win = Window.partitionBy(*keys).orderBy(
                *[F.col(c).desc() for c in order_cols]
            )
            first = (
                batch.withColumn("_rn", F.row_number().over(win))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
            table.publish(first)
            return
        merged = merge_latest_state(target, batch, keys=keys, order_cols=order_cols)
        table.publish(merged.drop("op"))

    replay(sdf, merge_batch)
    final = table.read(spark)
    assert final is not None
    return final, root
