"""Size-gated join hints.

An unconditional ``F.broadcast`` on a data-dependent side is a 100 TB
foot-gun: the hint overrides Spark's own size checks, so a side that grows
with the fact table eventually exceeds the 8 GB broadcast hard limit (or
the driver's memory) and the job dies. The fix is NOT "never hint" — at
fixture scale the hint documents and locks in the intended plan — but to
gate the hint on Catalyst's own size estimate and otherwise fall back to
the optimizer + AQE, which re-plans sort-merge into broadcast at runtime
when the *actual* built size is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _threshold_bytes(spark) -> int:
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try:
        return int(raw)
    except ValueError:
        # e.g. "10MB" — parse with Spark's own byte-string parser.
        return int(
            spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
        )


def estimated_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the optimized logical plan (driver-side
    only — no job is run). Without CBO stats this is the file-scan size
    scaled by projection width, which is exactly the conservatism we want:
    it grows linearly with the input data."""
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return size if isinstance(size, int) else int(size.toString())


def broadcast_if_small(df: DataFrame, threshold_bytes: int | None = None) -> DataFrame:
    """Apply ``F.broadcast`` only when Catalyst estimates ``df`` under the
    session's ``autoBroadcastJoinThreshold`` (or an explicit byte limit).

    Above the gate the frame is returned unhinted: the planner picks
    sort-merge, and AQE (on by default in Spark 4.x) still converts to a
    broadcast join at runtime if the realized size turns out small. Use for
    every join side whose cardinality is data-dependent (derived from a
    fact table); bounded dimension tables may keep a hard hint.
    """
    spark = df.sparkSession
    limit = threshold_bytes if threshold_bytes is not None else _threshold_bytes(spark)
    if limit <= 0:  # threshold -1 disables auto-broadcast; respect it
        return df
    return F.broadcast(df) if estimated_size_bytes(df) <= limit else df


def rebalance_scan(df: DataFrame) -> DataFrame:
    """Round-robin a scan whose partition count is below half the session
    parallelism, ahead of CPU-heavy per-row work (explodes, tokenization).

    The fixture tables are single-row-group parquet files, so a bare scan
    is ONE input split and every downstream explode/aggregate runs
    single-task while the other cores idle (measured: text_entropy_rate's
    5M-row character-pair explode ran one-task at sf0.1). At real scale
    the file count exceeds the core count and this is a no-op — the same
    gate (and justification) as the shingle table's repartition in
    operators/dedup.py:_shingle_table.

    Only call ahead of work whose per-row cost dwarfs one narrow-column
    exchange (multi-row explodes, Arrow decode passes). For a cheap
    tokenize the repartition is a net LOSS — it shuffles the text payload
    and pays the keyless-repartition local sort for parallelism the
    explode doesn't need (measured with the repartition added:
    text_hapax_ratio 0.45 -> 0.89 s).

    Gate order: ``inputFiles()`` first — a pure driver-side file-listing
    lookup; when the scan already spans >= target/2 files it has at least
    that many splits and no py4j RDD conversion is paid (the 100 TB
    path). Only a scan with FEWER files falls back to the exact
    ``rdd.getNumPartitions()`` probe, which still recognizes large
    multi-row-group files that split by byte range."""
    target = df.sparkSession.sparkContext.defaultParallelism
    gate = max(1, target // 2)
    try:
        if len(df.inputFiles()) >= gate:
            return df
    except Exception:
        pass  # non-file relation: fall through to the exact probe
    if df.rdd.getNumPartitions() < gate:
        return df.repartition(target)
    return df
