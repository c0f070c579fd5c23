"""Physical table layout — the Spark analogue of Redshift DISTKEY / SORTKEY
/ diststyle (SURVEY.md §4; /root/reference/sql_queries.py DDL).

| Redshift construct     | Spark mechanism here                              |
|------------------------|---------------------------------------------------|
| DISTKEY col            | repartition(col) on write (co-locates equal keys) |
| SORTKEY col            | sortWithinPartitions(col) -> parquet row-group    |
|                        | min/max stats -> scan-time range pruning          |
| diststyle all          | broadcast() at join time (small dims)             |

At 100 TB the write layout is the difference between a co-located join and
a full shuffle: writing fact tables bucketed/partitioned by their join key
means later joins on that key skip the exchange entirely.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


# Layouts declared by the reference DDL (file:line in sql_queries.py).
@dataclass(frozen=True)
class TableLayout:
    distkey: str | None = None  # None + replicate=True ≡ diststyle all
    sortkey: str | None = None
    replicate: bool = False


REFERENCE_LAYOUTS: dict[str, TableLayout] = {
    "staging_events": TableLayout(distkey="sessionId", sortkey="sessionId"),  # :40,46
    "staging_songs": TableLayout(distkey="song_id", sortkey="song_id"),  # :57,61
    "songplays": TableLayout(distkey="song_id", sortkey="songplay_id"),  # :66,70,75
    "users": TableLayout(sortkey="user_id", replicate=True),  # :80,85
    "songs": TableLayout(distkey="song_id", sortkey="song_id"),  # :90,95
    "artists": TableLayout(sortkey="artist_id", replicate=True),  # :100,105
    "time": TableLayout(sortkey="start_time", replicate=True),  # :110,117
}


def apply_layout(df: DataFrame, layout: TableLayout) -> DataFrame:
    """Arrange a DataFrame per its declared layout before writing.

    distkey -> hash repartition (co-location); sortkey ->
    sortWithinPartitions (row-group zone maps). ``replicate`` tables are
    small — coalesce to one partition; their replication happens at join
    time via broadcast, not at rest."""
    out = df
    if layout.replicate:
        out = out.coalesce(1)
    elif layout.distkey:
        out = out.repartition(layout.distkey)
    if layout.sortkey:
        out = out.sortWithinPartitions(layout.sortkey)
    return out


def write_table(df: DataFrame, name: str, layout: TableLayout, mode: str, path: str) -> None:
    """Write table ``name`` as parquet at ``path``, arranged by its layout.

    ``mode='append'`` mirrors the reference's INSERT semantics (quirk K6:
    rerunning etl.py without a reset duplicates rows); ``overwrite`` is the
    reset-then-insert variant."""
    apply_layout(df, layout).write.mode(mode).parquet(path)


def zorder_key(cols: list, bits: int = 10):
    """Morton (Z-order) interleave of ``len(cols)`` columns, ``bits`` low
    bits each -> one BIGINT clustering key. Sorting/range-partitioning by
    it clusters rows that are close in EVERY dimension, so parquet
    row-group min/max zone maps prune multi-column range predicates — the
    Spark analogue of a multi-column SORTKEY (a plain compound sort only
    prunes its leading column).

    Pure JVM bit arithmetic (shiftright/and/shiftleft), codegen'd; mask
    columns to ``bits`` before calling if they exceed the range."""
    from pyspark.sql import functions as F

    k = len(cols)
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        col = F.col(c) if isinstance(c, str) else c
        for i in range(bits):
            bit = F.shiftright(col.cast("long"), i).bitwiseAND(F.lit(1))
            z = z + (bit * F.lit(1 << (i * k + j))).cast("long")
    return z


def write_bucketed(
    df: DataFrame,
    name: str,
    key: str,
    n_buckets: int = 8,
    mode: str = "overwrite",
) -> None:
    """The at-rest DISTKEY analog: ``bucketBy`` records the hash layout in
    the catalog, so equi-joins between tables bucketed on the same key
    with the same bucket count start with ZERO Exchange — co-location
    survives across jobs and sessions (``repartition`` only co-locates
    within one job). Bucket-sorted too, so merge joins skip the sort.

    At 100 TB this is the difference between re-shuffling the fact table
    on every join and never shuffling it at all; pick n_buckets so one
    bucket ~ one executor-core's worth of data.

    Idempotent against a dirty warehouse via ensure_clean_table_location."""
    ensure_clean_table_location(df.sparkSession, name)
    df.write.mode(mode).bucketBy(n_buckets, key).sortBy(key).saveAsTable(name)


def ensure_clean_table_location(spark: SparkSession, name: str) -> None:
    """Make ``saveAsTable(name)`` safe on a dirty warehouse:
    ``mode="overwrite"`` only replaces tables the *current* catalog
    knows, so an orphaned location left by a previous metastore (crashed
    session, fresh derby db over an old spark-warehouse dir) raises
    LOCATION_ALREADY_EXISTS. Drop the table AND remove a stale location
    before any managed-table write (applies to every ``saveAsTable``
    call, not just bucketed ones — the class of flake bit two different
    tests across rounds 3 and 4)."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    if warehouse:
        import shutil
        from urllib.parse import urlparse

        loc = os.path.join(urlparse(warehouse).path or warehouse, name.lower())
        if os.path.isdir(loc):
            shutil.rmtree(loc, ignore_errors=True)
