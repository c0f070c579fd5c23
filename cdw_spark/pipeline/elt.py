"""The ELT driver — /root/reference/etl.py recreated on Spark.

Reference lifecycle (etl.py:30-43): config -> connect -> load staging
(COPY x2) -> insert star tables (INSERT...SELECT x5, order fixed at
sql_queries.py:227) -> close. Here: session -> JSON loads -> the two
staging writes, concurrently -> five DataFrame transforms -> the five
layout-aware parquet writes, concurrently. INSERTs append (quirk K6) unless
``mode='overwrite'``.

A full reset (create_tables.py) is ``mode='overwrite'``: each write
replaces its table, the reference's DROP, CREATE, then INSERT. The tables
may or may not exist beforehand.

Every table is written through ``catalog.write_parquet`` (the layout
writes too), which remembers the written schema, so every read back of a
table this process wrote (``catalog.read_parquet``) fires no inference
job, like the reference's DDL, which fixes each schema before COPY.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from functools import partial

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from ..catalog import read_parquet, write_parquet
from ..plans.layout import REFERENCE_LAYOUTS, write_table
from ..plans.lineage import cut
from ..sources.json_loader import load_staging_events, load_staging_songs
from .sparkify import (
    build_artists,
    build_songplays,
    build_songs,
    build_time,
    latest_user_versions,
    transform_all,
    users_latest_versioned,
)

# The reference's insert order (sql_queries.py:227). All five read only
# staging, so the writes run concurrently; the order only fixes the order
# of the returned paths.
INSERT_ORDER = ("songplays", "users", "songs", "artists", "time")


def _read_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a parquet table that may not exist yet. ONLY a missing path
    returns None — a real read error (corruption, permissions) propagates,
    because falling back to "pretend it's the first batch" would overwrite
    previously merged data with one batch's slice (a silent destructive
    reset)."""
    try:
        return read_parquet(spark, path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return None
        raise


def _concurrently(spark: SparkSession, *writes: Callable[[], None]) -> None:
    """Run independent zero-argument writes at the same time, one thread
    each. Each write is wrapped at submit time, so it runs with its own
    clone of the caller's local properties and tags: its jobs keep the
    caller's job group, and no two concurrent SQL executions share one
    ``Properties`` object. Waits for every write, then re-raises the first
    failure in submission order, so no write is still running on return."""
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(w)) for w in writes]
    for f in futures:
        f.result()


def load_staging(
    spark: SparkSession, log_path: str, song_path: str, out_dir: str, mode: str
) -> tuple[dict[str, DataFrame], dict[str, str]]:
    """The COPY stage (etl.py:6-15): read both JSON sources and write each
    staging table under ``out_dir`` with its declared layout (the
    reference keeps them queryable in Redshift); the two writes run
    concurrently. Returns the freshly read frames and {table: parquet
    path}."""
    staging = {
        "staging_events": load_staging_events(spark, log_path),
        "staging_songs": load_staging_songs(spark, song_path),
    }
    paths = {name: os.path.join(out_dir, name) for name in staging}
    _concurrently(spark, *(
        partial(write_table, df, name, REFERENCE_LAYOUTS[name], mode=mode, path=paths[name])
        for name, df in staging.items()
    ))
    return staging, paths


def run_elt(
    spark: SparkSession,
    log_path: str,
    song_path: str,
    out_dir: str,
    faithful: bool = True,
    mode: str = "append",
) -> dict[str, str]:
    """Full pipeline: stage JSON -> transform -> write star schema.

    Returns {table: parquet path}, staging tables included. Each write
    applies the table's declared DISTKEY/SORTKEY layout. The staging
    writes run concurrently, then the five star writes do."""
    staging, paths = load_staging(spark, log_path, song_path, out_dir, mode)

    # Re-read staging from parquet: the reference transforms read staged
    # tables, not the raw JSON — and at scale re-reading columnar staging
    # beats re-parsing JSON five times. The schema is the one just
    # written, so the read needs no inference job.
    events = read_parquet(spark, paths["staging_events"])
    songs = read_parquet(spark, paths["staging_songs"])

    star = transform_all(events, songs, faithful=faithful)
    star_paths = {name: os.path.join(out_dir, name) for name in INSERT_ORDER}
    _concurrently(spark, *(
        partial(write_table, star[name], name, REFERENCE_LAYOUTS[name], mode=mode, path=path)
        for name, path in star_paths.items()
    ))
    return paths | star_paths


def run_elt_incremental(
    spark: SparkSession, log_path: str, song_path: str, out_dir: str
) -> dict[str, str]:
    """Incremental ELT over a NEW batch of source files — the reference
    pipeline run continuously instead of as a full rebuild (etl.py reruns
    COPY over everything; Redshift users cron exactly this shape with
    per-prefix COPYs). Contract, proven in tests/test_elt_runner.py:
    incremental(A) then incremental(B) produces the same star schema as
    one full run over A ∪ B.

    Per-table merge discipline (the general MERGE/CDC operators applied
    to the reference's own schema):
    - facts (``songplays``) are immutable events -> transform ONLY the
      new EVENT slice and APPEND (no fact rewrite at any scale). The
      song-catalog side of the fact join is the ACCUMULATED
      ``staging_songs`` table (read back after this batch's staging
      append), so an event whose song arrived in an EARLIER batch still
      resolves song_id/artist_id. The converse is out of contract:
      a song arriving AFTER the event's batch cannot retroactively fill
      already-appended fact rows (facts are immutable); the full-rebuild
      path is the remedy when late catalogs must back-fill.
    - ``users`` is latest-wins on the (ts, sessionId) version key -> keep
      max-version per user across old+new (upsert); the versioned form
      persists beside the published projection so the next merge has its
      decision key;
    - ``songs`` / ``artists`` / ``time`` are DISTINCT projections ->
      APPEND the batch's distinct rows that the dim does not hold yet (a
      left-anti join, null-safe on every column, so a row with NULLs is
      not appended twice). Cost bound: each batch reads O(|dim|) rows
      for the anti join but writes only its new rows, so no dim file is
      ever rewritten — ``time`` grows with the fact table, and a rewrite
      would make every batch cost O(facts). At the 100 TB design point,
      a dim too large to scan per batch should use the keyed-upsert
      path instead (``cdw_spark.operators.curate.merge_incremental_upsert``,
      proven by the ``incremental_join_merge`` query) — same contract,
      touches only changed partitions.

    Fixed-mode only: the faithful quirk set (K3's level-flapping DISTINCT
    rows, K1's NULL ids) is history-order-dependent by design and cannot
    be maintained incrementally — exactly why the quirks are quirks.

    Scale: every merge reads |new batch| + |dim| rows; only ``users``
    is rewritten, and the fact table never is. After the staging append,
    the five star writes run concurrently. songplay_id stays the
    synthetic surrogate and is not compared across runs
    (monotonically_increasing_id is partition-dependent, K1's fixed
    variant)."""
    staging, paths = load_staging(spark, log_path, song_path, out_dir, "append")
    paths |= {name: os.path.join(out_dir, name) for name in INSERT_ORDER}
    events = staging["staging_events"]

    # The fact join's catalog side is the ACCUMULATED staging_songs (this
    # batch's rows were just appended above), so events referencing songs
    # from earlier batches still resolve — incremental(A);incremental(B)
    # == full(A ∪ B) holds for interleaved catalogs, not just disjoint
    # ones. The new-batch slice alone is still used for the song/artist
    # dim merges (the anti-join append makes that equivalent and cheaper).
    songs_new = staging["staging_songs"]
    songs_all = read_parquet(spark, paths["staging_songs"])

    def _append_songplays() -> None:
        # fact: append-only, joined against the full accumulated catalog
        write_parquet(
            build_songplays(events, songs_all, faithful=False), paths["songplays"], "append"
        )

    def _upsert_users() -> None:
        # max-version upsert via the persisted versioned form
        uv_path = os.path.join(out_dir, "_users_versioned")
        new_v = users_latest_versioned(events)
        old_v = _read_if_exists(spark, uv_path)
        all_v = old_v.unionByName(new_v) if old_v is not None else new_v
        # cut the lineage: the overwrites below replace the files it reads
        latest = cut(latest_user_versions(all_v))
        write_parquet(latest, uv_path)
        write_parquet(latest.drop("_v_ts", "_v_sid"), paths["users"])

    def _append_new_distinct(new_df: DataFrame, name: str) -> None:
        rows = new_df.distinct()
        old = _read_if_exists(spark, paths[name])
        if old is not None:
            same = [rows[c].eqNullSafe(old[c]) for c in rows.columns]
            rows = rows.join(old, on=same, how="left_anti")
        write_parquet(rows, paths[name], "append")

    _concurrently(
        spark,
        _append_songplays,
        _upsert_users,
        partial(_append_new_distinct, build_songs(songs_new), "songs"),
        partial(_append_new_distinct, build_artists(songs_new), "artists"),
        partial(_append_new_distinct, build_time(events, faithful=False), "time"),
    )
    return paths
