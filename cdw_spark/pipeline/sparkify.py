"""The five INSERT...SELECT transforms of the reference ELT, as DataFrame
plans (/root/reference/sql_queries.py:140-220, driven by etl.py:18-27).

Every known semantic quirk of the reference (SURVEY.md §7.1) is reproduced
in ``faithful=True`` mode and corrected in ``faithful=False``:

  K1 songplay_id never populated (NULL)        | monotonically_increasing_id
  K2 time.weekday filled with EXTRACT(week)    | real day-of-week
  K3 users DISTINCT over all 5 cols (dup user) | latest-level per user
  K4 DECIMAL(9,0) rounding before the join     | (kept — it's the schema)
  K5 ts/1000 BIGINT division truncates ms      | (kept in faithful; exact in fixed)
  K7 implicit int->varchar casts               | explicit .cast("string") always

Scale design:
- The songs catalog is millions of rows vs billions of play events — the
  join broadcasts the *deduplicated, projected* song side; the event side
  is never shuffled for the join (only for the final DISTINCT).
- All five transforms share the two staging scans; Catalyst prunes each to
  the columns it needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.timeparts import (
    epoch_ms_to_timestamp_exact,
    epoch_ms_to_timestamp_faithful,
    time_parts,
)


def _start_time(faithful: bool) -> Column:
    ts = F.col("ts")
    return epoch_ms_to_timestamp_faithful(ts) if faithful else epoch_ms_to_timestamp_exact(ts)


def build_songplays(
    events: DataFrame, songs: DataFrame, faithful: bool = True
) -> DataFrame:
    """songplay_table_insert (sql_queries.py:140-166).

    ``SELECT DISTINCT start_time, userId, level, song_id, artist_id,
    sessionId, location, userAgent FROM staging_events se INNER JOIN
    staging_songs ss ON se.artist=ss.artist_name AND se.song=ss.title AND
    se.length=ss.duration WHERE se.page='NextSong'``

    The 3-key equality includes DECIMAL(9,0) ``length = duration`` — both
    sides already rounded at load (K4). user_id/session_id become VARCHAR
    via explicit casts (K7). songplay_id: NULL in faithful mode (K1), a
    unique surrogate otherwise.
    """
    from ..plans.hints import broadcast_if_small

    se = events.filter(F.col("page") == "NextSong")
    ss = songs.select("artist_name", "title", "duration", "song_id", "artist_id").dropDuplicates()
    # The song catalog is small in the fixtures but NOT bounded enough for
    # an unconditional broadcast at the design scale — tens of millions of
    # catalog rows of strings is multi-GB. Size-gate the hint: under the
    # session autoBroadcastJoinThreshold it broadcasts (fixture path);
    # above it the planner gets an unhinted side and picks sort-merge,
    # with the bucketed staging layout (plans/layout.py:write_bucketed,
    # zero-Exchange join proven in tests/test_plans.py) as the documented
    # above-threshold plan.
    joined = se.join(
        broadcast_if_small(ss),
        on=[
            se["artist"] == ss["artist_name"],
            se["song"] == ss["title"],
            se["length"] == ss["duration"],
        ],
        how="inner",
    )
    out = joined.select(
        _start_time(faithful).alias("start_time"),
        F.col("userId").cast("string").alias("user_id"),
        F.col("level").alias("level"),
        F.col("song_id").alias("song_id"),
        F.col("artist_id").alias("artist_id"),
        F.col("sessionId").cast("string").alias("session_id"),
        F.col("location").alias("location"),
        F.col("userAgent").alias("user_agent"),
    ).distinct()
    if faithful:
        sp_id = F.lit(None).cast("long")  # K1: the reference never fills it
    else:
        sp_id = F.monotonically_increasing_id()
    return out.select(sp_id.alias("songplay_id"), "*")


def build_users(events: DataFrame, faithful: bool = True) -> DataFrame:
    """user_table_insert (sql_queries.py:168-184).

    Faithful: DISTINCT over all five columns — a user appearing with both
    level='free' and 'paid' yields two rows despite the declared PK (K3).
    Fixed: keep each user's latest row by ``(ts, sessionId)``.
    """
    if faithful:
        return _user_rows(events).drop("_v_ts", "_v_sid").distinct()
    return users_latest_versioned(events).drop("_v_ts", "_v_sid")


def _user_rows(events: DataFrame) -> DataFrame:
    """NextSong events projected onto the users columns plus the ``(ts,
    sessionId)`` version key as ``_v_ts``/``_v_sid``."""
    return events.filter(F.col("page") == "NextSong").select(
        F.col("userId").alias("user_id"),
        F.col("firstName").alias("first_name"),
        F.col("lastName").alias("last_name"),
        F.col("gender").alias("gender"),
        F.col("level").alias("level"),
        F.col("ts").alias("_v_ts"),
        F.col("sessionId").alias("_v_sid"),
    )


def latest_user_versions(users: DataFrame) -> DataFrame:
    """One row per ``user_id``: the one with the highest ``(_v_ts,
    _v_sid)`` version key. A NULL user_id is its own group."""
    w = Window.partitionBy("user_id").orderBy(F.col("_v_ts").desc(), F.col("_v_sid").desc())
    return users.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def users_latest_versioned(events: DataFrame) -> DataFrame:
    """Per-user latest profile row by event time, WITH its version key.
    Keeping the max version across any partition of the event history
    reproduces the full-history answer, which is what makes the
    incremental users upsert (``pipeline.elt.run_elt_incremental``) agree
    with a full rebuild."""
    return latest_user_versions(_user_rows(events))


def build_songs(songs: DataFrame) -> DataFrame:
    """song_table_insert (sql_queries.py:186-195): DISTINCT projection of
    the catalog. Positional insert in the reference — column order must
    match the DDL (song_id, title, artist_id, year, duration)."""
    return songs.select("song_id", "title", "artist_id", "year", "duration").distinct()


def build_artists(songs: DataFrame) -> DataFrame:
    """artist_table_insert (sql_queries.py:197-206): note the renames
    artist_name->name etc. — positional, like songs."""
    return songs.select(
        F.col("artist_id"),
        F.col("artist_name").alias("name"),
        F.col("artist_location").alias("location"),
        F.col("artist_latitude").alias("latitude"),
        F.col("artist_longitude").alias("longitude"),
    ).distinct()


def build_time(events: DataFrame, faithful: bool = True) -> DataFrame:
    """time_table_insert (sql_queries.py:208-220): epoch->timestamp (K5) +
    the EXTRACT family, weekday=week in faithful mode (K2)."""
    se = events.filter(F.col("page") == "NextSong")
    start = _start_time(faithful)
    return se.select(time_parts(start, faithful_weekday=faithful)).distinct()


def transform_all(
    events: DataFrame, songs: DataFrame, faithful: bool = True
) -> dict[str, DataFrame]:
    """All five star-schema tables, in the reference's insert order
    (sql_queries.py:227)."""
    return {
        "songplays": build_songplays(events, songs, faithful),
        "users": build_users(events, faithful),
        "songs": build_songs(songs),
        "artists": build_artists(songs),
        "time": build_time(events, faithful),
    }
