"""Differential + quirk tests for the faithful Sparkify ELT.

The oracle is the reference's own SQL (/root/reference/sql_queries.py:
140-220) ported verbatim to DuckDB syntax, run over the SAME staging data
(exported from the Spark staging frames). This is the parity proof: our
DataFrame transforms ≡ the reference's INSERT...SELECTs.
"""

from __future__ import annotations

import pytest

from cdw_spark.compare import compare_with_connection
from cdw_spark.pipeline.sparkify import (
    build_artists,
    build_songplays,
    build_songs,
    build_time,
    build_users,
    transform_all,
)
from cdw_spark.sources.json_loader import load_staging_events, load_staging_songs

import duckdb

from tests.sparkify_data import generate


@pytest.fixture(scope="module")
def staging(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("sparkify")
    log_path, song_path = generate(str(out))
    events = load_staging_events(spark, log_path)
    songs = load_staging_songs(spark, song_path)
    return events, songs


@pytest.fixture(scope="module")
def oracle_con(staging):
    events, songs = staging
    con = duckdb.connect()
    con.register("staging_events_arrow", events.toArrow())
    con.register("staging_songs_arrow", songs.toArrow())
    con.execute("CREATE VIEW staging_events AS SELECT * FROM staging_events_arrow")
    con.execute("CREATE VIEW staging_songs AS SELECT * FROM staging_songs_arrow")
    return con


# --- the reference SQL, ported to DuckDB ---------------------------------

SONGPLAYS_SQL = """
SELECT DISTINCT
    CAST(NULL AS BIGINT) AS songplay_id,
    make_timestamp((se.ts // 1000) * 1000000) AS start_time,
    CAST(se.userId AS VARCHAR) AS user_id,
    se.level AS level,
    ss.song_id AS song_id,
    ss.artist_id AS artist_id,
    CAST(se.sessionId AS VARCHAR) AS session_id,
    se.location AS location,
    se.userAgent AS user_agent
FROM staging_events se
INNER JOIN staging_songs ss
    ON se.artist = ss.artist_name
   AND se.song = ss.title
   AND se.length = ss.duration
WHERE se.page = 'NextSong'
"""

USERS_SQL = """
SELECT DISTINCT
    se.userId AS user_id,
    se.firstName AS first_name,
    se.lastName AS last_name,
    se.gender AS gender,
    se.level AS level
FROM staging_events se
WHERE se.page = 'NextSong'
"""

SONGS_SQL = """
SELECT DISTINCT song_id, title, artist_id, year, duration FROM staging_songs
"""

ARTISTS_SQL = """
SELECT DISTINCT
    artist_id,
    artist_name AS name,
    artist_location AS location,
    artist_latitude AS latitude,
    artist_longitude AS longitude
FROM staging_songs
"""

TIME_SQL = """
SELECT DISTINCT
    make_timestamp((se.ts // 1000) * 1000000) AS start_time,
    CAST(hour(make_timestamp((se.ts // 1000) * 1000000)) AS INTEGER) AS hour,
    CAST(dayofmonth(make_timestamp((se.ts // 1000) * 1000000)) AS INTEGER) AS day,
    CAST(weekofyear(make_timestamp((se.ts // 1000) * 1000000)) AS INTEGER) AS week,
    CAST(month(make_timestamp((se.ts // 1000) * 1000000)) AS INTEGER) AS month,
    CAST(year(make_timestamp((se.ts // 1000) * 1000000)) AS INTEGER) AS year,
    CAST(weekofyear(make_timestamp((se.ts // 1000) * 1000000)) AS INTEGER) AS weekday
FROM staging_events se
WHERE se.page = 'NextSong'
"""


@pytest.mark.parametrize(
    "name,sql",
    [
        ("songplays", SONGPLAYS_SQL),
        ("users", USERS_SQL),
        ("songs", SONGS_SQL),
        ("artists", ARTISTS_SQL),
        ("time", TIME_SQL),
    ],
)
def test_star_table_matches_reference_sql(staging, oracle_con, name, sql):
    events, songs = staging
    builders = {
        "songplays": lambda: build_songplays(events, songs, faithful=True),
        "users": lambda: build_users(events, faithful=True),
        "songs": lambda: build_songs(songs),
        "artists": lambda: build_artists(songs),
        "time": lambda: build_time(events, faithful=True),
    }
    df = builders[name]()
    # Compare on a DRIVABLE projection: the faithful star schema keeps
    # duration as Redshift-style DECIMAL(9,0), which the (now
    # driver-faithful, r9) strict mirror refuses to unify with DuckDB's
    # float64 — exactly the typing rule every oracled query follows, so
    # the comparison casts it to DOUBLE on both sides.
    from pyspark.sql import functions as SF
    from pyspark.sql import types as ST

    for f in df.schema.fields:
        if isinstance(f.dataType, ST.DecimalType):
            df = df.withColumn(f.name, SF.col(f.name).cast("double"))
    res = compare_with_connection(name, df, sql, oracle_con)
    assert res.ok, str(res)


def test_quirk_k1_songplay_id_null_faithful(staging):
    events, songs = staging
    sp = build_songplays(events, songs, faithful=True)
    assert sp.filter("songplay_id IS NOT NULL").count() == 0


def test_fixed_mode_songplay_id_unique(staging):
    events, songs = staging
    sp = build_songplays(events, songs, faithful=False)
    n = sp.count()
    assert n > 0
    assert sp.select("songplay_id").distinct().count() == n


def test_quirk_k3_users_dup_levels(staging):
    events, _ = staging
    users = build_users(events, faithful=True)
    dups = users.groupBy("user_id").count().filter("count > 1")
    assert dups.count() > 0, "fixture must produce users with both levels"
    fixed = build_users(events, faithful=False)
    assert fixed.groupBy("user_id").count().filter("count > 1").count() == 0


def test_quirk_k4_rounded_join_merges_near_durations(spark, staging):
    events, songs = staging
    se = events.filter("page = 'NextSong' AND artist IS NOT NULL")
    raw_matches = se.join(
        songs,
        on=[se["artist"] == songs["artist_name"], se["song"] == songs["title"]],
        how="inner",
    )
    # pairs that match on (artist,title): some have equal DECIMAL(9,0)
    # rounding, some don't — the decimal join must sit strictly between
    # zero and the title-level match count.
    rounded_equal = raw_matches.filter("length = duration").count()
    assert 0 < rounded_equal < raw_matches.count()


def test_quirk_k2_weekday_equals_week(staging):
    events, _ = staging
    t = build_time(events, faithful=True)
    assert t.filter("weekday != week").count() == 0
    t_fixed = build_time(events, faithful=False)
    assert t_fixed.filter("weekday < 1 OR weekday > 7").count() == 0
    assert t_fixed.filter("weekday != week").count() > 0


def test_time_ranges(staging):
    events, _ = staging
    t = build_time(events, faithful=True)
    bad = t.filter(
        "hour < 0 OR hour > 23 OR day < 1 OR day > 31 OR month < 1 OR month > 12"
        " OR week < 1 OR week > 53"
    )
    assert bad.count() == 0


def test_fact_fk_containment(staging):
    events, songs = staging
    star = transform_all(events, songs, faithful=True)
    sp, sdim, adim = star["songplays"], star["songs"], star["artists"]
    assert sp.join(sdim, "song_id", "left_anti").count() == 0
    assert sp.join(adim, "artist_id", "left_anti").count() == 0


def test_staging_events_positional_mapping(staging):
    events, _ = staging
    assert [f.name for f in events.schema.fields][:4] == ["event_id", "artist", "auth", "firstName"]
    # event_id has no source path -> all NULL, like an unmapped COPY column
    assert events.filter("event_id IS NOT NULL").count() == 0
    types = dict(events.dtypes)
    assert types["length"] == "decimal(9,0)"
    assert types["ts"] == "bigint"
    assert types["userId"] == "int"


def test_staging_events_coerces_bad_fields_like_copy(spark, tmp_path):
    """COPY coerces on load: a value that does not fit its staging column
    (an int overflow, a non-numeric id, an empty userId) becomes NULL in
    that field only. The rest of the row keeps its values, in-range edge
    values survive, and no row is dropped."""
    import json
    from decimal import Decimal

    base = {"page": "NextSong", "level": "free", "ts": 1541903636796,
            "sessionId": 7, "userId": "42", "length": 200.5}
    rows = [
        {"artist": "ts_overflow", "ts": 2**70},
        {"artist": "sid_overflow", "sessionId": 2**40},
        {"artist": "sid_text", "sessionId": "abc"},
        {"artist": "uid_empty", "userId": ""},
        {"artist": "edge", "ts": 2**63 - 1, "sessionId": -(2**31)},
        {"artist": "normal"},
    ]
    path = tmp_path / "log.json"
    path.write_text("".join(json.dumps({**base, **r}) + "\n" for r in rows))
    got = {r["artist"]: r for r in load_staging_events(spark, str(path)).collect()}

    assert sorted(got) == sorted(r["artist"] for r in rows)
    bad = {"ts_overflow": "ts", "sid_overflow": "sessionId",
           "sid_text": "sessionId", "uid_empty": "userId"}
    expected = {"page": "NextSong", "level": "free", "ts": 1541903636796,
                "sessionId": 7, "userId": 42, "length": Decimal(201)}
    for artist, r in got.items():
        want = dict(expected)
        if artist in bad:
            want[bad[artist]] = None
        if artist == "edge":
            want.update(ts=2**63 - 1, sessionId=-(2**31))
        assert {k: r[k] for k in want} == want, artist
