"""End-to-end ELT: JSON -> staging parquet -> star schema parquet,
including the reference's append-only rerun behavior (quirk K6)."""

from __future__ import annotations

import os

import pytest

from cdw_spark.pipeline.elt import run_elt
from tests.sparkify_data import generate


@pytest.fixture(scope="module")
def data(tmp_path_factory):
    out = tmp_path_factory.mktemp("elt_src")
    return generate(str(out), n_songs=60, n_events=800)


def test_elt_end_to_end(spark, data, tmp_path_factory):
    log_path, song_path = data
    out = str(tmp_path_factory.mktemp("warehouse"))
    paths = run_elt(spark, log_path, song_path, out, faithful=True, mode="overwrite")
    assert set(paths) == {
        "staging_events", "staging_songs",
        "songplays", "users", "songs", "artists", "time",
    }
    counts = {t: spark.read.parquet(p).count() for t, p in paths.items()}
    assert counts["staging_events"] == 800
    assert counts["songplays"] > 0
    assert counts["songs"] == 60  # catalog dedup: 60 unique song_ids
    # time rows == distinct whole-second start times of NextSong events
    assert counts["time"] > 0


def test_elt_rerun_append_duplicates_k6(spark, data, tmp_path_factory):
    """etl.py has no idempotence: INSERTs append (etl.py:25-27). Rerunning
    without a reset doubles the star tables — faithful by default."""
    log_path, song_path = data
    out = str(tmp_path_factory.mktemp("warehouse2"))
    p1 = run_elt(spark, log_path, song_path, out, faithful=True, mode="append")
    n1 = spark.read.parquet(p1["users"]).count()
    p2 = run_elt(spark, log_path, song_path, out, faithful=True, mode="append")
    n2 = spark.read.parquet(p2["users"]).count()
    assert n2 == 2 * n1

    # idempotent variant: overwrite resets to a single copy
    p3 = run_elt(spark, log_path, song_path, out, faithful=True, mode="overwrite")
    n3 = spark.read.parquet(p3["users"]).count()
    assert n3 == n1


def test_elt_cli_end_to_end(data, tmp_path_factory, capsys):
    """The reference's two-command run story (``python create_tables.py
    && python etl.py``) as one CLI: ``python -m cdw_spark.elt`` wires
    config -> session -> reset -> staging loads -> the five star writes
    and reports row counts."""
    from cdw_spark.elt import main

    log_path, song_path = data
    out = str(tmp_path_factory.mktemp("cli_out"))
    rc = main(["--log-path", log_path, "--song-path", song_path, "--out", out])
    assert rc == 0
    printed = capsys.readouterr().out
    for table in ("songplays", "users", "songs", "artists", "time"):
        assert f"{table}:" in printed, printed

    # missing required inputs -> usage error, not a traceback
    assert main(["--log-path", log_path]) == 2


def test_elt_cli_rerun_resets_tables(data, tmp_path_factory, spark):
    """A default CLI run resets before it loads, like ``python
    create_tables.py && python etl.py``: run twice over the same input,
    every table holds one copy, not two. ``--skip-reset`` keeps the
    reference's append rerun (quirk K6)."""
    from cdw_spark.elt import main

    log_path, song_path = data
    out = str(tmp_path_factory.mktemp("cli_rerun"))
    args = ["--log-path", log_path, "--song-path", song_path, "--out", out]
    assert main(args) == 0
    users = spark.read.parquet(os.path.join(out, "users")).count()
    assert main(args) == 0
    assert spark.read.parquet(os.path.join(out, "staging_events")).count() == 800
    assert spark.read.parquet(os.path.join(out, "users")).count() == users
    assert main([*args, "--skip-reset"]) == 0
    assert spark.read.parquet(os.path.join(out, "staging_events")).count() == 1600
    assert spark.read.parquet(os.path.join(out, "users")).count() == 2 * users


def test_elt_cli_config_file(data, tmp_path_factory, capsys):
    """dwh.cfg analog: paths supplied via an ini [DATA] section, flags
    optional (CLI flags override when both are given)."""
    from cdw_spark.elt import main

    log_path, song_path = data
    out = str(tmp_path_factory.mktemp("cli_cfg_out"))
    cfg = tmp_path_factory.mktemp("cfg") / "dwh.cfg"
    cfg.write_text(
        f"[DATA]\nLOG_DATA='{log_path}'\nSONG_DATA='{song_path}'\nOUT_DIR={out}\n"
    )
    rc = main(["--config", str(cfg), "--skip-reset"])
    assert rc == 0
    assert "songplays:" in capsys.readouterr().out


def test_approx_quantiles_error_bound(spark, sf_dir):
    """The sketch must land within its accuracy contract: with accuracy
    10000 the rank error is <=1/10000, far under the value gap between
    adjacent fixture rows — compare against exact percentile directly."""
    from pyspark.sql import functions as F

    from cdw_spark.catalog import load_fixture

    o = load_fixture(spark, sf_dir, "orders")
    got = (
        o.groupBy("o_orderstatus")
        .agg(
            F.expr("approx_percentile(o_totalprice, 0.9, 10000)").alias("approx"),
            F.expr("percentile(o_totalprice, 0.9)").alias("exact"),
        )
        .collect()
    )
    assert got
    for r in got:
        assert abs(r.approx - r.exact) / max(abs(r.exact), 1e-9) < 0.02, r


def test_incremental_elt_equals_full_rebuild(spark, tmp_path_factory):
    """run_elt_incremental(A) then (B) must equal one full fixed-mode
    run over A ∪ B: dims as exact row sets, the fact as a multiset
    modulo its synthetic surrogate id. This is the reference pipeline
    run continuously — dims upsert, facts append, nothing rewrites the
    fact table."""
    assert_incremental_equals_full_rebuild(spark, tmp_path_factory)


def assert_incremental_equals_full_rebuild(spark, tmp_path_factory) -> None:
    import shutil

    from cdw_spark.pipeline.elt import run_elt, run_elt_incremental

    src_a = tmp_path_factory.mktemp("inc_a")
    src_b = tmp_path_factory.mktemp("inc_b")
    log_a, song_a = generate(str(src_a), n_songs=40, n_events=500, seed=1)
    log_b, song_b = generate(str(src_b), n_songs=40, n_events=500, seed=2)

    # full rebuild over the union of source files
    both = tmp_path_factory.mktemp("inc_union")
    log_u, song_u = str(both / "log_data"), str(both / "song_data")
    for i, (lp, sp) in enumerate([(log_a, song_a), (log_b, song_b)]):
        for src, dst in [(lp, log_u), (sp, song_u)]:
            os.makedirs(dst, exist_ok=True)
            for f in os.listdir(src):
                shutil.copy(os.path.join(src, f), os.path.join(dst, f"w{i}_{f}"))
    full_out = str(tmp_path_factory.mktemp("inc_full"))
    full = run_elt(spark, log_u, song_u, full_out, faithful=False, mode="overwrite")

    inc_out = str(tmp_path_factory.mktemp("inc_inc"))
    run_elt_incremental(spark, log_a, song_a, inc_out)
    inc = run_elt_incremental(spark, log_b, song_b, inc_out)

    def rows(path, drop=()):
        df = spark.read.parquet(path)
        return sorted(
            (
                tuple(v for c, v in zip(df.columns, r) if c not in drop)
                for r in df.collect()
            ),
            key=repr,  # NULLs sort; equality still compares raw tuples
        )

    for dim in ("users", "songs", "artists", "time"):
        assert rows(full[dim]) == rows(inc[dim]), dim
    assert rows(full["songplays"], drop=("songplay_id",)) == rows(
        inc["songplays"], drop=("songplay_id",)
    )


def _write_batch(out_dir, songs, events):
    """Write one (song_data, log_data) batch of Sparkify-shaped JSON."""
    import json

    log_path, song_path = os.path.join(out_dir, "log_data"), os.path.join(out_dir, "song_data")
    os.makedirs(log_path, exist_ok=True)
    os.makedirs(song_path, exist_ok=True)
    with open(os.path.join(song_path, "songs.json"), "w") as f:
        for s in songs:
            f.write(json.dumps(s) + "\n")
    with open(os.path.join(log_path, "events.json"), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    return log_path, song_path


def _song(i, artist, title, dur):
    return {
        "num_songs": 1, "artist_id": f"AR{i:016d}", "artist_latitude": None,
        "artist_longitude": None, "artist_location": "", "artist_name": artist,
        "song_id": f"SO{i:016d}", "title": title, "duration": dur, "year": 2001,
    }


def _event(ts, uid, artist, song, length):
    return {
        "artist": artist, "auth": "Logged In", "firstName": "Ava", "gender": "F",
        "itemInSession": 0, "lastName": "Stone", "length": length, "level": "paid",
        "location": "Austin, TX", "method": "PUT", "page": "NextSong",
        "registration": "1540000000000", "sessionId": 1000 + uid, "song": song,
        "status": 200, "ts": ts, "userAgent": '"UA"', "userId": str(uid),
    }


def test_incremental_elt_cross_batch_song_references(spark, tmp_path_factory):
    """An event arriving in batch B that references a song ingested in
    batch A still resolves song_id/artist_id: the fact join runs against
    the ACCUMULATED staging_songs, not the new batch's slice."""
    from cdw_spark.pipeline.elt import run_elt, run_elt_incremental

    songs_a = [_song(1, "Artist A", "Alpha", 200.0), _song(2, "Artist B", "Beta", 250.0)]
    events_a = [_event(1541200001000, 1, "Artist A", "Alpha", 200.2)]
    # batch B: its OWN catalog is disjoint; its events reference batch A songs
    songs_b = [_song(9, "Artist Z", "Zeta", 300.0)]
    events_b = [
        _event(1541300001000, 2, "Artist B", "Beta", 249.8),   # from batch A
        _event(1541300002000, 3, "Artist Z", "Zeta", 300.1),   # from batch B
    ]

    a_dir, b_dir = tmp_path_factory.mktemp("xb_a"), tmp_path_factory.mktemp("xb_b")
    log_a, song_a = _write_batch(str(a_dir), songs_a, events_a)
    log_b, song_b = _write_batch(str(b_dir), songs_b, events_b)

    inc_out = str(tmp_path_factory.mktemp("xb_inc"))
    run_elt_incremental(spark, log_a, song_a, inc_out)
    inc = run_elt_incremental(spark, log_b, song_b, inc_out)

    sp = spark.read.parquet(inc["songplays"])
    resolved = {r.song_id for r in sp.select("song_id").collect() if r.song_id}
    # Beta (batch A) referenced by a batch-B event MUST resolve
    assert f"SO{2:016d}" in resolved
    assert f"SO{9:016d}" in resolved

    # and the union contract still holds vs a full rebuild
    u_dir = tmp_path_factory.mktemp("xb_u")
    log_u, song_u = _write_batch(str(u_dir), songs_a + songs_b, events_a + events_b)
    full = run_elt(spark, log_u, song_u, str(tmp_path_factory.mktemp("xb_full")),
                   faithful=False, mode="overwrite")
    fs = spark.read.parquet(full["songplays"])
    want = sorted(
        tuple(v for c, v in zip(fs.columns, r) if c != "songplay_id") for r in fs.collect()
    )
    got = sorted(
        tuple(v for c, v in zip(sp.columns, r) if c != "songplay_id") for r in sp.collect()
    )
    assert want == got


def test_incremental_elt_fact_files_append_only(spark, tmp_path_factory):
    """No incremental batch rewrites the songplays fact or the
    songs/artists/time dims: each table's parquet file set after run 1
    survives run 2 byte-identical (names + sizes), run 2 only ADDS
    files."""
    from cdw_spark.pipeline.elt import run_elt_incremental

    src_a = tmp_path_factory.mktemp("ap_a")
    src_b = tmp_path_factory.mktemp("ap_b")
    log_a, song_a = generate(str(src_a), n_songs=20, n_events=200, seed=11)
    log_b, song_b = generate(str(src_b), n_songs=20, n_events=200, seed=12)
    out = str(tmp_path_factory.mktemp("ap_out"))

    p1 = run_elt_incremental(spark, log_a, song_a, out)
    tables = ("songplays", "songs", "artists", "time")

    def file_sigs(d):
        return {
            f: os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before = {t: file_sigs(p1[t]) for t in tables}
    run_elt_incremental(spark, log_b, song_b, out)
    after = {t: file_sigs(p1[t]) for t in tables}
    for t in tables:
        assert set(before[t]) <= set(after[t]), t
        for f, size in before[t].items():
            assert after[t][f] == size, f"{t} file rewritten: {f}"
    assert len(after["songplays"]) > len(before["songplays"])


def test_incremental_elt_null_artist_row_appended_once(spark, tmp_path_factory):
    """A catalog row whose artist has NULL location, latitude and longitude,
    sent in two batches, leaves ONE artists row: the dim append matches
    existing rows null-safely (a plain ``==`` never matches NULL)."""
    from cdw_spark.pipeline.elt import run_elt_incremental

    song = dict(_song(5, "Artist N", "Nulls", 180.0), artist_location=None)
    out = str(tmp_path_factory.mktemp("null_out"))
    for i, ts in enumerate((1541200001000, 1541300001000)):
        src = tmp_path_factory.mktemp(f"null_{i}")
        log, songs = _write_batch(str(src), [song], [_event(ts, 1, "Artist N", "Nulls", 180.0)])
        paths = run_elt_incremental(spark, log, songs, out)

    artists = spark.read.parquet(paths["artists"]).collect()
    assert len(artists) == 1, artists
    assert (artists[0].location, artists[0].latitude, artists[0].longitude) == (None, None, None)
    assert spark.read.parquet(paths["songs"]).count() == 1


def _drain_listener_bus(spark):
    """Wait until the status store has seen every finished job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30000)


def test_concurrently_waits_for_all_then_raises_first_failure(spark):
    """``_concurrently`` re-raises a failed write only after every other
    write has finished, so no Spark job of the call outlives it."""
    import time

    from cdw_spark.pipeline.elt import _concurrently

    finished = []

    def fails():
        raise ValueError("write failed")

    def slow():
        time.sleep(0.5)
        spark.range(50_000).selectExpr("sum(id)").collect()
        finished.append(True)

    with pytest.raises(ValueError, match="write failed"):
        _concurrently(spark, fails, slow)
    assert finished == [True]
    _drain_listener_bus(spark)
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []


def test_concurrent_elt_writes_keep_callers_job_group(spark, data, tmp_path_factory):
    """Every job that ``run_elt`` and ``run_elt_incremental`` fire, on any
    of their write threads, belongs to the caller's job group."""
    from cdw_spark.pipeline.elt import run_elt_incremental

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    log_path, song_path = data
    batches = [
        generate(str(tmp_path_factory.mktemp(f"jg_src{seed}")), n_songs=10, n_events=100, seed=seed)
        for seed in (31, 32)
    ]
    inc_out = str(tmp_path_factory.mktemp("jg_inc"))

    def marker(group):
        sc.setJobGroup(group, group)
        sc.parallelize([1]).count()
        _drain_listener_bus(spark)
        return tracker.getJobIdsForGroup(group)

    try:
        lo = max(marker("elt-before"))
        sc.setJobGroup("elt-g", "elt under test")
        run_elt(spark, log_path, song_path, str(tmp_path_factory.mktemp("jg_full")),
                faithful=False, mode="overwrite")
        for log_b, song_b in batches:
            run_elt_incremental(spark, log_b, song_b, inc_out)
        hi = min(marker("elt-after"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    fired = set(range(lo + 1, hi))
    assert fired
    assert fired == set(tracker.getJobIdsForGroup("elt-g"))


def test_merge_distinct_raises_on_corrupt_dim(spark, tmp_path_factory):
    """A REAL read failure on an existing dim table propagates instead
    of silently overwriting the dim with one batch's slice. Only a
    missing path means 'first batch'."""
    from cdw_spark.pipeline.elt import run_elt_incremental

    src_a = tmp_path_factory.mktemp("cr_a")
    log_a, song_a = generate(str(src_a), n_songs=10, n_events=100, seed=21)
    out = str(tmp_path_factory.mktemp("cr_out"))
    run_elt_incremental(spark, log_a, song_a, out)

    # corrupt the songs dim: replace its parquet files with garbage
    songs_dir = os.path.join(out, "songs")
    for f in os.listdir(songs_dir):
        if f.endswith(".parquet"):
            with open(os.path.join(songs_dir, f), "wb") as fh:
                fh.write(b"not parquet at all")

    src_b = tmp_path_factory.mktemp("cr_b")
    log_b, song_b = generate(str(src_b), n_songs=10, n_events=100, seed=22)
    with pytest.raises(Exception) as exc_info:
        run_elt_incremental(spark, log_b, song_b, out)
    # and the corrupted files were NOT clobbered by an overwrite
    assert any(
        open(os.path.join(songs_dir, f), "rb").read() == b"not parquet at all"
        for f in os.listdir(songs_dir)
        if f.endswith(".parquet")
    ), "corrupt dim was destructively overwritten"
