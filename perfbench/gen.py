"""Seeded benchmark inputs.

Two input sets, each a pure function of ``(seed, size)``:

- ``fixtures``: the ten warehouse tables the registry's queries read
  (``cdw_spark.catalog.FIXTURE_TABLES``), one parquet file each, with the
  schemas and value domains of the repository's TPC-H-like test fixtures
  (TESTDATA.md, FIXTURES.md group B).
- ``sparkify``: Sparkify event-log and song-catalog JSON shaped like
  ``tests/sparkify_data.generate`` (FIXTURES.md group A), split into two
  arrival batches for the incremental ELT.

Generation is vectorized (numpy + DuckDB's JSON writer) and cached under
``cache_dir`` keyed by (kind, seed, size); a ``_DONE`` marker is written
last so an interrupted generation is redone, never reused.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.01 fixture set (TESTDATA.md).
FIXTURE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "red", "hot", "cold", "old", "new", "small", "large"]
PART_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "zh", "de", "fr"]
WORDS = (
    "row the query stream fast spark line small customer group value hash batch "
    "sort data big filter key agg scan slow table part a merge window order "
    "column join vector"
).split()


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    us = (np.datetime64(start, "us") + rng.integers(0, span + 1, n) * np.timedelta64(1, "D")).astype(
        "datetime64[us]"
    )
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def fixture_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = FIXTURE_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": _pick(rng, names, npart),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npart)]),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 901.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl),
        }
    )
    ne = n["events"]
    # Event time increases with event_id across 30 days (as in the fixtures).
    gaps = rng.exponential(30 * 86400e6 / ne, ne)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(15, ne * 15 // 1000), ne), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document (the dedup families' target)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.asarray(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
            texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, nd, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, nd)]),
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    return t


FIRST = ["Ava", "Ben", "Cleo", "Dan", "Eve", "Finn", "Gia", "Hal", "Ivy", "Jo"]
LAST = ["Stone", "Reed", "Lake", "Frost", "Hale", "Park", "Wells", "Moss", "Rhodes", "Cruz"]
PAGES = ["NextSong", "Home", "Login", "Logout", "Help"]
CITIES = ["Portland, OR", "Austin, TX", "Boise, ID", "Reno, NV", "Omaha, NE"]


def sparkify_tables(seed: int, n_events: int, n_songs: int) -> tuple[pa.Table, pa.Table]:
    """(events, songs) with the value domains and quirks of
    ``tests/sparkify_data.generate``: ~35% of NextSong events match a catalog
    song on (artist, title, rounded duration), users flip level, ts carries
    millisecond remainders, catalog rows repeat and some userIds are empty."""
    rng = np.random.default_rng(seed)
    n_artists = max(1, n_songs // 2)
    idx = np.arange(n_songs)
    dur = np.round(rng.uniform(90, 360, n_songs), 3)
    lat = np.where(rng.random(n_songs) < 0.6, np.round(rng.uniform(-60, 60, n_songs), 3), np.nan)
    lon = np.where(rng.random(n_songs) < 0.6, np.round(rng.uniform(-150, 150, n_songs), 3), np.nan)
    loc = np.where(
        rng.random(n_songs) < 0.7, np.asarray(CITIES, dtype=object)[rng.integers(0, 5, n_songs)], ""
    )
    years = np.where(rng.random(n_songs) < 1 / 62, 0, rng.integers(1960, 2021, n_songs))
    artist_ids = [f"AR{i % n_artists:016d}" for i in idx]
    artist_names = [f"Artist {i % n_artists}" for i in idx]
    titles = [f"Song Title {i}" for i in idx]
    rows = np.concatenate([idx, idx[::17]])  # duplicate catalog rows: DISTINCT is observable
    songs = pa.table(
        {
            "num_songs": pa.array(np.ones(len(rows), np.int64)),
            "artist_id": pa.array([artist_ids[i] for i in rows]),
            "artist_latitude": pa.array(lat[rows], from_pandas=True),
            "artist_longitude": pa.array(lon[rows], from_pandas=True),
            "artist_location": pa.array(loc[rows].tolist(), pa.string()),
            "artist_name": pa.array([artist_names[i] for i in rows]),
            "song_id": pa.array([f"SO{i:016d}" for i in rows]),
            "title": pa.array([titles[i] for i in rows]),
            "duration": dur[rows],
            "year": pa.array(years[rows], pa.int64()),
        }
    )

    n = n_events
    n_users = max(25, n // 100)
    ts = 1541200000123 + np.cumsum(rng.integers(10_000, 600_001, n) + rng.integers(1, 1000, n))
    has_uid = rng.random(n) < 0.95
    uid = np.where(has_uid, rng.integers(1, n_users + 1, n), 0)
    level = np.where(
        (uid > 5) & (rng.random(n) < 0.5), "paid", np.where(rng.random(n) < 0.5, "free", "paid")
    )
    page = np.where(
        rng.random(n) < 0.35, np.asarray(PAGES, dtype=object)[rng.integers(0, 5, n)], "NextSong"
    )
    song_play = page == "NextSong"
    matched = song_play & (rng.random(n) < 0.35)
    pick = rng.integers(0, len(rows), n)
    jitter = np.where(rng.random(n) < 0.8, rng.uniform(-0.4, 0.4, n), rng.uniform(0.6, 1.4, n))
    length = np.where(
        matched, np.round(dur[rows[pick]] + jitter, 3), np.round(rng.uniform(60, 400, n), 3)
    )
    unk_artist = rng.integers(0, 201, n)
    unk_song = rng.integers(0, 501, n)
    artist = [
        (artist_names[rows[pick[i]]] if matched[i] else f"Unknown Artist {unk_artist[i]}")
        if song_play[i]
        else None
        for i in range(n)
    ]
    song = [
        (titles[rows[pick[i]]] if matched[i] else f"Unknown Song {unk_song[i]}") if song_play[i] else None
        for i in range(n)
    ]
    uid_s = [str(u) if u else "" for u in uid.tolist()]
    first = np.asarray(FIRST, dtype=object)[uid % 10]
    last = np.asarray(LAST, dtype=object)[uid % 10]
    events = pa.table(
        {
            "artist": pa.array(artist, pa.string()),
            "auth": pa.array(np.where(has_uid, "Logged In", "Logged Out").tolist()),
            "firstName": pa.array(np.where(has_uid, first, None).tolist(), pa.string()),
            "gender": pa.array(
                np.where(has_uid, np.where(rng.random(n) < 0.5, "M", "F"), None).tolist(), pa.string()
            ),
            "itemInSession": pa.array(rng.integers(0, 9, n), pa.int64()),
            "lastName": pa.array(np.where(has_uid, last, None).tolist(), pa.string()),
            "length": pa.array(np.where(song_play, length, np.nan), from_pandas=True),
            "level": pa.array(level.tolist()),
            "location": pa.array(np.asarray(CITIES, dtype=object)[rng.integers(0, 5, n)].tolist()),
            "method": pa.array(np.where(song_play, "PUT", "GET").tolist()),
            "page": pa.array(page.tolist()),
            "registration": pa.array([str(1540000000000 + u * 7919) for u in uid.tolist()]),
            "sessionId": pa.array(1000 + uid * 40 + rng.integers(0, 40, n), pa.int64()),
            "song": pa.array(song, pa.string()),
            "status": pa.array(np.asarray([200, 200, 200, 307, 404])[rng.integers(0, 5, n)], pa.int64()),
            "ts": pa.array(ts, pa.int64()),
            "userAgent": pa.array(['"Mozilla/5.0 (X11; Linux x86_64)"'] * n),
            "userId": pa.array(uid_s),
        }
    )
    return events, songs


def _cached(cache_dir: str, key: str, build) -> str:
    out = os.path.join(cache_dir, key)
    if not os.path.exists(os.path.join(out, "_DONE")):
        shutil.rmtree(out, ignore_errors=True)
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        os.rename(tmp, out)
    return out


def fixtures(cache_dir: str, seed: int) -> str:
    """Directory of ``<table>.parquet`` files (the ``sf_dir`` queries read)."""

    def build(d: str) -> None:
        for name, table in fixture_tables(seed).items():
            pq.write_table(table, os.path.join(d, f"{name}.parquet"))

    return _cached(cache_dir, f"fixtures_s{seed}_{FIXTURE_ROWS['lineitem']}", build)


def sparkify(cache_dir: str, seed: int, n_events: int, n_songs: int) -> str:
    """Directory with ``events/b1``, ``events/b2`` (the event log split in
    time order into two arrival batches, two JSON files each) and
    ``songs/b1`` (the whole catalog), ``songs/b2`` (an empty file: batch 2
    brings no new songs)."""

    def build(d: str) -> None:
        events, songs = sparkify_tables(seed, n_events, n_songs)
        con = duckdb.connect()
        try:
            q = [n_events * i // 4 for i in range(5)]
            for i in range(4):
                bdir = os.path.join(d, "events", "b1" if i < 2 else "b2")
                os.makedirs(bdir, exist_ok=True)
                con.register("part_rows", events.slice(q[i], q[i + 1] - q[i]))
                con.execute(
                    f"COPY (SELECT * FROM part_rows) TO '{os.path.join(bdir, f'part-{i}.json')}' (FORMAT JSON)"
                )
                con.unregister("part_rows")
            for b in ("b1", "b2"):
                os.makedirs(os.path.join(d, "songs", b))
            half = len(songs) // 2
            for i, (lo, hi) in enumerate([(0, half), (half, len(songs))]):
                con.register("song_rows", songs.slice(lo, hi - lo))
                con.execute(
                    f"COPY (SELECT * FROM song_rows) TO "
                    f"'{os.path.join(d, 'songs', 'b1', f'part-{i}.json')}' (FORMAT JSON)"
                )
                con.unregister("song_rows")
            open(os.path.join(d, "songs", "b2", "part-0.json"), "w").close()
        finally:
            con.close()

    return _cached(cache_dir, f"sparkify_s{seed}_{n_events}_{n_songs}", build)
