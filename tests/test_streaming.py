"""Streaming subsystem tests (cdw_spark/streaming/*).

The oracle-equality of the streaming registry entries is already enforced by
tests/test_oracle_contract.py (they are registered queries). Here we check
the cross-implementation invariants the oracles can't express:

- the custom applyInPandasWithState sessionizer emits exactly the same
  sessions as the built-in ``session_window`` streaming query;
- complete-mode streaming aggregation equals the batch DataFrame twin;
- replay is deterministic across runs (fresh checkpoints).
"""

from __future__ import annotations

import pytest

from cdw_spark.registry import load_all

SPECS = load_all()


def _key(row):
    return (row["user_id"], row["session_start"], row["session_end"], row["n_events"])


def test_stateful_sessionizer_matches_session_window(spark, sf_dir):
    """Same gap, same watermark -> identical emitted sessions (the custom
    state machine reproduces session_window merge semantics)."""
    native = SPECS["stream_session_window"].fn(spark, sf_dir).collect()
    custom = SPECS["stream_stateful_sessionize"].fn(spark, sf_dir).collect()
    assert len(native) > 0
    assert {_key(r) for r in native} == {_key(r) for r in custom}
    # Values: the native query projects ROUND(decimal-sum AS DOUBLE, 2);
    # the custom sessionizer accumulates in doubles — compare at 2dp with
    # tolerance for float accumulation order.
    nv = {_key(r): r["total_value"] for r in native}
    for r in custom:
        assert abs(round(r["total_value"], 2) - nv[_key(r)]) <= 0.02


def test_stream_tumbling_equals_batch_twin(spark, sf_dir):
    stream = SPECS["stream_tumbling_agg"].fn(spark, sf_dir)
    batch = SPECS["tumbling_window_agg"].fn(spark, sf_dir)
    skey = lambda r: (r["win_start"], r["event_type"])  # noqa: E731
    srows = {skey(r): (r["n_events"], r["total_value"]) for r in stream.collect()}
    brows = {skey(r): (r["n_events"], r["total_value"]) for r in batch.collect()}
    assert srows == brows


def test_streaming_replay_deterministic(spark, sf_dir):
    a = SPECS["stream_session_window"].fn(spark, sf_dir).collect()
    b = SPECS["stream_session_window"].fn(spark, sf_dir).collect()
    assert {_key(r) for r in a} == {_key(r) for r in b}


def test_append_mode_respects_watermark_cutoff(spark, sf_dir):
    """Append mode must emit only sessions closed by the final watermark
    (max event time - 2h): no session may end after it."""
    from cdw_spark.catalog import load_fixture
    from pyspark.sql import functions as F

    max_ts = load_fixture(spark, sf_dir, "events").agg(F.max("ts")).first()[0]
    rows = SPECS["stream_session_window"].fn(spark, sf_dir).collect()
    import datetime

    cutoff = max_ts - datetime.timedelta(hours=2)
    assert all(r["session_end"] <= cutoff for r in rows)


def test_late_rows_beyond_watermark_are_dropped(spark, tmp_path_factory):
    """A row whose event time is older than the armed watermark when its
    micro-batch arrives must be excluded from append-mode window output —
    the late-data contract. Spark arms the LATE-EVENT filter with the
    PREVIOUS batch's watermark (SPARK-24634 two-watermark semantics), so
    the stream needs three batches: batch 1 advances event time past
    09:00, batch 2 commits that watermark into the late-filter slot, and
    batch 3's 08:00 straggler must then be dropped, not resurrect its
    closed window."""
    import datetime as dt
    import os
    import time as _time

    from pyspark.sql import functions as F

    out = str(tmp_path_factory.mktemp("late")) + "/files"
    os.makedirs(out, exist_ok=True)

    def _ts(h, m=0, s=0):
        return dt.datetime(2024, 1, 1, h, m, s)

    # batch 1: 10:00-11:00 activity -> max ts 11:00, watermark 10:30
    b1 = spark.createDataFrame(
        [(1, _ts(10, 5), 1.0), (2, _ts(10, 55), 1.0), (3, _ts(11, 0), 1.0)],
        "id long, ts timestamp, v double",
    )
    # batch 2: filler that keeps the clock at 11:00 while the 10:30
    # watermark moves into the late-event filter slot
    b2 = spark.createDataFrame(
        [(7, _ts(11, 0, 30), 1.0)], "id long, ts timestamp, v double"
    )
    # batch 3: a straggler at 08:00 (far behind the armed watermark) + fresh 12:00
    b3 = spark.createDataFrame(
        [(4, _ts(8, 0), 100.0), (5, _ts(12, 0), 1.0), (6, _ts(12, 30), 1.0)],
        "id long, ts timestamp, v double",
    )
    b1.coalesce(1).write.mode("overwrite").parquet(out + "/f1")
    b2.coalesce(1).write.mode("overwrite").parquet(out + "/f2")
    b3.coalesce(1).write.mode("overwrite").parquet(out + "/f3")
    # one dir with ordered mtimes so files stream oldest-first
    stage = str(tmp_path_factory.mktemp("late")) + "/stage"
    os.makedirs(stage)
    base = 1_700_000_000
    for i, sub in enumerate(["f1", "f2", "f3"]):
        for p in os.listdir(out + "/" + sub):
            if p.endswith(".parquet"):
                dst = f"{stage}/{i}_{p}"
                os.rename(f"{out}/{sub}/{p}", dst)
                os.utime(dst, (base + i * 60, base + i * 60))

    schema = spark.read.parquet(stage).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(stage)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.sum("v").alias("total"))
    )
    name = "late_drop_sink"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    _time.sleep(0.2)
    rows = {r["w"].start.hour: r["total"] for r in spark.table(name).collect()}
    # the 08:00 window must be absent entirely (its only row arrived late),
    # and no emitted window may contain the straggler's value=100
    assert 8 not in rows, rows
    assert all(v < 100 for v in rows.values()), rows
    # sanity: the on-time 10:00 window emitted with both its rows
    assert rows.get(10) == 2.0, rows
    # and the straggler was dropped by the watermark, not lost elsewhere
    drops = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0) if p["stateOperators"] else 0)
        for p in q.recentProgress
    )
    assert drops == 1, [p["stateOperators"] for p in q.recentProgress]


def test_interval_join_state_stays_watermark_bounded(spark, sf_dir, tmp_path_factory):
    """stream_stream_interval_join keeps its state bounded by watermark +
    range condition — proven here from the runtime state-store metrics,
    not the plan. Across an 8-file ordered replay the per-batch
    numRowsTotal must hover around the watermark horizon (evictions
    keeping pace with insertions), never accumulating toward the
    cumulative input size — the difference between O(horizon) and
    O(stream) state at 100 TB. Same join graph as
    cdw_spark/suite/streaming.py::stream_stream_interval_join, inlined for
    access to the query handle."""
    import time as _time

    from pyspark.sql import functions as F

    from cdw_spark.catalog import load_fixture
    from cdw_spark.streaming.source import events_stream

    ev = load_fixture(spark, sf_dir, "events")
    n_inputs = ev.filter(F.col("event_type").isin("signup", "purchase")).count()

    signups = (
        events_stream(spark, sf_dir, n_files=8)
        .filter(F.col("event_type") == "signup")
        .select(F.col("event_id").alias("signup_id"), "user_id", F.col("ts").alias("signup_ts"))
        .withWatermark("signup_ts", "2 hours")
    )
    purchases = (
        events_stream(spark, sf_dir, n_files=8)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = signups.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("signup_ts"))
        & (F.col("purchase_ts") <= F.col("signup_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    chk = str(tmp_path_factory.mktemp("chk_state"))
    q = (
        joined.writeStream.format("memory")
        .queryName("state_bound_probe")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    _time.sleep(0.3)

    totals = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in q.recentProgress
        if p["stateOperators"]
    ]
    removed = sum(
        p["stateOperators"][0].get("numRowsRemoved", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert len(totals) >= 5, totals  # enough batches to observe steady state
    # bounded: peak state is a fraction of the cumulative joined-side input
    # (measured ~65 peak vs 401 inputs at sf0.001)
    assert max(totals) < 0.5 * n_inputs, (totals, n_inputs)
    # flat, not monotone: the watermark evicts as new rows arrive
    assert removed > 0.5 * n_inputs, (removed, n_inputs)
    assert totals[-1] <= max(totals[:3]), totals  # drained, not accumulated


def test_foreachbatch_incremental_merge_equals_batch(spark, sf_dir, tmp_path_factory):
    """The production sink pattern for a latest-state table: writeStream
    .foreachBatch applies the MERGE-style upsert (operators/curate.py::
    merge_latest_state) per micro-batch into a parquet target. After the
    bounded 4-batch replay, the incrementally-merged table must equal the
    one-shot batch merge over all events — exactly-once upsert semantics
    composed from the engine's own MERGE operator."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from cdw_spark.catalog import load_fixture
    from cdw_spark.operators.curate import merge_latest_state
    from cdw_spark.streaming.source import events_stream

    root = str(tmp_path_factory.mktemp("febmerge"))
    state = {"version": -1}
    cols = ["user_id", "event_type", F.col("value"), F.col("ts").alias("last_ts"), "event_id"]

    def upsert(batch_df, batch_id):
        src = batch_df.select(*cols)
        if state["version"] < 0:
            w = Window.partitionBy("user_id", "event_type").orderBy(
                F.col("last_ts").desc(), F.col("event_id").desc()
            )
            merged = (
                src.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        else:
            tgt = batch_df.sparkSession.read.parquet(f"{root}/v{state['version']}")
            merged = merge_latest_state(
                tgt, src, keys=["user_id", "event_type"], order_cols=["last_ts", "event_id"]
            ).select("user_id", "event_type", "value", "last_ts", "event_id")
        state["version"] += 1
        merged.write.mode("overwrite").parquet(f"{root}/v{state['version']}")

    q = (
        events_stream(spark, sf_dir, n_files=4)
        .writeStream.foreachBatch(upsert)
        .option("checkpointLocation", root + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    final = spark.read.parquet(f"{root}/v{state['version']}")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    expected = (
        load_fixture(spark, sf_dir, "events")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_type", "value", F.col("ts").alias("last_ts"))
    )
    got = final.select("user_id", "event_type", "value", "last_ts")
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0
    assert state["version"] == 3  # 4 micro-batches merged incrementally


def test_foreachbatch_upsert_versions_and_final_state(spark, sf_dir):
    """The foreachBatch MERGE sink publishes one version per micro-batch
    (monotonic _LATEST pointer) and its final state equals the batch
    latest-per-key reduction of the whole stream."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from cdw_spark.catalog import load_fixture
    from cdw_spark.streaming.sink import VersionedParquetTable, upsert_stream_into_table
    from cdw_spark.streaming.source import events_stream

    final, root = upsert_stream_into_table(
        events_stream(spark, sf_dir, n_files=4),
        keys=["user_id"],
        order_cols=["ts", "event_id"],
    )
    table = VersionedParquetTable(root)
    v = table.latest_version()
    assert v >= 1  # >1 micro-batch actually merged
    assert os.path.exists(os.path.join(root, f"_v{v}"))

    ev = load_fixture(spark, sf_dir, "events")
    win = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    expect = (
        ev.withColumn("_rn", F.row_number().over(win)).filter("_rn = 1").drop("_rn")
    )
    got = {r["user_id"]: r["event_id"] for r in final.collect()}
    want = {r["user_id"]: r["event_id"] for r in expect.collect()}
    assert got == want


def test_dedup_within_watermark_evicts_state(spark, sf_dir, tmp_path_factory):
    """Scale rule stated in stream_dedup's docstring: plain dropDuplicates
    retains every key forever (state == cumulative distinct keys, zero
    evictions); dropDuplicatesWithinWatermark ages entries out with event
    time. Proven from state-store metrics over the same 8-file replay."""
    import time as _time

    from pyspark.sql import functions as F

    from cdw_spark.streaming.source import events_stream

    def run(dedup_within_watermark: bool):
        sdf = events_stream(spark, sf_dir, n_files=8).select(
            "user_id", "event_type", "ts"
        )
        if dedup_within_watermark:
            sdf = sdf.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
                ["user_id", "event_type"]
            )
        else:
            sdf = sdf.dropDuplicates(["user_id", "event_type"])
        name = f"wmdedup_{int(dedup_within_watermark)}"
        chk = str(tmp_path_factory.mktemp(f"chk_{name}"))
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        _time.sleep(0.3)
        totals = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in q.recentProgress
            if p["stateOperators"]
        ]
        removed = sum(
            p["stateOperators"][0].get("numRowsRemoved", 0)
            for p in q.recentProgress
            if p["stateOperators"]
        )
        emitted = spark.table(name).count()
        return totals, removed, emitted

    totals_plain, removed_plain, emitted_plain = run(False)
    totals_wm, removed_wm, emitted_wm = run(True)

    from cdw_spark.catalog import load_fixture

    n_keys = (
        load_fixture(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )

    # plain: keeps one state row per distinct key, never evicts
    assert removed_plain == 0
    assert totals_plain[-1] == n_keys == emitted_plain
    # watermarked: evictions keep pace with event time; emits again after
    # expiry, so output is a superset of one-per-key
    assert removed_wm > 0, totals_wm
    assert emitted_wm >= emitted_plain
    assert max(totals_wm) <= max(totals_plain) + n_keys  # never superlinear


def test_versioned_table_time_travel(spark, sf_dir):
    """Every foreachBatch publish is immutable: version pinning reproduces
    the table as batch N left it (row counts never shrink under
    latest-state merge, and v0 < vN for a stream with updates), and a
    missing version raises instead of silently reading latest."""
    import pytest as _pytest

    from cdw_spark.streaming.sink import VersionedParquetTable, upsert_stream_into_table
    from cdw_spark.streaming.source import events_stream

    final, root = upsert_stream_into_table(
        events_stream(spark, sf_dir, n_files=4),
        keys=["user_id"],
        order_cols=["ts", "event_id"],
    )
    table = VersionedParquetTable(root)
    vmax = table.latest_version()
    assert vmax >= 1
    counts = [table.read(spark, version=v).count() for v in range(vmax + 1)]
    assert counts == sorted(counts)  # keys only ever accumulate
    assert table.read(spark, version=vmax).count() == final.count()
    # historical version differs from latest in content (updates happened)
    v0 = {r["user_id"]: r["event_id"] for r in table.read(spark, version=0).collect()}
    vl = {r["user_id"]: r["event_id"] for r in final.collect()}
    common = set(v0) & set(vl)
    assert any(v0[k] != vl[k] for k in common)
    with _pytest.raises(ValueError):
        table.read(spark, version=vmax + 7)


def test_near_dup_ingest_signature_work_stays_flat(spark, sf_dir, monkeypatch):
    """The ingestion-door near-dup sink passes its persisted signature
    index as old_sigs/new_sigs so per-batch signature work is O(|batch|) —
    each document is signatured exactly ONCE over the stream's whole life,
    not once per subsequent batch. Instruments minhash_signatures to count
    input rows per call across the 4 micro-batches, then checks pair-set
    parity against the one-shot batch operator."""
    from cdw_spark.catalog import load_fixture
    from cdw_spark.operators import dedup as dedup_ops
    from cdw_spark.operators.dedup import minhash_near_duplicates

    calls: list[int] = []
    real = dedup_ops.minhash_signatures

    def counting(df, *args, **kwargs):
        calls.append(df.count())
        return real(df, *args, **kwargs)

    monkeypatch.setattr(dedup_ops, "minhash_signatures", counting)

    streamed = SPECS["stream_near_dup_ingest"].fn(spark, sf_dir)
    got = {(r.id_a, r.id_b) for r in streamed.collect()}

    docs = load_fixture(spark, sf_dir, "documents")
    n_docs = docs.count()
    work = [c for c in calls if c > 0]  # drop the schema-seed zero-row pass
    # every doc signatured exactly once across all batches...
    assert sum(work) == n_docs, (calls, n_docs)
    # ...in one pass per micro-batch (4 source files -> 4 batches), so the
    # per-batch cost tracks the batch, not the accumulated corpus: with
    # corpus re-signaturing, batch k would add ~k*|batch| rows and the
    # total would be ~2.5x n_docs.
    assert len(work) == 4, calls
    assert max(work) <= (n_docs // 4) * 2, calls

    want = {
        (r.id_a, r.id_b)
        for r in minhash_near_duplicates(docs, threshold=0.6).collect()
    }
    assert got == want


def test_semantic_ingest_matches_batch_semdedup(spark, sf_dir):
    """The streamed SemDeDup-at-ingest union must equal the one-shot batch
    semantic_dedup over the full corpus — the pair-partition argument
    (id-ordered arrival => every keep<dup pair materializes exactly when
    the dup's batch lands) made concrete."""
    from cdw_spark.catalog import load_fixture
    from cdw_spark.operators.similarity import adaptive_sig_width, semantic_dedup

    streamed = {
        (r.dup_id, r.keep_id, r.cluster, r.cosine)
        for r in SPECS["stream_semantic_ingest"].fn(spark, sf_dir).collect()
    }
    e = load_fixture(spark, sf_dir, "embeddings")
    batch = {
        (r.dup_id, r.keep_id, int(r.cluster), round(float(r.cosine), 6))
        for r in semantic_dedup(
            e, threshold=0.25, n_planes=adaptive_sig_width(e.count())
        ).collect()
    }
    assert streamed == batch
    assert streamed, "fixture must contain semantic duplicates"


def test_sessionizer_non_utc_session_parity(spark, sf_dir):
    """Under a NON-UTC session timezone the stateful sessionizer still
    matches its oracle. Arrow interop hands pandas SESSION-LOCAL wall
    times while the state-store watermark is epoch UTC; the operator
    therefore does all state math on unix_micros longs — this test is what
    fails if anyone reintroduces wall-clock arithmetic on the Python side
    (it emitted 34 phantom sessions at sf0.01 under America/New_York
    before the fix)."""
    from cdw_spark.compare import compare_frames

    s2 = spark.newSession()
    s2.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        spec = SPECS["stream_stateful_sessionize"]
        res = compare_frames(
            "stream_stateful_sessionize", spec.fn(s2, sf_dir), spec.oracle, sf_dir
        )
        assert res.ok, str(res)
    finally:
        s2.conf.unset("spark.sql.session.timeZone")


def test_stream_kmv_matches_batch_sketch_and_bounds_state(spark, sf_dir):
    """The streamed KMV synopsis must (a) equal the batch sketch's
    estimate exactly — keep-k-smallest-distinct is a commutative,
    idempotent merge, so batch boundaries cannot matter — and (b) never
    hold more than k rows per type."""
    from cdw_spark.registry import load_all

    reg = load_all()
    streamed = {
        r["event_type"]: r
        for r in reg["stream_kmv_cardinality"].fn(spark, sf_dir).collect()
    }
    batch = {
        r["event_type"]: r for r in reg["sketch_kmv_distinct"].fn(spark, sf_dir).collect()
    }
    assert set(streamed) == set(batch)
    from cdw_spark.suite.search import _KMV_K

    for t, row in streamed.items():
        assert row["k_actual"] <= _KMV_K
        assert row["kmv_est"] == batch[t]["kmv_est"], t


_REPLAY_QUERIES = (
    "stream_near_dup_ingest",
    "stream_semantic_ingest",
    "stream_kmv_cardinality",
    "stream_drift_chi_square",
    "stream_bloom_dedup_ingest",
    "stream_freshness_monitor",
    "stream_foreachbatch_upsert",
)


@pytest.mark.parametrize("name", _REPLAY_QUERIES)
def test_foreachbatch_replay_leaves_no_scratch(spark, sf_dir, tmp_path, monkeypatch, name):
    """A bounded replay (foreachBatch or memory sink) keeps its sinks and
    checkpoint under replay scratch only for the call: the returned frame
    is materialized off them, and nothing is left behind once fn()
    returns."""
    scratch = tmp_path / "replay"
    monkeypatch.setenv("SPARK_GRAFT_REPLAY_SCRATCH", str(scratch))
    rows = SPECS[name].fn(spark, sf_dir).collect()
    assert rows
    assert list(scratch.iterdir()) == []


def test_memory_sink_leaves_no_temp_view(spark, sf_dir):
    """``run_available_now`` drops its sink's temp view before returning,
    so a session that runs many replays holds no sink rows beyond the
    frames it keeps; each returned frame still reads its rows."""
    from pyspark.sql import functions as F

    from cdw_spark.catalog import load_fixture
    from cdw_spark.streaming.source import events_stream, run_available_now

    def counts():
        sdf = events_stream(spark, sf_dir, n_files=4).groupBy("event_type").count()
        return run_available_now(sdf, "view_probe", "complete")

    first, second = counts(), counts()
    assert not [t.name for t in spark.catalog.listTables() if t.name.startswith("cdw_")]
    a, b = first.collect(), second.collect()
    assert a and sorted(a) == sorted(b)
    assert first.agg(F.sum("count")).first()[0] == load_fixture(spark, sf_dir, "events").count()


def test_replay_into_failure_cleans_up(spark, sf_dir, tmp_path, monkeypatch):
    """A batch that raises fails the call loudly, and the failure path
    still removes the scratch root, stops the query and restores the
    caller's shuffle partitions."""
    from cdw_spark.streaming.source import replay_into, table_stream

    scratch = tmp_path / "replay"
    monkeypatch.setenv("SPARK_GRAFT_REPLAY_SCRATCH", str(scratch))
    seen: list[str] = []

    def handle(batch, dirs):
        seen.append(spark.conf.get("spark.sql.shuffle.partitions"))
        if len(seen) == 2:
            raise RuntimeError("injected failure in the second batch")
        batch.write.mode("append").parquet(dirs["ids"])

    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "37")
    try:
        sdf = table_stream(spark, sf_dir, "events", "event_id").select("event_id")
        with pytest.raises(Exception, match="injected failure"):
            replay_into(sdf, {"ids": spark.createDataFrame([], "event_id long")}, handle, "ids")
        assert seen == ["16", "16"]  # the replay ran under the shuffle cap
        assert list(scratch.iterdir()) == []
        assert spark.streams.active == []
        assert spark.conf.get("spark.sql.shuffle.partitions") == "37"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)


def test_replay_lifecycle_lives_only_in_source():
    """Source-scan guard: streams are started and awaited in one place,
    cdw_spark/streaming/source.py (``_drain``), so every bounded replay
    gets the same no-timeout wait, stop-on-exit and shuffle cap. A
    hand-rolled replay lifecycle anywhere else in the package fails here."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "cdw_spark"
    pattern = re.compile(r"\.start\(\)|awaitTermination\(")
    offenders = sorted(
        f"{path.relative_to(pkg.parent)}:{i}"
        for path in pkg.rglob("*.py")
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    )
    assert offenders, "the guard must see the drain in streaming/source.py"
    assert all(o.startswith("cdw_spark/streaming/source.py:") for o in offenders), offenders


def _jobs_fired(spark, call):
    """Run ``call()`` under its own job group and return (its result, the
    number of Spark jobs it fired). Job ids are sequential, so every job
    between two marker jobs belongs to the call, including the jobs its
    streams run under their own run-id groups. A marker group keeps the
    jobs of every earlier call too, so each bound is that group's latest
    job."""
    sc = spark.sparkContext

    def marker(group):
        sc.setJobGroup(group, group)
        sc.parallelize([1]).count()
        sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
        return sc.statusTracker().getJobIdsForGroup(group)

    try:
        lo = max(marker("call-before"))
        sc.setJobGroup("call", "call under test")
        out = call()
        hi = max(marker("call-after"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, hi - lo - 1


def test_staged_quarters_served_without_a_job(spark, sf_dir):
    """Once staged, ``stage_exact_quarters`` returns the stored row count:
    no fixture read, no count."""
    from cdw_spark.streaming.source import stage_exact_quarters

    first = stage_exact_quarters(spark, sf_dir, "documents", "doc_id", 4)
    again, jobs = _jobs_fired(
        spark, lambda: stage_exact_quarters(spark, sf_dir, "documents", "doc_id", 4)
    )
    assert again == first
    assert jobs == 0


def test_staged_stream_opens_without_a_job(spark, sf_dir):
    """A staged directory carries its schema, so opening a stream on it
    fires no Spark job (an inference job per call before), and the stored
    schema is the batch-read schema of the staged files."""
    from cdw_spark.streaming.source import stage_ordered_files, staged_stream, table_stream

    path = stage_ordered_files(spark, sf_dir, "events", 4, "event_id")
    opened, jobs = _jobs_fired(
        spark, lambda: table_stream(spark, sf_dir, "events", "event_id")
    )
    assert jobs == 0
    sdf, jobs = _jobs_fired(spark, lambda: staged_stream(spark, path))
    assert jobs == 0
    assert sdf.schema == opened.schema == spark.read.parquet(path).schema


def test_stateful_aggregate_resumes_from_checkpoint(spark, sf_dir, tmp_path):
    """A complete-mode streaming aggregate stopped after two files and
    restarted on the same checkpoint, once two more files have landed,
    ends with the same rows as one uninterrupted replay over all four:
    the state store carries the counts and maxima across the restart.
    The first two files are gone by the restart, so only the restored
    state can account for them."""
    import shutil

    from pyspark.sql import functions as F

    from cdw_spark.streaming.source import _drain, stage_ordered_files, staged_stream

    staged = stage_ordered_files(spark, sf_dir, "events", 4, "event_id")
    with open(f"{staged}/_STAGED") as f:
        parts = f.read().split("\n")
    assert len(parts) == 4
    src = tmp_path / "src"
    src.mkdir()
    shutil.copy2(f"{staged}/_SCHEMA.json", src)

    def drain(path, chk, name):
        agg = (
            staged_stream(spark, str(path))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.max("event_id").alias("last_id"))
        )
        writer = agg.writeStream.format("memory").queryName(name).outputMode("complete")
        _drain(spark, writer, str(chk))
        return sorted(tuple(r) for r in spark.table(name).collect())

    for p in parts[:2]:
        shutil.copy2(f"{staged}/{p}", src)  # copy2 keeps the staged mtimes
    first = drain(src, tmp_path / "chk", "cdw_resume_first")
    for p in parts[:2]:
        (src / p).unlink()
    for p in parts[2:]:
        shutil.copy2(f"{staged}/{p}", src)  # later mtimes: read after a restart
    resumed = drain(src, tmp_path / "chk", "cdw_resume_second")
    whole = drain(staged, tmp_path / "chk_whole", "cdw_resume_whole")
    assert resumed == whole
    assert first != whole  # the first run saw only half of the stream


# Jobs per call of the state-store aggregates and the replay-held KMV
# synopsis, staging warm (the parquet-state fold fired 24 / 24 / 28).
_STATE_JOB_BUDGETS = {
    "stream_drift_chi_square": 8,
    "stream_freshness_monitor": 8,
    "stream_kmv_cardinality": 20,
}


@pytest.mark.parametrize("name", sorted(_STATE_JOB_BUDGETS))
def test_stream_state_job_budget(spark, sf_dir, name):
    spec = SPECS[name]
    spec.fn(spark, sf_dir)  # stage the replayed files outside the count
    df, jobs = _jobs_fired(spark, lambda: spec.fn(spark, sf_dir))
    assert 0 < jobs <= _STATE_JOB_BUDGETS[name], jobs
    assert df.count() > 0


@pytest.mark.parametrize("n", [4, 250, 1201])
def test_bloom_door_edge_inputs_match_oracle(spark, tmp_path_factory, n):
    """One row per batch (n=4), no duplicate keys (n=250 < 300 keys) and
    duplicates across batches (n=1201), each against the DuckDB oracle."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdw_spark.compare import compare_frames

    sf = tmp_path_factory.mktemp(f"bloom_docs_{n}")
    pq.write_table(pa.table({"doc_id": pa.array(range(n), pa.int64())}), sf / "documents.parquet")
    spec = SPECS["stream_bloom_dedup_ingest"]
    res = compare_frames(spec.name, spec.fn(spark, str(sf)), spec.oracle, str(sf))
    assert res.ok, str(res)


def test_bloom_door_job_budget(spark, sf_dir, monkeypatch):
    """Per micro-batch the door runs one aggregate action and one cut of
    the key set, so a four-batch call stays within 40 jobs (the
    parquet-state door fired 73)."""
    from cdw_spark.streaming.source import stage_exact_quarters

    stage_exact_quarters(spark, sf_dir, "documents", "doc_id", 4)
    calls = {"collect": 0, "localCheckpoint": 0}
    cls = type(spark.range(1))
    for name in calls:
        original = getattr(cls, name)

        def counted(df, *args, _name=name, _original=original, **kwargs):
            calls[_name] += 1
            return _original(df, *args, **kwargs)

        monkeypatch.setattr(cls, name, counted)
    df, jobs = _jobs_fired(
        spark, lambda: SPECS["stream_bloom_dedup_ingest"].fn(spark, sf_dir)
    )
    assert jobs <= 40
    assert calls == {"collect": 4, "localCheckpoint": 4}
    assert df.count() == 4
