"""Parquet reads without inference: ``catalog.load_fixture`` infers a
fixture's schema once per process and passes it explicitly on every later
read, and every table the package writes (artifacts, replay sinks, the
incremental ELT's tables) is read back with the schema it was written
with."""

from __future__ import annotations

import itertools
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from cdw_spark import catalog
from cdw_spark.catalog import load_fixture
from cdw_spark.operators.artifacts import clear_all
from cdw_spark.registry import load_all
from tests.sparkify_data import generate

SPECS = load_all()


def _read_jobs(spark, group, sf_dir, name):
    """``load_fixture(spark, sf_dir, name)`` and the number of Spark jobs
    the read fired, counted in job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df = load_fixture(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def test_fixture_schema_inferred_once_per_file(spark, sf_dir, tmp_path):
    """The first read of a file infers its schema (one job); a second read
    fires no job and returns the same schema and rows, with the events
    timestamp normalization applied on top (here to a TIMESTAMP(NANOS)
    ``ts``). A rewritten file is inferred again, and so is every file
    after ``clear_all``."""
    path = tmp_path / "events.parquet"
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    ts = events.schema.get_field_index("ts")
    pq.write_table(events.set_column(ts, "ts", events["ts"].cast(pa.timestamp("ns"))), path)
    d = str(tmp_path)

    first, jobs = _read_jobs(spark, "fixture-first", d, "events")
    assert jobs >= 1
    second, jobs = _read_jobs(spark, "fixture-second", d, "events")
    assert jobs == 0
    assert second.schema == first.schema
    assert dict(second.dtypes)["ts"] == "timestamp"
    expected = sorted(load_fixture(spark, sf_dir, "events").collect())
    assert sorted(first.collect()) == expected
    assert sorted(second.collect()) == expected

    table = pq.read_table(path).drop_columns(["props"])
    pq.write_table(table, path)
    rewritten, jobs = _read_jobs(spark, "fixture-rewritten", d, "events")
    assert jobs >= 1
    assert rewritten.columns == [c for c in first.columns if c != "props"]
    assert rewritten.count() == table.num_rows

    clear_all()
    _, jobs = _read_jobs(spark, "fixture-cleared", d, "events")
    assert jobs >= 1


def _group_jobs(spark, group):
    """Job ids of ``group`` once the listener bus has delivered every
    event."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def package_reads(spark, monkeypatch):
    """Every ``catalog.read_parquet`` call of the artifact store, the
    replay sinks and the ELT, each run in a job group of its own. Records
    per read: the path's name, the jobs the read fired, the read's schema,
    the remembered schema and the schema ``spark.read.parquet`` infers
    for the same path. Thread-safe: the ELT reads on its write threads and
    a replay body on the stream's thread, whose job properties are put
    back after the read."""
    import cdw_spark.operators.artifacts
    import cdw_spark.pipeline.elt
    import cdw_spark.streaming.source
    import cdw_spark.suite.streaming

    sc = spark.sparkContext
    seq = itertools.count()
    seen: list[tuple] = []
    props = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

    def checked(session, path):
        group = f"package-read-{next(seq)}"
        saved = {k: sc.getLocalProperty(k) for k in props}
        sc.setJobGroup(group, group)
        try:
            df = catalog.read_parquet(session, path)
        finally:
            for k, v in saved.items():
                sc.setLocalProperty(k, v)
        remembered = catalog._SCHEMAS[os.path.abspath(path)][1]
        inferred = session.read.parquet(path).schema
        jobs = len(_group_jobs(spark, group))
        seen.append((os.path.basename(path), jobs, df.schema, remembered, inferred))
        return df

    for mod in (
        cdw_spark.operators.artifacts,
        cdw_spark.pipeline.elt,
        cdw_spark.streaming.source,
        cdw_spark.suite.streaming,
    ):
        monkeypatch.setattr(mod, "read_parquet", checked)
    return seen


def _assert_written_schemas(seen, names):
    """Every recorded read fired no job and read the schema inference
    gives, and every name in ``names`` was read."""
    assert names <= {name for name, *_ in seen}, seen
    for name, jobs, schema, remembered, inferred in seen:
        assert jobs == 0, name
        assert schema == remembered == inferred, name


def test_artifact_reads_use_written_schema(spark, sf_dir, package_reads):
    """A build reads its fresh parquet for the summary, then serves the
    published artifact and its ``_summary``: all three with the schema the
    build wrote, no inference job."""
    clear_all()
    SPECS["recs_lists_materialize"].fn(spark, sf_dir).collect()
    SPECS["recs_item_cooccurrence"].fn(spark, sf_dir).collect()
    names = {name for name, *_ in package_reads}
    assert any(".tmp" in n for n in names), names  # the build's summary read
    assert any(".tmp" not in n and n != "_summary" for n in names), names  # the artifact
    _assert_written_schemas(package_reads, {"_summary"})


def test_replay_sink_reads_use_written_schema(spark, sf_dir, package_reads):
    """The near-dup door reads its corpus and signature sinks once per
    micro-batch and returns the pairs sink: every read takes the schema
    the sink was seeded and appended with, and the replay's root leaves
    no remembered schema behind."""
    SPECS["stream_near_dup_ingest"].fn(spark, sf_dir).collect()
    _assert_written_schemas(package_reads, {"corpus", "sigs", "pairs"})
    assert sum(name == "corpus" for name, *_ in package_reads) == 4
    assert not any("cdw_replay_" in path for path in catalog._SCHEMAS)


def test_incremental_elt_reads_use_written_schema(spark, package_reads, tmp_path_factory):
    """A second incremental batch reads the versioned users, the three
    dims and the accumulated staging songs with the schemas the first
    batch wrote."""
    from cdw_spark.pipeline.elt import run_elt_incremental

    out = str(tmp_path_factory.mktemp("ws_out"))
    for seed in (41, 42):
        src = tmp_path_factory.mktemp(f"ws_src{seed}")
        run_elt_incremental(spark, *generate(str(src), n_songs=10, n_events=100, seed=seed), out)
    _assert_written_schemas(
        package_reads, {"_users_versioned", "songs", "artists", "time", "staging_songs"}
    )


def _inference_jobs(spark, group):
    """Jobs of ``group`` that infer a parquet schema: their stage was
    submitted from ``DataFrameReader.parquet``."""
    store = spark.sparkContext._jsc.sc().statusStore()

    def submitted_from(job):
        return store.lastStageAttempt(store.job(job).stageIds().head()).details()

    return [j for j in _group_jobs(spark, group) if "DataFrameReader.parquet" in submitted_from(j)]


def test_incremental_elt_second_batch_infers_no_schema(spark, tmp_path_factory):
    """The second batch reads four tables the first batch wrote
    (``_users_versioned`` and the three dims) and the accumulated staging
    songs, and fires no schema-inference job for any of them; a plain
    ``spark.read.parquet`` of one of them, in the same kind of group,
    shows the job the count looks for."""
    from cdw_spark.pipeline.elt import run_elt_incremental

    sc = spark.sparkContext
    out = str(tmp_path_factory.mktemp("inf_out"))
    for seed in (51, 52):
        src = tmp_path_factory.mktemp(f"inf_src{seed}")
        sc.setJobGroup(f"elt-batch-{seed}", "incremental batch")
        try:
            batch = generate(str(src), n_songs=10, n_events=100, seed=seed)
            run_elt_incremental(spark, *batch, out)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    assert _inference_jobs(spark, "elt-batch-52") == []

    sc.setJobGroup("elt-plain-read", "plain read")
    try:
        spark.read.parquet(os.path.join(out, "songs"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(_inference_jobs(spark, "elt-plain-read")) == 1


def test_read_if_exists_none_only_for_a_missing_path(spark, tmp_path):
    """``_read_if_exists`` returns None only when the path does not exist;
    a written table comes back with no job, and a path that exists but
    cannot be read (garbage in place of parquet, or no data files)
    raises."""
    from cdw_spark.pipeline.elt import _read_if_exists

    assert _read_if_exists(spark, str(tmp_path / "missing")) is None

    written = str(tmp_path / "written")
    catalog.write_parquet(spark.range(3), written)
    sc = spark.sparkContext
    sc.setJobGroup("read-if-exists", "read-if-exists")
    try:
        df = _read_if_exists(spark, written)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert _group_jobs(spark, "read-if-exists") == []
    assert sorted(r.id for r in df.collect()) == [0, 1, 2]

    garbage = tmp_path / "garbage"
    garbage.mkdir()
    (garbage / "part-00000.parquet").write_bytes(b"not parquet at all")
    with pytest.raises(Exception) as exc_info:
        _read_if_exists(spark, str(garbage))
    assert "PATH_NOT_FOUND" not in str(exc_info.value)

    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        _read_if_exists(spark, str(empty))
