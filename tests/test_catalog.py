"""Fixture reads: ``catalog.load_fixture`` infers a file's parquet schema
once per process and passes it explicitly on every later read."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from cdw_spark.catalog import load_fixture
from cdw_spark.operators.artifacts import clear_all


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
