"""Driver-held rows: ``plans.local.local_frame`` is the package's one
``createDataFrame``, and it plans the rows as a ``LocalRelation``."""

from __future__ import annotations

import datetime
import decimal
import re
from pathlib import Path

import pytest
from pyspark.sql.types import StructType

from cdw_spark.plans.local import local_frame

SCHEMA = "id long, name string, price decimal(12,2), ts timestamp, v array<double>"
D, T = decimal.Decimal, datetime.datetime
ROWS = [
    (1, "a", D("12.50"), T(2024, 1, 2, 3, 4, 5, 678901), [1.0, 2.5]),
    (2, None, None, None, None),
    (None, "c", D("-0.01"), T(1999, 12, 31, 23, 59, 59), [None, -1.0]),
    (4, "", D("0.00"), T(2024, 6, 30), []),
]


def test_create_dataframe_lives_only_in_local_seam():
    """Source-scan guard: only cdw_spark/plans/local.py calls
    ``createDataFrame``, so every driver-held relation is a
    ``LocalRelation`` with true size statistics."""
    pkg = Path(__file__).resolve().parent.parent / "cdw_spark"
    pattern = re.compile(r"createDataFrame\(")
    offenders = sorted(
        f"{path.relative_to(pkg.parent)}:{i}"
        for path in pkg.rglob("*.py")
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    )
    assert offenders, "the guard must see the seam in plans/local.py"
    assert all(o.startswith("cdw_spark/plans/local.py:") for o in offenders), offenders


def _jobs(spark, group, call):
    """``call()`` and the number of Spark jobs it fired in job group
    ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_local_frame_is_a_local_relation(spark, rows):
    """Rows with NULLs, strings, decimals, timestamps and double arrays,
    and no rows at all: the optimized plan is a ``LocalRelation``, the
    schema is the declared one, building and collecting fire no job, and
    collecting gives back the rows as ``createDataFrame(list)`` does."""
    tag = "rows" if rows else "empty"
    df, built = _jobs(spark, f"local-frame-build-{tag}", lambda: local_frame(spark, rows, SCHEMA))
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert df.schema == StructType.fromDDL(SCHEMA)
    got, collected = _jobs(spark, f"local-frame-collect-{tag}", df.collect)
    assert (built, collected) == (0, 0)
    assert [tuple(r) for r in got] == rows
    assert got == spark.createDataFrame(rows, SCHEMA).collect()


def test_local_frame_statistics_prune_and_broadcast(spark):
    """The statistics are the rows' true size: a left join against an
    empty local frame is pruned away, and a join against a small one
    broadcasts, where the same rows from ``createDataFrame(list)`` plan a
    shuffled join."""
    # planned only, never run: its statistics rule out broadcasting it
    probe = spark.range(10**9).withColumnRenamed("id", "key")
    empty = local_frame(spark, [], "key long")
    pruned = probe.join(empty, "key", "left")._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in pruned
    small_rows = [(i,) for i in range(3)]
    with_local = probe.join(local_frame(spark, small_rows, "key long"), "key")
    with_rdd = probe.join(spark.createDataFrame(small_rows, "key long"), "key")

    def physical(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert "BroadcastHashJoin" in physical(with_local)
    assert "SortMergeJoin" in physical(with_rdd)
