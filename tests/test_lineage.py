"""Lineage cuts: ``plans.lineage.cut`` is the package's one cut, local by
default and durable (reliable ``checkpoint``) when the context has a
checkpoint dir."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from cdw_spark.compare import compare_frames
from cdw_spark.registry import load_all

SPECS = load_all()


def test_cuts_live_only_in_lineage_seam():
    """Source-scan guard: only cdw_spark/plans/lineage.py calls
    ``localCheckpoint`` or ``checkpoint``, so the choice between a local
    and a durable cut is made in one place."""
    pkg = Path(__file__).resolve().parent.parent / "cdw_spark"
    pattern = re.compile(r"localCheckpoint\(|\.checkpoint\(")
    offenders = sorted(
        f"{path.relative_to(pkg.parent)}:{i}"
        for path in pkg.rglob("*.py")
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    )
    assert offenders, "the guard must see the seam in plans/lineage.py"
    assert all(o.startswith("cdw_spark/plans/lineage.py:") for o in offenders), offenders


@pytest.fixture
def durable(spark, tmp_path, monkeypatch):
    """Durable mode for one test: a checkpoint dir on the context and a
    call counter on both cut methods. The dir is unset afterwards, so no
    other test runs with one."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    calls = {"checkpoint": 0, "localCheckpoint": 0}
    cls = type(spark.range(1))
    for name in calls:
        original = getattr(cls, name)

        def counted(df, *args, _name=name, _original=original, **kwargs):
            calls[_name] += 1
            return _original(df, *args, **kwargs)

        monkeypatch.setattr(cls, name, counted)
    sc.setCheckpointDir(str(tmp_path / "cuts"))
    try:
        yield calls
    finally:
        sc.setCheckpointDir(None)


def test_cut_is_durable_with_checkpoint_dir(spark, durable):
    from cdw_spark.plans.lineage import cut

    eager, lazy = cut(spark.range(5)), cut(spark.range(3), eager=False)
    assert durable == {"checkpoint": 2, "localCheckpoint": 0}
    for df, n in ((eager, 5), (lazy, 3)):
        assert "ExistingRDD" in df._jdf.queryExecution().executedPlan().toString()
        assert sorted(r.id for r in df.collect()) == list(range(n))
    cut_dir = Path(spark.sparkContext.getCheckpointDir().removeprefix("file:"))
    assert list(cut_dir.glob("rdd-*")), "a durable cut writes under the checkpoint dir"


# Loop operators, multi-reader relations and replayed streaming state,
# each with an oracle; dedup_components runs connected_components when
# its artifact is rebuilt.
DURABLE_QUERIES = [
    "graph_pagerank",
    "graph_label_propagation",
    "graph_hits_scores",
    "dedup_components",
    "events_markov_stationary",
    "timeseries_kpss",
    "stream_drift_chi_square",
    "stream_bloom_dedup_ingest",
]


@pytest.mark.parametrize("name", DURABLE_QUERIES)
def test_durable_cuts_match_oracle(spark, sf_dir, durable, name):
    served_at_rest = name == "dedup_components"
    if served_at_rest:
        from cdw_spark.operators.artifacts import clear_family

        clear_family("dedup_components")
    spec = SPECS[name]
    df = spec.fn(spark, sf_dir)
    res = compare_frames(name, df, spec.oracle, sf_dir)
    assert res.ok, str(res)
    assert durable["checkpoint"] > 0
    assert durable["localCheckpoint"] == 0
    if not served_at_rest:  # an artifact is served by a parquet scan
        assert "ExistingRDD" in df._jdf.queryExecution().executedPlan().toString()


def test_durable_cuts_incremental_elt_equals_full_rebuild(spark, durable, tmp_path_factory):
    """The ELT's ``users`` upsert cuts once per incremental batch."""
    from tests.test_elt_runner import assert_incremental_equals_full_rebuild

    assert_incremental_equals_full_rebuild(spark, tmp_path_factory)
    assert durable["checkpoint"] == 2
    assert durable["localCheckpoint"] == 0
