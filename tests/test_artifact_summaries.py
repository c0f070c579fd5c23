"""Published shape summaries for the four at-rest index artifacts (kNN
edges, co-occurrence lists, near-dup components, text blocks): each
``*_materialize`` query serves a one-row summary written INTO the
artifact at publish instead of recounting the full relation per call. These tests recompute every summary value from the
full artifact and assert agreement — the integrity check that keeps the
O(1) serve honest — and prove the serve really is a summary scan, not a
recount."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cdw_spark.registry import load_all

SPECS = load_all()


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_knn_summary_agrees_with_artifact(spark, sf_dir):
    from cdw_spark.catalog import load_fixture
    from cdw_spark.suite.similarity import KNN_EDGES

    served = _rows(SPECS["graph_knn_materialize"].fn(spark, sf_dir))
    knn = KNN_EDGES.serve(spark, sf_dir)
    und = knn.select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    ).distinct()
    emb = load_fixture(spark, sf_dir, "embeddings")
    recounted = (
        emb.select("vec_id").distinct().count(),
        knn.count(),
        und.count(),
    )
    assert served == [recounted]
    assert os.path.exists(
        os.path.join(KNN_EDGES.dir(sf_dir), "_summary", "_SUCCESS")
    )


def test_recs_summary_agrees_with_artifact(spark, sf_dir):
    from cdw_spark.suite.recsys import RECS_LISTS

    served = _rows(SPECS["recs_lists_materialize"].fn(spark, sf_dir))
    lists = RECS_LISTS.serve(spark, sf_dir)
    recounted = (
        lists.select("item").distinct().count(),
        lists.count(),
        lists.select("neighbor").distinct().count(),
        lists.agg(F.sum("together")).collect()[0][0],
    )
    assert served == [recounted]
    assert os.path.exists(
        os.path.join(RECS_LISTS.dir(sf_dir), "_summary", "_SUCCESS")
    )


def test_components_summary_agrees_with_artifact(spark, sf_dir):
    from cdw_spark.suite.dedup import DEDUP_COMPONENTS

    served = _rows(SPECS["dedup_components_materialize"].fn(spark, sf_dir))
    comp = DEDUP_COMPONENTS.serve(spark, sf_dir)
    sizes = comp.groupBy("component_id").count()
    recounted = (
        comp.count(),
        sizes.count(),
        sizes.agg(F.max("count")).collect()[0][0],
        comp.agg(F.sum("doc_id")).collect()[0][0],
        comp.agg(F.sum("component_id")).collect()[0][0],
    )
    assert served == [recounted]
    assert os.path.exists(
        os.path.join(DEDUP_COMPONENTS.dir(sf_dir), "_summary", "_SUCCESS")
    )


def test_text_blocks_summary_agrees_with_artifact(spark, sf_dir):
    from cdw_spark.suite.text import TEXT_BLOCKS

    served = _rows(SPECS["text_blocks_materialize"].fn(spark, sf_dir))
    occ = TEXT_BLOCKS.serve(spark, sf_dir)
    recounted = (
        occ.count(),
        occ.select("source").distinct().count(),
        occ.agg(F.sum("n_inst")).collect()[0][0],
        occ.agg(F.sum("nd")).collect()[0][0],
        occ.filter(F.col("nd") >= 2).agg(F.sum("n_inst")).collect()[0][0],
    )
    assert served == [recounted]
    assert os.path.exists(
        os.path.join(TEXT_BLOCKS.dir(sf_dir), "_summary", "_SUCCESS")
    )


def test_materialize_serves_summary_not_recount(spark, sf_dir):
    """Steady-state materialize plans must scan <artifact>/_summary and
    carry NO aggregate over the full relation (the recount moved to
    publish time)."""
    from cdw_spark.suite.dedup import DEDUP_COMPONENTS
    from cdw_spark.suite.recsys import RECS_LISTS
    from cdw_spark.suite.similarity import KNN_EDGES
    from cdw_spark.suite.text import TEXT_BLOCKS

    for name, art in (
        ("graph_knn_materialize", KNN_EDGES.dir(sf_dir)),
        ("recs_lists_materialize", RECS_LISTS.dir(sf_dir)),
        ("dedup_components_materialize", DEDUP_COMPONENTS.dir(sf_dir)),
        ("text_blocks_materialize", TEXT_BLOCKS.dir(sf_dir)),
    ):
        df = SPECS[name].fn(spark, sf_dir)  # ensures published
        files = df.inputFiles()
        assert files, f"{name} has no file inputs"
        want = os.path.join(art, "_summary") + "/"
        for f in files:
            assert want in f.replace("file:", ""), (
                f"{name} reads {f}, not the published summary"
            )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "HashAggregate" not in plan and "SortAggregate" not in plan, (
            f"{name} still recounts the artifact at serve time"
        )


def test_summary_backfilled_for_pre_summary_artifact(spark, sf_dir):
    """An artifact published before summaries existed must be backfilled
    in place (no rebuild of the main relation) on the first summary
    serve."""
    import shutil

    from cdw_spark.operators.artifacts import (
        artifact_dir,
        clear_family,
        serve_at_rest,
        serve_summary_at_rest,
    )

    fixture = os.path.join(sf_dir, "region.parquet")
    clear_family("sum_probe")
    build_calls = []

    def build():
        build_calls.append(1)
        return spark.read.parquet(fixture).select("r_regionkey")

    def summarize(df):
        return df.agg(F.count(F.lit(1)).cast("bigint").alias("n"))

    try:
        # publish WITHOUT a summary (the pre-r12 state)
        serve_at_rest(spark, "sum_probe", fixture, "v1", "spec", build).count()
        d = artifact_dir("sum_probe", fixture, "v1", "spec")
        assert not os.path.exists(os.path.join(d, "_summary"))
        assert build_calls == [1]

        out = serve_summary_at_rest(
            spark, "sum_probe", fixture, "v1", "spec", build, summarize
        )
        assert _rows(out) == [(spark.read.parquet(fixture).count(),)]
        assert build_calls == [1], "backfill rebuilt the main artifact"
        assert os.path.exists(os.path.join(d, "_summary", "_SUCCESS"))

        # an abandoned backfill tmp from a dead pid is reclaimed
        shutil.rmtree(os.path.join(d, "_summary"))
        stale = os.path.join(d, "_summary.tmp999999999")
        os.makedirs(stale)
        serve_summary_at_rest(
            spark, "sum_probe", fixture, "v1", "spec", build, summarize
        ).count()
        assert not os.path.exists(stale)
    finally:
        clear_family("sum_probe")
