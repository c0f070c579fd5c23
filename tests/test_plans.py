"""Physical-plan assertions — the 100 TB design rules, checked in CI.

Correctness tests prove the small-SF answer; these prove the *plan* is the
one we'd want on a 1000-executor cluster: dimension sides broadcast, filters
and projections pushed into the parquet scan, and no row-at-a-time Python
evaluation in the relational hot path (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cdw_spark.catalog import load_fixture
from cdw_spark.registry import load_all

SPECS = load_all()


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_star_fact_join_broadcasts_dim(spark, sf_dir):
    """The distinct'd catalog side is tiny vs the fact scan -> must be a
    broadcast hash join, never a sort-merge shuffle of the fact table."""
    plan = _plan(SPECS["star_fact_join"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_project_pushdown(spark, sf_dir):
    """Equality predicate must reach the parquet scan (PushedFilters) and
    the scan must read only the referenced columns (ReadSchema pruning)."""
    plan = _plan(SPECS["filter_project"].fn(spark, sf_dir))
    assert "PushedFilters" in plan
    assert "event_type" in plan.split("PushedFilters")[1][:200]
    # Column pruning: untouched wide column must not be in the read schema.
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "ts" not in read_schema


def test_relational_suite_stays_jvm_side(spark, sf_dir):
    """No Python UDF evaluation nodes in any SQL-expressible relational /
    analytics / window query: the hot path is whole-stage-codegen JVM."""
    jvm_only = [
        "star_fact_join", "filter_project", "distinct_dim", "cast_projection",
        "semi_anti_join", "set_ops", "outer_join_coalesce", "scalar_funcs",
        "agg_pricing_summary", "join_agg_topk", "multi_join_groupby",
        "window_rank_topk", "window_running_sum", "window_lag_delta",
        "tumbling_window_agg", "sliding_window_agg", "session_window_agg",
        "time_dim", "time_dim_fixed", "epoch_conversion",
    ]
    for name in jvm_only:
        plan = _plan(SPECS[name].fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, f"{name} fell off the JVM path"
        assert "ArrowEvalPython" not in plan, f"{name} uses pandas UDF needlessly"


def test_outer_join_aggregates_before_join(spark, sf_dir):
    """outer_join_coalesce must aggregate the big side *below* the join
    (aggregate-pushdown pattern): the join input is |nations|-sized."""
    plan = _plan(SPECS["outer_join_coalesce"].fn(spark, sf_dir))
    agg_pos = plan.find("HashAggregate")
    join_pos = plan.find("Join")
    assert agg_pos != -1 and join_pos != -1


def test_broadcast_small_dims(spark, sf_dir):
    """diststyle-all analogue: a fact->small-dim join auto-broadcasts under
    the configured threshold (SURVEY.md §4 row 2)."""
    o = load_fixture(spark, sf_dir, "orders")
    n = load_fixture(spark, sf_dir, "nation")
    c = load_fixture(spark, sf_dir, "customer")
    df = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .groupBy(n["n_name"]).agg(F.count(F.lit(1)).alias("cnt"))
    )
    assert "BroadcastHashJoin" in _plan(df)


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path_factory):
    """Partition-layout discipline: a column-partitioned parquet table must
    show PartitionFilters (not a data filter) for an equality predicate on
    the partition column — at 100 TB this is the difference between
    scanning one directory and scanning the lake."""
    from cdw_spark.catalog import load_fixture

    out = str(tmp_path_factory.mktemp("part")) + "/events_by_type"
    load_fixture(spark, sf_dir, "events").write.partitionBy("event_type").mode(
        "overwrite"
    ).parquet(out)
    df = spark.read.parquet(out).filter("event_type = 'purchase'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the partition predicate must appear in PartitionFilters, not survive
    # as a post-scan Filter node
    pf = [seg for seg in plan.split("PartitionFilters: [")[1:]]
    assert any("event_type" in seg.split("]")[0] for seg in pf), plan
    assert df.count() > 0


def test_bucketed_join_needs_no_exchange(spark, sf_dir):
    """Tables bucketed on the join key by the same bucket count must join
    with zero Exchange (shuffle) operators — the at-rest co-location the
    reference declares with DISTKEY (SURVEY.md §4)."""
    from cdw_spark.catalog import load_fixture
    from cdw_spark.plans.layout import write_bucketed

    write_bucketed(load_fixture(spark, sf_dir, "orders"), "b_orders", "o_custkey")
    write_bucketed(load_fixture(spark, sf_dir, "customer"), "b_customer", "c_custkey")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_tpch_q5_snowflake_all_broadcast(spark, sf_dir):
    """The 6-way Q5 snowflake must broadcast every dimension side — the
    lineitem fact is joined 5 times without ever shuffling."""
    plan = _plan(SPECS["tpch_q5_local_supplier_volume"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_asof_join_single_exchange(spark, sf_dir):
    """The as-of join must cost exactly ONE shuffle (the union sorted per
    key) — a second Exchange would mean the union/window structure
    regressed to a join."""
    from cdw_spark.registry import load_all

    df = load_all()["asof_join_clicks"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_range_join_broadcasts_order_side(spark, sf_dir):
    """The bucketed range join must broadcast the small exploded-orders
    side — broadcasting the fact side would melt at 100 TB."""
    from cdw_spark.registry import load_all

    df = load_all()["range_join_bucketed"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    # the broadcast exchange subtree must contain the orders scan, not lineitem
    for seg in plan.split("BroadcastExchange")[1:]:
        sub = seg.split("BroadcastHashJoin")[0]
        assert "orders.parquet" in sub or "lineitem.parquet" not in sub, plan


def test_ann_lsh_is_equi_bucketed(spark, sf_dir):
    """The multiprobe LSH join must be an EQUI join on exploded
    hamming-ball signatures — a hamming-distance predicate can't
    hash-partition and degenerates to a nested-loop over corpus x probes
    (the round-1 defect)."""
    df = SPECS["similarity_ann_lsh"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_pairs_topn_has_no_cross_join(spark, sf_dir):
    """similarity_pairs_topn must generate candidates through the bucketed
    signature join, never the O(n^2) cross product (the round-1 defect);
    the exact all-pairs form lives only in tests as the recall oracle."""
    plan = _plan(SPECS["similarity_pairs_topn"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_sparkify_staging_bucketed_join_zero_exchange(spark, tmp_path_factory):
    """VERDICT r2 #4: the actual pipeline tables, bucketed end-to-end. Both
    staging tables are written with write_bucketed on their artist join
    column (the DISTKEY analog); the flagship 3-key songplays join then
    needs ZERO Exchange — bucket-on-a-prefix co-locates the full
    (artist, song, length) key because equal composite keys imply equal
    artist hash. At 100 TB this is the reference's diststyle promise made
    real: the event fact table is never reshuffled for the star join."""
    from cdw_spark.plans.layout import write_bucketed
    from cdw_spark.sources.json_loader import load_staging_events, load_staging_songs
    from tests.sparkify_data import generate

    out = tmp_path_factory.mktemp("sparkify_bucketed")
    log_path, song_path = generate(str(out))
    write_bucketed(load_staging_events(spark, log_path), "b_staging_events", "artist")
    write_bucketed(load_staging_songs(spark, song_path), "b_staging_songs", "artist_name")

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_all_keys = spark.conf.get("spark.sql.requireAllClusterKeysForCoPartition")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # no broadcast escape
    # Both sides are hash-distributed on the artist prefix of the join key;
    # accepting subset co-partitioning is what lets the planner use it.
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    try:
        se = spark.table("b_staging_events").filter(F.col("page") == "NextSong")
        ss = spark.table("b_staging_songs")
        joined = se.join(
            ss,
            on=[
                se["artist"] == ss["artist_name"],
                se["song"] == ss["title"],
                se["length"] == ss["duration"],
            ],
            how="inner",
        ).select("artist", "song", "song_id", "artist_id", "sessionId")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", prev_all_keys)
        spark.sql("DROP TABLE IF EXISTS b_staging_events")
        spark.sql("DROP TABLE IF EXISTS b_staging_songs")


def test_build_songplays_broadcast_gate_both_sides(spark, tmp_path_factory):
    """VERDICT r3 #5: the real pipeline's songs-catalog join side is
    size-GATED, not hard-broadcast. Below the session threshold the tiny
    fixture catalog broadcasts (the small-catalog plan); with
    auto-broadcast disabled the same code yields an unhinted sort-merge
    join — the plan a multi-GB catalog would get at 100 TB, where the
    bucketed staging layout (test above) removes even that Exchange."""
    from cdw_spark.pipeline.sparkify import build_songplays
    from cdw_spark.sources.json_loader import load_staging_events, load_staging_songs
    from tests.sparkify_data import generate

    out = tmp_path_factory.mktemp("sparkify_gate")
    log_path, song_path = generate(str(out))
    events = load_staging_events(spark, log_path)
    songs = load_staging_songs(spark, song_path)

    below = _plan(build_songplays(events, songs))
    assert "BroadcastHashJoin" in below, below
    assert "SortMergeJoin" not in below, below

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        above = _plan(build_songplays(events, songs))
        assert "BroadcastHashJoin" not in above, above
        assert "SortMergeJoin" in above, above
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_aqe_skew_join_splits_hot_partitions(spark, sf_dir):
    """skew_salted_join's adaptive twin (VERDICT r2 #6): the engine rule at
    100 TB is "let AQE's skew-join split hot partitions at runtime; salt
    manually only when keys are pathological enough to defeat it". A
    sort-merge join whose fact side funnels half its rows onto one hot key
    (thresholds scaled to fixture bytes) must take the skew-split path —
    asserted on the executed adaptive plan.

    Two preconditions discovered empirically, worth knowing at any scale:
    (a) skewed partitions split at MAP-OUTPUT granularity, so the shuffle
    needs multiple mappers (repartition(10) here; trivially true on a
    cluster); (b) OptimizeSkewedJoin pattern-matches Sort directly over the
    shuffle stage — a dim derived from the fact via distinct() leaves its
    aggregate between them and silently disables the split, which is one
    more reason dimension tables should be independent relations."""
    from cdw_spark.catalog import load_fixture

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": "100",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "800",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "800",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_fixture(spark, sf_dir, "lineitem")
        # hot key 0 carries ~half the fact; the rest spread over 96 keys
        key = F.when(F.col("l_orderkey") % 2 == 0, F.lit(0)).otherwise(
            F.col("l_orderkey") % 97
        )
        fact = li.repartition(10).select(key.alias("k"), "l_extendedprice")
        dim = spark.range(0, 97, 1, 4).select(
            F.col("id").alias("k"), F.concat(F.lit("lbl_"), F.col("id")).alias("lbl")
        )
        joined = fact.join(dim, on="k")
        # execute THIS DataFrame's plan (count() builds a separate one):
        # AQE only finalizes a plan that actually ran
        assert len(joined.collect()) > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan
        assert "skew=true" in plan, plan
        assert "skewed" in plan, plan  # the AQEShuffleRead marker
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_phrase_search_prefilters_scan_before_explode(spark, sf_dir):
    """Every phrase word must appear as a Contains DataFilter ON the file
    scan, so non-matching documents never reach the posexplode."""
    from cdw_spark.registry import load_all

    df = load_all()["text_phrase_search"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan_lines and all(
        "Contains" in ln and "table" in ln and "hash" in ln for ln in scan_lines
    ), plan[:2000]


def test_paragraph_dedup_single_count_exchange(spark, sf_dir):
    """The corpus block count is a window over the block key — counting
    and the keep/drop decision must share exchanges: exactly two
    (block window + doc reassembly), no count-table self-join."""
    from cdw_spark.registry import load_all

    df = load_all()["dedup_paragraphs"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2, plan[:3000]
    assert "Join" not in plan


def test_quality_model_rides_the_plan_without_joins(spark, sf_dir):
    """The classifier's weights are literals: no join, no Python UDF —
    two aggregation exchanges ((doc,bucket) count + per-doc pivot)."""
    from cdw_spark.registry import load_all

    df = load_all()["quality_model_score"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Python" not in plan
    assert plan.count("Exchange hashpartitioning") == 2, plan[:3000]


def test_geo_proximity_candidates_equi_join_on_cells(spark, sf_dir):
    """The geo proximity join must generate candidates through the 1-deg
    grid-cell EQUI join — a raw distance predicate can't hash-partition
    and degenerates to an all-pairs nested loop. The only nested-loop
    joins allowed in the plan are the bounded broadcast expansions of the
    3x5 literal probe-offset relations (3 and 5 rows)."""
    plan = _plan(SPECS["geo_proximity_join"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    # the candidate join itself must be a hash-partitionable equi join
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    ), plan


def test_rank_fusion_rankers_use_takeordered(spark, sf_dir):
    """Both RRF input rankers must plan the distributed top-k
    (TakeOrderedAndProject: per-partition heaps merged at the driver) —
    a global-window row_number over the full scored corpus would funnel
    every score through one partition."""
    plan = _plan(SPECS["rank_fusion_rrf"].fn(spark, sf_dir))
    assert plan.count("TakeOrderedAndProject") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Runtime-filter story for shuffle joins that can't broadcast: when a
    selective dimension filter exists, Spark injects a bloom_filter_agg on
    the dim side and a might_contain predicate onto the FACT side scan, so
    fact rows that can't join are dropped before the shuffle. At 100 TB
    this is the row-level complement of partition pruning — the engine
    rule is: broadcast when the dim fits (test_star_fact_join), otherwise
    let the runtime bloom filter prune the shuffle. The application-side
    threshold (default 10 GB — exactly the "fact side is huge" regime) is
    lowered to 0 here so the fixture-scale plan shows the 100 TB shape."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_fixture(spark, sf_dir, "lineitem")
        o = load_fixture(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt, "no runtime bloom filter was injected"
        assert "might_contain" in opt, "fact side is not filtered by the bloom"
        # The filter must land on the lineitem (application) side, keyed on
        # the fact join key.
        assert "might_contain" in opt.split("Join")[1], opt[:500]
        assert "l_orderkey" in opt[opt.index("might_contain"):][:200]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cbo_stats_drive_broadcast_of_filtered_dim(spark, sf_dir, tmp_path):
    """Cost-based optimization story: with table+column stats ANALYZEd in
    (the S7 STATUPDATE analog) and CBO on, a dimension that only becomes
    small AFTER a selective filter still broadcasts — the optimizer sees
    the filtered cardinality through column stats instead of falling back
    to file size. At 100 TB this is why ANALYZE matters: size-on-disk says
    "too big to broadcast", stats say otherwise."""
    confs = {
        "spark.sql.cbo.enabled": "true",
        "spark.sql.cbo.planStats.enabled": "true",
        "spark.sql.cbo.joinReorder.enabled": "true",
        # force the decision through stats, not through a generous default
        "spark.sql.autoBroadcastJoinThreshold": str(256 * 1024),
    }
    from cdw_spark.plans.layout import ensure_clean_table_location

    old = {k: spark.conf.get(k, None) for k in confs}
    ensure_clean_table_location(spark, "cbo_orders")
    ensure_clean_table_location(spark, "cbo_lineitem")
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        load_fixture(spark, sf_dir, "orders").write.mode("overwrite").saveAsTable(
            "cbo_orders"
        )
        load_fixture(spark, sf_dir, "lineitem").write.mode("overwrite").saveAsTable(
            "cbo_lineitem"
        )
        for t, cols in (
            ("cbo_orders", "o_orderkey, o_orderpriority"),
            ("cbo_lineitem", "l_orderkey"),
        ):
            spark.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS FOR COLUMNS {cols}")
        j = spark.sql(
            """
            SELECT o.o_orderpriority, COUNT(*) AS n
            FROM cbo_lineitem l
            JOIN cbo_orders o ON o.o_orderkey = l.l_orderkey
            WHERE o.o_orderpriority = '1-URGENT'
            GROUP BY o.o_orderpriority
            """
        )
        opt = j._jdf.queryExecution().optimizedPlan()
        # stats must be visible to the planner (rowCount from ANALYZE)
        assert opt.stats().rowCount().isDefined()
        plan = _plan(j)
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.sql("DROP TABLE IF EXISTS cbo_orders")
        spark.sql("DROP TABLE IF EXISTS cbo_lineitem")


def test_knn_graph_family_scans_at_rest_artifact(spark, sf_dir):
    """VERDICT r9 #2: the eight graph/audit queries must READ the at-rest
    kNN edge artifact, not re-execute the banded-MIH signature build per
    query. The build's plan hallmark is the bit_count popcount filter on
    the signature join; a family plan that contains it (or any join of
    the embeddings table at all beyond the node-set scan) is rebuilding.
    graph_knn_materialize itself builds eagerly INSIDE fn() — its
    returned stats plan must also be artifact-scan-only."""
    from cdw_spark.suite.similarity import KNN_EDGES

    art = KNN_EDGES.dir(sf_dir)
    # force the artifact to exist (first call may build)
    SPECS["graph_knn_materialize"].fn(spark, sf_dir).collect()
    for name in (
        "graph_knn_materialize",
        "graph_knn_triangles",
        "graph_khop_reach",
        "graph_link_prediction",
        "graph_clustering_coefficient",
        "graph_adamic_adar",
        "graph_degree_assortativity",
        "graph_harmonic_centrality",
        "embedding_hubness_audit",
        "graph_rich_club",
        "graph_neighbor_jaccard",
        "embedding_twonn_intrinsic_dim",
    ):
        plan = _plan(SPECS[name].fn(spark, sf_dir))
        assert "bit_count" not in plan, f"{name} re-executes the kNN build"
        # queries that localCheckpoint the symmetrized adjacency show the
        # checkpoint (Scan ExistingRDD) instead of the parquet scan — the
        # checkpoint's own lineage was the artifact scan, and bit_count
        # absence above already rules out a rebuild
        assert art in plan or "ExistingRDD" in plan, (
            f"{name} does not scan the at-rest artifact"
        )


def test_dedup_components_family_scans_at_rest_artifact(spark, sf_dir):
    """VERDICT r10 #3: the five component consumers must READ the at-rest
    near-dup component artifact, not re-execute the shingle pair join +
    pointer-jumping components per query. The build's plan hallmark is
    the Arrow shingle stage (MapInPandas) feeding the pair self-join; a
    consumer plan that contains MapInPandas is rebuilding. (None of the
    five consumers uses mapInPandas for anything else — their own logic
    is pure Catalyst over the component relation + the documents scan.)"""
    from cdw_spark.suite.dedup import DEDUP_COMPONENTS

    art = DEDUP_COMPONENTS.dir(sf_dir)
    SPECS["dedup_components_materialize"].fn(spark, sf_dir).collect()
    for name in (
        "dedup_components_materialize",
        "dedup_components",
        "dedup_canonical_keepers",
        "dedup_cluster_size_profile",
        "sample_split_leakage_safe",
        "sample_negative_pairs",
    ):
        plan = _plan(SPECS[name].fn(spark, sf_dir))
        assert "MapInPandas" not in plan, f"{name} re-executes the component build"
        assert art in plan or "ExistingRDD" in plan, (
            f"{name} does not scan the at-rest artifact"
        )


def test_recs_family_scans_at_rest_artifact(spark, sf_dir):
    """r10 generalization of the kNN-artifact rule: the three recsys
    consumers must READ the at-rest co-occurrence list artifact, not
    re-run the basket self-join per query. The build's plan hallmark is
    the per-item row_number ranking window; a consumer plan that
    contains it is rebuilding."""
    from cdw_spark.suite.recsys import RECS_LISTS

    art = RECS_LISTS.dir(sf_dir)
    SPECS["recs_lists_materialize"].fn(spark, sf_dir).collect()
    for name in (
        "recs_lists_materialize",
        "recs_item_cooccurrence",
        "recs_catalog_coverage",
        "recs_basket_holdout_eval",
        "recs_item_novelty",
        "recs_gini_diversity",
    ):
        plan = _plan(SPECS[name].fn(spark, sf_dir))
        assert "row_number" not in plan, f"{name} re-runs the list build"
        assert art in plan or "ExistingRDD" in plan, (
            f"{name} does not scan the at-rest artifact"
        )


def test_text_blocks_family_scans_at_rest_artifact(spark, sf_dir):
    """VERDICT r11 #4: the two 8-word block audits must READ the at-rest
    (source, block, n_inst, nd) artifact, not re-run the block cut +
    (source, block) aggregate per query (the r12 profile measured the
    stage at 62-74% of both consumers). The build's plan hallmark is the
    array_join inside the block-cut transform; a consumer plan that
    contains it is rebuilding."""
    from cdw_spark.suite.text import TEXT_BLOCKS

    art = TEXT_BLOCKS.dir(sf_dir)
    SPECS["text_blocks_materialize"].fn(spark, sf_dir).collect()
    for name in (
        "text_blocks_materialize",
        "text_source_boilerplate_share",
        "text_cross_source_contamination",
    ):
        plan = _plan(SPECS[name].fn(spark, sf_dir))
        assert "array_join" not in plan, f"{name} re-runs the block cut"
        assert art in plan or "ExistingRDD" in plan, (
            f"{name} does not scan the at-rest artifact"
        )
