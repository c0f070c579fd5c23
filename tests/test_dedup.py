"""Cross-validation of approximate dedup against exact ground truth —
the evidence behind dedup_minhash_lsh's oracle claim."""

from __future__ import annotations

import pytest

from cdw_spark.catalog import load_fixture
from cdw_spark.operators.dedup import (
    exact_dedup,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_fixture(spark, sf_dir, "documents")


def _pairset(df):
    return {(r.id_a, r.id_b) for r in df.select("id_a", "id_b").collect()}


def test_minhash_recall_vs_exact(docs):
    """LSH banding (16x4) must find every exact-Jaccard>=0.6 pair on the
    fixture corpus — this equality is what licenses using the exact query
    as dedup_minhash_lsh's DuckDB oracle."""
    exact = _pairset(ngram_jaccard_pairs(docs, threshold=0.6))
    lsh = _pairset(minhash_near_duplicates(docs, threshold=0.6))
    assert exact, "fixture corpus must contain near-dup pairs"
    assert lsh == exact


def test_minhash_jaccard_values_match_exact(docs):
    ex = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(docs, threshold=0.6).collect()}
    mh = {(r.id_a, r.id_b): r.jaccard for r in minhash_near_duplicates(docs, threshold=0.6).collect()}
    assert mh == ex  # verification recomputes exact jaccard -> identical


def test_minhash_lsh_leaves_session_cache_empty(spark, sf_dir):
    """``dedup_minhash_lsh`` still matches its oracle and leaves nothing in
    the session's cache manager: its shared relations are lineage cuts,
    not persisted Datasets that later queries would read in place of
    their own plans."""
    from cdw_spark.compare import compare_frames
    from cdw_spark.registry import load_all

    spec = load_all()["dedup_minhash_lsh"]
    spark.catalog.clearCache()
    res = compare_frames(spec.name, spec.fn(spark, sf_dir), spec.oracle, sf_dir)
    assert res.ok, str(res)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_simhash_finds_near_dups(docs):
    """SimHash hamming<=3 pairs should substantially overlap the exact
    near-dup set (different similarity measure -> not equality, but the
    engineered dups are extreme enough to be found)."""
    exact = _pairset(ngram_jaccard_pairs(docs, threshold=0.6))
    sim = _pairset(simhash_near_duplicates(docs))
    assert sim, "simhash should find the engineered near-dups"
    # different similarity measure -> overlap, not equality (measured 0.89
    # at sf0.001 / 0.88 at sf0.01 with zero false positives)
    assert len(sim & exact) / len(exact) >= 0.7
    assert len(sim - exact) <= len(exact)  # no candidate-explosion regression


def test_exact_dedup_all_canonical_on_unique_corpus(docs):
    """Fixture texts are unique -> every doc is its own canonical keeper."""
    d = exact_dedup(docs)
    assert d.filter("NOT is_canonical").count() == 0
    assert d.filter("group_size != 1").count() == 0


def test_exact_dedup_groups_real_duplicates(spark, docs):
    """Inject duplicates (same text, new ids) -> groups form, min-id wins."""
    from pyspark.sql import functions as F

    base = docs.limit(5).select("doc_id", "text")
    dup = base.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    d = exact_dedup(base.unionAll(dup))
    assert d.count() == 10
    assert d.filter("group_size = 2").count() == 10
    keepers = d.filter("is_canonical")
    assert keepers.count() == 5
    assert keepers.filter("doc_id >= 1000000").count() == 0


def test_embedding_cosine_invariants(spark, sf_dir):
    """Canonical mapping: keeper is always the smaller id, cosine within
    [threshold, 1], and cosine near-dup pairs are consistent with exact
    Jaccard (cos >= jaccard on binary vectors, so J>=0.75 pairs must all
    be present as dups or keepers)."""
    from cdw_spark.operators.dedup import cosine_near_duplicates, ngram_jaccard_pairs
    from cdw_spark.catalog import load_fixture

    docs = load_fixture(spark, sf_dir, "documents")
    rows = cosine_near_duplicates(docs, threshold=0.75).collect()
    assert all(r["keep_id"] < r["dup_id"] for r in rows)
    assert all(0.75 <= r["cosine"] <= 1.0 + 1e-9 for r in rows)
    flagged = {r["dup_id"] for r in rows}
    jac = ngram_jaccard_pairs(docs, threshold=0.75).collect()
    assert all(r["id_b"] in flagged for r in jac)


def test_connected_components_multihop_chain(spark):
    """A path graph a-b-c-d (diameter 3) must collapse to one component —
    exercises multi-round propagation, not just single-hop merges."""
    from cdw_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    got = {r.doc_id: r.component_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_empty_graph(spark):
    from cdw_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0


def test_connected_components_long_chain_pointer_jumping(spark):
    """A 60-edge path graph exceeds the per-round propagation budget
    (CC_MAX_ROUNDS=20 rounds moving a label one hop each); pointer jumping
    shortcuts label reach exponentially, so the chain converges to a
    single component well inside the bound instead of silently splitting."""
    from cdw_spark.operators.dedup import connected_components

    edges = [(i, i + 1) for i in range(60)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.doc_id: r.component_id for r in connected_components(pairs).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 61


def test_connected_components_raises_rather_than_split(spark, monkeypatch):
    """Non-convergence contract: a graph still moving labels after the
    round cap raises instead of returning split components. One round
    of propagate + pointer jumping leaves a 6-node chain in four labels."""
    from cdw_spark.operators import dedup

    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 1)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        dedup.connected_components(pairs)


def _cache_entries(spark) -> int:
    """Entries in the session's CacheManager (every persisted plan)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def test_connected_components_unpersists_edges_on_failure(spark):
    """The cached edge relation is released on every exit: a pair row
    that raises inside the first cut must not leave it cached for the
    rest of the session."""
    from pyspark.sql import functions as F

    from cdw_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a long, id_b long"
    ).withColumn(
        "id_b",
        F.when(F.col("id_a") == 2, F.raise_error(F.lit("cc-boom"))).otherwise(
            F.col("id_b")
        ),
    )
    before = _cache_entries(spark)
    with pytest.raises(Exception, match="cc-boom"):
        connected_components(pairs)
    assert _cache_entries(spark) <= before


def test_kmeans_exact_releases_held_vectors_on_failure(spark):
    """A raise inside ``kmeans_exact``'s held block (ids not 0..k-1 break
    the init contract) still releases its quantized vectors: the session's
    cache manager is empty afterwards."""
    from cdw_spark.operators.similarity import kmeans_exact

    vecs = spark.createDataFrame(
        [(10, [0.5, 0.25]), (11, [0.125, 1.0]), (12, [1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    spark.catalog.clearCache()
    with pytest.raises(ValueError, match="kmeans init expects unique ids"):
        kmeans_exact(vecs, k=2, iters=1, dim=2)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_paragraph_dedup_removes_cross_doc_blocks(spark):
    from cdw_spark.operators.dedup import paragraph_dedup

    shared = "a b c d e f g h"  # exactly one 8-word block, in both docs
    docs = spark.createDataFrame(
        [
            (1, shared + " unique one tail"),
            (2, shared + " other words here"),
            (3, "totally different eight word block here now ok plus tail"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in paragraph_dedup(docs, block_words=8).collect()}
    # the shared leading block is gone from both docs, tails survive
    assert out[1]["n_removed"] == 1 and out[1]["cleaned_text"] == "unique one tail"
    assert out[2]["n_removed"] == 1 and out[2]["cleaned_text"] == "other words here"
    assert out[3]["n_removed"] == 0
    assert out[3]["cleaned_text"] == "totally different eight word block here now ok plus tail"
    assert out[1]["n_blocks"] == 2 and out[3]["n_blocks"] == 2


def test_paragraph_dedup_all_removed_yields_empty_text(spark):
    from cdw_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [(1, "x y"), (2, "x y")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in paragraph_dedup(docs, block_words=8).collect()}
    assert out[1]["cleaned_text"] == "" and out[1]["n_removed"] == 1


def test_semantic_dedup_matches_within_cluster_brute_force(spark, sf_dir):
    import math

    from cdw_spark.catalog import load_fixture
    from cdw_spark.operators.similarity import N_PLANES, _planes, semantic_dedup

    emb = load_fixture(spark, sf_dir, "embeddings")
    rows = emb.collect()
    planes = _planes(len(rows[0]["embedding"]))

    def sig(v):
        s = 0
        for i, p in enumerate(planes):
            d = 0.0
            for a, b in zip(v, p):
                d += a * b
            if d > 0:
                s |= 1 << i
        return s

    by_sig: dict[int, list] = {}
    for r in rows:
        by_sig.setdefault(sig([float(x) for x in r["embedding"]]), []).append(r)
    expected = {}
    for s, group in by_sig.items():
        group.sort(key=lambda r: r["vec_id"])
        for i, hi in enumerate(group):
            best = None
            for lo in group[:i]:
                va = [float(x) for x in lo["embedding"]]
                vb = [float(x) for x in hi["embedding"]]
                dot = sum(a * b for a, b in zip(va, vb))
                cos = dot / (
                    math.sqrt(sum(a * a for a in va)) * math.sqrt(sum(b * b for b in vb))
                )
                if cos >= 0.25 and (best is None or lo["vec_id"] < best):
                    best = lo["vec_id"]
            if best is not None:
                expected[hi["vec_id"]] = (best, s)

    got = {r["dup_id"]: (r["keep_id"], r["cluster"]) for r in
           semantic_dedup(emb, threshold=0.25).collect()}
    assert got == expected


def test_incremental_minhash_equals_full_recompute(spark, sf_dir):
    from pyspark.sql import functions as F

    """Index maintenance: splitting the corpus into an OLD half and a NEW
    batch, pairs(old ∪ new) must equal pairs(old) ∪ incremental(old, new)
    — the new batch is signatured once and joined against the bucket
    index, never re-verifying old-vs-old. Also proven with precomputed
    old signatures (the persisted-index path)."""
    from cdw_spark.catalog import load_fixture
    from cdw_spark.operators.dedup import (
        minhash_near_duplicates,
        minhash_near_duplicates_incremental,
        minhash_signatures,
    )

    docs = load_fixture(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 4 != 0)
    new = docs.filter(F.col("doc_id") % 4 == 0)

    def pairs(df_result):
        return {(r.id_a, r.id_b) for r in df_result.collect()}

    full = pairs(minhash_near_duplicates(docs))
    old_only = pairs(minhash_near_duplicates(old))
    inc = pairs(minhash_near_duplicates_incremental(old, new))
    assert old_only | inc == full
    assert old_only.isdisjoint(inc) or all(
        0 in ((a % 4), (b % 4)) for a, b in (old_only & inc)
    )
    # every incremental pair touches a new doc
    assert all(a % 4 == 0 or b % 4 == 0 for a, b in inc), inc

    # persisted-index path: precomputed old signatures give identical pairs
    inc2 = pairs(
        minhash_near_duplicates_incremental(
            old, new, old_sigs=minhash_signatures(old)
        )
    )
    assert inc2 == inc

    # fully-precomputed path (the streaming sink's shape): both sides'
    # signatures supplied, zero signature passes inside the operator
    inc3 = pairs(
        minhash_near_duplicates_incremental(
            old,
            new,
            old_sigs=minhash_signatures(old),
            new_sigs=minhash_signatures(new),
        )
    )
    assert inc3 == inc


def test_prefix_filter_pair_parity_and_candidate_reduction(spark, sf_dir):
    """The PPJoin prefix filter must return EXACTLY the naive inverted
    join's pairs (the prefix-filtering theorem is lossless at the
    threshold), while generating strictly fewer candidate pairs."""
    from pyspark.sql import functions as F

    from cdw_spark.catalog import load_fixture
    from cdw_spark.operators.dedup import (
        _shingle_table,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    docs = load_fixture(spark, sf_dir, "documents")
    naive = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.6).collect()
    }
    filtered = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs_prefix(docs).collect()
    }
    assert filtered == naive and naive

    # candidate counts: naive = pairs sharing ANY shingle; prefix = pairs
    # sharing a PREFIX shingle on both sides (recomputed here the same way
    # the operators build them)
    sh = _shingle_table(docs, "text", "doc_id", 3)
    sa = sh.select(F.col("doc_id").alias("id_a"), "sh")
    sb = sh.select(F.col("doc_id").alias("id_b"), "sh")
    naive_cands = (
        sa.join(sb, "sh").filter("id_a < id_b").select("id_a", "id_b").distinct().count()
    )
    from pyspark.sql.window import Window

    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("dfc"))
    ranked = (
        sh.join(dfreq, "sh")
        .join(counts, "doc_id")
        .withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("doc_id").orderBy("dfc", "sh")),
        )
    )
    need = F.col("n_sh") - F.expr("(3 * n_sh + 4) div 5") + F.lit(1)
    prefix = ranked.filter(F.col("rk") <= need).select("doc_id", "sh")
    pa = prefix.select(F.col("doc_id").alias("id_a"), "sh")
    pb = prefix.select(F.col("doc_id").alias("id_b"), "sh")
    pf_cands = (
        pa.join(pb, "sh").filter("id_a < id_b").select("id_a", "id_b").distinct().count()
    )
    assert pf_cands < naive_cands, (pf_cands, naive_cands)
