"""Deduplication operators for web-scale corpora (BASELINE.json north star;
SURVEY.md §7.2 M5): exact, MinHash+LSH, SimHash, and exact n-gram Jaccard.

Design point is 100 TB of documents on 1000 executors:

- *Exact* dedup is a fingerprint groupBy — one shuffle of (hash, doc_id),
  never of document bodies.
- *MinHash+LSH* avoids the O(n^2) pair space: signatures are computed in a
  single Arrow pass (shingle -> polynomial hash -> permute -> min, all
  vectorized per batch, functions/text_arrow.py — no exploded intermediate,
  no shuffle), candidates come from banding (equal band-hash -> same bucket
  -> self-join within tiny buckets), and only candidates pay the
  exact-Jaccard verification join.
- *SimHash* pairs via the pigeonhole chunk trick: hamming(a,b) <= k
  guarantees an equal chunk among k+1 chunks, so candidate generation is
  again an equality self-join, never a cross join — integer/bit arithmetic
  on xxhash64, JVM-side.

All randomness is compile-time constants (seeded) — results are
deterministic across runs and cluster layouts.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint_md5, shingles
from ..plans.lineage import cut, held

# Round cap of connected_components (see its docstring).
CC_MAX_ROUNDS = 20

# MinHash parameters. PRIME = 2^31 - 1 (Mersenne); products a*h stay below
# 2^62, safe in long arithmetic under ANSI mode.
NUM_PERMS = 64
BANDS = 16
ROWS_PER_BAND = 4
_PRIME = 2_147_483_647
_rng = random.Random(20260813)
_PERM_A = [_rng.randrange(1, _PRIME) for _ in range(NUM_PERMS)]
_PERM_B = [_rng.randrange(0, _PRIME) for _ in range(NUM_PERMS)]

SIMHASH_BITS = 64
SIMHASH_CHUNKS = 8  # pigeonhole: complete for hamming <= 7
# Feature hash = first 15 hex chars of md5(shingle) -> 60 informative
# bits (bits 60-63 of the signature are always 0). 15 (not 16) keeps the
# value inside a signed BIGINT in both Spark and DuckDB.
SIMHASH_FEATURE_BITS = 60


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate grouping by md5 of normalized text.

    Output: one row per input doc with its fingerprint, the canonical
    (minimum-id) keeper of its group, and the group size. Downstream
    `filter(is_canonical)` is the dedup; keeping all rows makes the
    operator's decisions auditable.
    """
    fp = df.select(F.col(id_col), fingerprint_md5(F.col(text_col)).alias("fp"))
    groups = fp.groupBy("fp").agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("group_size")
    )
    return (
        fp.join(groups, "fp")
        .select(
            F.col(id_col),
            "fp",
            "keep_id",
            "group_size",
            (F.col(id_col) == F.col("keep_id")).alias("is_canonical"),
        )
    )


def _shingle_table(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, shingle) pairs, distinct per doc.

    Shingling is the CPU-heavy stage of every text-dedup path (regex split
    + gram assembly per document). Scan parallelism follows file count, so
    a corpus packed into few files would run nearly single-threaded; when
    the scan has fewer partitions than the cluster has cores, repartition
    first — one cheap shuffle of (id, text) buys full-width CPU for the
    shingle work. At real scale the file count already exceeds core count
    and this is a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(1, target // 2):
        df = df.repartition(target)
    from ..functions.text_arrow import shingle_rows_arrow

    # Arrow-vectorized shingling (same normalization/gram semantics as
    # functions.text.shingles — equivalence tested in tests/test_text_arrow
    # and by every dedup oracle, whose SQL builds shingles independently).
    return shingle_rows_arrow(df, text_col=text_col, id_col=id_col, n=n)


def _shingle_table_expr(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Catalyst-expression shingle table — the semantic definition the
    Arrow path must match; kept for the differential test."""
    return df.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("sh")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """64-perm MinHash signature per document, one Arrow pass.

    h(shingle) = polynomial rolling hash (functions.text semantics);
    perm_i = (a_i*h + b_i) mod p; sig_i = min(perm_i). Computed entirely
    inside mapInPandas (functions/text_arrow.py): shingle, hash, permute,
    min per batch — no exploded intermediate, no 64-aggregate shuffle; the
    output is already one 64-int row per doc. Banding recall with this
    hash is (re)proven against exact Jaccard in tests/test_dedup.py before
    the exact query is declared as the LSH oracle."""
    from ..functions.text_arrow import minhash_signatures_arrow

    return minhash_signatures_arrow(
        df, _PERM_A, _PERM_B, _PRIME, text_col=text_col, id_col=id_col, n=n
    )


def band_buckets(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band, band_hash) rows — the LSH index representation: one row
    per (doc, band), hash = xxhash64 of the band's signature slice. This
    is what persists as the at-rest near-dup index (16 longs per doc)."""
    bands = []
    for b in range(BANDS):
        cols = [f"mh_{i}" for i in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)]
        bands.append(
            F.struct(F.lit(b).alias("band"), F.xxhash64(*[F.col(c) for c in cols]).alias("bh"))
        )
    return sig.select(F.col(id_col), F.explode(F.array(*bands)).alias("bk")).select(
        id_col, "bk.band", "bk.bh"
    )


def lsh_candidate_pairs(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Banding: 16 bands x 4 rows. Docs sharing any band hash are
    candidates. Self-join happens per (band, band_hash) bucket — bucket
    sizes are tiny for non-duplicate corpora, so the join output is
    ~|true pairs|, not O(n^2)."""
    buckets = band_buckets(sig, id_col)
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.bh") == F.col("b.bh"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    shingle_tbl: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs, via per-doc shingle
    ARRAYS: each side of a pair joins ONE (id, sorted distinct shingles)
    row and the intersection is ``size(array_intersect(...))`` inside
    codegen. The former shape exploded every pair by |A| before a
    (id_b, sh) equi-join — on a dup-heavy corpus (sf0.1: 300k candidate
    pairs x ~52 shingles) that shuffled a ~15M-row intermediate where
    this joins 300k slim pair rows to 5k array rows (guide §3: join on
    the un-exploded key). Values are identical: the shingle table is
    distinct per doc, so join-multiplicity counting and set intersection
    both yield |A∩B|, and |A| = size of the array. Only candidates pay
    this cost. Pass ``shingle_tbl`` to reuse an already-computed
    (persisted) shingle table instead of re-shingling."""
    sh = shingle_tbl if shingle_tbl is not None else _shingle_table(df, text_col, id_col, n)
    arrs = sh.groupBy(id_col).agg(F.collect_list("sh").alias("shs"))
    aa = arrs.select(F.col(id_col).alias("id_a"), F.col("shs").alias("sha"))
    ab = arrs.select(F.col(id_col).alias("id_b"), F.col("shs").alias("shb"))
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    j = (
        pairs.join(aa, "id_a")
        .join(ab, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                inter.cast("double")
                / (F.size("sha") + F.size("shb") - inter).cast("double")
            ).alias("jaccard_raw"),
        )
    )
    return j.filter(F.col("jaccard_raw") >= threshold).select(
        "id_a", "id_b", F.round("jaccard_raw", 6).alias("jaccard")
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures -> banded candidates
    -> exact-Jaccard verification. With 16x4 banding, a pair at the 0.6
    threshold survives with P > 1-(1-0.6^4)^16 ≈ 0.90 and at 0.8 with
    P ≈ 1-5e-8 — and the verification step guarantees zero false
    positives.

    Signatures shingle in-batch (Arrow). The verification shingle table is
    built ONLY for documents that appear in some candidate pair — for a
    mostly-unique corpus that is a tiny fraction (banding emits ~|true
    pairs| candidates), so verify cost scales with the duplicate rate,
    not the corpus size. The candidate pairs and the candidate shingle
    table each feed two branches, so each is a lazy lineage cut, computed
    once by the first action that reads it; a cut's blocks spill to disk,
    so at 100 TB the shingle table spills rather than OOMing, and nothing
    stays in the session's cache after the call."""
    sig = minhash_signatures(df, text_col, id_col, n)
    cands = cut(lsh_candidate_pairs(sig, id_col), eager=False)
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .union(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # Left-semi restriction to candidate docs. No broadcast hint: candidate
    # cardinality is data-dependent (∝ duplicate rate), so a forced
    # broadcast could exceed the 8 GB limit on a dup-heavy 100 TB corpus;
    # AQE still picks a broadcast build when the realized set is small.
    cand_docs = df.join(cand_ids, on=id_col, how="semi")
    sh = cut(_shingle_table(cand_docs, text_col, id_col, n), eager=False)
    return jaccard_verify(cands, cand_docs, text_col, id_col, n, threshold, shingle_tbl=sh)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via inverted shingle join (no LSH).

    The shingle equality join IS the pair generator: only pairs sharing at
    least one shingle materialize. Correct at any scale but the join can
    explode on very common shingles — at 100 TB use
    ``minhash_near_duplicates``; this exact variant doubles as its oracle.
    """
    sh = _shingle_table(df, text_col, id_col, n)
    sa = sh.select(F.col(id_col).alias("id_a"), "sh")
    sb = sh.select(F.col(id_col).alias("id_b"), "sh")
    pairs = (
        sa.join(sb, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"))
    return (
        pairs.join(ca, "id_a")
        .join(cb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
            ).alias("jaccard_raw"),
        )
        .filter(F.col("jaccard_raw") >= threshold)
        .select("id_a", "id_b", F.round("jaccard_raw", 6).alias("jaccard"))
    )


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """SimHash per document over distinct n-gram shingle hashes.

    bit_j(sig) = 1 iff sum over shingles of (+1 if bit_j(h(s)) else -1)
    is positive. The feature hash h is the first 15 hex chars of
    md5(shingle) as a 60-bit bigint — chosen over xxhash64 because both
    engines compute it bit-identically, which is what gives dedup_simhash
    a full DuckDB value oracle (the similarity_ann_lsh_wide
    literal-planes treatment applied to bit sampling). Signature bits
    60-63 are therefore always 0; the 8x8-bit pigeonhole chunking is
    unaffected. One explode + one aggregation — same cost shape as
    MinHash. Shingles (not unigrams) are load-bearing: over a small shared
    vocabulary, distinct-word sets are nearly identical across documents
    and unigram SimHash collapses; n-grams keep the feature space wide."""
    w = _shingle_table(df, text_col, id_col, n).withColumnRenamed("sh", "w")
    h = F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long")
    aggs = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s_{j}")
        for j in range(SIMHASH_FEATURE_BITS)
    ]
    sums = w.groupBy(id_col).agg(*aggs)
    sig: Column = F.lit(0).cast("long")
    for j in range(SIMHASH_FEATURE_BITS):
        sig = sig.bitwiseOR(
            F.when(F.col(f"s_{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(0)
        )
    return sums.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", max_hamming: int = 7
) -> DataFrame:
    """SimHash near-dup pairs with hamming distance <= max_hamming.

    Candidates via pigeonhole on 8 x 8-bit chunks (complete for hamming<=7 —
    hence the default), verified with bit_count(xor). Word-level jaccard-0.8
    near-dups of ~100-word docs land at hamming 5-8 on 64-bit signatures
    (measured on the fixture corpus). Output: (id_a, id_b, hamming)."""
    sig = simhash(df, text_col, id_col)
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("simhash"), c * 8).bitwiseAND(F.lit(255)).alias("ck"),
            )
            for c in range(SIMHASH_CHUNKS)
        ]
    )
    buckets = sig.select(F.col(id_col), F.col("simhash"), F.explode(chunks).alias("b")).select(
        id_col, "simhash", "b.chunk", "b.ck"
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    cands = (
        a.join(
            b,
            on=[
                F.col("a.chunk") == F.col("b.chunk"),
                F.col("a.ck") == F.col("b.ck"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )
    return (
        cands.select(
            "id_a", "id_b", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming")
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def cosine_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.75,
) -> DataFrame:
    """Embedding-cosine near-dup: documents as binary n-gram shingle
    vectors, cosine = |A∩B| / sqrt(|A|·|B|), pairs >= threshold collapsed
    to a canonical-keeper mapping (keep_id = smallest similar id).

    The "embedding" here is the sparse binary shingle vector itself —
    the inverted shingle join computes the dot product without ever
    materializing vectors, the same sparse trick a 100 TB dense-embedding
    dedup does inside LSH buckets (see operators/similarity.py for the
    dense path). Output: one row per non-canonical doc
    (dup_id, keep_id, cosine).
    """
    sh = _shingle_table(df, text_col, id_col, n)
    sa = sh.select(F.col(id_col).alias("id_a"), "sh")
    sb = sh.select(F.col(id_col).alias("id_b"), "sh")
    inter = (
        sa.join(sb, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"))
    pairs = (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("inter") / F.sqrt(F.col("na") * F.col("nb"))).alias("cos_raw"),
        )
        .filter(F.col("cos_raw") >= threshold)
    )
    return (
        pairs.groupBy(F.col("id_b").alias("dup_id"))
        .agg(
            F.min("id_a").alias("keep_id"),
            F.min_by("cos_raw", "id_a").alias("cos_of_keep"),
        )
        .select("dup_id", "keep_id", F.round("cos_of_keep", 6).alias("cosine"))
    )


def connected_components(pairs: DataFrame) -> DataFrame:
    """Connected components over a near-duplicate (id_a, id_b) pair graph
    -> (doc_id, component_id) where component_id = the smallest doc id
    reachable.

    This is what a dedup pipeline actually consumes: pair lists say "a~b",
    clusters say "keep one of {a,b,c,...}" — the canonical-keeper choice
    needs the transitive closure.

    Iterative min-label propagation with pointer jumping,
    driver-coordinated (the standard large-graph formulation):
      label(v) <- min(label(v), min_{(v,u) in E} label(u))   # propagate
      label(v) <- label(label(v))                            # shortcut
    The shortcut step doubles how far a label has travelled each round, so
    convergence is O(log diameter) — ``CC_MAX_ROUNDS`` = 20 covers
    diameters up to ~2^20, and a graph that still hasn't converged raises
    instead of silently returning split components (a chain longer than
    the round budget would otherwise fracture into multiple labels).
    Each round is two joins + one aggregate (shuffles on vertex id) and a
    ``count()`` of moved labels; the labels are cut each round — without
    it the plan doubles every iteration and planning time explodes long
    before data does. Near-dup graphs have tiny diameters (dup clusters
    are cliques-ish), so rounds ~ 2-3 in practice. The symmetrized edge
    relation is held for the rounds (``plans.lineage.held``), so it is
    released on every exit, including a failed round."""
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    with held(edges) as edges:
        labels = cut(
            edges.select(F.col("src").alias("id"))
            .distinct()
            .withColumn("label", F.col("id"))
        )
        for _ in range(CC_MAX_ROUNDS):
            neighbor_min = (
                edges.join(labels, edges["dst"] == labels["id"])
                .groupBy("src")
                .agg(F.min("label").alias("nb_min"))
            )
            propagated = labels.join(
                neighbor_min, labels["id"] == neighbor_min["src"], "left"
            ).select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nb_min"), F.col("label"))).alias(
                    "label"
                ),
            )
            # Pointer jumping: adopt the label of one's current label vertex.
            # Every label IS a vertex id, so the self-join always resolves.
            new_labels = cut(
                propagated.alias("a")
                .join(
                    propagated.select(
                        F.col("id").alias("_lid"), F.col("label").alias("_llabel")
                    ),
                    F.col("a.label") == F.col("_lid"),
                    "left",
                )
                .select(
                    F.col("a.id").alias("id"),
                    F.least(
                        F.col("a.label"), F.coalesce(F.col("_llabel"), F.col("a.label"))
                    ).alias("label"),
                )
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {CC_MAX_ROUNDS} rounds "
                f"({changed} labels still moving) — result would be split "
                "components"
            )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("component_id"))


def paragraph_dedup(
    docs: DataFrame,
    block_words: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style repeated-span removal (Raffel et al. 2020 §2.2 discard
    rule, word-block granularity): split each document into non-overlapping
    ``block_words``-word blocks, count every block's occurrences across the
    WHOLE corpus, delete blocks that appear more than once anywhere, and
    reassemble the survivors in order.

    Output: (doc_id, n_blocks, n_removed, cleaned_text).

    Scale shape: the only shuffle is hash-partitioning blocks by their
    text for the global occurrence count — a window COUNT over the block
    key, so counting and the keep/drop decision happen in ONE exchange
    (no count-table self-join, no second shuffle). Document bodies travel
    once, already cut into blocks; reassembly groups by doc_id (second
    exchange, bounded by surviving blocks). At 100 TB, replace the raw
    block string key with its md5 to shrink shuffle payload — kept as the
    plain string here so the corpus-count semantics stay oracle-checkable
    verbatim.
    """
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    nblk = F.ceil(F.size(F.col("ws")) / F.lit(block_words)).cast("int")
    blocks = (
        docs.select(F.col(id_col), words.alias("ws"))
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), nblk - F.lit(1)),
                    lambda j: F.array_join(
                        F.slice("ws", j * block_words + F.lit(1), F.lit(block_words)), " "
                    ),
                )
            ).alias("bidx", "block"),
        )
    )
    from pyspark.sql import Window

    occ = F.count("*").over(Window.partitionBy("block"))
    counted = blocks.withColumn("occ", occ)
    return counted.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        F.sum(F.when(F.col("occ") > 1, 1).otherwise(0)).cast("bigint").alias("n_removed"),
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("bidx"), F.col("block"), (F.col("occ") == 1).alias("keep")
                            )
                        )
                    ),
                    lambda s: s["keep"],
                ),
                lambda s: s["block"],
            ),
            " ",
        ).alias("cleaned_text"),
    )


def exact_substring_dedup(
    df: DataFrame,
    ngram: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document repeated-SPAN profiling at sliding n-gram
    granularity — the scalable approximation of suffix-array exact
    substring dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"): every overlapping ``ngram``-word window is
    hashed; a window whose hash occurs in MORE THAN ONE distinct document
    is a duplicated span; each document reports how many of its tokens
    are covered by at least one duplicated window (interval-union
    coverage, not window count, so overlapping hits don't double-count).

    Output: (doc_id, n_tokens, dup_tokens, dup_fraction) — the signal
    curation pipelines threshold on ("drop documents that are >60%
    boilerplate") where whole-document dedup sees nothing.

    Scale shape: the window hash is an md5 digest projected map-side in
    the same stage as the explode, so the only shuffles carry
    (gram_md5, doc_id, pos) triples — never text. Cross-doc frequency is
    a groupBy on the 16-byte digest; coverage is the classic
    merged-intervals window (running max of span end -> island ids ->
    max(end)-min(start) per island), one partitionBy(doc) exchange.
    Unlike paragraph_dedup's non-overlapping blocks, windows here SLIDE,
    so a duplicated span is caught at every alignment."""
    from pyspark.sql.window import Window

    w = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    d = df.select(F.col(id_col), w.alias("ws")).withColumn("n", F.size("ws"))
    wins = (
        d.filter(F.col("n") >= ngram)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(0), F.col("n") - ngram)).alias("pos"),
            "ws",
        )
        .select(
            id_col,
            "pos",
            F.md5(F.expr(f"array_join(slice(ws, pos + 1, {ngram}), ' ')")).alias("gram"),
        )
    )
    dup_grams = (
        wins.groupBy("gram")
        .agg(F.countDistinct(id_col).alias("_df"))
        .filter(F.col("_df") > 1)
        .select("gram")
    )
    hits = wins.join(dup_grams, "gram").select(
        id_col, "pos", (F.col("pos") + ngram).alias("end")
    )
    wd = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max("end").over(wd.rowsBetween(Window.unboundedPreceding, -1))
    islands = (
        hits.withColumn(
            "_new", F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0)
        )
        .withColumn("_isl", F.sum("_new").over(wd))
        .groupBy(id_col, "_isl")
        .agg((F.max("end") - F.min("pos")).alias("_cov"))
        .groupBy(id_col)
        .agg(F.sum("_cov").alias("dup_tokens"))
    )
    return (
        d.join(islands, id_col, "left")
        .select(
            id_col,
            F.col("n").cast("bigint").alias("n_tokens"),
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)).cast("double") / F.col("n"), 6
            ).alias("dup_fraction"),
        )
    )


def minhash_near_duplicates_incremental(
    old_docs: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    old_sigs: DataFrame | None = None,
    new_sigs: DataFrame | None = None,
) -> DataFrame:
    """Index-maintenance form of minhash_near_duplicates: given an
    EXISTING corpus (or its precomputed signatures — the persisted
    band_buckets index in a real deployment) and a NEW document batch,
    emit exactly the near-duplicate pairs that touch at least one new
    document. Contract (tests/test_dedup.py): pairs(old ∪ new) ==
    pairs(old) ∪ incremental(old, new) — so a daily ingest never
    re-verifies the old-vs-old half.

    Scale shape: only the NEW batch is re-signatured (one Arrow pass over
    |new| docs — or zero passes when the caller already holds the batch's
    signatures and passes ``new_sigs``); candidate generation joins the
    new batch's band buckets against the full bucket index on
    (band, hash) — cost ∝ |new| x bucket occupancy, independent of |old|
    except through the index join; exact-Jaccard verification shingles
    only candidate-pair members, old or new. Callers that ingest
    continuously MUST pass ``old_sigs`` (the persisted index) — the
    ``minhash_signatures(old_docs)`` fallback exists for one-shot use and
    costs O(|corpus|) per call."""
    sig_new = (
        new_sigs
        if new_sigs is not None
        else minhash_signatures(new_docs, text_col, id_col, n)
    )
    sig_old = (
        old_sigs
        if old_sigs is not None
        else minhash_signatures(old_docs, text_col, id_col, n)
    )
    b_new = band_buckets(sig_new, id_col)
    b_all = band_buckets(sig_old.unionByName(sig_new), id_col)
    a = b_new.alias("a")
    b = b_all.alias("b")
    cands = (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.bh") == F.col("b.bh"),
                F.col(f"a.{id_col}") != F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
        )
        .distinct()
    )
    all_docs = old_docs.unionByName(new_docs)
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .union(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    cand_docs = all_docs.join(cand_ids, on=id_col, how="semi")
    return jaccard_verify(cands, cand_docs, text_col, id_col, n, threshold)


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    t_num: int = 3,
    t_den: int = 5,
) -> DataFrame:
    """Prefix-filtered exact Jaccard pairs (PPJoin-style; Chaudhuri et
    al. 2006, Xiao et al. 2008) — same output as ``ngram_jaccard_pairs``
    at threshold ``t_num/t_den``, asymptotically fewer candidates.

    Each document orders its shingles by ascending GLOBAL document
    frequency (rarest first, shingle string as total-order tie-break)
    and exposes only its first ``|S| - ceil(t*|S|) + 1`` as the prefix;
    the prefix-filtering theorem guarantees every pair with J >= t
    shares a prefix shingle on BOTH sides, so the candidate join runs
    over prefixes only — the frequent shingles that explode the naive
    inverted join are exactly the ones prefixes exclude. Candidates are
    then verified with the exact intersection count.

    The threshold is a RATIONAL (t_num/t_den) so the prefix length uses
    integer ceiling arithmetic — a float ceil(0.6*n) rounds 3.0 up to 4
    on binary-inexact products and silently shortens the prefix below
    the theorem's bound (missed pairs), the classic PPJoin port bug.
    """
    # the shingle relation feeds FOUR consumers (doc counts, df counts,
    # the ranked prefix, and both exact-verify sides); hold it so the
    # Arrow shingling pass runs once, not once per reference
    with held(_shingle_table(df, text_col, id_col, n)) as sh:
        # Populate the cache BEFORE the consumers fan out: the final action
        # plans ~6 concurrent subquery/broadcast stages over `sh`, and
        # concurrent first readers of an unpopulated cache each recompute the
        # Arrow shingling pass instead of one computing and the rest reading
        # (measured: 102 s of task time for ~15 s of work at sf0.1 — the
        # shingle pass ran ~6x). One count() materializes every partition
        # once; downstream stages then scan the columnar cache.
        sh.count()
        counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
        dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("dfc"))
        from pyspark.sql.window import Window

        ranked = (
            sh.join(dfreq, "sh")
            .join(counts, id_col)
            .withColumn(
                "rk",
                F.row_number().over(Window.partitionBy(id_col).orderBy("dfc", "sh")),
            )
        )
        need = (
            F.col("n_sh")
            - F.expr(f"({t_num} * n_sh + {t_den} - 1) div {t_den}")
            + F.lit(1)
        )
        prefix = ranked.filter(F.col("rk") <= need).select(F.col(id_col), "sh")
        pa = prefix.select(F.col(id_col).alias("id_a"), "sh")
        pb = prefix.select(F.col(id_col).alias("id_b"), "sh")
        cand = (
            pa.join(pb, "sh")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        # verification is exactly the shared helper the minhash paths use —
        # one definition of the exact-Jaccard math; the held shingle table
        # is reused instead of re-shingling. The verified pair set is tiny
        # (it IS the dedup output), so it is materialized eagerly, before
        # the block releases the shingle relation.
        out = cut(jaccard_verify(
            cand, df, text_col, id_col, n,
            threshold=float(t_num) / float(t_den), shingle_tbl=sh,
        ))
    return out
