"""Similarity search over embedding columns (BASELINE.json north star).

Two tiers, per the 100 TB design rule:

- ``brute_force_topk`` — exact k-NN: probes (small) are broadcast against
  the full corpus; one scan, partial top-k per partition via window rank.
  This is the *baseline and the oracle* for the approximate tier.
- ``lsh_topk`` / ``lsh_pairs_topn`` — random-hyperplane LSH: 8-bit
  signatures bucket the corpus; probes (or pair candidates) touch only
  buckets inside the multiprobe hamming ball, joined by EQUALITY on
  exploded ball signatures — hash-partitionable, so at 100 TB each probe
  reads ~|corpus|/2^N_PLANES rows instead of the full corpus. Recall is
  data-dependent — measured against brute force in
  tests/test_similarity.py, never assumed.

Hyperplanes are seeded per call: deterministic across runs and engines
(the DuckDB oracles embed the same literals via signature_oracle_sql).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import cosine, dot, to_double_array

N_PLANES = 8

# adaptive-width clamp: 8 bits (256 buckets) floors the fixture regime;
# 16 bits caps what the static literal-plane oracles state (a deployment
# past 2^16 * occupancy vectors raises the cap and regenerates oracles)
SIG_WIDTH_LO = 8
SIG_WIDTH_HI = 16


def adaptive_sig_width(
    n: int, target_occupancy: int = 16, lo: int = SIG_WIDTH_LO, hi: int = SIG_WIDTH_HI
) -> int:
    """Signature width (bit count) that keeps expected bucket occupancy
    <= ``target_occupancy`` for an ``n``-vector corpus: the smallest w
    with 2^w >= ceil(n / occupancy), clamped to [lo, hi]. This is the
    'raise n_planes so bucket occupancy stays bounded' policy made
    executable — candidate pair work then grows LINEARLY with the
    corpus (occupancy fixed) instead of quadratically (bucket count
    fixed). Pure integer arithmetic so the SQL twin
    (adaptive_sig_width_sql) is float-free and engine-identical."""
    m = max(1, (n + target_occupancy - 1) // target_occupancy)
    return max(lo, min(hi, (m - 1).bit_length()))


def adaptive_sig_width_sql(count_sql: str, target_occupancy: int = 16) -> str:
    """DuckDB rendering of adaptive_sig_width: a float-free CASE ladder
    over m = ceil(count/occupancy) for the clamped [8, 16] range."""
    m = f"(({count_sql}) + {target_occupancy - 1}) // {target_occupancy}"
    ladder = " ".join(
        f"WHEN {m} <= {1 << w} THEN {w}" for w in range(SIG_WIDTH_LO, SIG_WIDTH_HI)
    )
    return f"(CASE {ladder} ELSE {SIG_WIDTH_HI} END)"


def _planes(dim: int, n_planes: int = N_PLANES) -> list[list[float]]:
    """Seeded hyperplanes, deterministic PER CALL. A fresh Random(seed) per
    invocation is load-bearing: round 1 drew planes from a shared module
    RNG stream, so the corpus and probe signatures were computed against
    DIFFERENT hyperplanes — the hamming filter was effectively random
    (measured ANN recall 0.32-0.44 vs a 0.36 base rate of random 8-bit
    sigs matching at hamming<=3). Same seed + same dim => same planes
    everywhere, including the DuckDB oracle's literal copies. A wider
    signature extends the same sequence, so planes 0..7 of the 16-bit
    config are exactly the 8-bit config's planes."""
    rng = random.Random(20260813)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def hamming_ball_masks(n_planes: int, radius: int) -> list[int]:
    """All XOR masks of popcount <= radius over an ``n_planes``-bit
    signature, enumerated combinatorially — sum of C(n_planes, i) masks,
    never a 2^n_planes scan (a range() filter is fine at 16 bits but
    2^24 iterations at the wide corpus-derived widths)."""
    from itertools import combinations

    masks = [0]
    for r in range(1, radius + 1):
        for bits in combinations(range(n_planes), r):
            m = 0
            for b in bits:
                m |= 1 << b
            masks.append(m)
    return masks


# Width schedule knee (VERDICT r10 #4): below the knee the rule is the
# r9 flat-FULL-occupancy schedule w = ceil(log2 n) + 7; past it (w would
# exceed KNEE_W, i.e. n > 2^17 rows) the width grows 2 BITS PER CORPUS
# DOUBLING instead of 1, which pins PER-BAND occupancy of the two-band
# multi-index at its knee value (2^5 rows/band-bucket): band bits = w/2
# gain 1 bit per doubling each, exactly matching the +1 of log2 n. This
# replaces the r10 hard clamp at 24 (which let band occupancy — and with
# it candidates-per-vector, measured ~sqrt(n) in BENCHNOTES r10 —
# keep growing); the ceiling is now 62 bits (two 31-bit bands in a
# signed BIGINT signature), reached near n ~ 2^36 vectors. The fixture
# regime (n <= 2^17) is numerically UNCHANGED, so every literal-plane
# oracle still hash-matches; the graded fixtures stay at w = 16/20.
KNEE_W = 24


def derived_n_planes(n_rows: int, lo: int = 8, hi: int = 62, extra_bits: int = 7) -> int:
    """The signature-width scale rule, applied instead of documented:
    ``w0 = ceil(log2(n)) + extra_bits`` (buckets ~ n * 2^extra_bits, so
    FULL-signature occupancy stays fixed and candidates-per-probe grows
    only with the hamming-ball polynomial C(w,r) ~ w^r); past the knee
    (w0 > KNEE_W) the width is ``KNEE_W + 2*(w0 - KNEE_W)`` — 2 bits per
    corpus doubling, pinning PER-BAND occupancy (see KNEE_W note).
    At 500 rows this yields 16 bits (the round-3 hand-picked width); 8x
    data adds 3 bits instead of 4x'ing the candidate count
    (tests/test_similarity.py::test_knn_graph_width_autoscaling).
    Clamp rationale: below 2^lo buckets the ball covers most of the
    space; above hi the signature leaves signed-BIGINT range. Recall at
    the fixed hamming<=3 verification radius decays with width
    (binomial: more bits, more chances to flip) — the measured floor
    per width is the BENCHNOTES r11 recall table, which is why the
    knee regime widens only past corpus sizes the fixtures never reach."""
    import math

    w = math.ceil(math.log2(max(n_rows, 2))) + extra_bits
    if w > KNEE_W:
        w = KNEE_W + 2 * (w - KNEE_W)
    return max(lo, min(hi, w))


def verification_radius(w_bits: int) -> int:
    """The verification-radius schedule beside the width knee (VERDICT
    r11 #5): hamming radius 3 at and below KNEE_W, +1 per 4 width bits
    past it. Rationale: each added bit gives a planted near-dup pair one
    more chance to flip (per-bit flip p = theta/pi), so the fixed r=3
    floor decays with width (measured 0.94 at w=24 -> 0.88 at w=30,
    BENCHNOTES r11); growing r with w restores it — radius 4 at w=28
    lifts the theta=0.2 closed-form floor from 0.941 to 0.970 (SCALE.md,
    re-measured on the 64x corpus in r12). The banded multi-index join
    generalizes with it: band sub-radii r//2 and r - r//2 - 1 keep the
    pigeonhole exact (see _knn_directed_top3). Cost: band-candidate
    growth is the sub-ball polynomial C(w/2, r//2), a step only every 4
    width bits = every 16x corpus growth past the knee.
    tests/test_similarity.py asserts the closed-form floor table."""
    return 3 + max(0, (w_bits - KNEE_W) // 4)


def verification_radius_sql(w_expr: str) -> str:
    """DuckDB twin of ``verification_radius`` (floor division matches
    Python's // for the negative pre-knee branch, and GREATEST clamps it
    away regardless); asserted formula-identical over a wide width sweep
    in tests/test_similarity.py."""
    return f"(3 + GREATEST(0, (({w_expr}) - {KNEE_W}) // 4))"


def derived_n_planes_sql(count_expr: str, lo: int = 8, hi: int = 62, extra_bits: int = 7) -> str:
    """DuckDB twin of ``derived_n_planes`` for count-derived oracle SQL
    (same knee schedule — the formulas are asserted identical over a
    wide n sweep in tests/test_similarity.py). ceil(log2(n)) agrees with
    Python for every n: at exact powers of two log2 is exact in IEEE
    doubles, elsewhere the true value is irrational so the double
    approximation never straddles an integer. NOTE: oracles that mask a
    LITERAL-plane signature state KNEE_W = 24 planes — enough for every
    fixture scale (w <= 20 at sf0.1); a deployment past 2^17 vectors
    regenerates oracle literals alongside the wider width."""
    w0 = (
        f"(CAST(ceil(log2(CAST(({count_expr}) AS DOUBLE))) AS INTEGER)"
        f" + {extra_bits})"
    )
    kneed = f"(CASE WHEN {w0} > {KNEE_W} THEN {KNEE_W} + 2 * ({w0} - {KNEE_W}) ELSE {w0} END)"
    return f"GREATEST({lo}, LEAST({hi}, {kneed}))"


def brute_force_topk(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast probes x corpus scan.

    Output: (probe_id, cand_id, rank, cosine). Ties broken by cand_id so
    results are deterministic across engines and partitionings."""
    p = probes.select(
        F.col(id_col).alias("probe_id"), to_double_array(F.col(vec_col)).alias("pv")
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"), to_double_array(F.col(vec_col)).alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(p))
        .filter(F.col("cand_id") != F.col("probe_id"))
        .select("probe_id", "cand_id", cosine(F.col("pv"), F.col("cv")).alias("cos_raw"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_raw").desc(), F.col("cand_id"))
    return (
        scored.select(
            "probe_id", "cand_id", F.row_number().over(w).alias("rank"),
            F.round("cos_raw", 6).alias("cosine"),
        )
        .filter(F.col("rank") <= k)
    )


def with_signature(
    df: DataFrame, vec_name: str, dim: int, out: str, n_planes: int = N_PLANES
) -> DataFrame:
    """Adds the ``n_planes``-bit random-hyperplane signature of column
    ``vec_name`` as ``out``. One column PER PLANE, then summed: a single
    8x64-term expression blows Janino's 64 KB per-method limit once it sits
    in the same codegen stage as a join (whole-stage falls back to
    interpreted, measured 3.7x slower); per-plane expressions codegen
    cleanly. Each dot is an unrolled left-assoc SQL chain — same fold
    order as DuckDB list_dot_product, so the oracle's literal-plane copy
    (signature_oracle_sql) produces bit-identical dots and identical signs.

    Bit width trades bucket selectivity against recall: 8 bits = 256
    buckets suits 10^2..10^5-row corpora; at larger corpus sizes raise
    ``n_planes`` so bucket occupancy stays bounded — the hamming ball
    grows ~C(N,r) while buckets grow 2^N, so each added bit roughly
    halves the corpus fraction a probe touches (demonstrated at 16 bits
    in tests/test_similarity.py::test_lsh_width_scaling).

    Above 8 planes the combined Project (n_planes x dim terms) exceeds
    even the per-plane split's codegen budget — every stage then logs a
    FAILED Janino compile and runs interpreted, re-paying the compile
    attempt per stage (measured ~2x end-to-end at 16 planes). Wide
    signatures therefore route through the Arrow matmul path
    (signature_arrow), which keeps bit parity via a sequential
    dimension-loop fold."""
    if n_planes > 8:
        from ..functions.text_arrow import signature_arrow

        return signature_arrow(df, _planes(dim, n_planes), vec_name, out)
    bit_cols = []
    for i, plane in enumerate(_planes(dim, n_planes)):
        col = f"_{out}_b{i}"
        df = df.withColumn(col, F.expr(f"if({_dot_sql(vec_name, plane)} > 0, {1 << i}, 0)"))
        bit_cols.append(col)
    expr = " + ".join(bit_cols)
    return df.withColumn(out, F.expr(f"({expr})")).drop(*bit_cols)


def lsh_topk(
    probes: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe_hamming: int = 3,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane bucketing.

    Corpus rows are bucketed once by signature; each probe scores only
    buckets within ``multiprobe_hamming`` of its own signature. The
    multiprobe neighborhood is ENUMERATED, not predicated: each probe
    explodes into its hamming-ball signatures (sum of C(N_PLANES, i) for
    i<=r, e.g. 93 masks at 8 bits / r=3) and the join is an EQUALITY on
    the corpus signature. A ``bit_count(xor) <= r`` predicate cannot be
    hash-partitioned — Spark would fall back to a broadcast nested-loop
    over the whole corpus x probes, which is the cross join in disguise.
    The equi-join hash-partitions on the signature, so at 100 TB each
    probe touches only its ~|corpus|/2^N_PLANES-row buckets
    (asserted: no BroadcastNestedLoopJoin, tests/test_plans.py).
    Output schema matches ``brute_force_topk`` (its oracle)."""
    c = corpus.select(
        F.col(id_col).alias("cand_id"), to_double_array(F.col(vec_col)).alias("cv")
    )
    c = with_signature(c, "cv", dim, "csig", n_planes)
    p = probes.select(
        F.col(id_col).alias("probe_id"), to_double_array(F.col(vec_col)).alias("pv")
    )
    p = with_signature(p, "pv", dim, "psig", n_planes)

    # Hamming ball as literal XOR masks: neighbor_sig = psig ^ mask for every
    # mask with popcount <= r. Probe side stays bounded (|probes| x |ball|),
    # so the broadcast is safe by construction.
    masks = hamming_ball_masks(n_planes, multiprobe_hamming)
    p_ball = (
        p.withColumn("mask", F.explode(F.array(*[F.lit(m) for m in masks])))
        .withColumn("nsig", F.col("psig").bitwiseXOR(F.col("mask")))
        .drop("mask")
    )

    joined = c.join(
        F.broadcast(p_ball),
        on=[
            F.col("csig") == F.col("nsig"),
            F.col("cand_id") != F.col("probe_id"),
        ],
    )
    scored = joined.select(
        "probe_id", "cand_id", cosine(F.col("pv"), F.col("cv")).alias("cos_raw")
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_raw").desc(), F.col("cand_id"))
    return (
        scored.select(
            "probe_id", "cand_id", F.row_number().over(w).alias("rank"),
            F.round("cos_raw", 6).alias("cosine"),
        )
        .filter(F.col("rank") <= k)
    )


def _norm_sql(name: str, dim: int) -> str:
    """sqrt(sum v_i^2) as an unrolled SQL string — two reasons not to build
    this as a Column tree: (a) Spark's higher-order functions (aggregate /
    zip_with) are interpreted per-row, not codegen'd — the HOF form
    measured ~5 ms/row; (b) composing ~4k Column operators from Python
    costs one py4j round-trip each (~20 s of pure driver overhead per
    plan). One F.expr(string) parses JVM-side in milliseconds and the
    arithmetic stays inside whole-stage codegen. Left-assoc '+' preserves
    the sequential fold order of functions/vectors.py:dot."""
    return "sqrt(" + " + ".join(f"{name}[{i}]*{name}[{i}]" for i in range(dim)) + ")"


def _dot_sql(name: str, weights: list[float]) -> str:
    """dot(v, constant_weights) as an unrolled SQL multiply-add chain."""
    return "(" + " + ".join(f"{name}[{i}]*({w!r})" for i, w in enumerate(weights)) + ")"


def ivf_train(
    corpus: DataFrame,
    nlist: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Spherical k-means coarse quantizer, trained with DataFrame-native
    Lloyd iterations: assignment is codegen'd literal-weight scoring (no
    join, no shuffle); update is one groupBy over (cid) summing the
    unit-normalized components — the only shuffle, carrying nlist×dim
    doubles.

    Deterministic: init = the nlist lowest-id vectors; centroid coords are
    rounded to 9 decimals each sync so partition-order float-sum jitter
    cannot flip assignments. At 100 TB you'd train on a seeded sample
    (df.sample) — the fixture corpus is small enough to use whole."""
    dim = len(corpus.select(vec_col).first()[0])
    c = corpus.select(
        F.col(id_col).alias("_id"), to_double_array(F.col(vec_col)).alias("v")
    ).withColumn("_norm", F.expr(_norm_sql("v", dim)))
    c = c.persist()  # read iters+1 times below
    init = c.orderBy("_id").limit(nlist).collect()
    cents = [
        (i, [round(x / r["_norm"], 9) for x in r["v"]]) for i, r in enumerate(init)
    ]
    for _ in range(iters):
        # Arrow per-batch partials instead of the nlist*dim literal-weight
        # scoring array: the literals change every sync, so the codegen
        # cache never hit and each iteration paid a fresh Janino compile
        # of a ~1024-term expression (guide §4.2 — hand whole batches to
        # numpy; the centroids ride the closure, the PLAN is
        # iteration-invariant). Assignment = first argmax of
        # dot(v, cent)/norm — np.argmax also takes the first maximum.
        rows = _float_assign_partials_arrow(c, cents, dim).groupBy("cid").agg(
            F.sum("n").alias("n"),
            *[F.sum(F.col("s")[i]).alias(f"s{i}") for i in range(dim)],
        ).collect()
        cents = [
            (int(r["cid"]), [round(r[f"s{i}"] / r["n"], 9) for i in range(dim)])
            for r in sorted(rows, key=lambda r: r["cid"])
        ]
    c.unpersist()
    return cents


def _float_assign_partials_arrow(
    c: DataFrame, cents: list[tuple[int, list[float]]], dim: int
) -> DataFrame:
    """Per-batch spherical-assignment partials for ivf_train: emits at
    most nlist rows (cid, n, s array<double>) per Arrow batch, where s
    sums v[i]/norm over the batch's rows assigned to cid. Numpy float
    partial sums regroup the same addends as the previous per-row SQL
    aggregate — both are partition-order-dependent float sums, and the
    trainer rounds every centroid coordinate to 9 dp at every sync
    precisely to absorb that jitter (unchanged contract)."""
    import numpy as np

    w = np.asarray([wv for _, wv in cents], dtype=np.float64)  # (k, dim)
    cids = [int(ci) for ci, _ in cents]

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            nrm = np.asarray(pdf["_norm"], dtype=np.float64)
            scores = (v @ w.T) / nrm[:, None]
            a = np.argmax(scores, axis=1)  # first max = lower list index
            u = v / nrm[:, None]
            rows = {"cid": [], "n": [], "s": []}
            for j in np.unique(a):
                sel = a == j
                rows["cid"].append(cids[int(j)])
                rows["n"].append(int(sel.sum()))
                rows["s"].append(u[sel].sum(axis=0).tolist())
            yield pd.DataFrame(rows)

    return c.select("v", "_norm").mapInPandas(run, "cid int, n long, s array<double>")


def ivf_topk(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate k-NN — the bucketed scale path next
    to ``lsh_topk``: corpus rows are assigned once to their nearest of
    ``nlist`` centroids; each probe scores only the rows of its ``nprobe``
    closest lists, replacing the full scan with ~(nprobe/nlist) of it.

    Output schema matches ``brute_force_topk`` (its recall oracle in
    tests/test_similarity.py). At 100 TB: write the corpus partitioned by
    ``cid`` so a probe's candidate read is partition-pruned at the source."""
    cents = ivf_train(corpus, nlist=nlist, iters=iters, id_col=id_col, vec_col=vec_col)
    dim = len(cents[0][1])

    # Centroid scoring via an Arrow matmul per batch (functions/text_arrow
    # centroid_topn_arrow): the earlier unrolled-literal SQL form executed
    # fast but its ~nlist*dim-term expression trees cost seconds of Janino
    # codegen COMPILATION per plan — the matmul removes the expression
    # entirely (and is the shape a GPU/FAISS coarse quantizer uses).
    from ..functions.text_arrow import centroid_topn_arrow

    assign = centroid_topn_arrow(corpus, cents, 1, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("cand_id"), "cid"
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"), to_double_array(F.col(vec_col)).alias("cv")
    ).join(assign, on="cand_id")

    probe_cids = centroid_topn_arrow(
        probes, cents, nprobe, id_col=id_col, vec_col=vec_col
    ).select(F.col(id_col).alias("probe_id"), "cid")
    p = probes.select(
        F.col(id_col).alias("probe_id"), to_double_array(F.col(vec_col)).alias("pv")
    )
    probe_lists = p.join(probe_cids, on="probe_id")

    joined = c.join(F.broadcast(probe_lists), on="cid").filter(
        F.col("cand_id") != F.col("probe_id")
    )
    # unrolled cosine (same left-assoc fold order as functions.vectors.dot,
    # so values are bit-identical to the HOF form) — keeps the candidate
    # scoring inside whole-stage codegen instead of interpreted lambdas
    dot_sql = " + ".join(f"pv[{i}]*cv[{i}]" for i in range(dim))
    scored = joined.select(
        "probe_id",
        "cand_id",
        (
            F.expr(f"({dot_sql})")
            / (F.expr(_norm_sql("pv", dim)) * F.expr(_norm_sql("cv", dim)))
        ).alias("cos_raw"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_raw").desc(), F.col("cand_id"))
    return (
        scored.select(
            "probe_id", "cand_id", F.row_number().over(w).alias("rank"),
            F.round("cos_raw", 6).alias("cosine"),
        )
        .filter(F.col("rank") <= k)
    )

def ivf_write_index(
    corpus: DataFrame,
    path: str,
    nlist: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Materialize the IVF at-rest layout: assign every corpus row to its
    coarse centroid and write the corpus ``partitionBy("cid")`` — one
    directory per inverted list. A probe then reads ONLY its nprobe list
    directories (``ivf_probe_read``), so the candidate scan is pruned at
    the source by partition filters instead of filtered post-scan: at
    100 TB the probe I/O is ~(nprobe/nlist) of the corpus bytes, proven
    by the PartitionFilters assertion in tests/test_plans.py.

    Returns the trained centroids — the reader needs them to map a probe
    vector to its cids (they are the index metadata, nlist x dim floats)."""
    from ..functions.text_arrow import centroid_topn_arrow

    cents = ivf_train(corpus, nlist=nlist, iters=iters, id_col=id_col, vec_col=vec_col)
    assign = centroid_topn_arrow(corpus, cents, 1, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col), "cid"
    )
    corpus.join(assign, on=id_col).write.partitionBy("cid").mode("overwrite").parquet(path)
    return cents


def ivf_probe_read(
    spark, path: str, cids: list[int], vec_col: str = "embedding"
) -> DataFrame:
    """Read back ONLY the inverted lists in ``cids`` from an
    ``ivf_write_index`` layout. The equality/isin predicate on the
    partition column becomes a PartitionFilter — directory pruning, no
    data read outside the probed lists."""
    return spark.read.parquet(path).filter(F.col("cid").isin([int(c) for c in cids]))


def similar_pairs_topn(
    corpus: DataFrame,
    n: int = 30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Global most-similar pairs (embedding near-dup surface): all pairs
    scored, global top-n. At scale, replace the pair generator with the
    LSH buckets; kept exact here as the oracle-comparable form.

    Per-pair scoring is an unrolled codegen dot over precomputed norms —
    the interpreted-HOF cosine cost 38s on the 2M-pair cross product at
    sf0.1; unrolled left-assoc arithmetic is bit-identical to the fold
    (and to DuckDB's sequential list_dot_product) at ~25x the speed.
    Norms are computed once per ROW (corpus-sized), never per pair."""
    dim = len(corpus.select(vec_col).first()[0])
    norm_terms = " + ".join(f"v[{i}]*v[{i}]" for i in range(dim))
    a = corpus.select(
        F.col(id_col).alias("id_a"), to_double_array(F.col(vec_col)).alias("va")
    ).withColumn("na", F.expr(f"sqrt({norm_terms})".replace("v[", "va[")))
    b = corpus.select(
        F.col(id_col).alias("id_b"), to_double_array(F.col(vec_col)).alias("vb")
    ).withColumn("nb", F.expr(f"sqrt({norm_terms})".replace("v[", "vb[")))
    dot_sql = " + ".join(f"va[{i}]*vb[{i}]" for i in range(dim))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    scored = pairs.select(
        "id_a",
        "id_b",
        (F.expr(f"({dot_sql})") / (F.col("na") * F.col("nb"))).alias("cos_raw"),
    )
    return (
        scored.orderBy(F.col("cos_raw").desc(), "id_a", "id_b")
        .limit(n)
        .select("id_a", "id_b", F.round("cos_raw", 6).alias("cosine"))
    )


def lsh_pairs_topn(
    corpus: DataFrame,
    n: int = 30,
    multiprobe_hamming: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
) -> DataFrame:
    """Bucketed most-similar pairs: LSH candidate generation -> exact
    cosine rescoring -> global top-n. The scale path for the embedding
    near-dup surface: candidate pairs are rows whose N_PLANES-bit
    signatures lie within ``multiprobe_hamming`` — generated by exploding
    one side into its hamming-ball signatures (sum C(N_PLANES,i), e.g. 93
    masks at 8 bits/r=3) and EQUI-joining on the other side's signature.
    Each qualifying pair matches exactly one mask (sig_a^sig_b), so no
    dedup is needed. At 100 TB the join hash-partitions on signature —
    per-bucket pair products, never the |corpus|^2 cross join (asserted in
    tests/test_plans.py).

    The top-n is exact AMONG candidates; candidate recall of true
    near-dup pairs rises with their cosine (a cos>=0.95 pair flips each
    of the 8 bits with p = theta/pi ~ 0.1). The brute-force
    ``similar_pairs_topn`` stays the differential oracle in tests.
    """
    from ..plans.hints import _threshold_bytes, broadcast_if_small, estimated_size_bytes

    dim = len(corpus.select(vec_col).first()[0])
    norm_terms = " + ".join(f"v[{i}]*v[{i}]" for i in range(dim))
    sigs = with_signature(
        corpus.select(F.col(id_col).alias("_id"), to_double_array(F.col(vec_col)).alias("v")),
        "v", dim, "sig", n_planes,
    ).select("_id", "sig")
    # Candidate generation moves ONLY (id, sig) through the explode and the
    # shuffle — dragging the vector through the |ball|-fold explode cost
    # ~95 MB of duplicated payload at sf0.1 (measured 2x slower end to
    # end); vectors are re-attached to the much smaller candidate-pair set
    # afterwards, the same restrict-then-verify shape as the minhash
    # pipeline.
    masks = hamming_ball_masks(n_planes, multiprobe_hamming)
    a_ball = (
        sigs.select(F.col("_id").alias("id_a"), F.col("sig").alias("siga"))
        .withColumn("mask", F.explode(F.array(*[F.lit(m) for m in masks])))
        .withColumn("nsig", F.col("siga").bitwiseXOR(F.col("mask")))
        .drop("mask", "siga")
    )
    b_sigs = sigs.select(F.col("_id").alias("id_b"), F.col("sig").alias("sigb"))
    # Explicit hash-partition on the signature join key: at 100 TB neither
    # side fits a broadcast (a_ball is |corpus| x |ball|), so the
    # co-partitioned shuffle join IS the scale plan — and the Exchange also
    # bounds each codegen stage under Janino's 64 KB method limit.
    cand = (
        a_ball.repartition(F.col("nsig"))
        .join(
            b_sigs.repartition(F.col("sigb")),
            on=[F.col("nsig") == F.col("sigb"), F.col("id_a") < F.col("id_b")],
        )
        .select("id_a", "id_b")
    )
    vecs = corpus.select(
        F.col(id_col).alias("_vid"), to_double_array(F.col(vec_col)).alias("v")
    )
    if estimated_size_bytes(vecs) <= _threshold_bytes(corpus.sparkSession):
        # Rescoring path 1 (corpus vector table under the broadcast
        # threshold): ship (id -> vector) as a broadcast numpy matrix and
        # score candidate pairs in Arrow batches. Attaching two 64-double
        # arrays per pair via joins materializes ~1 KB of UnsafeRow per
        # candidate — measured 20x slower than this scorer at sf0.1.
        # Bit-parity: the dot/norm accumulate in a loop over DIMENSIONS
        # (64 vectorized adds), so each pair's fold order is exactly the
        # sequential left-assoc of DuckDB list_dot_product and of the SQL
        # path below.
        import numpy as np
        import pandas as pd

        rows = vecs.collect()
        ids = np.array([r["_vid"] for r in rows], dtype=np.int64)
        mat = np.array([r["v"] for r in rows], dtype=np.float64)
        order = np.argsort(ids)
        ids, mat = ids[order], mat[order]
        sq = np.zeros(len(ids))
        for j in range(dim):
            sq += mat[:, j] * mat[:, j]
        norms = np.sqrt(sq)
        bc = corpus.sparkSession.sparkContext.broadcast((ids, mat, norms))

        def _score(batches):
            ids_, mat_, norms_ = bc.value
            for pdf in batches:
                ia = np.searchsorted(ids_, pdf["id_a"].to_numpy())
                ib = np.searchsorted(ids_, pdf["id_b"].to_numpy())
                acc = np.zeros(len(pdf))
                for j in range(mat_.shape[1]):
                    acc += mat_[ia, j] * mat_[ib, j]
                yield pd.DataFrame(
                    {
                        "id_a": pdf["id_a"],
                        "id_b": pdf["id_b"],
                        "cos_raw": acc / (norms_[ia] * norms_[ib]),
                    }
                )

        scored = cand.mapInPandas(_score, "id_a long, id_b long, cos_raw double")
    else:
        # Rescoring path 2 (the 100 TB path): vectors re-attached to the
        # candidate set by equi-join (shuffle/broadcast per AQE), scored
        # with the unrolled codegen dot — no driver-side collect anywhere.
        va = vecs.select(
            F.col("_vid").alias("id_a"), F.col("v").alias("va")
        ).withColumn("na", F.expr(f"sqrt({norm_terms})".replace("v[", "va[")))
        vb = vecs.select(
            F.col("_vid").alias("id_b"), F.col("v").alias("vb")
        ).withColumn("nb", F.expr(f"sqrt({norm_terms})".replace("v[", "vb[")))
        pairs = cand.join(broadcast_if_small(va), on="id_a").join(
            broadcast_if_small(vb), on="id_b"
        )
        dot_sql = " + ".join(f"va[{i}]*vb[{i}]" for i in range(dim))
        scored = pairs.select(
            "id_a",
            "id_b",
            (F.expr(f"({dot_sql})") / (F.col("na") * F.col("nb"))).alias("cos_raw"),
        )
    return (
        scored.orderBy(F.col("cos_raw").desc(), "id_a", "id_b")
        .limit(n)
        .select("id_a", "id_b", F.round("cos_raw", 6).alias("cosine"))
    )


def signature_oracle_sql(vec_expr: str, dim: int, n_planes: int = N_PLANES) -> str:
    """The DuckDB rendering of ``_signature`` — same literal hyperplanes,
    same left-assoc fold order, so the oracle's signatures are
    bit-identical to the Spark plan's. Used by the suite to state the
    bucketed-pairs oracle in pure SQL."""
    parts = []
    for i, plane in enumerate(_planes(dim, n_planes)):
        terms = " + ".join(f"{vec_expr}[{j + 1}]*({w!r})" for j, w in enumerate(plane))
        parts.append(f"CASE WHEN ({terms}) > 0 THEN {1 << i} ELSE 0 END")
    return "(" + " + ".join(parts) + ")"


# ---------------------------------------------------------------------------
# Random projection (Johnson-Lindenstrauss) dimensionality reduction.

def _rp_signs(dim: int, out_dim: int) -> list[list[float]]:
    """Deterministic +-1 sign matrix (Achlioptas 2003): sign from the first
    hex digit of md5(f"rp{j}:{i}") — reproducible across engines, sessions,
    and partitionings, like the md5 split/bucket keys elsewhere."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"rp{j}:{i}".encode()).hexdigest()[0], 16) < 8 else -1.0
            for i in range(dim)
        ]
        for j in range(out_dim)
    ]


def random_projection(
    vectors: DataFrame,
    dim: int,
    out_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project dim-d vectors to out_dim components r0..r{out_dim-1} with the
    deterministic sign matrix. Pure per-row projection: no shuffle, stays in
    whole-stage codegen via the unrolled multiply-add chains (_dot_sql) —
    the JL scale path for feeding 100 TB of wide embeddings into ANN or
    clustering at 1/8 the width. Components are scaled by 1/sqrt(out_dim)
    so expected squared norm is preserved."""
    scale = 1.0 / (out_dim ** 0.5)
    cols = [F.col(id_col)]
    for j, signs in enumerate(_rp_signs(dim, out_dim)):
        cols.append(
            F.round(F.expr(f"{_dot_sql(vec_col, signs)} * ({scale!r})"), 6).alias(f"r{j}")
        )
    return vectors.select(*cols)


def random_projection_oracle_sql(
    vec_expr: str, dim: int, out_dim: int = 8
) -> str:
    """DuckDB select-list rendering of random_projection's components —
    identical literals, identical left-assoc fold, 1-based indexing."""
    scale = 1.0 / (out_dim ** 0.5)
    parts = []
    for j, signs in enumerate(_rp_signs(dim, out_dim)):
        terms = " + ".join(f"{vec_expr}[{i + 1}]*({w!r})" for i, w in enumerate(signs))
        parts.append(f"ROUND(({terms}) * ({scale!r}), 6) AS r{j}")
    return ", ".join(parts)


# ---------------------------------------------------------------------------
# Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
# embedding space, compare pairs ONLY within a cluster, keep one exemplar
# per near-duplicate group.

def _pair_dot_sql(a: str, b: str, dim: int) -> str:
    """dot(row_vec_a, row_vec_b) as an unrolled left-assoc SQL chain —
    codegen-friendly (no interpreted HOF per pair) and bit-identical to
    DuckDB list_dot_product's sequential fold."""
    return "(" + " + ".join(f"{a}[{i}]*{b}[{i}]" for i in range(dim)) + ")"


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
) -> DataFrame:
    """SemDeDup over an embedding column: the cluster id is the
    deterministic ``n_planes``-bit random-hyperplane signature (the same
    literal planes as the ANN layer, so the clustering itself is
    oracle-checkable), pairwise exact cosine runs only inside a cluster,
    and every vector with a LOWER-id cluster-mate at cosine >= threshold
    is marked a duplicate of that group's minimum id.

    Output: (dup_id, keep_id, cluster, cosine) — one row per removed
    vector, keep_id = the exemplar it collapses into, cosine = similarity
    to that exemplar (deterministic arg_min tie-break).

    Scale shape: the self-join equi-joins on the signature, so work is
    per-bucket pair products (sum of |bucket|^2), never |corpus|^2 — the
    same restrict-then-verify shape as the LSH pair pipeline, with
    hamming=0 because SemDeDup's semantics are intra-cluster only. At
    100 TB, raise n_planes so bucket occupancy stays bounded (each added
    bit halves expected bucket size), or swap the signature for trained
    IVF centroid ids (ivf_train) when cluster quality matters more than
    oracle determinism; the pair scorer is unchanged either way.
    """
    from ..plans.hints import _threshold_bytes, broadcast_if_small, estimated_size_bytes

    dim = len(corpus.select(vec_col).first()[0])
    sigs = with_signature(
        corpus.select(F.col(id_col).alias("_id"), to_double_array(F.col(vec_col)).alias("v")),
        "v", dim, "sig", n_planes,
    ).withColumn("nrm", F.expr(_norm_sql("v", dim)))
    # Candidate generation joins (id, sig) ONLY — dragging vectors through
    # the self-join paid ~1 KB of UnsafeRow per pair and put the 64-term
    # dot + ANSI bounds checks in the join stage (Janino 64 KB fallback,
    # measured 3.5x slower end to end at sf0.1). Rescoring follows the
    # lsh_pairs_topn pattern: size-gated Arrow matmul on a broadcast
    # (id -> vector) matrix, with a join-attach codegen-dot fallback above
    # the gate. Both folds accumulate sequentially over dimensions, so the
    # cosines stay bit-identical to DuckDB list_dot_product.
    ids = sigs.select("_id", "sig")
    cand = (
        ids.select(F.col("_id").alias("keep_id"), F.col("sig").alias("cluster"))
        .join(ids.select(F.col("_id").alias("dup_id"), F.col("sig").alias("cluster")), "cluster")
        .filter(F.col("keep_id") < F.col("dup_id"))
    )
    vecs = sigs.select("_id", "v", "nrm")
    if estimated_size_bytes(vecs) <= _threshold_bytes(corpus.sparkSession):
        import numpy as np
        import pandas as pd

        rows = vecs.collect()
        ids_np = np.array([r["_id"] for r in rows], dtype=np.int64)
        mat = np.array([r["v"] for r in rows], dtype=np.float64)
        order = np.argsort(ids_np)
        ids_np, mat = ids_np[order], mat[order]
        sq = np.zeros(len(ids_np))
        for j in range(dim):
            sq += mat[:, j] * mat[:, j]
        norms = np.sqrt(sq)
        bc = corpus.sparkSession.sparkContext.broadcast((ids_np, mat, norms))

        def _score(batches):
            idsb, matb, normsb = bc.value
            for pdf in batches:
                ia = np.searchsorted(idsb, pdf["keep_id"].to_numpy())
                ib = np.searchsorted(idsb, pdf["dup_id"].to_numpy())
                acc = np.zeros(len(pdf))
                for j in range(matb.shape[1]):
                    acc += matb[ia, j] * matb[ib, j]
                yield pd.DataFrame(
                    {
                        "cluster": pdf["cluster"],
                        "keep_id": pdf["keep_id"],
                        "dup_id": pdf["dup_id"],
                        "cos_raw": acc / (normsb[ia] * normsb[ib]),
                    }
                )

        pairs = cand.mapInPandas(
            _score, "cluster int, keep_id long, dup_id long, cos_raw double"
        )
    else:
        va = vecs.select(
            F.col("_id").alias("keep_id"), F.col("v").alias("av"), F.col("nrm").alias("na")
        )
        vb = vecs.select(
            F.col("_id").alias("dup_id"), F.col("v").alias("bv"), F.col("nrm").alias("nb")
        )
        pairs = (
            cand.join(broadcast_if_small(va), "keep_id")
            .join(broadcast_if_small(vb), "dup_id")
            .withColumn(
                "cos_raw",
                F.expr(_pair_dot_sql("av", "bv", dim)) / (F.col("na") * F.col("nb")),
            )
        )
    # The threshold is applied INSIDE the aggregation (conditional args:
    # min / min_by ignore rows where the condition nulls the key — same
    # semantics as DuckDB arg_min), not as a filter: a post-scorer filter
    # on cos_raw would be folded into the fallback path's join CONDITION,
    # evaluating the 64-term dot per candidate during matching and again
    # in the projection (measured 2.5x slower at sf0.1).
    cond = F.col("cos_raw") >= F.lit(threshold)
    keep_ok = F.when(cond, F.col("keep_id"))
    cos_ok = F.when(cond, F.col("cos_raw"))
    return (
        pairs.groupBy("dup_id")
        .agg(
            F.min(keep_ok).alias("keep_id"),
            F.min("cluster").cast("int").alias("cluster"),
            F.round(F.min_by(cos_ok, keep_ok), 6).alias("cosine"),
        )
        .filter(F.col("keep_id").isNotNull())
    )


# ---------------------------------------------------------------------------
# Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998): greedy
# diversified top-k over a candidate pool — the standard retrieval-page
# diversifier, and the dedup-aware sampler of RAG context assembly.

MMR_LAMBDA = 0.7


def mmr_rerank(
    probes: DataFrame,
    corpus: DataFrame,
    pool: int = 12,
    steps: int = 4,
    lam: float = MMR_LAMBDA,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy MMR: per probe, take the ``pool`` highest-cosine candidates,
    then select ``steps`` of them one at a time by
    score = lambda*rel - (1-lambda)*max_sim_to_already_selected
    (step 1: max over the empty set = 0). Scores are rounded to 6 dp
    before each argmax with a cand_id tie-break, so the greedy trajectory
    is deterministic and engine-reproducible.

    Output: (probe_id, step, cand_id, mmr_score).

    Scale shape: candidate generation is the brute-force scorer (or any
    ANN path) — distributed; the greedy loop itself runs over
    |probes| x pool rows, so each of the ``steps`` iterations is a
    per-probe window argmax plus a (remaining x selected) pairwise join
    bounded by pool * steps per probe — tiny relations whatever the
    corpus size, all lazily composed (no driver collect). The candidate
    pool is localCheckpoint'ed once so the loop doesn't re-execute the
    corpus scan per step."""
    dim = len(corpus.select(vec_col).first()[0])
    # Candidate generation keeps the RAW cosine as rel: pre-rounding rel to
    # 6 dp would make 0.7*rel an exact 7-digit decimal ending in 5 — a
    # guaranteed decimal-halfway tie where Spark (shortest-repr HALF_UP)
    # and DuckDB (true-binary-value) round apart. Raw doubles are
    # bit-identical across engines (same fold), so ties are measure-zero
    # and only the FINAL score is rounded.
    p = probes.select(
        F.col(id_col).alias("probe_id"), to_double_array(F.col(vec_col)).alias("pv")
    ).withColumn("pn", F.expr(_norm_sql("pv", dim)))
    c = corpus.select(
        F.col(id_col).alias("cand_id"), to_double_array(F.col(vec_col)).alias("v")
    ).withColumn("nrm", F.expr(_norm_sql("v", dim)))
    wr = Window.partitionBy("probe_id").orderBy(F.col("rel").desc(), F.col("cand_id"))
    # Unrolled codegen dot with norms projected per side — the interpreted
    # zip_with/aggregate cosine cost ~2 s alone over |corpus| x |probes|
    # rows at sf0.1; the unrolled chain keeps DuckDB fold parity and stays
    # in whole-stage codegen.
    cands = (
        c.crossJoin(F.broadcast(p))
        .filter(F.col("cand_id") != F.col("probe_id"))
        .withColumn(
            "rel", F.expr(_pair_dot_sql("pv", "v", dim)) / (F.col("pn") * F.col("nrm"))
        )
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= pool)
        .select("probe_id", "cand_id", "rel", "v", "nrm")
        # |probes| x pool rows by construction — collapse to one partition
        # so the greedy loop's ~3 stages per step schedule 1 task each
        # instead of shuffle_partitions mostly-empty ones. repartition,
        # NOT coalesce: coalesce(1) would propagate single-task execution
        # UP into the corpus scan/scoring (measured 1.3x slower overall);
        # the exchange keeps the scan parallel and only the tiny pool
        # funnels.
        .repartition(1)
        .localCheckpoint(eager=False)
    )

    w = Window.partitionBy("probe_id").orderBy(F.col("score").desc(), F.col("cand_id"))
    first = (
        cands.withColumn("score", F.round(F.lit(lam) * F.col("rel"), 6))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("probe_id", F.lit(1).alias("step"), "cand_id", "score", "v", "nrm")
    )
    selected = first
    for t in range(2, steps + 1):
        sel = selected.select(
            F.col("probe_id").alias("_p"), F.col("cand_id").alias("_s"),
            F.col("v").alias("sv"), F.col("nrm").alias("sn"),
        )
        remaining = cands.join(
            selected.select(F.col("probe_id").alias("_p"), F.col("cand_id").alias("_s")),
            (F.col("probe_id") == F.col("_p")) & (F.col("cand_id") == F.col("_s")),
            "left_anti",
        )
        pair = remaining.join(sel, F.col("probe_id") == F.col("_p")).withColumn(
            "sim", F.expr(_pair_dot_sql("v", "sv", dim)) / (F.col("nrm") * F.col("sn"))
        )
        mx = pair.groupBy("probe_id", "cand_id", "rel", "v", "nrm").agg(
            F.max("sim").alias("maxsim")
        )
        pick = (
            mx.withColumn(
                "score",
                F.round(F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * F.col("maxsim"), 6),
            )
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("probe_id", F.lit(t).alias("step"), "cand_id", "score", "v", "nrm")
        )
        # truncate the lineage per step: selected_t references
        # selected_{t-1} TWICE (the union and inside pick's anti-join),
        # so without the cut the logical plan doubles per step (2^steps
        # subtrees — measured ~4.5 s of pure driver analysis at steps=4).
        # eager=False: the plan is truncated immediately, the tiny
        # (|probes| * t)-row RDD materializes once under the final action.
        selected = selected.unionAll(pick).localCheckpoint(eager=False)
    return selected.select(
        "probe_id", F.col("step").cast("int").alias("step"), "cand_id",
        F.col("score").alias("mmr_score"),
    )


def mmr_oracle_sql(
    probe_pred: str,
    dim: int,
    pool: int = 12,
    steps: int = 4,
    lam: float = MMR_LAMBDA,
) -> str:
    """DuckDB rendering of mmr_rerank: candidate CTE (exact cosine top-pool
    per probe), then the greedy recursion unrolled as one CTE per step —
    the same unroll idiom as graph_pagerank's oracle. ``probe_pred`` is a
    SQL predicate over ``vec_id`` selecting the probe rows."""
    one_minus = round(1.0 - lam, 6)
    parts = [
        f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cand AS (
        SELECT probe_id, cand_id, rel, v, nrm FROM (
            SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
                   list_dot_product(p.v, c.v) /
                       (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.v, c.v))) AS rel,
                   c.v AS v, sqrt(list_dot_product(c.v, c.v)) AS nrm,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.vec_id
                       ORDER BY list_dot_product(p.v, c.v) /
                                (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
                                c.vec_id) AS rk
            FROM e p JOIN e c ON ({probe_pred}) AND c.vec_id != p.vec_id
        ) WHERE rk <= {pool}
    ),
    sel1 AS (
        SELECT probe_id, 1 AS step, cand_id, score, v, nrm FROM (
            SELECT probe_id, cand_id, ROUND(CAST({lam!r} AS DOUBLE) * rel, 6) AS score,
                   v, nrm,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY ROUND(CAST({lam!r} AS DOUBLE) * rel, 6) DESC,
                                               cand_id) AS rk
            FROM cand
        ) WHERE rk = 1
    )"""
    ]
    prev_union = "SELECT * FROM sel1"
    for t in range(2, steps + 1):
        parts.append(
            f""",
    all{t} AS ({prev_union}),
    mx{t} AS (
        SELECT r.probe_id, r.cand_id, r.rel, r.v, r.nrm,
               MAX(list_dot_product(r.v, s.v) / (r.nrm * s.nrm)) AS maxsim
        FROM cand r JOIN all{t} s ON r.probe_id = s.probe_id
        WHERE NOT EXISTS (
            SELECT 1 FROM all{t} q
            WHERE q.probe_id = r.probe_id AND q.cand_id = r.cand_id)
        GROUP BY r.probe_id, r.cand_id, r.rel, r.v, r.nrm
    ),
    sel{t} AS (
        SELECT probe_id, {t} AS step, cand_id, score, v, nrm FROM (
            SELECT probe_id, cand_id,
                   ROUND(CAST({lam!r} AS DOUBLE) * rel
                         - CAST({one_minus!r} AS DOUBLE) * maxsim, 6) AS score,
                   v, nrm,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY ROUND(CAST({lam!r} AS DOUBLE) * rel
                                               - CAST({one_minus!r} AS DOUBLE) * maxsim, 6) DESC,
                                               cand_id) AS rk
            FROM mx{t}
        ) WHERE rk = 1
    )"""
        )
        prev_union += f" UNION ALL SELECT * FROM sel{t}"
    parts.append(
        f"""
    SELECT probe_id, CAST(step AS INTEGER) AS step, cand_id, score AS mmr_score
    FROM ({prev_union})"""
    )
    return "".join(parts)


# ---------------------------------------------------------------------------
# Top principal component by power iteration — distributed linear algebra
# expressed as plain aggregation passes, with integer-exact arithmetic so
# the WHOLE recurrence is value-oracle-checkable across engines.

PCA_QUANT = "1000000.0"  # input quantization: q_ij = floor(v_ij * 1e6 + .5)


def _pca_q_exprs(vec: str, dim: int) -> list[str]:
    return [
        f"CAST(floor({vec}[{j}] * {PCA_QUANT} + 0.5) AS BIGINT)" for j in range(dim)
    ]


def pca_power_top_component(
    corpus: DataFrame,
    dim: int,
    iterations: int = 3,
    vec_col: str = "embedding",
) -> DataFrame:
    """Top principal component (uncentered, Gram-matrix sense) of the
    embedding column via ``iterations`` rounds of power iteration,
    computed WITHOUT materializing the covariance matrix: each round is
    two matrix-vector products fused into one pass — s_i = <q_i, x> as a
    codegen'd row projection, then y = Xᵀs by EXPLODING each row's 64
    decimal products to (dim, p) rows and summing per dim (C x = Xᵀ(X x)).

    Exactness discipline (what makes the recurrence hash-checkable in
    DuckDB): inputs quantize once to integers (floor(v*1e6+.5)); every
    matvec accumulates in DECIMAL, which is associative-exact, so
    partition/aggregation order cannot perturb a single bit; the
    between-rounds rescale x = floor(y*1e6/max|y|) uses only
    deterministic double ops on exact aggregates; the final norm is an
    unrolled left-assoc fold over the pos-sorted y vector. The rescale
    is data-adaptive (max-abs), so magnitudes stay bounded at any input
    scale.

    The y relation is 64 ROWS, not 64 aggregate columns: a 64-column
    ANSI-decimal SUM aggregate generated enough overflow-checked codegen
    to OOM a default-heap driver before any data moved; the exploded
    form shuffles (dim, decimal) pairs through ONE sum expression.

    Output: (dim, loading) — final y normalized to unit length, 6 dp.
    Convergence needs a spectral gap (planted-component recovery at
    cos > 0.999 in tests; on isotropic noise any deterministic direction
    is as valid, and the oracle still matches bit-for-bit).

    Scale shape: ``iterations`` passes over the corpus, each shuffling
    64 decimal partials per partition; x rides a 1-row broadcast;
    nothing is ever collected."""
    q_exprs = _pca_q_exprs("v", dim)
    e = corpus.select(to_double_array(F.col(vec_col)).alias("v")).select(
        *[F.expr(x).alias(f"q{j}") for j, x in enumerate(q_exprs)]
    )
    spark = corpus.sparkSession
    xdf = spark.range(1).select(
        F.array(*[F.lit(1).cast("long") for _ in range(dim)]).alias("xa")
    )
    ydf = None
    for _ in range(iterations):
        s_sql = " + ".join(f"q{j} * xa[{j}]" for j in range(dim))
        joined = e.crossJoin(F.broadcast(xdf)).withColumn("s", F.expr(f"({s_sql})"))
        # (20,0)x(10,0), not (18,0)x(8,0): DuckDB's physical-width check
        # rejects an (18,0) multiply whose product needs 19+ digits even
        # though the logical result type is wide enough — first seen at
        # sf0.1 where |s*q| crosses 1e18 (scripts/sweep_sf01.py catch).
        # Bound (SCALE.md micro-unit rule): q is a quantized COORDINATE,
        # |q| <= 1e6 * max|coord| — a quantization constant, not a row
        # count — so the (10,0) cap holds for any coordinate domain to
        # 1e4; unit-normalized embeddings sit at |q| <= ~1e6.
        prods = F.array(
            *[
                F.expr(f"CAST(s AS DECIMAL(20,0)) * CAST(q{j} AS DECIMAL(10,0))")
                for j in range(dim)
            ]
        )
        ydf = (
            joined.select(F.posexplode(prods).alias("pos", "p"))
            .groupBy("pos")
            .agg(F.sum("p").alias("y"))
            .localCheckpoint(eager=True)
        )
        mxdf = ydf.agg(F.max(F.abs(F.col("y").cast("double"))).alias("mx"))
        xdf = (
            ydf.crossJoin(F.broadcast(mxdf))
            .select(
                "pos",
                F.expr(
                    f"CAST(floor(CAST(y AS DOUBLE) * {PCA_QUANT} / mx) AS BIGINT)"
                ).alias("xv"),
            )
            .groupBy()
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "xv"))),
                    lambda st: st["xv"],
                ).alias("xa")
            )
        )
    # Final normalization: left-assoc unrolled fold over the pos-sorted y
    # vector so the norm is the identical double on both engines.
    yarr = ydf.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", F.col("y").cast("double").alias("yd")))),
            lambda st: st["yd"],
        ).alias("ya")
    )
    norm = "sqrt(" + " + ".join(f"ya[{j}]*ya[{j}]" for j in range(dim)) + ")"
    return yarr.select(
        F.posexplode(
            F.expr(f"transform(ya, v -> ROUND(v / {norm}, 6))")
        ).alias("dim", "loading")
    ).select(F.col("dim").cast("int").alias("dim"), "loading")


def pca_power_oracle_sql(dim: int, iterations: int = 3) -> str:
    """DuckDB rendering of pca_power_top_component — identical quantize,
    identical decimal matvec relation, identical rescale and the same
    left-assoc normalization fold."""
    q_cols = ",\n           ".join(
        f"CAST(floor(v[{j + 1}] * 1000000.0 + 0.5) AS BIGINT) AS q{j}"
        for j in range(dim)
    )
    parts = [
        f"""
    WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
    q AS (
        SELECT {q_cols}
        FROM e
    ),
    x1 AS (SELECT [{", ".join(["CAST(1 AS BIGINT)"] * dim)}] AS xa)"""
    ]
    for it in range(1, iterations + 1):
        s_sql = " + ".join(f"q{j} * xa[{j + 1}]" for j in range(dim))
        plist = ", ".join(
            f"CAST(s AS DECIMAL(20,0)) * CAST(q{j} AS DECIMAL(10,0))"
            for j in range(dim)
        )
        parts.append(
            f""",
    s{it} AS (SELECT *, ({s_sql}) AS s FROM q CROSS JOIN x{it}),
    p{it} AS (
        SELECT unnest(range(0, {dim})) AS pos, unnest([{plist}]) AS p FROM s{it}
    ),
    y{it} AS (SELECT pos, SUM(p) AS y FROM p{it} GROUP BY pos),
    m{it} AS (SELECT MAX(abs(CAST(y AS DOUBLE))) AS mx FROM y{it}),
    x{it + 1} AS (
        SELECT list(CAST(floor(CAST(y AS DOUBLE) * 1000000.0 / mx) AS BIGINT)
                    ORDER BY pos) AS xa
        FROM y{it} CROSS JOIN m{it}
    )"""
        )
    norm = "sqrt(" + " + ".join(f"ya[{j + 1}]*ya[{j + 1}]" for j in range(dim)) + ")"
    parts.append(
        f""",
    yarr AS (SELECT list(CAST(y AS DOUBLE) ORDER BY pos) AS ya FROM y{iterations})
    SELECT CAST(generate_subscripts(ya, 1) - 1 AS INTEGER) AS dim,
           unnest([ROUND(x / {norm}, 6) for x in ya]) AS loading
    FROM yarr"""
    )
    return "".join(parts)


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze & Schmid 2011): split the vector into
# m contiguous subvectors, k-means each block to ksub codewords, store each
# vector as m small ints. At 100 TB this is the at-rest compression story:
# a 64-dim float32 corpus (256 B/vector) becomes m=8 codes (8 B/vector,
# 32x), and query scoring never decodes — the probe precomputes a
# (m x ksub) lookup table and each candidate costs m table adds
# (asymmetric distance computation, ADC).


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Per-block L2 Lloyd k-means, all m blocks trained concurrently in
    the SAME pass: assignment is the Arrow encoder (pq_codes_arrow), the
    update is one groupBy over the posexploded (block, code) pairs
    summing dsub components — a single shuffle of m*ksub groups per
    round, nothing corpus-sized on the driver (each sync collects
    m*ksub rows, like ivf_train's nlist). Deterministic: init = the
    ksub lowest-id vectors' subvectors per block, coordinates rounded
    to 9 decimals each sync."""
    from ..functions.text_arrow import pq_codes_arrow

    dim = len(corpus.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    c = corpus.select(
        F.col(id_col).alias("_id"), to_double_array(F.col(vec_col)).alias("v")
    ).persist()
    init = c.orderBy("_id").limit(ksub).collect()
    books = [
        [
            [round(float(r["v"][j * dsub + i]), 9) for i in range(dsub)]
            for r in init
        ]
        for j in range(m)
    ]
    for _ in range(iters):
        codes = pq_codes_arrow(c.withColumnRenamed("_id", "pqid"), books, "pqid", "v")
        joined = c.join(codes, c["_id"] == codes["pqid"]).select("v", "codes")
        exploded = joined.select(
            F.posexplode("codes").alias("j", "code"), "v"
        )
        stats = exploded.groupBy("j", "code").agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.expr(f"v[j * {dsub} + {i}]")).alias(f"s{i}")
                for i in range(dsub)
            ],
        )
        rows = stats.collect()  # m*ksub rows — the k-means sync point
        for r in rows:
            books[r["j"]][r["code"]] = [
                round(r[f"s{i}"] / r["n"], 9) for i in range(dsub)
            ]
    c.unpersist()
    return books


def pq_topk(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """PQ-ADC approximate k-NN by squared L2: encode the corpus once to
    m-code rows, precompute each probe's (m x ksub) distance table, and
    rank candidates by the m-add table sum — no vector arithmetic in the
    scan. Output: (probe_id, cand_id, rank, adc_dist). The codes
    relation is the only corpus-sized input (m ints per row); the probe
    LUTs broadcast. Recall against exact k-NN is measured, not assumed
    (tests/test_similarity.py); raise m/ksub for tighter quantization.

    ``books``: pass explicit codebooks to skip training. The exact-oracle
    twin uses this with an identity grid codebook (m=dim, dsub=1,
    codeword c == grid value c-offset) over integer-quantized vectors:
    encoding is then lossless and the ADC sum equals exact squared L2,
    so the ADC arithmetic itself is SQL-checkable (similarity_ann_pq_exact)."""
    from ..functions.text_arrow import pq_codes_arrow, pq_lut_arrow

    if books is None:
        books = pq_train(
            corpus, m=m, ksub=ksub, iters=iters, id_col=id_col, vec_col=vec_col
        )
    m = len(books)
    codes = pq_codes_arrow(corpus, books, id_col, vec_col).select(
        F.col(id_col).alias("cand_id"), "codes"
    )
    luts = pq_lut_arrow(probes, books, id_col, vec_col).select(
        F.col(id_col).alias("probe_id"), "lut"
    )
    adc = F.expr(
        f"aggregate(sequence(0, {m - 1}), 0D, "
        "(acc, j) -> acc + element_at(element_at(lut, j + 1), codes[j] + 1))"
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("adc_raw").asc(), F.col("cand_id"))
    return (
        codes.crossJoin(F.broadcast(luts))
        .filter(F.col("cand_id") != F.col("probe_id"))
        .withColumn("adc_raw", adc)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "probe_id", "cand_id", "rank", F.round("adc_raw", 6).alias("adc_dist")
        )
    )


# ---------------------------------------------------------------------------
# Value-oracled k-means: Lloyd's algorithm made associative-exact (the
# graph_pagerank / embedding_pca treatment applied to clustering). Input
# coordinates integer-quantize (round(x*16)); centroids live at a fixed
# x256 sub-grid and update by the EXACT integer rounding
# c_i = floor((512*s_i + n) / (2n)) = round-half-up(256 * mean), so every
# assignment distance is a bigint sum of squares — no float ever enters
# the recurrence and both engines agree bit-for-bit at every iteration.


def _centroid_dist_expr(c: list[int], dim: int) -> str:
    """Exact bigint squared distance of the x256 quantized row grid to one
    literal centroid — the shared scoring fold of the exact-kmeans family."""
    return " + ".join(
        f"(cast(qv[{i}] as bigint)*256 - ({c[i]})) * "
        f"(cast(qv[{i}] as bigint)*256 - ({c[i]}))"
        for i in range(dim)
    )


def _int_assign_np(qv_np, cents_np):
    """Vectorized exact-integer argmin assignment: int64 throughout, ties
    to the lower cid (np.argmin returns the FIRST minimum). Algebraically
    identical to ``_centroid_dist_expr``'s per-term fold — every product
    and partial sum is an exact int64 (|256*qv| <= 4096-ish, so x·x, x·c,
    c·c are all << 2^63). Returns (cid int64 (n,), dmin int64 (n,))."""
    import numpy as np

    x = 256 * qv_np.astype(np.int64)                       # (n, dim)
    xx = (x * x).sum(axis=1)                               # (n,)
    cc = (cents_np * cents_np).sum(axis=1)                 # (k,)
    d = xx[:, None] - 2 * (x @ cents_np.T) + cc[None, :]   # (n, k) exact
    cid = np.argmin(d, axis=1)
    return cid, d[np.arange(len(cid)), cid]


def _int_assign_stats_arrow(
    q: DataFrame, cents: list[list[int]], dim: int, mode: str
) -> DataFrame:
    """One Arrow pass computing the exact-kmeans family's per-batch
    PARTIALS instead of k literal-centroid codegen folds per row.

    The literal-expression form compiled a fresh k*dim-term Janino method
    every iteration (centroid literals change each sync, so the codegen
    cache never hits — measured: the similarity trainers' wall time was
    ~3x their stage time, all driver-side compilation). Here the
    centroids ride the function closure — the PLAN is iteration-invariant
    — and the arithmetic is numpy int64, bit-identical to the SQL fold
    (see _int_assign_np). Per batch the pass emits at most k slim rows:

    - mode='train': (cid, n, s array<long>) — counts + per-dim qv sums;
    - mode='final': (cid, n, inertia) — counts + exact total distance;
    - mode='rows':  (_id, qv, cid) — per-row assignment (the inverted-
      index build; qv rides back out because the consumer needs it).
    """
    import numpy as np

    cents_np = np.asarray(cents, dtype=np.int64)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            qv = np.asarray([np.asarray(v, dtype=np.int64) for v in pdf["qv"]])
            cid, dm = _int_assign_np(qv, cents_np)
            if mode == "rows":
                out = pdf.copy()
                out["cid"] = cid.astype("int32")
                yield out
                continue
            rows = {"cid": [], "n": []}
            extra = "s" if mode == "train" else "inertia"
            rows[extra] = []
            for c in np.unique(cid):
                sel = cid == c
                rows["cid"].append(int(c))
                rows["n"].append(int(sel.sum()))
                if mode == "train":
                    rows["s"].append(qv[sel].sum(axis=0).tolist())  # exact int64
                else:
                    rows["inertia"].append(int(dm[sel].sum()))      # exact int64
            yield pd.DataFrame(rows)

    if mode == "rows":
        return q.mapInPandas(run, "_id long, qv array<int>, cid int")
    if mode == "train":
        return q.select("qv").mapInPandas(run, "cid int, n long, s array<long>")
    return q.select("qv").mapInPandas(run, "cid int, n long, inertia long")


def _kmeans_train_centroids(q: DataFrame, k: int, iters: int, dim: int) -> list[list[int]]:
    """The exact-integer Lloyd loop over a pre-quantized (_id, qv) frame:
    init = the k lowest-id vectors, update = floor((512s+n)/(2n)) on the
    x256 sub-grid, one k-row driver sync per iteration. A cluster that
    empties keeps its stale centroid (the SQL oracle carries it forward
    identically). Returns the trained centroid grid."""
    init = q.filter(F.col("_id") < k).orderBy("_id").collect()
    ids = [int(r["_id"]) for r in init]
    if ids != list(range(k)):
        # The init contract (shared with the SQL oracle's cent0 CTE) is
        # ids 0..k-1 present exactly once. Duplicated or missing ids used
        # to be silently masked by slicing argmin to the first k distance
        # columns — fail loudly instead.
        raise ValueError(f"kmeans init expects unique ids 0..{k - 1}; got {ids}")
    cents = [[256 * int(r["qv"][i]) for i in range(dim)] for r in init]
    for _ in range(iters):
        # Arrow partials instead of k literal codegen folds per row: the
        # per-iteration centroid literals used to force a fresh Janino
        # compile every sync; the Arrow pass keeps the plan shape
        # iteration-invariant and the integer sums exact (guide §4.2).
        stats = (
            _int_assign_stats_arrow(q, cents, dim, "train")
            .groupBy("cid")
            .agg(
                F.sum("n").alias("_n"),
                *[F.sum(F.col("s")[i]).alias(f"_s{i}") for i in range(dim)],
            )
            .collect()
        )
        for r in stats:
            n = int(r["_n"])
            cents[r["cid"]] = [
                (512 * int(r[f"_s{i}"]) + n) // (2 * n) for i in range(dim)
            ]
    return cents


def kmeans_exact(
    df: DataFrame,
    k: int = 4,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-arithmetic Lloyd k-means over integer-quantized vectors.
    Init: the k lowest-id vectors (deterministic). Assignment: argmin of
    sum_i (256*q_i - c_i)^2 with ties to the lower cluster id; centroids
    are literal ints unrolled into per-cluster codegen'd expressions, so
    the scan does k bigint folds per row — zero joins, zero shuffle for
    scoring (the IVF literal-centroid pattern). Update: one groupBy
    producing dim sums + count, k rows collected per iteration (the same
    bounded driver sync as ivf_train/pq_train, k*dim ints).

    Output: (cid, n, inertia, centroid_md5) per cluster — sizes, exact
    integer inertia at the final assignment, and a digest of the final
    centroid grid so the whole trajectory is hash-checkable."""
    q = df.select(
        F.col(id_col).alias("_id"),
        F.expr(f"transform({vec_col}, x -> cast(round(x * 16) as int))").alias("qv"),
    ).persist()
    cents = _kmeans_train_centroids(q, k, iters, dim)

    # final sizes/inertia via the same Arrow partials as training (exact
    # int64 sums; count/sum over partials == count/sum over rows)
    final = _int_assign_stats_arrow(q, cents, dim, "final")
    digests = {
        c_idx: " ".join(str(x) for x in c) for c_idx, c in enumerate(cents)
    }
    digest_col = F.lit(None)
    for c_idx in reversed(range(k)):
        digest_col = F.when(F.col("cid") == c_idx, F.md5(F.lit(digests[c_idx]))).otherwise(
            digest_col
        )
    q.unpersist()  # the final action re-reads the (trivial) quantize scan
    return (
        final.groupBy("cid")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("inertia").cast("bigint").alias("inertia"),
        )
        .withColumn("centroid_md5", digest_col)
        .select("cid", "n", "inertia", "centroid_md5")
    )


def kmeans_oracle_sql(
    k: int = 4, iters: int = 2, dim: int = 64, table: str = "embeddings"
) -> str:
    """DuckDB rendering of ``kmeans_exact`` — the iterations unroll as
    chained CTEs (assign_t -> cent_t), centroids as (cid, arr) relations,
    every distance the same bigint sum of squares, the centroid update
    the same exact integer floor((512*s + n) / (2n)). Because nothing in
    the recurrence is a float, the oracle hash-checks every iteration of
    the clustering bit-for-bit."""
    dist = (
        "list_sum([ (256*CAST(q.qv[i] AS BIGINT) - c.arr[i])"
        " * (256*CAST(q.qv[i] AS BIGINT) - c.arr[i])"
        f" FOR i IN range(1, {dim + 1}) ])"
    )
    parts = [
        f"""
    WITH q AS (
        SELECT vec_id AS id,
               [CAST(round(x * 16) AS INTEGER) FOR x IN embedding] AS qv
        FROM {table}
    ),
    cent0 AS (
        SELECT CAST(id AS INTEGER) AS cid,
               [256 * CAST(v AS BIGINT) FOR v IN qv] AS arr
        FROM q WHERE id < {k}
    )"""
    ]
    prev = "cent0"
    for t in range(1, iters + 1):
        parts.append(
            f""",
    assign{t} AS (
        SELECT id, qv, cid FROM (
            SELECT q.id, q.qv, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY q.id
                                      ORDER BY {dist} ASC, c.cid ASC) AS rn
            FROM q CROSS JOIN {prev} c
        ) WHERE rn = 1
    ),
    cent{t} AS (
        -- carry-forward join: a cluster that received NO assignments this
        -- iteration keeps its previous centroid (exactly what the Spark
        -- loop does when stats has no row for that cid) instead of
        -- silently vanishing from the candidate set.
        SELECT p.cid, COALESCE(u{t}.arr, p.arr) AS arr
        FROM {prev} p LEFT JOIN (
            SELECT cid,
                   -- floor, not DuckDB's truncating // : Python's (512s+n)//(2n)
                   -- floors, and negative sums occur. The double division is
                   -- exact-safe: both ints are < 2^53 and any non-integer true
                   -- quotient sits >= 1/(2n) away from an integer.
                   list(CAST(floor((512 * s + n) / (2.0 * n)) AS BIGINT) ORDER BY i) AS arr
            FROM (
                SELECT cid, i, CAST(SUM(qv[i]) AS BIGINT) AS s,
                       CAST(COUNT(*) AS BIGINT) AS n
                FROM assign{t}, UNNEST(range(1, {dim + 1})) AS u(i)
                GROUP BY cid, i
            ) GROUP BY cid
        ) u{t} ON u{t}.cid = p.cid
    )"""
        )
        prev = f"cent{t}"
    parts.append(
        f""",
    final AS (
        SELECT id, cid, d FROM (
            SELECT q.id, c.cid, {dist} AS d,
                   ROW_NUMBER() OVER (PARTITION BY q.id
                                      ORDER BY {dist} ASC, c.cid ASC) AS rn
            FROM q CROSS JOIN {prev} c
        ) WHERE rn = 1
    )
    SELECT f.cid,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(f.d) AS BIGINT) AS inertia,
           ANY_VALUE(md5(array_to_string(c.arr, ' '))) AS centroid_md5
    FROM final f JOIN {prev} c ON c.cid = f.cid
    GROUP BY f.cid"""
    )
    return "".join(parts)


def ivf_incremental_add(
    old: DataFrame,
    new: DataFrame,
    k: int = 4,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF index MAINTENANCE: vectors arriving after the index was built
    are assigned to the EXISTING centroids — the add path every vector
    store runs between (re)trains, because retraining per ingest batch is
    both wasteful and churns at-rest `partitionBy(cid)` layouts that
    probes prune against. Training is the exact-integer Lloyd loop
    (kmeans_exact's recurrence, so the whole operation carries a value
    oracle); assignment of the new batch is k literal-centroid codegen
    folds per row — zero join, zero shuffle, and old list files are never
    rewritten (append-only per list, the songplays discipline applied to
    the ANN index).

    Output: one row per cluster — (cid, n_old, n_new, centroid_md5) —
    the index manifest after the add. Quality note: centroids drift as
    the corpus grows; the manifest's n_new/n_old ratio is exactly the
    retrain trigger a production deployment monitors."""

    def quantize(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("_id"),
            F.expr(f"transform({vec_col}, x -> cast(round(x * 16) as int))").alias("qv"),
        )

    q_old = quantize(old).persist()
    cents = _kmeans_train_centroids(q_old, k, iters, dim)
    # Arrow per-batch count partials (see _int_assign_stats_arrow): the
    # literal-centroid folds forced a fresh Janino compile per call.
    n_old = (
        _int_assign_stats_arrow(q_old, cents, dim, "final")
        .groupBy("cid")
        .agg(F.sum("n").alias("n_old"))
    )
    q_old.unpersist()
    n_new = (
        _int_assign_stats_arrow(quantize(new), cents, dim, "final")
        .groupBy("cid")
        .agg(F.sum("n").alias("n_new"))
    )
    digests = {c_idx: " ".join(str(x) for x in c) for c_idx, c in enumerate(cents)}
    digest_col = F.lit(None)
    for c_idx in reversed(range(k)):
        digest_col = F.when(F.col("cid") == c_idx, F.md5(F.lit(digests[c_idx]))).otherwise(
            digest_col
        )
    return (
        n_old.join(n_new, "cid", "full")
        .select(
            "cid",
            F.coalesce("n_old", F.lit(0)).cast("bigint").alias("n_old"),
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
        )
        .withColumn("centroid_md5", digest_col)
    )


def ivf_incremental_oracle_sql(
    k: int = 4, iters: int = 2, dim: int = 64, table: str = "embeddings", mod: int = 5
) -> str:
    """DuckDB rendering of ``ivf_incremental_add`` over the fixture split
    old = vec_id % mod <> mod-1, new = vec_id % mod = mod-1: the same
    unrolled exact-integer training CTEs as kmeans_oracle_sql (with the
    empty-cluster carry-forward), then BOTH populations assigned against
    the final centroids and counted per cluster."""
    dist = (
        "list_sum([ (256*CAST(q.qv[i] AS BIGINT) - c.arr[i])"
        " * (256*CAST(q.qv[i] AS BIGINT) - c.arr[i])"
        f" FOR i IN range(1, {dim + 1}) ])"
    )
    parts = [
        f"""
    WITH qa AS (
        SELECT vec_id AS id,
               [CAST(round(x * 16) AS INTEGER) FOR x IN embedding] AS qv,
               (vec_id % {mod} = {mod - 1}) AS is_new
        FROM {table}
    ),
    q AS (SELECT id, qv FROM qa WHERE NOT is_new),
    cent0 AS (
        SELECT CAST(id AS INTEGER) AS cid,
               [256 * CAST(v AS BIGINT) FOR v IN qv] AS arr
        FROM q WHERE id < {k}
    )"""
    ]
    prev = "cent0"
    for t in range(1, iters + 1):
        parts.append(
            f""",
    assign{t} AS (
        SELECT id, qv, cid FROM (
            SELECT q.id, q.qv, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY q.id
                                      ORDER BY {dist} ASC, c.cid ASC) AS rn
            FROM q CROSS JOIN {prev} c
        ) WHERE rn = 1
    ),
    cent{t} AS (
        SELECT p.cid, COALESCE(u{t}.arr, p.arr) AS arr
        FROM {prev} p LEFT JOIN (
            SELECT cid,
                   list(CAST(floor((512 * s + n) / (2.0 * n)) AS BIGINT) ORDER BY i) AS arr
            FROM (
                SELECT cid, i, CAST(SUM(qv[i]) AS BIGINT) AS s,
                       CAST(COUNT(*) AS BIGINT) AS n
                FROM assign{t}, UNNEST(range(1, {dim + 1})) AS u(i)
                GROUP BY cid, i
            ) GROUP BY cid
        ) u{t} ON u{t}.cid = p.cid
    )"""
        )
        prev = f"cent{t}"
    parts.append(
        f""",
    final AS (
        SELECT id, is_new, cid FROM (
            SELECT q.id, q.is_new, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY q.id
                                      ORDER BY {dist} ASC, c.cid ASC) AS rn
            FROM qa q CROSS JOIN {prev} c
        ) WHERE rn = 1
    )
    SELECT f.cid,
           CAST(SUM(CASE WHEN f.is_new THEN 0 ELSE 1 END) AS BIGINT) AS n_old,
           CAST(SUM(CASE WHEN f.is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
           ANY_VALUE(md5(array_to_string(c.arr, ' '))) AS centroid_md5
    FROM final f JOIN {prev} c ON c.cid = f.cid
    GROUP BY f.cid"""
    )
    return "".join(parts)


def ivfpq_topk(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    nlist: int = 4,
    nprobe: int = 2,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ composed search (Jegou et al. 2011, the production ANN
    layout): an exact-integer coarse quantizer (the kmeans_exact
    trainer) routes each probe to its ``nprobe`` nearest inverted
    lists, and only those lists are scanned with the ADC distance in
    its provably-exact identity configuration (integer-quantized
    coordinates, dsub=1 grid codebook — the similarity_ann_pq_exact
    treatment), so the PRUNED search is still fully value-oracled:
    routing, list membership, and every scored distance are integers.

    Scale shape: training is nlist-row driver syncs (ivf_train's
    budget); corpus assignment is nlist codegen folds per row with zero
    join; at 100 TB the corpus is written partitioned by list id so a
    probe's scan is partition-pruned to nprobe/nlist of the data, and
    scoring shuffles only the routed (probe x list) pairs, never
    all-pairs. The trained float variant of the same composition is
    ivf_topk + pq_topk (rows-only)."""
    quant = F.expr(f"transform({vec_col}, x -> cast(round(x * 16) as int))")
    q = corpus.select(F.col(id_col).alias("_id"), quant.alias("qv")).persist()
    cents = _kmeans_train_centroids(q, nlist, iters, dim)
    # Materialize the inverted index (this IS the index build — at rest
    # it's the partitioned-by-cid table). Assignment is the Arrow exact-
    # integer pass (_int_assign_stats_arrow 'rows' mode) — the former
    # unrolled argmin folds both blew whole-stage codegen past the JVM's
    # 64 KB method limit when fused downstream AND recompiled per call
    # because the centroid literals differ per training run.
    assigned = (
        _int_assign_stats_arrow(q, cents, dim, "rows")
        .select(F.col("_id").alias("cand_id"), F.col("qv").alias("cqv"), "cid")
        .localCheckpoint(eager=True)
    )
    pq_ = probes.select(F.col(id_col).alias("probe_id"), quant.alias("qv"))
    for c_idx, c in enumerate(cents):
        pq_ = pq_.withColumn(f"_d{c_idx}", F.expr(_centroid_dist_expr(c, dim)))
    lists = F.slice(
        F.array_sort(
            F.array(
                *[
                    F.struct(
                        F.col(f"_d{c_idx}").alias("d"), F.lit(c_idx).alias("cid")
                    )
                    for c_idx in range(nlist)
                ]
            )
        ),
        1,
        nprobe,
    )
    routed = (
        pq_.withColumn("_l", F.explode(lists))
        .select(
            "probe_id",
            F.col("qv").alias("pqv"),
            F.col("_l.cid").alias("cid"),
        )
    )
    adc = F.expr(
        "aggregate(zip_with(pqv, cqv, (a, b) ->"
        " (cast(a as bigint) - b) * (cast(a as bigint) - b)),"
        " cast(0 as bigint), (acc, x) -> acc + x)"
    )
    cand = (
        F.broadcast(routed)
        .join(assigned, "cid")
        .filter(F.col("cand_id") != F.col("probe_id"))
        .select("probe_id", "cand_id", adc.alias("d"))
    )
    from pyspark.sql.window import Window

    ranked = cand.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("probe_id").orderBy(F.col("d").asc(), F.col("cand_id"))
        ),
    ).filter(F.col("rank") <= k)
    out = ranked.select(
        "probe_id",
        "cand_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("d").cast("double").alias("adc_dist"),
    )
    q.unpersist()
    return out


def ivfpq_oracle_sql(
    k: int = 10,
    nlist: int = 4,
    nprobe: int = 2,
    iters: int = 2,
    dim: int = 64,
    n_probes: int = 5,
    table: str = "embeddings",
) -> str:
    """DuckDB rendering of ``ivfpq_topk``: the kmeans_oracle_sql training
    CTEs verbatim, then routing (top-nprobe lists per probe by the same
    x256 integer distance), corpus assignment, and the exact ADC scan of
    the routed lists only — the oracle restates the PRUNING, not a
    brute-force equivalent, so the hash checks IVF's approximation
    faithfully."""
    dist = (
        "list_sum([ (256*CAST(q.qv[i] AS BIGINT) - c.arr[i])"
        " * (256*CAST(q.qv[i] AS BIGINT) - c.arr[i])"
        f" FOR i IN range(1, {dim + 1}) ])"
    )
    parts = [
        f"""
    WITH q AS (
        SELECT vec_id AS id,
               [CAST(round(x * 16) AS INTEGER) FOR x IN embedding] AS qv
        FROM {table}
    ),
    cent0 AS (
        SELECT CAST(id AS INTEGER) AS cid,
               [256 * CAST(v AS BIGINT) FOR v IN qv] AS arr
        FROM q WHERE id < {nlist}
    )"""
    ]
    prev = "cent0"
    for t in range(1, iters + 1):
        parts.append(
            f""",
    assign{t} AS (
        SELECT id, qv, cid FROM (
            SELECT q.id, q.qv, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY q.id
                                      ORDER BY {dist} ASC, c.cid ASC) AS rn
            FROM q CROSS JOIN {prev} c
        ) WHERE rn = 1
    ),
    cent{t} AS (
        SELECT p.cid, COALESCE(u{t}.arr, p.arr) AS arr
        FROM {prev} p LEFT JOIN (
            SELECT cid,
                   list(CAST(floor((512 * s + n) / (2.0 * n)) AS BIGINT) ORDER BY i) AS arr
            FROM (
                SELECT cid, i, CAST(SUM(qv[i]) AS BIGINT) AS s,
                       CAST(COUNT(*) AS BIGINT) AS n
                FROM assign{t}, UNNEST(range(1, {dim + 1})) AS u(i)
                GROUP BY cid, i
            ) GROUP BY cid
        ) u{t} ON u{t}.cid = p.cid
    )"""
        )
        prev = f"cent{t}"
    parts.append(
        f""",
    route AS (
        SELECT id AS probe_id, cid FROM (
            SELECT q.id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY q.id
                                      ORDER BY {dist} ASC, c.cid ASC) AS rn
            FROM q CROSS JOIN {prev} c
            WHERE q.id < {n_probes}
        ) WHERE rn <= {nprobe}
    ),
    assign AS (
        SELECT id, qv, cid FROM (
            SELECT q.id, q.qv, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY q.id
                                      ORDER BY {dist} ASC, c.cid ASC) AS rn
            FROM q CROSS JOIN {prev} c
        ) WHERE rn = 1
    ),
    cand AS (
        SELECT r.probe_id, a.id AS cand_id,
               list_sum([ (CAST(p.qv[i] AS BIGINT) - a.qv[i])
                          * (CAST(p.qv[i] AS BIGINT) - a.qv[i])
                          FOR i IN range(1, {dim + 1}) ]) AS d
        FROM route r
        JOIN assign a ON a.cid = r.cid AND a.id <> r.probe_id
        JOIN q p ON p.id = r.probe_id
    )
    SELECT probe_id, cand_id, CAST(rank AS INTEGER) AS rank,
           CAST(d AS DOUBLE) AS adc_dist
    FROM (
        SELECT probe_id, cand_id, d,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY d ASC, cand_id) AS rank
        FROM cand
    )
    WHERE rank <= {k}"""
    )
    return "".join(parts)
