"""Iterative graph operators on edge-list DataFrames.

PageRank here is the classic damped power iteration,
    r_{t+1}(v) = (1-d)/N + d * sum_{u->v} r_t(u)/outdeg(u),
run for a FIXED number of iterations (dangling mass is dropped, as in the
original Page et al. formulation) — fixed iterations make the result exact
and engine-independent, so the DuckDB oracle can unroll the same recurrence
as chained CTEs and the driver can hash-compare values.

Scale shape (per iteration): one shuffle to join ranks onto edges by src
(both sides hash-partitioned on the node key, so a pre-partitioned edge
list reuses its exchange), one shuffle for the groupBy(dst) contribution
sum with map-side partial aggregation. Ranks and degrees are |V| rows —
small relative to |E| — and N is a broadcast single-row aggregate, never a
driver ``collect()``. The relations every round reads (edges, out-degrees,
nodes) are cut once through ``plans.lineage.cut``; the rank plan then grows
by one join per round, since each round reads the previous ranks once.
``label_propagation``, ``kcore_peel`` and ``hits_scores`` also cut their
per-round state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.lineage import cut

# HITS micro-unit grid: scores are integers in units of 1/HITS_SCALE.
HITS_SCALE = 1_000_000

def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    teleport: float = 0.15,
    dedupe_edges: bool = True,
) -> DataFrame:
    """Damped PageRank over distinct directed (src, dst) edges; returns
    (node, r).

    Arithmetic is ordered exactly as the oracle SQL writes it —
    ``teleport/n + d * coalesce(s, 0.0)`` with contributions ``r/outdeg`` —
    so both engines run the same IEEE double op sequence per term.
    ``teleport`` is a separate literal rather than computed ``1 - damping``
    because the oracle's decimal literal CAST(0.15 AS DOUBLE) is the
    double nearest 0.15, which python's ``1.0 - 0.85`` is NOT (it yields
    0.15000000000000002 — one ulp off, enough to fail a value-hash).
    """
    # The edge list and node set are referenced by EVERY iteration; without
    # materialization Spark re-executes the upstream join (+distinct) once
    # per reference (~10x for 3 iterations — measured 5.7s vs 1.4s for the
    # materialized adjacency at sf0.1). The cut truncates lineage and
    # pins the result — the Spark analog of materializing the adjacency
    # list before a power iteration.
    # dedupe_edges=False runs the multigraph variant (parallel edges each
    # carry a contribution — "endorsement-frequency" weighting) and skips
    # the distinct shuffle entirely.
    e = edges.select("src", "dst")
    if dedupe_edges:
        e = e.distinct()
    e = cut(e, eager=False)
    outdeg = cut(
        e.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("double").alias("outdeg")),
        eager=False,
    )
    nodes = cut(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct(),
        eager=False,
    )
    n_row = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))

    ranks = nodes.crossJoin(F.broadcast(n_row)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(iters):
        # r/outdeg materializes on the |V|-row side BEFORE touching edges:
        # the edge join then broadcasts a tiny (node, w) relation (AQE
        # picks BHJ) and the only |E|-sized work is the map-side-combined
        # groupBy(dst).
        w_rank = ranks.join(outdeg, "node").select(
            F.col("node").alias("w_src"), (F.col("r") / F.col("outdeg")).alias("w")
        )
        contrib = e.join(w_rank, e["src"] == w_rank["w_src"]).select(
            F.col("dst").alias("node"), "w"
        )
        summed = contrib.groupBy("node").agg(F.sum("w").alias("s"))
        ranks = (
            nodes.join(summed, "node", "left")
            .crossJoin(F.broadcast(n_row))
            .select(
                "node",
                (
                    F.lit(teleport) / F.col("n")
                    + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return ranks


def label_propagation(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over a
    SYMMETRIC edge list; returns (node, label) after ``iters`` rounds.

    label_0(v) = v; each round every node adopts the most frequent label
    among its neighbors, ties broken by the SMALLEST label id — the
    deterministic synchronous variant, so a fixed iteration count yields
    an engine-independent integer result the DuckDB oracle can unroll as
    chained CTEs (the pagerank treatment applied to community detection).

    Scale shape per round: one equi-join of the |V|-row label relation
    onto the checkpointed edges (labels are the small side — AQE
    broadcasts them when they fit), one map-side-combined
    groupBy(dst, label) vote count, one per-node window over the vote
    relation (bounded by distinct neighbor labels per node). Labels are
    checkpointed each round so lineage never accretes.
    """
    e = cut(edges.select("src", "dst"), eager=False)
    labels = e.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    from pyspark.sql.window import Window

    for _ in range(iters):
        votes = (
            e.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("label"))
        labels = cut(
            votes.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("node", "label"),
            eager=False,
        )
    return labels


def kcore_peel(edges: DataFrame, k: int = 3, rounds: int = 3) -> DataFrame:
    """Bounded k-core peeling: ``rounds`` synchronous rounds of "drop
    every node with degree < k, then drop its edges" over a SYMMETRIC
    edge list; returns surviving (node, deg) after the last round.

    A FIXED round count (not iterate-to-fixpoint) keeps the result an
    exact, engine-independent function of the input — the pagerank/LPA
    treatment — and in practice bounded peeling is how distributed
    k-core runs anyway (each round is a full shuffle; production systems
    cap rounds and accept the supergraph of the true core, which this
    returns: true k-core ⊆ every round's survivor set).

    Scale shape per round: one map-side-combined degree count (|V| rows)
    and one semi-join of edges against surviving nodes on EACH endpoint
    — equi-joins only, the degree relation broadcasts while it fits.
    Edges are checkpointed per round so lineage stays flat."""
    e = cut(edges.select("src", "dst"), eager=False)
    for _ in range(rounds):
        deg = e.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        e = cut(
            e.join(keep.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("node", "dst"), "dst", "left_semi")
            .select("src", "dst"),
            eager=False,
        )
    return e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )


def hits_scores(edges: DataFrame, iters: int = 2) -> tuple[DataFrame, DataFrame]:
    """HITS hubs/authorities (Kleinberg 1999) over (src, dst) edges, made
    associative-EXACT: scores live on an integer micro-unit grid
    (``HITS_SCALE`` = 1e6) and every iteration max-normalizes by the exact
    half-away integer division (2*v*scale + m) div (2*m) — no float
    enters the recurrence, so both engines agree bit-for-bit at every
    step (the pagerank/kmeans treatment applied to the two-sided
    eigenvector pair).

    Returns (hubs, authorities): (node, h) over source nodes and
    (node, a) over destination nodes, both in micro-units.

    Scale shape: per iteration, one broadcast-size score join onto the
    checkpointed edge list and one map-side-combined groupBy per side,
    plus a 1-value max reduce. The normalization's 2*raw*scale product
    runs in DECIMAL(38,0)/HUGEINT (in int64 it wraps at node degree
    > 4.6e6 — a real hub at corpus scale); raw itself stays int64 to
    ~9e12 edge-contributions per node, stated here as the remaining
    bound."""
    if iters < 1:
        raise ValueError(f"hits_scores needs iters >= 1, got {iters}")
    e = cut(edges.select("src", "dst"))
    if e.isEmpty():
        raise ValueError(
            "hits_scores needs a non-empty edge set (max-normalization is "
            "undefined on zero edges)"
        )
    h = cut(
        e.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("h", F.lit(HITS_SCALE).cast("bigint")),
        eager=False,
    )
    a = None
    for _ in range(iters):
        ar = (
            e.join(h.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("h").cast("bigint").alias("raw"))
        )
        am = ar.agg(F.max("raw").alias("m"))
        a = cut(
            ar.crossJoin(F.broadcast(am))
            .select(
                "dst",
                F.expr(
                    f"(2 * CAST(raw AS DECIMAL(38,0)) * {HITS_SCALE} + m)"
                    f" div (2 * CAST(m AS DECIMAL(38,0)))"
                )
                .cast("bigint")
                .alias("a"),
            ),
            eager=False,
        )
        hr = (
            e.join(a, "dst")
            .groupBy("src")
            .agg(F.sum("a").cast("bigint").alias("raw"))
        )
        hm = hr.agg(F.max("raw").alias("m"))
        h = cut(
            hr.crossJoin(F.broadcast(hm))
            .select(
                F.col("src").alias("node"),
                F.expr(
                    f"(2 * CAST(raw AS DECIMAL(38,0)) * {HITS_SCALE} + m)"
                    f" div (2 * CAST(m AS DECIMAL(38,0)))"
                )
                .cast("bigint")
                .alias("h"),
            ),
            eager=False,
        )
    return h, a.withColumnRenamed("dst", "node")
