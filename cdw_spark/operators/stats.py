"""Distributed exact order statistics on a fixed log grid.

Every kernel here routes each value to a cell of ``_log_grid_cell``: a
pure monotone function of the value (ties share a cell by construction),
so no pass over the data is needed to build the grid, and (cell, value)
order IS value order. Cells only decide WHERE a sort runs, never which
values come out.

``banded_exact_median`` — exact per-group median. Per-group counts per
cell (map-side combined, bounded by |groups| x the data's magnitude
span) locate the cell(s) holding the middle rank(s) and the exact
rows-below-band count; only the band cells' rows then sort. The naive
exact median either materializes every group value in one object-agg
buffer (``percentile()`` — Java-heap OOM at ~10M values on a default
1 GiB session) or funnels each group through a single-task window sort.

``two_level_cumsum`` — exact running sums under a value order without a
single-partition sort: within-cell windows run in parallel, and
per-cell totals turn into offsets (and group totals) through a window
over the bounded cell relation.

``value_ranks`` — the distinct-value form every rank, quantile and
running-sum query needs: collapse to distinct values with weight sums,
then ``two_level_cumsum`` over the collapsed relation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _log_grid_cell(vd: Column) -> Column:
    """FIXED log-grid cell id over a DOUBLE column — a pure monotone
    function of the value (ties share a cell by construction), needing NO
    data pass to build: floor(log2(1 + |v|) * 1024), sign-mirrored below
    zero, NaN routed to a top sentinel (NaN orders above every double in
    Spark), NULL to a bottom sentinel (NULL orders first under ASC) and
    +/-Inf clamped to the edge cells — no ANSI cast errors.

    Monotone by construction: 1+|v| is exact-monotone, java log is
    semi-monotonic, *1024 is an exact power-of-two scale, floor is
    monotone. 1024 cells per octave: values within a 0.07%-relative-width
    slice share a cell; the occupied cell count is bounded by the data's
    magnitude SPAN (a 3-decade span is ~10 octaves = ~10k cells), never
    by row count."""
    mag = F.floor(F.least(F.log2(F.lit(1.0) + F.abs(vd)) * F.lit(1024.0), F.lit(2.0e6)))
    return (
        F.when(vd.isNull(), F.lit(-3_000_000))
        .when(F.isnan(vd), F.lit(3_000_000))
        .when(vd >= 0, mag)
        .otherwise(F.lit(-1) - mag)
    ).cast("long")


def banded_exact_median(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    out_col: str = "median",
) -> DataFrame:
    """Exact per-group median of ``value_col`` -> key_cols + (n, median).
    NULL values are ignored, as in SQL's median.

    Pass 1: per-group COUNT PER CELL (``_log_grid_cell``) — map-side
        combined, output bounded by |groups| x the data's magnitude
        span, never by row count. Because the grid is value-independent
        there is NO bounds pass and NO data-sized join of per-group
        stats back onto the rows.
    The per-group cell cumsum (a window over the bounded cell relation)
    locates the cell(s) holding the middle rank(s) and yields the
    rows-below-band count EXACTLY — no second data-sized counting pass.
    Pass 2: ONLY the band cells' rows sort in the per-group window;
    global rank = exact cells-below count + within-band rank, and the
    median is the average of the one or two middle ranks — the explicit
    midpoint formula both engines can state identically (sidestepping
    quantile_cont's lo+(hi-lo)*f vs (lo+hi)/2 last-ulp gap).

    A value-clustered distribution can concentrate rows in one 0.07%-
    relative-width cell — that only widens the pass-2 sort (correctness
    unaffected)."""
    v = F.col(value_col)
    # _v stays in its NATIVE type (ordering, ties and the final avg);
    # only the grid math runs on the double shadow column — the double
    # cast is order-preserving, so (cell, _v) lexicographic order IS the
    # _v order.
    src = df.filter(v.isNotNull()).select(
        *key_cols, v.alias("_v"), v.cast("double").alias("_vd")
    )
    # The cell id is a function of the value alone, so no per-group
    # bounds are joined back onto the data (downstream of a
    # localCheckpoint Catalyst's size estimate defaults to "huge", and
    # such a join degrades to a full sort-merge join of the data).
    jc = src.withColumn("_ck", _log_grid_cell(F.col("_vd"))).drop("_vd")
    cells = jc.groupBy(*key_cols, "_ck").agg(F.count(F.lit(1)).alias("_cc"))
    wcum = (
        Window.partitionBy(*key_cols)
        .orderBy("_ck")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*key_cols)
    cum = (
        cells.withColumn("_cum", F.sum("_cc").over(wcum))
        .withColumn("_below", F.col("_cum") - F.col("_cc"))
        .withColumn("_n", F.sum("_cc").over(wall))
    )
    # Band = cells holding the middle rank(s) (n+1) div 2 / (n+2) div 2:
    # a cell's ranks are (_below, _cum], so it intersects the middle pair
    # iff _cum >= r1 and _below < r2. At most TWO rows per group by
    # construction — bounded, so the broadcast is FORCED (1M groups is
    # ~50 MB), never a data-sized shuffle.
    band = cum.filter(
        (F.col("_cum") >= F.expr("(_n + 1) div 2"))
        & (F.col("_below") < F.expr("(_n + 2) div 2"))
    ).select(*key_cols, "_ck", "_below", "_n")
    ranked = (
        jc.join(F.broadcast(band), [*key_cols, "_ck"])
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(*key_cols, "_ck").orderBy("_v")
            )
            + F.col("_below"),
        )
    )
    # NOTE: when the two middle ranks span two adjacent cells, each row's
    # rank is still global-exact (its own cell's _below offsets it).
    return (
        ranked.filter(
            (F.col("_rn") == F.expr("(_n + 1) div 2"))
            | (F.col("_rn") == F.expr("(_n + 2) div 2"))
        )
        .groupBy(*key_cols)
        .agg(
            F.first("_n").cast("bigint").alias("n"),
            F.avg("_v").alias(out_col),
        )
    )


def bucket_by_value(df: DataFrame, value_col: str) -> DataFrame:
    """Level 1 of the two-level prefix-sum: ``df`` plus a ``_bk`` column
    holding the value's ``_log_grid_cell`` (ties always share a bucket,
    and (bucket, value) order is value order), localCheckpoint'ed.
    Exposed separately so the skew tests can measure within-bucket row
    counts directly.

    The grid's balance comes from the values' spread in RELATIVE
    magnitude (1024 cells per octave). Distinct values clustered inside
    a ~0.1%-relative-width range (e.g. epoch timestamps spanning days)
    collapse to few cells and serialize the within-bucket sorts — speed
    only, never values."""
    j = df.withColumn("_bk", _log_grid_cell(F.col(value_col).cast("double")))
    # The cut: the bucketed relation feeds BOTH the within-bucket windows
    # and the bucket-totals aggregate, and without it the caller's
    # upstream lineage re-evaluates once per consumer — ruinous when
    # calls chain (three chained ranks = 3^3 upstream evals). Lazy: the
    # plan is truncated at once, and the RDD still computes exactly once
    # (block-level locking) under the caller's action, without a
    # blocking driver job per call.
    return j.localCheckpoint(eager=False)


def two_level_cumsum(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    tiebreak_cols: list[str],
    sum_cols: dict[str, str],
) -> DataFrame:
    """EXACT inclusive running sums under ``ORDER BY value_col,
    tiebreak_cols`` (per ``key_cols`` group, or globally when empty)
    WITHOUT a single-partition sort.

    Level 1: every row routes to its fixed log-grid cell
    (``bucket_by_value``). Ties always share a bucket and (bucket,
    value, tiebreaks) order IS the global order. Level 2: each ordered
    window runs inside its (group, bucket) partition in parallel;
    per-bucket totals (|groups| x occupied-cells rows, bounded by the
    values' magnitude span) turn into cumulative offsets and group
    totals via windows over that bounded relation, joined back (AQE
    converts the tiny side to a runtime broadcast), and
    ``running = offset + within-bucket running sum``.

    ``sum_cols`` maps output name -> existing numeric column to
    accumulate (pass a literal-1 column for a row_number-style rank).
    ``value_col`` is numeric and ascending (negate it for a descending
    order); a NULL value orders first, as in a plain ``ORDER BY value``
    window, and a NULL key is a group of its own. Returns ``df``'s
    columns plus each output's running sum and, for each summed column
    ``c``, its group total ``tot_c``.

    Skew: ties SHARE a bucket, so every copy of one repeated value sorts
    in ONE task, and a raw relation whose sort key is 90% one value
    funnels 90% of its rows into one sort. Rank, quantile and
    running-count queries therefore go through ``value_ranks``, which
    collapses to distinct values first. Call this directly only when
    the per-row order matters (``tiebreak_cols``) or the value is
    already unique per row. A salt-and-merge fallback is deliberately
    not offered: with ``tiebreak_cols`` the within-tie order is
    caller-visible, and without them per-row running sums on tied rows
    are order-dependent.
    """
    from ..plans.hints import broadcast_if_small

    j = bucket_by_value(df, value_col)
    srcs = list(dict.fromkeys(sum_cols.values()))

    wl = (
        Window.partitionBy(*key_cols, "_bk")
        .orderBy(value_col, *tiebreak_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    totals = j.groupBy(*key_cols, "_bk").agg(
        *[F.sum(c).alias(f"_bt_{c}") for c in srcs]
    )
    for out, src_col in sum_cols.items():
        j = j.withColumn(f"_loc_{out}", F.sum(src_col).over(wl))
    # bounded relation: |groups| x occupied cells (span-bounded, ~10-20k
    # cells for data spanning decades); the per-group windows sort that
    # bounded relation per task
    wo = (
        Window.partitionBy(*key_cols)
        .orderBy("_bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wg = Window.partitionBy(*key_cols)
    # the offsets side renames its keys so the join can match a NULL key
    # null-safely (a plain equi-join would drop that group's rows)
    okeys = [f"_ok{i}" for i in range(len(key_cols))]
    offsets = totals.select(
        *[F.col(k).alias(ok) for k, ok in zip(key_cols, okeys)],
        F.col("_bk").alias("_obk"),
        *[
            F.coalesce(F.sum(f"_bt_{c}").over(wo), F.lit(0)).alias(f"_off_{o}")
            for o, c in sum_cols.items()
        ],
        *[F.sum(f"_bt_{c}").over(wg).alias(f"tot_{c}") for c in srcs],
    )
    on = [F.col("_bk") == F.col("_obk")] + [
        F.col(k).eqNullSafe(F.col(ok)) for k, ok in zip(key_cols, okeys)
    ]
    out_df = j.join(broadcast_if_small(offsets), on)
    for out in sum_cols:
        out_df = out_df.withColumn(
            out, F.col(f"_off_{out}") + F.col(f"_loc_{out}")
        )
    drop = ["_bk", "_obk", *okeys]
    drop += [f"_loc_{o}" for o in sum_cols] + [f"_off_{o}" for o in sum_cols]
    return out_df.drop(*drop)


def value_ranks(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    weights: dict[str, Column],
) -> DataFrame:
    """Per distinct ``value_col`` (per ``key_cols`` group, or globally
    when empty): for each ``weights`` entry ``w -> column``, the sum of
    the column over the value's rows (``w``), its inclusive running sum
    in ascending value order (``cum_w``) and its group total
    (``tot_w``). Returns ``key_cols``, ``value_col`` and those columns.

    Ranks, quantiles and CDF steps all read off these: with ``c`` the
    row count, a value's rows hold ranks ``cum_c - c + 1 .. cum_c``
    (doubled tie-averaged rank ``2 * cum_c - c + 1``), and the smallest
    value with ``cum_c >= k`` is the k-th order statistic.

    The collapse to distinct values happens here, before the two-level
    prefix sum, so the within-bucket sorts stay bounded by the number of
    DISTINCT values however skewed the input (``two_level_cumsum``
    sorts every copy of a tie in one task). ``bucket_by_value``'s lazy
    cut is the only cut; group totals come from the bounded per-bucket
    totals, so the distinct-value relation is aggregated once.

    NULL policy: a NULL value is one distinct value, ranked first (a
    plain ``ORDER BY value ASC`` window) and a NULL key is a group of its
    own. Callers that need SQL-aggregate semantics filter NULLs before
    the call."""
    cells = df.groupBy(*key_cols, value_col).agg(
        *[F.sum(col).alias(w) for w, col in weights.items()]
    )
    return two_level_cumsum(
        cells, key_cols, value_col, [], {f"cum_{w}": w for w in weights}
    )
