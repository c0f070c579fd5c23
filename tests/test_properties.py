"""Property-based tests (hypothesis): generated inputs through two
independent implementations. Each case set is batched into ONE DataFrame
so a property run costs a few Spark jobs, not hundreds."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cdw_spark.functions.text import rolling_hash, winnow_fingerprint
from cdw_spark.functions.text_arrow import rolling_fingerprints_arrow
from cdw_spark.operators.asof import asof_join_backward

# printable-ish text incl. whitespace runs, punctuation, digits, unicode
_text = st.text(
    alphabet=st.characters(codec="utf-8", categories=("L", "N", "P", "Zs"), include_characters=" \t\n"),
    max_size=120,
)


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_text, min_size=1, max_size=12))
def test_fingerprint_paths_agree_on_generated_text(spark, texts):
    rows = [(i, t) for i, t in enumerate(texts)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    expr = {
        r.doc_id: (r.a, r.b)
        for r in d.select(
            "doc_id",
            rolling_hash(F.col("text")).alias("a"),
            winnow_fingerprint(F.col("text"), n=3).alias("b"),
        ).collect()
    }
    arrow = {
        r.doc_id: (r.fp_rolling, r.fp_winnow)
        for r in rolling_fingerprints_arrow(d).collect()
    }
    assert expr == arrow


def _py_asof(left, right):
    """Pure-Python reference: latest right (t, v) with t <= left t per key."""
    out = {}
    for lid, k, lt in left:
        best = None
        for rk, rt, v in right:
            if rk == k and rt <= lt and (best is None or rt > best[0]):
                best = (rt, v)
        out[lid] = best
    return out


_ts0 = dt.datetime(2024, 1, 1)
_tiny_ts = st.integers(min_value=0, max_value=50).map(
    lambda s: _ts0 + dt.timedelta(seconds=s)
)


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.tuples(st.integers(0, 3), _tiny_ts), min_size=1, max_size=10),
    st.lists(st.tuples(st.integers(0, 3), _tiny_ts, st.floats(0, 100, allow_nan=False)), max_size=10, unique_by=lambda r: (r[0], r[1])),
)
def test_asof_matches_python_reference(spark, lefts, rights):
    left_rows = [(i, k, t) for i, (k, t) in enumerate(lefts)]
    left = spark.createDataFrame(left_rows, "id long, k long, t timestamp")
    right = spark.createDataFrame(rights or [(99, _ts0 - dt.timedelta(days=1), 0.0)],
                                  "k long, rt timestamp, v double")
    got = {
        r.id: (r.mt, r.mv)
        for r in asof_join_backward(
            left, right, on=["k"], left_time="t", right_time="rt",
            right_payload={"rt": "mt", "v": "mv"},
        ).collect()
    }
    expected = _py_asof(left_rows, rights or [(99, _ts0 - dt.timedelta(days=1), 0.0)])
    assert set(got) == set(expected)
    for lid, best in expected.items():
        assert got[lid] == (best if best else (None, None)), (lid, got[lid], best)


def _py_range_counts(orders, items, width):
    """Reference: per order, count items with t in [start, start+width)."""
    return {
        ok: sum(1 for it in items if start <= it < start + width)
        for ok, start in orders
    }


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.integers(0, 1000), min_size=1, max_size=8, unique=True),
    st.lists(st.integers(-50, 1100), max_size=30),
)
def test_bucketed_range_join_matches_reference(spark, starts, items):
    """The window-width bucketing trick (explode to <=2 buckets, equi-join,
    exact residual filter) must equal the naive interval count for ANY
    interval placement — including items outside every window, empty
    windows, and boundary hits at start and start+width."""
    from pyspark.sql import functions as F

    width = 100
    orders = [(i, s) for i, s in enumerate(starts)]
    o = (
        spark.createDataFrame(orders, "order_key long, w_start long")
        .withColumn("w_end", F.col("w_start") + width)
        .withColumn("b0", (F.col("w_start") / width).cast("long"))
        .withColumn("bucket_id", F.explode(F.array(F.col("b0"), F.col("b0") + 1)))
        .drop("b0")
    )
    li = spark.createDataFrame(
        [(t,) for t in items] or [(10**9,)], "ship_s long"
    ).withColumn("bucket_id", (F.col("ship_s") / width).cast("long"))
    in_range = (F.col("ship_s") >= F.col("w_start")) & (F.col("ship_s") < F.col("w_end"))
    counts = (
        li.join(F.broadcast(o), on="bucket_id", how="inner")
        .filter(in_range)
        .groupBy("order_key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = {r.order_key: r.n for r in counts.collect()}
    expected = _py_range_counts(orders, items or [10**9], width)
    for ok, n in expected.items():
        assert got.get(ok, 0) == n, (ok, got.get(ok, 0), n)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.text(alphabet="abcdefg ", min_size=30, max_size=80),
        min_size=2,
        max_size=6,
    ),
    st.data(),
)
def test_minhash_pipeline_equals_exact_jaccard(spark, bases, data):
    """End-to-end MinHash-LSH on a generated corpus with planted near-dups:
    the verified output must equal the exact-Jaccard pair set whenever
    banding recall is 1.0 — and for EXACT duplicates (Jaccard 1.0) banding
    recall is provably 1.0 (identical signatures share every band), so the
    planted clones must always surface."""
    from cdw_spark.operators.dedup import minhash_near_duplicates, ngram_jaccard_pairs

    docs = []
    i = 0
    clones = set()
    for b in bases:
        docs.append((i, b))
        if data.draw(st.booleans()):
            docs.append((i + 1, b))  # exact clone -> jaccard 1.0
            clones.add((i, i + 1))
            i += 2
        else:
            i += 1
    d = spark.createDataFrame(docs, "doc_id long, text string")
    exact = {
        (r.id_a, r.id_b) for r in ngram_jaccard_pairs(d, threshold=0.6).collect()
    }
    lsh = {(r.id_a, r.id_b) for r in minhash_near_duplicates(d, threshold=0.6).collect()}
    # verification guarantees zero false positives...
    assert lsh <= exact
    # ...and identical-signature pairs can never be missed by banding
    assert clones & exact <= lsh, (clones, exact, lsh)


# ---------------------------------------------------------------------------
# Retrieval / sketch / graph layer vs pure-Python references

_word = st.text(alphabet="abcdefg", min_size=1, max_size=4)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_word, min_size=1, max_size=60))
def test_cms_grid_equals_python_reference(spark, words):
    """The merged CMS grid is fully deterministic (md5 hash family), so the
    distributed mapInPandas build must equal a pure-Python single-threaded
    sketch cell for cell — not just within error bounds."""
    from collections import Counter

    from cdw_spark.operators.sketches import CMS_DEPTH, CMS_WIDTH, _bucket_py, cms_build

    ref: Counter = Counter()
    for w, c in Counter(words).items():
        for j in range(CMS_DEPTH):
            ref[(j, _bucket_py(j, w, CMS_WIDTH))] += c
    d = spark.createDataFrame([(w,) for w in words], "term string").repartition(3)
    got = {(r["j"], r["col"]): r["cnt"] for r in cms_build(d).collect()}
    assert got == dict(ref)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=25,
    )
)
def test_pagerank_equals_python_power_iteration(spark, edge_list):
    """Spark PageRank vs a pure-Python power iteration on the same
    (deduped) digraph: same recurrence, same damping, dangling drop."""
    from cdw_spark.operators.graph import pagerank

    edges = sorted(set(edge_list))
    nodes = sorted({u for e in edges for u in e})
    n = len(nodes)
    outdeg = {u: sum(1 for a, _ in edges if a == u) for u in nodes}
    r = {u: 1.0 / n for u in nodes}
    for _ in range(3):
        contrib = {u: 0.0 for u in nodes}
        for a, b in edges:
            contrib[b] += r[a] / outdeg[a]
        r = {u: 0.15 / n + 0.85 * contrib[u] for u in nodes}

    d = spark.createDataFrame(edges, "src int, dst int")
    got = {row["node"]: row["r"] for row in pagerank(d, iters=3).collect()}
    assert set(got) == set(r)
    for u in nodes:
        assert abs(got[u] - r[u]) < 1e-9, (u, got[u], r[u])


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=40, unique=True))
def test_global_shuffle_rank_equals_sorted_md5(spark, ids):
    """Two-level bucket rank == the plain sorted-by-md5 position. Same
    plan shape as suite/datasetops.py::global_shuffle_rank, built over a
    generated id relation instead of the documents fixture."""
    import hashlib

    d = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    k = d.select("doc_id", F.md5(F.col("doc_id").cast("string")).alias("k"))
    k = k.withColumn("bucket", F.conv(F.substring("k", 1, 2), 16, 10).cast("int"))
    wb = Window.partitionBy("bucket").orderBy("k", "doc_id")
    ranked = k.withColumn("rk", F.row_number().over(wb))
    sizes = ranked.groupBy("bucket").agg(F.count(F.lit(1)).alias("sz"))
    wo = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select("bucket", F.coalesce(F.sum("sz").over(wo), F.lit(0)).alias("off"))
    got = {
        r["doc_id"]: r["pos"]
        for r in ranked.join(offsets, "bucket")
        .select("doc_id", (F.col("off") + F.col("rk") - 1).alias("pos"))
        .collect()
    }
    want = {
        i: pos
        for pos, i in enumerate(
            sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
        )
    }
    assert got == want


def test_ewma_closed_form_matches_recursive_reference(spark, sf_dir):
    """The windowed SUM(x*2^rn)/SUM(2^rn) closed form must equal the
    textbook recursive EWMA (restarted at the 8-step horizon) computed in
    pure Python from the same ordered stream."""
    from cdw_spark.registry import load_all

    q = load_all()["timeseries_ewma"]
    got = {(r["user_id"], r["event_id"]): r["ewma"] for r in q.fn(spark, sf_dir).collect()}

    from cdw_spark.catalog import load_fixture
    from pyspark.sql import functions as F

    ev = (
        load_fixture(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "ts", "value")
        .collect()
    )
    by_user: dict = {}
    for r in sorted(ev, key=lambda r: (r["user_id"], r["ts"], r["event_id"])):
        by_user.setdefault(r["user_id"], []).append(r)
    for uid, rows in by_user.items():
        vals = [r["value"] for r in rows]
        for t in range(len(vals)):
            lo = max(0, t - 7)
            num = sum(vals[i] * 2.0**(i + 1) for i in range(lo, t + 1))
            den = sum(2.0**(i + 1) for i in range(lo, t + 1))
            assert abs(got[(uid, rows[t]["event_id"])] - num / den) < 1e-5


def test_transition_matrix_rows_are_distributions(spark, sf_dir):
    from cdw_spark.registry import load_all

    rows = load_all()["event_transition_matrix"].fn(spark, sf_dir).collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["src"], []).append(r["p"])
    for src, ps in by_src.items():
        assert abs(sum(ps) - 1.0) < 1e-4, src
        assert all(p > 0 for p in ps)


def test_outlier_mad_is_robust_to_injected_outlier(spark):
    """One enormous outlier must not drag the MAD yardstick enough to
    hide itself (the failure mode of mean/stddev z-scores)."""
    from pyspark.sql import functions as F

    from cdw_spark.catalog import load_fixture  # noqa: F401  (idiom parity)

    base = [(i, "a", float(50 + (i % 7))) for i in range(100)]
    data = base + [(999, "a", 1e6)]
    ev = spark.createDataFrame(data, "event_id long, event_type string, value double")
    med = ev.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(abs(value - med), 0.5)").alias("mad")
    )
    z = F.round((F.col("value") - F.col("med")) * F.lit(0.6745) / F.col("mad"), 6)
    flagged = (
        dev.join(F.broadcast(mad), "event_type")
        .select("event_id", z.alias("z"))
        .filter(F.abs(F.col("z")) > F.lit(3.5))
        .collect()
    )
    assert [r["event_id"] for r in flagged] == [999]


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=20).map(
            lambda ws: " ".join(ws)
        ),
        min_size=1,
        max_size=6,
    )
)
def test_paragraph_dedup_properties(spark, docs):
    """Invariants vs a pure-Python reference: block accounting is exact,
    kept+removed == total, and the reassembled text is the in-order
    concatenation of globally-unique blocks."""
    from cdw_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {r["doc_id"]: r for r in paragraph_dedup(df, block_words=4).collect()}

    from collections import Counter

    blocks_by_doc = {}
    counts = Counter()
    for i, text in enumerate(docs):
        ws = text.split()
        blocks = [" ".join(ws[k : k + 4]) for k in range(0, len(ws), 4)]
        blocks_by_doc[i] = blocks
        counts.update(blocks)
    for i, blocks in blocks_by_doc.items():
        keep = [b for b in blocks if counts[b] == 1]
        g = got[i]
        assert g["n_blocks"] == len(blocks)
        assert g["n_removed"] == len(blocks) - len(keep)
        assert g["cleaned_text"] == " ".join(keep)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    a=st.dictionaries(st.integers(0, 8), st.integers(0, 3), max_size=6),
    b=st.dictionaries(st.integers(0, 8), st.integers(0, 3), max_size=6),
)
def test_snapshot_diff_properties(spark, a, b):
    """diff(A, A) is empty; diff(A, B) classifies exactly the symmetric
    key difference plus changed intersections."""
    from cdw_spark.operators.curate import snapshot_diff

    mk = lambda d: spark.createDataFrame(
        [(k, v) for k, v in d.items()] or [(None, None)], "k long, v long"
    ).filter(F.col("k").isNotNull())
    assert snapshot_diff(mk(a), mk(a), "k", ["v"]).count() == 0
    out = {r["k"]: r["change"] for r in snapshot_diff(mk(a), mk(b), "k", ["v"]).collect()}
    want = {}
    for k in set(a) | set(b):
        if k not in b:
            want[k] = "delete"
        elif k not in a:
            want[k] = "insert"
        elif a[k] != b[k]:
            want[k] = "update"
    assert out == want


def _write_fixture(spark, tmp_path, table, df):
    path = str(tmp_path / f"{table}.parquet")
    df.write.mode("overwrite").parquet(path)
    return str(tmp_path)


def test_theilsen_is_robust_to_injected_outliers(spark, tmp_path):
    """A clean linear daily series with 5% wildly corrupted days: the
    Theil-Sen slope must stay the true slope exactly (a majority of
    pairs are clean-clean, so the pairwise-slope median is untouched),
    and must match a pure-Python pairwise-slope median reference."""
    import statistics

    from cdw_spark.registry import load_all

    days, true_slope = 120, 5.0
    rows = []
    for i in range(days):
        rev = 100.0 + true_slope * i
        if i % 25 == 13:  # ~5% corrupted days
            rev *= 80.0
        rows.append(
            (
                1,
                dt.datetime(2024, 1, 1) + dt.timedelta(days=i),
                rev,
                0.0,
                "A",
            )
        )
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_shipdate timestamp, l_extendedprice double, "
        "l_discount double, l_returnflag string",
    ).withColumn("l_partkey", F.lit(1))
    sf_dir = _write_fixture(spark, tmp_path, "lineitem", li)

    got = load_all()["timeseries_theilsen_trend"].fn(spark, sf_dir).collect()
    assert len(got) == 1 and got[0]["n_days"] == days

    series = sorted((r[1], r[2]) for r in rows)
    slopes = sorted(
        (series[j][1] - series[i][1]) / float((series[j][0] - series[i][0]).days)
        for i in range(days)
        for j in range(i + 1, days)
    )
    py_median = statistics.median(slopes)
    assert abs(got[0]["sen_slope"] - round(py_median, 6)) < 1e-9
    assert abs(got[0]["sen_slope"] - true_slope) < 1e-6  # robust to the spikes


def test_cooccurrence_matches_python_and_caps_heavy_baskets(spark, tmp_path):
    """Cosine neighbors equal a pure-Python reference, and items that only
    ever co-occur inside an over-cap mega-basket get no neighbors."""
    import itertools
    import math

    from cdw_spark.registry import load_all
    from cdw_spark.suite.recsys import BASKET_CAP, MIN_TOGETHER, TOP_NEIGHBORS

    baskets = {
        1: [10, 11, 12],
        2: [10, 11],
        3: [10, 11, 13],
        4: [12, 13],
        5: [10, 12],
        6: [11, 12],
        7: [10, 11],
    }
    # a mega-basket over the cap: items 900.. occur ONLY here
    baskets[99] = list(range(900, 900 + BASKET_CAP + 5))
    rows = [
        (ok, item, dt.datetime(2024, 1, 1), 1.0, 0.0, "A")
        for ok, items in baskets.items()
        for item in items
    ]
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_shipdate timestamp, "
        "l_extendedprice double, l_discount double, l_returnflag string",
    )
    sf_dir = _write_fixture(spark, tmp_path, "lineitem", li)
    got = load_all()["recs_item_cooccurrence"].fn(spark, sf_dir).collect()

    kept = {ok: its for ok, its in baskets.items() if len(its) <= BASKET_CAP}
    cnt, co = {}, {}
    for its in kept.values():
        for it in its:
            cnt[it] = cnt.get(it, 0) + 1
        for a, b in itertools.combinations(sorted(its), 2):
            co[(a, b)] = co.get((a, b), 0) + 1
    expected = {}
    for (a, b), c in co.items():
        if c < MIN_TOGETHER:
            continue
        cos = c / math.sqrt(cnt[a] * cnt[b])
        expected.setdefault(a, []).append((b, c, cos))
        expected.setdefault(b, []).append((a, c, cos))
    exp_rows = set()
    for item, nbrs in expected.items():
        nbrs.sort(key=lambda t: (-round(t[2], 9), t[0]))
        for rk, (nb, c, cos) in enumerate(nbrs[:TOP_NEIGHBORS], 1):
            exp_rows.add((item, nb, c, round(cos, 6), rk))
    assert {tuple(r) for r in got} == exp_rows
    assert all(r["item"] < 900 for r in got)  # mega-basket items excluded


def test_pmi_matches_python_reference(spark, tmp_path):
    """PMI top-k equals a pure-Python unigram/bigram MLE computation."""
    import math

    from cdw_spark.registry import load_all

    docs = [
        "red apple " * 8 + "banana",
        "red apple red apple green pear " * 4,
        "green pear banana split " * 6,
        "apple pie apple pie apple pie apple pie apple pie",
    ]
    d = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(docs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf_dir = _write_fixture(spark, tmp_path, "documents", d)
    got = [tuple(r) for r in load_all()["text_pmi_collocations"].fn(spark, sf_dir).collect()]

    uni, bi = {}, {}
    for t in docs:
        ws = t.strip().lower().split()
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    T = float(sum(uni.values()))
    B = float(sum(bi.values()))
    scored = [
        (f"{a} {b}", c, round(math.log(c * T * T / (B * uni[a] * uni[b])), 6))
        for (a, b), c in bi.items()
        if c >= 5
    ]
    scored.sort(key=lambda t: (-t[2], t[0]))
    assert got == scored[:20]


def test_khop_reach_equals_python_bfs_on_same_graph(spark, sf_dir):
    """reach2 per node equals a depth-2 BFS over the SAME edge set the
    query derives (the kNN graph is deterministic, so the edges relation
    is a fixed ground truth to traverse in Python)."""
    from cdw_spark.catalog import load_fixture
    from cdw_spark.registry import load_all
    from cdw_spark.suite.similarity import _knn_undirected_edges

    emb = load_fixture(spark, sf_dir, "embeddings")
    edges = [(r["a"], r["b"]) for r in _knn_undirected_edges(emb).collect()]
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    got = {r["vec_id"]: (r["deg"], r["reach2"]) for r in
           load_all()["graph_khop_reach"].fn(spark, sf_dir).collect()}
    n_nodes = emb.count()
    assert len(got) == n_nodes
    for node, (deg, reach2) in got.items():
        nbrs = adj.get(node, set())
        two = set(nbrs)
        for m in nbrs:
            two |= adj[m]
        two.discard(node)
        assert deg == len(nbrs)
        assert reach2 == len(two)


def test_skyline_matches_python_pareto(spark, tmp_path):
    """Skyline equals the quadratic-reference Pareto frontier, including
    duplicate points and price ties (neither of an equal pair dominates)."""
    rows = [
        (1, 100.0, dt.datetime(2024, 1, 10)),
        (2, 100.0, dt.datetime(2024, 1, 5)),   # same price, earlier -> dominates 1
        (3, 50.0, dt.datetime(2024, 1, 20)),
        (4, 50.0, dt.datetime(2024, 1, 20)),   # exact duplicate of 3: both survive
        (5, 80.0, dt.datetime(2024, 1, 3)),
        (6, 90.0, dt.datetime(2024, 1, 3)),    # dominated by 5 (cheaper, same day)
        (7, 200.0, dt.datetime(2024, 1, 1)),
        (8, 40.0, dt.datetime(2024, 2, 1)),
    ]
    o = spark.createDataFrame(
        [(k, p, d, 1, "O", "x") for k, p, d in rows],
        "o_orderkey long, o_totalprice double, o_orderdate timestamp, "
        "o_custkey long, o_orderstatus string, o_orderpriority string",
    )
    sf_dir = _write_fixture(spark, tmp_path, "orders", o)
    from cdw_spark.registry import load_all

    got = {r["order_key"] for r in load_all()["skyline_pareto_orders"].fn(spark, sf_dir).collect()}

    def dominates(x, y):
        return (x[1] <= y[1] and x[2] <= y[2]) and (x[1] < y[1] or x[2] < y[2])

    expected = {
        k for k, p, d in rows
        if not any(dominates((k2, p2, d2), (k, p, d)) for k2, p2, d2 in rows if k2 != k)
    }
    assert got == expected
    assert {3, 4} <= got and 1 not in got and 6 not in got


def test_link_prediction_matches_python_reference(spark, sf_dir):
    """Top-20 Jaccard link predictions equal a pure-Python scorer over the
    same deterministic kNN edge set; no predicted pair is an edge."""
    from cdw_spark.catalog import load_fixture
    from cdw_spark.registry import load_all
    from cdw_spark.suite.similarity import _knn_undirected_edges

    emb = load_fixture(spark, sf_dir, "embeddings")
    edges = {(r["a"], r["b"]) for r in _knn_undirected_edges(emb).collect()}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    cand = {}
    for n, nbrs in adj.items():
        for m in nbrs:
            for x in adj[m]:
                if n < x and (n, x) not in edges:
                    cand[(n, x)] = len(adj[n] & adj[x])
    scored = [
        (a, b, c, c / len(adj[a] | adj[b]))
        for (a, b), c in cand.items()
        if c > 0
    ]
    scored.sort(key=lambda t: (-round(t[3], 9), t[0], t[1]))
    expected = [(a, b, c, round(j, 6)) for a, b, c, j in scored[:20]]

    got = [tuple(r) for r in load_all()["graph_link_prediction"].fn(spark, sf_dir).collect()]
    assert got == expected
    assert all((a, b) not in edges for a, b, *_ in got)


def test_interval_concurrency_matches_bruteforce(spark, tmp_path):
    """Sweep-line peak concurrency equals the brute-force per-day count
    on synthetic intervals (including touching and nested spans)."""
    from cdw_spark.registry import load_all

    iv = [  # (orderkey, flag, start_day, end_day)
        (1, "A", 0, 5), (2, "A", 3, 9), (3, "A", 5, 5), (4, "A", 10, 12),
        (5, "B", 0, 0), (6, "B", 0, 0), (7, "B", 1, 2),
    ]
    base = dt.datetime(2024, 1, 1)
    orders = spark.createDataFrame(
        [(k, base + dt.timedelta(days=s), 1, "O", 1.0, "x") for k, f, s, e in iv],
        "o_orderkey long, o_orderdate timestamp, o_custkey long, "
        "o_orderstatus string, o_totalprice double, o_orderpriority string",
    )
    lineitem = spark.createDataFrame(
        [(k, f, base + dt.timedelta(days=e), 1.0, 0.0, 1) for k, f, s, e in iv],
        "l_orderkey long, l_returnflag string, l_shipdate timestamp, "
        "l_extendedprice double, l_discount double, l_partkey long",
    )
    sf_dir = _write_fixture(spark, tmp_path, "orders", orders)
    _write_fixture(spark, tmp_path, "lineitem", lineitem)

    got = {
        r["flag"]: (r["peak_concurrency"], r["first_peak_day"])
        for r in load_all()["intervals_max_concurrency"].fn(spark, sf_dir).collect()
    }
    for flag in ("A", "B"):
        spans = [(s, e) for k, f, s, e in iv if f == flag]
        days = range(min(s for s, _ in spans), max(e for _, e in spans) + 1)
        curve = {d: sum(1 for s, e in spans if s <= d <= e) for d in days}
        peak = max(curve.values())
        first = min(d for d, c in curve.items() if c == peak)
        assert got[flag] == (peak, (base + dt.timedelta(days=first)).date())


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.one_of(
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
            st.just(7.0),  # bias toward ties / near-constant groups
        ),
        min_size=1,
        max_size=60,
    )
)
def test_banded_median_equals_statistics_median(spark, vals):
    """banded_exact_median == statistics.median on generated data,
    including all-equal groups (band collapses to a point), heavy ties,
    and odd/even counts — the grid narrows the sort, never the answer."""
    import statistics

    from cdw_spark.operators.stats import banded_exact_median

    df = spark.createDataFrame([("g", float(v)) for v in vals], "k string, v double")
    got = banded_exact_median(df, ["k"], "v").collect()
    assert len(got) == 1
    assert got[0]["n"] == len(vals)
    assert abs(got[0]["median"] - statistics.median(vals)) <= 1e-9 * max(
        1.0, abs(statistics.median(vals))
    )


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.one_of(st.integers(min_value=-50, max_value=50), st.just(7)),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=80,
    ),
)
def test_two_level_cumsum_equals_window_cumsum(spark, rows):
    """two_level_cumsum == a plain ordered-window running sum on generated
    data, across grouped and global calls, heavy ties (bias toward 7),
    and multiple summands — the range bucketing relocates the sorts,
    never the values."""
    from cdw_spark.operators.stats import two_level_cumsum

    df = spark.createDataFrame(
        [(g, float(v), i, w, 1) for i, (g, v, w) in enumerate(rows)],
        "k string, v double, id long, w long, one int",
    )
    got = two_level_cumsum(df, ["k"], "v", ["id"], {"rn": "one", "cw": "w"}).collect()
    expect = {}
    for i, (g, v, w) in enumerate(rows):
        prior = [
            (vv, jj, ww)
            for jj, (gg, vv, ww) in enumerate(rows)
            if gg == g and (vv, jj) <= (v, i)
        ]
        expect[(g, i)] = (len(prior), sum(ww for _, _, ww in prior))
    assert len(got) == len(rows)
    for r in got:
        assert (r["rn"], r["cw"]) == expect[(r["k"], r["id"])], (r, expect)
    # global (ungrouped) call over the same data
    got_g = two_level_cumsum(df, [], "v", ["id"], {"rn": "one"}).collect()
    order = sorted(range(len(rows)), key=lambda i: (rows[i][1], i))
    pos = {idx: p + 1 for p, idx in enumerate(order)}
    for r in got_g:
        assert r["rn"] == pos[r["id"]]


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2", None]),  # a NULL key is its own group
            st.one_of(
                st.integers(min_value=-1000, max_value=1000),
                st.just(7),  # heavy ties
                st.none(),  # NULL values: one distinct value, ranked first
            ),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=80,
    ),
)
def test_value_ranks_matches_python_model(spark, rows):
    """value_ranks == a brute-force Python model of per-distinct-value
    sums, inclusive running sums and group totals, for grouped and
    global calls, with heavy ties, NULL keys and NULL values (ranked
    first)."""
    from cdw_spark.operators.stats import value_ranks

    df = spark.createDataFrame(rows, "k string, v long, w long")

    def model(key):
        groups = {}
        for g, v, w in rows:
            cell = groups.setdefault(key(g), {}).setdefault(v, [0, 0])
            cell[0] += 1
            cell[1] += w
        out = {}
        for g, cells in groups.items():
            tot_c = sum(c for c, _ in cells.values())
            tot_w = sum(w for _, w in cells.values())
            cum_c = cum_w = 0
            # NULL first, then ascending
            for v in sorted(cells, key=lambda x: (x is not None, x)):
                c, w = cells[v]
                cum_c += c
                cum_w += w
                out[(g, v)] = (c, w, cum_c, cum_w, tot_c, tot_w)
        return out

    cols = ("c", "w", "cum_c", "cum_w", "tot_c", "tot_w")
    weights = {"c": F.lit(1), "w": F.col("w")}
    got = {
        (r["k"], r["v"]): tuple(r[c] for c in cols)
        for r in value_ranks(df, ["k"], "v", weights).collect()
    }
    assert got == model(lambda g: g)
    got_g = {
        (None, r["v"]): tuple(r[c] for c in cols)
        for r in value_ranks(df, [], "v", weights).collect()
    }
    assert got_g == model(lambda g: None)


_word = st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"])


def _py_substring_coverage(docs: dict[int, list[str]], ngram: int) -> dict[int, int]:
    """Brute-force model: per doc, tokens covered by >=1 sliding ngram
    whose word tuple occurs in more than one distinct document."""
    from collections import defaultdict

    gram_docs = defaultdict(set)
    for d, ws in docs.items():
        for p in range(len(ws) - ngram + 1):
            gram_docs[tuple(ws[p:p + ngram])].add(d)
    out = {}
    for d, ws in docs.items():
        covered = set()
        for p in range(len(ws) - ngram + 1):
            if len(gram_docs[tuple(ws[p:p + ngram])]) > 1:
                covered.update(range(p, p + ngram))
        out[d] = len(covered)
    return out


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.lists(_word, min_size=1, max_size=12), min_size=2, max_size=6))
def test_exact_substring_dedup_matches_python_reference(spark, doc_words):
    """Interval-union coverage == the brute-force covered-position set for
    arbitrary small corpora (tiny 3-gram windows over an 8-word alphabet
    force heavy cross-doc collisions and overlapping islands)."""
    from cdw_spark.operators.dedup import exact_substring_dedup

    docs = {i: ws for i, ws in enumerate(doc_words)}
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in docs.items()], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in exact_substring_dedup(df, ngram=3).collect()}
    expected = _py_substring_coverage(docs, 3)
    for d, ws in docs.items():
        assert got[d].n_tokens == len(ws), (d, got[d])
        assert got[d].dup_tokens == expected[d], (d, got[d].dup_tokens, expected[d])


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.integers(0, 10**6), min_size=1, max_size=40, unique=True),
    st.lists(st.integers(0, 10**6), min_size=1, max_size=40, unique=True),
)
def test_bloom_prefilter_has_no_false_negatives(spark, build, probe):
    """Structural Bloom guarantee on arbitrary key sets: every probe key
    that IS in the build set must pass the filter (false positives are
    allowed, false negatives never)."""
    from cdw_spark.operators.sketches import bloom_positions, bloom_prefilter

    b = spark.createDataFrame([(k,) for k in build], "key long")
    p = spark.createDataFrame([(k,) for k in probe], "key long")
    pos = bloom_positions(b, "key", m=128, k=4)
    passed = {r["key"] for r in bloom_prefilter(p, "key", pos, m=128, k=4).collect()}
    assert (set(build) & set(probe)).issubset(passed)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(st.integers(1, 3), st.integers(1, 500), st.integers(1, 20)),
        min_size=1,
        max_size=50,
    )
)
def test_weighted_median_equals_python_reference(spark, rows):
    """agg_weighted_median's plan shape vs the textbook definition:
    smallest value whose cumulative weight reaches half the total,
    computed per group in pure python over the same (value, weight)
    multiset."""
    import itertools

    from pyspark.sql.window import Window

    d = spark.createDataFrame(
        [(g, float(v), float(w), i) for i, (g, v, w) in enumerate(rows)],
        "grp int, v double, w double, uid long",
    )
    vd = F.col("v").cast("decimal(18,2)")
    wd = F.col("w").cast("decimal(18,2)")
    wp = Window.partitionBy("grp")
    seq = d.select(
        "grp",
        vd.alias("v"),
        F.sum(wd).over(wp.orderBy(vd, "uid")).alias("cw"),
        F.sum(wd).over(wp).alias("tw"),
    )
    hit = seq.filter(F.col("cw") * 2 >= F.col("tw")).withColumn(
        "rk", F.row_number().over(Window.partitionBy("grp").orderBy("cw", "v"))
    )
    got = {
        r["grp"]: float(r["v"])
        for r in hit.filter(F.col("rk") == 1).collect()
    }
    ref = {}
    keyfn = lambda t: t[0]
    for g, grp_rows in itertools.groupby(sorted(rows, key=keyfn), key=keyfn):
        vals = sorted((v, w) for _, v, w in grp_rows)
        total = sum(w for _, w in vals)
        acc = 0
        for v, w in vals:
            acc += w
            if acc * 2 >= total:
                ref[g] = float(v)
                break
    assert got == ref


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=20,
    ),
    st.integers(2, 16),
)
def test_label_propagation_is_partitioning_independent(spark, edge_list, nparts):
    """LPA labels must be a pure function of the graph — identical under
    any repartitioning of the edge relation (the determinism claim that
    justifies the unrolled-CTE oracle)."""
    from cdw_spark.operators.graph import label_propagation

    edges = sorted({(a, b) for a, b in edge_list} | {(b, a) for a, b in edge_list})
    d = spark.createDataFrame(edges, "src int, dst int")
    base = {r["node"]: r["label"] for r in label_propagation(d, iters=2).collect()}
    shuf = {
        r["node"]: r["label"]
        for r in label_propagation(d.repartition(nparts), iters=2).collect()
    }
    assert base == shuf
