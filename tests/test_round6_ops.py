"""Targeted references for the round-6 operators: each new statistic or
search path is checked against an independent pure-Python implementation
on the small fixture (the DuckDB oracle equivalence is separately swept
by test_oracle_contract.py — these tests pin the MATH, not the SQL)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from cdw_spark.catalog import load_fixture
from cdw_spark.registry import load_all

SPECS = load_all()


def test_mann_whitney_matches_python(spark, sf_dir):
    row = SPECS["agg_mann_whitney_u"].fn(spark, sf_dir).collect()[0]

    prices = {
        "F": [], "O": [],
    }
    for r in load_fixture(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice"
    ).collect():
        if r[0] in prices:
            prices[r[0]].append(r[1])
    pooled = sorted(
        [(v, "F") for v in prices["F"]] + [(v, "O") for v in prices["O"]]
    )
    # average ranks with ties
    ranks = {}
    i = 0
    r1 = 0.0
    while i < len(pooled):
        j = i
        while j < len(pooled) and pooled[j][0] == pooled[i][0]:
            j += 1
        avg = (i + 1 + j) / 2.0
        for t in range(i, j):
            if pooled[t][1] == "F":
                r1 += avg
        i = j
    n1, n2 = len(prices["F"]), len(prices["O"])
    u_f = r1 - n1 * (n1 + 1) / 2.0
    assert row["n_f"] == n1 and row["n_o"] == n2
    assert abs(row["u_f"] - u_f) < 1e-6
    assert abs(row["u_o"] - (n1 * n2 - u_f)) < 1e-6
    # tie-corrected z
    from collections import Counter

    tc = Counter(v for v, _ in pooled)
    tie3 = sum(c**3 - c for c in tc.values())
    n = n1 + n2
    sigma = math.sqrt(n1 * n2 / 12.0 * ((n + 1) - tie3 / (n * (n - 1))))
    z = (u_f - n1 * n2 / 2.0) / sigma
    assert abs(row["z_score"] - z) < 1e-5


def test_spearman_matches_python(spark, sf_dir):
    got = {
        r["flag"]: r["spearman_rho"]
        for r in SPECS["agg_spearman_rho"].fn(spark, sf_dir).collect()
    }

    rows = load_fixture(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    ).collect()
    by_flag = {}
    for fl, q, p in rows:
        by_flag.setdefault(fl, []).append((q, p))

    def avg_ranks(xs):
        order = sorted(range(len(xs)), key=lambda i: xs[i])
        ranks = [0.0] * len(xs)
        i = 0
        while i < len(xs):
            j = i
            while j < len(xs) and xs[order[j]] == xs[order[i]]:
                j += 1
            avg = (i + 1 + j) / 2.0
            for t in range(i, j):
                ranks[order[t]] = avg
            i = j
        return ranks

    for fl, pairs in by_flag.items():
        rx = avg_ranks([a for a, _ in pairs])
        ry = avg_ranks([b for _, b in pairs])
        n = len(pairs)
        mx = sum(rx) / n
        my = sum(ry) / n
        cov = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
        vx = sum((a - mx) ** 2 for a in rx)
        vy = sum((b - my) ** 2 for b in ry)
        rho = cov / math.sqrt(vx * vy)
        assert abs(got[fl] - rho) < 1e-5, fl


def test_chi_square_matches_python(spark, sf_dir):
    row = SPECS["agg_chi_square_independence"].fn(spark, sf_dir).collect()[0]
    from collections import Counter

    obs = Counter(
        (r["lang"], r["source"])
        for r in load_fixture(spark, sf_dir, "documents").select("lang", "source").collect()
    )
    n = sum(obs.values())
    rt = Counter()
    ct = Counter()
    for (la, so), c in obs.items():
        rt[la] += c
        ct[so] += c
    chi = sum(
        (c - rt[la] * ct[so] / n) ** 2 / (rt[la] * ct[so] / n)
        for (la, so), c in obs.items()
    )
    assert row["n"] == n
    assert row["dof"] == (len(rt) - 1) * (len(ct) - 1)
    assert abs(row["chi2"] - chi) < 1e-4


def test_vad_segments_are_maximal_active_runs(spark, sf_dir):
    """Reconstructing frames from segments must give exactly the
    above-threshold frames, and no two segments of a doc may touch
    (maximality)."""
    segs = SPECS["multimodal_audio_vad"].fn(spark, sf_dir).collect()
    by_doc = {}
    for s in segs:
        by_doc.setdefault(s["doc_id"], []).append(s)
    for did, ss in list(by_doc.items())[:50]:
        ss.sort(key=lambda s: s["seg_start"])
        covered = set()
        for s in ss:
            assert s["seg_end"] >= s["seg_start"]
            assert s["n_frames"] == s["seg_end"] - s["seg_start"] + 1
            covered |= set(range(s["seg_start"], s["seg_end"] + 1))
        for a, b in zip(ss, ss[1:]):
            assert b["seg_start"] > a["seg_end"] + 1, "segments must not touch"
        # recompute active frames directly from the synth definition
        active = set()
        for fi in range(16):
            e = sum(
                ((((did * 31 + (fi * 64 + j) * 7) % 2003) - 1001)
                 * ((did + fi) % 4)) ** 2
                for j in range(64)
            )
            if e > 32000000:
                active.add(fi)
        assert covered == active, did


def test_mix_temperature_allocations_hit_budget(spark, sf_dir):
    rows = SPECS["mix_temperature_sampling"].fn(spark, sf_dir).collect()
    assert sum(r["alloc_docs"] for r in rows) == 200
    # sqrt damping: allocation shares must be strictly flatter than the
    # document shares for the dominant language
    tot_docs = sum(r["n_docs"] for r in rows)
    top = max(rows, key=lambda r: r["n_docs"])
    assert top["alloc_docs"] / 200.0 < top["n_docs"] / tot_docs


def test_tcloseness_emd_bounds_and_reference(spark, sf_dir):
    rows = SPECS["tcloseness_audit"].fn(spark, sf_dir).collect()
    docs = load_fixture(spark, sf_dir, "documents").select(
        "lang", "source", (F.col("n_chars") / 500).cast("long").alias("b")
    ).collect()
    from collections import Counter

    gl = Counter(d["b"] for d in docs)
    buckets = sorted(gl)
    n = len(docs)
    m = len(buckets)
    for row in rows[:30]:
        assert 0.0 <= row["emd"] <= 1.0
        grp = [d["b"] for d in docs if d["lang"] == row["lang"] and d["source"] == row["source"]]
        ng = len(grp)
        assert ng == row["group_size"]
        gc = Counter(grp)
        cg = cglob = 0
        emd = 0.0
        for b in buckets[:-1]:
            cg += gc.get(b, 0)
            cglob += gl[b]
            emd += abs(cg / ng - cglob / n)
        emd /= (m - 1)
        assert abs(row["emd"] - emd) < 2e-6, (row, emd)


def test_autocorr_matches_python(spark, sf_dir):
    got = {
        r["user_id"]: r for r in SPECS["timeseries_autocorr_lag1"].fn(spark, sf_dir).collect()
    }
    ev = load_fixture(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value").collect()
    series = {}
    for r in ev:
        series.setdefault(r["user_id"], []).append((r["ts"], r["event_id"], r["value"]))
    checked = 0
    for uid, rows in series.items():
        if len(rows) < 3 or uid not in got:
            continue
        rows.sort(key=lambda t: (t[0], t[1]))
        q = [math.floor(v * 1000000.0 + 0.5) for _, _, v in rows]
        n = len(q)
        mean = sum(q) / n
        num = sum((q[t] - mean) * (q[t - 1] - mean) for t in range(1, n))
        den = sum((x - mean) ** 2 for x in q)
        assert abs(got[uid]["acf_lag1"] - num / den) < 1e-4, uid
        checked += 1
        if checked >= 40:
            break
    assert checked >= 10


def test_ivfpq_exhaustive_probing_equals_exact(spark, sf_dir):
    """With nprobe=nlist the routed scan covers the whole corpus, so the
    composed IVF-PQ search must equal brute-force exact squared L2 over
    the quantized grid — the same identity the IVF and PQ-exact entries
    claim individually, proven for the composition."""
    from cdw_spark.operators.similarity import ivfpq_topk

    e = load_fixture(spark, sf_dir, "embeddings")
    got = {
        (r["probe_id"], r["rank"]): (r["cand_id"], r["adc_dist"])
        for r in ivfpq_topk(
            e.filter(F.col("vec_id") < 3), e, k=5, nlist=4, nprobe=4, iters=1
        ).collect()
    }
    vecs = {
        r["vec_id"]: [round(x * 16) for x in r["embedding"]]
        for r in e.collect()
    }
    for pid in range(3):
        pv = vecs[pid]
        scored = sorted(
            (sum((a - b) ** 2 for a, b in zip(pv, cv)), cid)
            for cid, cv in vecs.items()
            if cid != pid
        )
        for rank, (d, cid) in enumerate(scored[:5], start=1):
            assert got[(pid, rank)] == (cid, float(d)), (pid, rank)


def test_mann_kendall_matches_python(spark, sf_dir):
    got = {
        r["user_id"]: r
        for r in SPECS["timeseries_mann_kendall"].fn(spark, sf_dir).collect()
    }
    ev = load_fixture(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    ).collect()
    series = {}
    for r in ev:
        series.setdefault(r["user_id"], []).append((r["ts"], r["event_id"], r["value"]))
    checked = 0
    for uid, rows in series.items():
        if len(rows) < 10:
            assert uid not in got
            continue
        rows.sort(key=lambda t: (t[0], t[1]))
        q = [math.floor(v * 1000000.0 + 0.5) for _, _, v in rows[:50]]
        n = len(q)
        s = sum(
            (1 if q[j] > q[i] else -1 if q[j] < q[i] else 0)
            for i in range(n)
            for j in range(i + 1, n)
        )
        from collections import Counter

        ties = Counter(q)
        tie_term = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
        var = (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0
        corr = s - 1 if s > 0 else s + 1 if s < 0 else 0
        z = corr / math.sqrt(var)
        g = got[uid]
        assert g["n_events"] == n and g["s_stat"] == s
        assert abs(g["z_score"] - z) < 1e-5, uid
        checked += 1
        if checked >= 30:
            break
    assert checked >= 10


def test_ks_two_sample_matches_python(spark, sf_dir):
    row = SPECS["agg_ks_two_sample"].fn(spark, sf_dir).collect()[0]
    groups = {"F": [], "O": []}
    for r in load_fixture(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice"
    ).collect():
        if r[0] in groups:
            groups[r[0]].append(r[1])
    f = sorted(groups["F"])
    o = sorted(groups["O"])
    n1, n2 = len(f), len(o)
    import bisect

    d = 0.0
    for v in sorted(set(f) | set(o)):
        c1 = bisect.bisect_right(f, v)
        c2 = bisect.bisect_right(o, v)
        d = max(d, abs(c1 / n1 - c2 / n2))
    assert row["n_f"] == n1 and row["n_o"] == n2
    assert abs(row["d_micro"] / 1e6 - d) < 1e-6
    assert abs(row["ks_z"] - math.sqrt(n1 * n2 / (n1 + n2)) * d) < 1e-4


def test_kcenter_matches_python_greedy(spark, sf_dir):
    rows = sorted(
        (r["sel_rank"], r["vec_id"], r["dmin"])
        for r in SPECS["sample_coreset_kcenter"].fn(spark, sf_dir).collect()
    )
    vecs = {
        r["vec_id"]: [round(x * 16) for x in r["embedding"]]
        for r in load_fixture(spark, sf_dir, "embeddings").collect()
    }
    sel = [0]
    expected = [(0, 0, 0)]
    for r in range(1, 8):
        best = None
        for vid, qv in vecs.items():
            dmin = min(
                sum((a - b) ** 2 for a, b in zip(qv, vecs[s])) for s in sel
            )
            cand = (dmin, -vid)
            if best is None or cand > best:
                best = cand
                best_id = vid
        sel.append(best_id)
        expected.append((r, best_id, best[0]))
    assert rows == sorted(expected)
    # greedy radius is non-increasing
    radii = [d for _, _, d in expected[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:]))


def test_mutual_information_matches_python(spark, sf_dir):
    row = SPECS["agg_mutual_information"].fn(spark, sf_dir).collect()[0]
    from collections import Counter

    obs = Counter(
        (r["lang"], r["source"])
        for r in load_fixture(spark, sf_dir, "documents").select("lang", "source").collect()
    )
    n = sum(obs.values())
    rt, ct = Counter(), Counter()
    for (la, so), c in obs.items():
        rt[la] += c
        ct[so] += c
    mi = sum(
        c / n * math.log(c * n / (rt[la] * ct[so])) for (la, so), c in obs.items()
    )
    hl = -sum(c / n * math.log(c / n) for c in rt.values())
    hs = -sum(c / n * math.log(c / n) for c in ct.values())
    assert row["n"] == n
    assert abs(row["mutual_info"] - mi) < 1e-5
    assert abs(row["h_lang"] - hl) < 1e-5
    assert abs(row["h_source"] - hs) < 1e-5
    # information-theoretic bounds: 0 <= MI <= min(H)
    assert -1e-9 <= row["mutual_info"] <= min(hl, hs) + 1e-9


def test_zipf_slope_matches_python(spark, sf_dir):
    import re
    from collections import Counter

    row = SPECS["text_zipf_slope"].fn(spark, sf_dir).collect()[0]
    freqs = Counter()
    for r in load_fixture(spark, sf_dir, "documents").select("text").collect():
        for w in re.split(r"\s+", r["text"].strip().lower(), flags=re.ASCII):
            if w:
                freqs[w] += 1
    top = sorted(freqs.items(), key=lambda kv: (-kv[1], kv[0]))[:500]
    pts = [(math.log(i + 1), math.log(c)) for i, (_, c) in enumerate(top)]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert row["n_words"] == n
    assert abs(row["zipf_slope"] - slope) < 1e-4
    assert row["zipf_slope"] < 0  # frequency falls with rank


def test_rolling_ols_slope_matches_python(spark, sf_dir):
    got = {
        (r["user_id"], r["day"]): r["slope_per_day"]
        for r in SPECS["window_rolling_ols_slope"].fn(spark, sf_dir).collect()
    }
    import datetime as dt
    from collections import defaultdict

    daily = defaultdict(lambda: defaultdict(int))
    for r in load_fixture(spark, sf_dir, "events").select("user_id", "ts", "value").collect():
        daily[r["user_id"]][r["ts"].date()] += math.floor(r["value"] * 1000000.0 + 0.5)
    epoch = dt.date(1970, 1, 1)
    checked = 0
    for uid, days in daily.items():
        seq = sorted(days.items())
        for i in range(6, len(seq)):
            frame = seq[i - 6 : i + 1]
            xs = [(d - epoch).days for d, _ in frame]
            ys = [q for _, q in frame]
            n = 7
            sx, sy = sum(xs), sum(ys)
            sxy = sum(x * y for x, y in zip(xs, ys))
            sxx = sum(x * x for x in xs)
            slope = (n * sxy - sx * sy) / (n * sxx - sx * sx) / 1e6
            key = (uid, seq[i][0])
            assert key in got
            assert abs(got[key] - slope) < 1e-4, key
            checked += 1
        if checked > 200:
            break
    assert checked >= 50


def test_neyman_allocation_matches_python(spark, sf_dir):
    rows = SPECS["sample_neyman_allocation"].fn(spark, sf_dir).collect()
    assert sum(r["alloc_docs"] for r in rows) == 200
    from collections import defaultdict

    by_lang = defaultdict(list)
    for r in load_fixture(spark, sf_dir, "documents").select("lang", "n_chars").collect():
        by_lang[r["lang"]].append(r["n_chars"])
    for r in rows:
        ys = by_lang[r["lang"]]
        n = len(ys)
        mean = sum(ys) / n
        sd = math.sqrt(sum((y - mean) ** 2 for y in ys) / (n - 1))
        assert r["n_docs"] == n
        assert abs(r["neyman_weight"] - n * sd) < 1e-3


def test_burstiness_matches_python(spark, sf_dir):
    import re
    from collections import Counter, defaultdict

    got = {r["word"]: r for r in SPECS["text_burstiness"].fn(spark, sf_dir).collect()}
    per_doc = defaultdict(Counter)
    docs = load_fixture(spark, sf_dir, "documents").select("doc_id", "text").collect()
    nd = len(docs)
    for r in docs:
        for w in re.split(r"\s+", r["text"].strip().lower(), flags=re.ASCII):
            if w:
                per_doc[w][r["doc_id"]] += 1
    totals = Counter({w: sum(c.values()) for w, c in per_doc.items()})
    top = sorted(totals.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert set(got) == {w for w, _ in top}
    for w, total in top:
        counts = list(per_doc[w].values()) + [0] * (nd - len(per_doc[w]))
        mean = total / nd
        var = sum((c - mean) ** 2 for c in counts) / (nd - 1)
        g = got[w]
        assert g["n_occurrences"] == total
        assert g["n_docs_present"] == len(per_doc[w])
        assert abs(g["burstiness"] - var / mean) < 1e-4, w


def test_hits_matches_python_power_iteration(spark, sf_dir):
    rows = SPECS["graph_hits_scores"].fn(spark, sf_dir).collect()
    got = {(r["role"], r["node"]): r["score"] for r in rows}
    from collections import defaultdict

    o = {r["o_orderkey"]: r["o_custkey"]
         for r in load_fixture(spark, sf_dir, "orders").collect()}
    edges = []
    for r in load_fixture(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    ).collect():
        if r["l_orderkey"] in o:
            edges.append((o[r["l_orderkey"]], r["l_suppkey"]))
    scale = 1_000_000
    h = {c: scale for c, _ in edges}
    for _ in range(2):
        a = defaultdict(int)
        for c, s in edges:
            a[s] += h[c]
        m = max(a.values())
        a = {s: (2 * v * scale + m) // (2 * m) for s, v in a.items()}
        hr = defaultdict(int)
        for c, s in edges:
            hr[c] += a[s]
        m = max(hr.values())
        h = {c: (2 * v * scale + m) // (2 * m) for c, v in hr.items()}
    assert len(rows) == len(h) + len(a)
    for c, v in h.items():
        assert abs(got[("hub", f"c{c}")] - v / scale) < 1e-9
    for s, v in a.items():
        assert abs(got[("authority", f"s{s}")] - v / scale) < 1e-9
    # mutual reinforcement sanity: some hub hits the max-normalized 1.0
    assert max(v for (role, _), v in got.items() if role == "hub") == 1.0


def test_markov_stationary_matches_python(spark, sf_dir):
    got = {
        r["event_type"]: r["pi_micro"]
        for r in SPECS["events_markov_stationary"].fn(spark, sf_dir).collect()
    }
    from collections import defaultdict

    ev = sorted(
        load_fixture(spark, sf_dir, "events").select(
            "user_id", "ts", "event_id", "event_type"
        ).collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    tc = defaultdict(int)
    for a, b in zip(ev, ev[1:]):
        if a["user_id"] == b["user_id"]:
            tc[(a["event_type"], b["event_type"])] += 1
    rs = defaultdict(int)
    for (s, _), c in tc.items():
        rs[s] += c
    states = sorted({s for s, _ in tc} | {d for _, d in tc})
    scale = 1_000_000
    pi = {s: scale // len(states) for s in states}
    for _ in range(3):
        nxt = defaultdict(int)
        for (s, d), c in tc.items():
            nxt[d] += (2 * pi.get(s, 0) * c + rs[s]) // (2 * rs[s])
        pi = dict(nxt)
    assert got == pi
    # it's (approximately) a distribution: mass stays near 1e6
    assert abs(sum(got.values()) - scale) < len(states) * 4


def test_theil_index_matches_python(spark, sf_dir):
    row = SPECS["agg_theil_index"].fn(spark, sf_dir).collect()[0]
    from collections import defaultdict
    from decimal import Decimal

    spend = defaultdict(Decimal)
    for r in load_fixture(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    ).collect():
        spend[r["o_custkey"]] += Decimal(str(round(r["o_totalprice"], 2)))
    xs = [float(v) for v in spend.values()]
    n = len(xs)
    tx = float(sum(spend.values()))
    theil = sum(x / tx * math.log(x * n / tx) for x in xs)
    assert row["n_customers"] == n
    assert abs(row["theil_t"] - theil) < 1e-4
    assert row["theil_t"] >= 0


def test_classification_report_matches_python(spark, sf_dir):
    rows = {
        r["lang"]: r
        for r in SPECS["eval_langid_classification_report"].fn(spark, sf_dir).collect()
    }
    from collections import Counter

    from cdw_spark.functions.text import lang_guess  # noqa: F401 (spark impl)

    pred = SPECS["text_langid"].fn(spark, sf_dir).collect()
    sup = Counter(r["labeled_lang"] for r in pred)
    prd = Counter(r["lang_guess"] for r in pred)
    tp = Counter(
        r["labeled_lang"] for r in pred if r["labeled_lang"] == r["lang_guess"]
    )
    for cls in set(sup) | set(prd):
        g = rows[cls]
        n, p, t = sup.get(cls, 0), prd.get(cls, 0), tp.get(cls, 0)
        assert (g["support"], g["predicted"], g["tp"]) == (n, p, t)
        if p:
            assert abs(g["precision_"] - t / p) < 1e-6
        else:
            assert g["precision_"] is None
        if n:
            assert abs(g["recall_"] - t / n) < 1e-6
        if n + p:
            assert abs(g["f1"] - 2 * t / (n + p)) < 1e-6


def test_ndcg_matches_python(spark, sf_dir):
    import re
    from collections import Counter

    row = SPECS["eval_retrieval_ndcg"].fn(spark, sf_dir).collect()[0]
    tf1, tf2 = Counter(), Counter()
    for r in load_fixture(spark, sf_dir, "documents").select("doc_id", "text").collect():
        toks = re.findall(r"[a-z0-9]+", r["text"].lower())
        tf1[r["doc_id"]] += toks.count("spark")
        tf2[r["doc_id"]] += toks.count("vector")
    pool = [(d, c, min(tf2.get(d, 0), 3)) for d, c in tf1.items() if c > 0]
    assert row["pool_size"] == len(pool)

    def dcg(rels):
        return sum(
            (2**rel - 1) / math.log2(i + 2) for i, rel in enumerate(rels[:10])
        )

    ranked = [rel for _, _, rel in sorted(pool, key=lambda t: (-t[1], t[0]))]
    ideal = [rel for _, _, rel in sorted(pool, key=lambda t: (-t[2], t[0]))]
    assert abs(row["dcg_at_10"] - dcg(ranked)) < 1e-4
    assert abs(row["idcg_at_10"] - dcg(ideal)) < 1e-4
    assert abs(row["ndcg_at_10"] - dcg(ranked) / dcg(ideal)) < 1e-4
    assert 0.0 <= row["ndcg_at_10"] <= 1.0


def test_round6_time_ops_non_utc_session_parity(spark, sf_dir):
    """The operators that cast or order by event timestamps (rolling OLS
    casts ts -> date; ACF / Mann-Kendall / Markov order by ts; the drift
    monitor buckets hour(ts)) must still match their oracles under a
    NON-UTC session timezone — load_fixture pins the session to UTC at
    read time, and this is the probe that fails if a new query ever
    reads timestamps outside that path, as the stateful sessionizer
    once did. stream_drift_chi_square is included: its
    hour(ts) bucketing runs in a streaming aggregate over STAGED files,
    where the UTC pin comes from stage_ordered_files — which this probe
    exercises on the staging cache-hit path."""
    from cdw_spark.compare import compare_frames

    s2 = spark.newSession()
    s2.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        for name in (
            "window_rolling_ols_slope",
            "timeseries_autocorr_lag1",
            "timeseries_mann_kendall",
            "events_markov_stationary",
            "stream_drift_chi_square",
        ):
            spec = SPECS[name]
            res = compare_frames(name, spec.fn(s2, sf_dir), spec.oracle, sf_dir)
            assert res.ok, f"{name}: {res}"
    finally:
        s2.conf.unset("spark.sql.session.timeZone")


def test_ivfpq_pruned_recall_measured(spark, sf_dir):
    """The registered nprobe=2-of-4 configuration is an approximation —
    its recall against brute force is MEASURED, never assumed (the
    similarity-family convention). At sf0.01 the measured mean
    recall@10 over the 5 probes is 0.86 (per-probe [1.0, 1.0, 0.9,
    0.9, 0.5]); assert a floor with headroom so fixture regeneration
    noise doesn't flake, and a per-probe sanity floor that catches a
    broken router outright."""
    from cdw_spark.operators.similarity import ivfpq_topk

    e = load_fixture(spark, sf_dir, "embeddings")
    got = ivfpq_topk(
        e.filter(F.col("vec_id") < 5), e, k=10, nlist=4, nprobe=2, iters=2
    ).collect()
    vecs = {
        r["vec_id"]: [round(x * 16) for x in r["embedding"]] for r in e.collect()
    }
    recalls = []
    for pid in range(5):
        pv = vecs[pid]
        exact = sorted(
            (sum((a - b) ** 2 for a, b in zip(pv, cv)), cid)
            for cid, cv in vecs.items()
            if cid != pid
        )[:10]
        exact_ids = {cid for _, cid in exact}
        approx_ids = {r["cand_id"] for r in got if r["probe_id"] == pid}
        assert len(approx_ids) == 10
        recalls.append(len(exact_ids & approx_ids) / 10)
    assert sum(recalls) / len(recalls) >= 0.7, recalls
    assert min(recalls) >= 0.3, recalls
