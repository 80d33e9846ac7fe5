"""Round-6 part-3 entries (Kruskal-Wallis, MRR, Bollinger bands,
Cramer's V, Cohen's kappa, decile lift), pinned against plain-Python
recomputation at sf0.001 with the exact HALF_UP / integer-grid
conventions the engines use."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from markt_database_analyzer_spark.catalog import REGISTRY
from .replay import _q_half_up, _round_half_up

SF_DIR = "/root/testdata/sf0.001"


def test_kruskal_wallis_matches_python_rank_replay(spark):
    """Tie-averaged doubled ranks + the H formula with explicit
    left-assoc group folds — the engine convention replayed exactly."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_returnflag", "l_quantity"
    ).collect()
    pts = [(r["l_returnflag"], _q_half_up(r["l_quantity"] * 100.0)) for r in li]
    cnt = Counter(v for _, v in pts)
    r2, cum = {}, 0
    for v in sorted(cnt):
        cum += cnt[v]
        r2[v] = 2 * cum - cnt[v] + 1
    groups = ("A", "N", "R")
    stats = {g: [0, 0] for g in groups}  # n, sum_r2 (exact ints)
    for g, v in pts:
        stats[g][0] += 1
        stats[g][1] += r2[v]
    nn = float(stats["A"][0])
    ts = float(stats["A"][1]) * float(stats["A"][1]) / float(stats["A"][0])
    for g in groups[1:]:
        nn = nn + float(stats[g][0])
        ts = ts + float(stats[g][1]) * float(stats[g][1]) / float(stats[g][0])
    h = 3.0 / (nn * (nn + 1)) * ts - 3 * (nn + 1)
    tsum = float(sum(c**3 - c for c in cnt.values()))
    tc = 1 - tsum / (nn * nn * nn - nn)
    row = REGISTRY["stats_kruskal_wallis"].fn(spark, SF_DIR).collect()[0]
    assert row["k"] == 3 and row["n"] == len(pts)
    assert abs(row["h_stat"] - round(h, 6)) < 1e-6
    assert abs(row["tie_correction"] - round(tc, 9)) < 1e-9
    assert abs(row["h_adj"] - round(h / tc, 6)) < 1e-6
    # ties are real on this fixture, and correction only inflates H
    assert 0.0 < row["tie_correction"] < 1.0
    assert row["h_adj"] >= row["h_stat"] >= 0.0


def test_kruskal_wallis_agrees_with_naive_average_ranks(spark):
    """Independent derivation: classic 12/(N(N+1)) formula over
    1-based tie-averaged (float) ranks equals the doubled-rank form."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_returnflag", "l_quantity"
    ).collect()
    vals = sorted(_q_half_up(r["l_quantity"] * 100.0) for r in li)
    rank, i = {}, 0
    while i < len(vals):
        j = i
        while j < len(vals) and vals[j] == vals[i]:
            j += 1
        rank[vals[i]] = (i + 1 + j) / 2.0
        i = j
    by_g = defaultdict(list)
    for r in li:
        by_g[r["l_returnflag"]].append(rank[_q_half_up(r["l_quantity"] * 100.0)])
    n = len(li)
    h = 12.0 / (n * (n + 1)) * sum(
        sum(rs) ** 2 / len(rs) for rs in by_g.values()
    ) - 3 * (n + 1)
    row = REGISTRY["stats_kruskal_wallis"].fn(spark, SF_DIR).collect()[0]
    assert abs(row["h_stat"] - h) < 1e-4


def test_mrr_matches_python_replay(spark):
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").collect()
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").collect()
    nations = {
        r["n_nationkey"]: r["n_name"]
        for r in spark.read.parquet(f"{SF_DIR}/nation.parquet").collect()
    }
    ocnt = Counter(r["o_custkey"] for r in orders)
    by_nation = defaultdict(list)
    for r in cust:
        rel = min(4, int(math.floor(ocnt.get(r["c_custkey"], 0) / 5.0)))
        by_nation[r["c_nationkey"]].append((r["c_acctbal"], r["c_custkey"], rel))
    first, rrs = {}, {}
    for nk, rows in by_nation.items():
        ranked = sorted(rows, key=lambda t: (-t[0], t[1]))[:10]
        fr = next((i for i, t in enumerate(ranked, 1) if t[2] >= 3), 0)
        first[nations[nk]] = fr
        rrs[nations[nk]] = 0 if fr == 0 else _q_half_up(1e9 / fr)
    mrr = round(sum(rrs.values()) / len(rrs) / 1e9, 9)
    got = {
        r["nation"]: (r["first_relevant_rank"], r["reciprocal_rank"], r["mrr_at_10"])
        for r in REGISTRY["eval_mrr_at_k"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(first)
    for nation, (fr, rr, m) in got.items():
        assert fr == first[nation], nation
        assert abs(rr - round(rrs[nation] / 1e9, 9)) < 1e-9
        assert abs(m - mrr) < 1e-9
        # rr = 1/rank exactly when a hit exists; 0 otherwise
        assert (fr == 0 and rr == 0.0) or abs(rr - round(1.0 / fr, 9)) < 1e-9


def test_bollinger_matches_python_rolling_replay(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_type", "ts", "value"
    ).collect()
    daily = defaultdict(int)
    for r in ev:
        day = r["ts"].replace(hour=0, minute=0, second=0, microsecond=0)
        daily[(r["event_type"], day)] += _q_half_up(r["value"] * 100.0)
    series = defaultdict(list)
    for (et, day), cents in daily.items():
        series[et].append((day, cents))
    expect = {}
    for et, pts in series.items():
        pts.sort()
        for i, (day, cents) in enumerate(pts):
            frame = [c for _, c in pts[max(0, i - 19) : i + 1]]
            n = len(frame)
            ms, mss = sum(frame), sum(c * c for c in frame)
            m = float(ms) / n
            sd = math.sqrt(max(float(mss) / n - m * m, 0.0))
            expect[(et, day)] = (
                n,
                round(cents / 100.0, 2),
                round(m / 100.0, 6),
                round((m + 2 * sd) / 100.0, 6),
                round((m - 2 * sd) / 100.0, 6),
            )
    got = {
        (r["event_type"], r["day"]): (
            r["n_obs"], r["price"], r["ma20"], r["upper_band"], r["lower_band"],
        )
        for r in REGISTRY["ts_bollinger_bands"].fn(spark, SF_DIR).collect()
    }
    assert len(got) == len(expect)
    for k, e in expect.items():
        g = got[k]
        assert g[0] == e[0] and g[1] == e[1], k
        for gi, ei in zip(g[2:], e[2:]):
            assert abs(gi - ei) < 1e-6, k
    # band geometry: lower <= ma <= upper always
    for n, _, ma, up, lo in got.values():
        assert lo <= ma <= up and 1 <= n <= 20


def test_cramers_v_matches_python_contingency(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "lang", "source"
    ).collect()
    cells = Counter((r["lang"], r["source"]) for r in docs)
    rows = Counter(r["lang"] for r in docs)
    cols = Counter(r["source"] for r in docs)
    n = len(docs)
    # dsum: each term quantized to the 1e-6 grid before the exact sum
    acc = 0
    for (lang, src), o in cells.items():
        e = rows[lang] * cols[src] / float(n)
        acc += _q_half_up(((o - e) * (o - e) / e) * 1e6)
    chi2 = acc / 1e6
    r_, c_ = len(rows), len(cols)
    v = math.sqrt(chi2 / (n * (min(r_, c_) - 1)))
    row = REGISTRY["stats_cramers_v"].fn(spark, SF_DIR).collect()[0]
    assert (row["n"], row["r"], row["c"]) == (n, r_, c_)
    assert abs(row["chi2"] - round(chi2, 6)) < 1e-6
    assert abs(row["phi2"] - round(chi2 / n, 9)) < 1e-9
    assert abs(row["cramers_v"] - round(v, 9)) < 1e-9
    assert 0.0 <= row["cramers_v"] <= 1.0


def test_kappa_matches_python_confusion_replay(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    stop = {"the", "a", "of", "and", "is"}
    tp = fp = fn = tn = 0
    for r in docs:
        toks = [t for t in r["text"].strip().lower().split() if t]
        score = _round_half_up(sum(t in stop for t in toks) / len(toks), 9)
        pred, truth = score >= 0.08, r["lang"] == "en"
        if pred and truth:
            tp += 1
        elif pred:
            fp += 1
        elif truth:
            fn += 1
        else:
            tn += 1
    n = len(docs)
    po = (tp + tn) / float(n)
    pe = ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) / (float(n) * n)
    kappa = (po - pe) / (1 - pe)
    row = REGISTRY["eval_cohens_kappa"].fn(spark, SF_DIR).collect()[0]
    assert (row["n"], row["tp"], row["fp"], row["fn"], row["tn"]) == (
        n, tp, fp, fn, tn,
    )
    assert abs(row["po"] - round(po, 9)) < 1e-9
    assert abs(row["pe"] - round(pe, 9)) < 1e-9
    assert abs(row["kappa"] - round(kappa, 9)) < 1e-9
    # kappa bounded by agreement: kappa <= po/(stays in [-1, 1])
    assert -1.0 <= row["kappa"] <= 1.0
    # all four confusion cells populated on this fixture (non-degenerate)
    assert min(tp, fp, fn, tn) > 0


def test_lift_gains_match_python_ntile_replay(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    stop = {"the", "a", "of", "and", "is"}
    scored = []
    for r in docs:
        toks = [t for t in r["text"].strip().lower().split() if t]
        score = _round_half_up(sum(t in stop for t in toks) / len(toks), 9)
        scored.append((-score, r["doc_id"], 1 if r["lang"] == "en" else 0))
    scored.sort()
    n = len(scored)
    # standard SQL ntile: first (n % 10) buckets get ceil(n/10) rows
    big, rem = n // 10 + 1, n % 10
    small = n // 10
    agg = {d: [0, 0] for d in range(1, 11)}
    i = 0
    for d in range(1, 11):
        size = big if d <= rem else small
        for _ in range(size):
            agg[d][0] += 1
            agg[d][1] += scored[i][2]
            i += 1
    tot_n = sum(v[0] for v in agg.values())
    tot_pos = sum(v[1] for v in agg.values())
    base = tot_pos / float(tot_n)
    got = REGISTRY["eval_lift_gains_deciles"].fn(spark, SF_DIR).collect()
    assert [r["decile"] for r in got] == list(range(1, 11))
    cum_n = cum_pos = 0
    for r in got:
        en, ep = agg[r["decile"]]
        cum_n += en
        cum_pos += ep
        assert (r["n"], r["pos"]) == (en, ep), r["decile"]
        assert abs(r["lift"] - round((ep / float(en)) / base, 9)) < 1e-9
        assert abs(r["cum_gain"] - round(cum_pos / float(tot_pos), 9)) < 1e-9
        assert abs(r["cum_lift"] - round((cum_pos / float(cum_n)) / base, 9)) < 1e-9
    # gains curve ends at exactly 1, is nondecreasing
    gains = [r["cum_gain"] for r in got]
    assert gains == sorted(gains) and abs(gains[-1] - 1.0) < 1e-9
