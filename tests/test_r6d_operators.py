"""Round-6 part-4 entries (Mann-Kendall, CCF, RSI, Brier, hapax),
pinned against plain-Python recomputation at sf0.001 with the exact
HALF_UP / integer-grid conventions the engines use."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from markt_database_analyzer_spark.catalog import REGISTRY
from .replay import _q_half_up, _round_half_up

SF_DIR = "/root/testdata/sf0.001"


def _daily_cents(rows, key, ts, val):
    out = defaultdict(int)
    for r in rows:
        day = r[ts].replace(hour=0, minute=0, second=0, microsecond=0)
        out[(r[key], day)] += _q_half_up(r[val] * 100.0)
    return out


def test_mann_kendall_matches_python_pair_enumeration(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_type", "ts", "value"
    ).collect()
    daily = _daily_cents(ev, "event_type", "ts", "value")
    series = defaultdict(list)
    for (et, day), v in daily.items():
        series[et].append((day, v))
    got = {
        r["event_type"]: r
        for r in REGISTRY["ts_mann_kendall_trend"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(series)
    for et, pts in series.items():
        pts.sort()
        vals = [v for _, v in pts]
        n = len(vals)
        s = sum(
            (vals[j] > vals[i]) - (vals[j] < vals[i])
            for i in range(n)
            for j in range(i + 1, n)
        )
        cnt = Counter(vals)
        tv = sum(c * (c - 1) * (2 * c + 5) for c in cnt.values())
        t1 = sum(c * (c - 1) for c in cnt.values()) // 2
        var_s = (float(n) * (n - 1) * (2 * n + 5) - tv) / 18.0
        if s > 0:
            z = (s - 1) / math.sqrt(var_s)
        elif s < 0:
            z = (s + 1) / math.sqrt(var_s)
        else:
            z = 0.0
        np_ = float(n) * (n - 1) / 2
        tau = s / math.sqrt((np_ - float(t1)) * np_)
        r = got[et]
        assert r["n"] == n and r["s_stat"] == s, et
        assert abs(r["var_s"] - round(var_s, 6)) < 1e-6
        assert abs(r["z"] - round(z, 6)) < 1e-6
        assert abs(r["tau_b"] - round(tau, 9)) < 1e-9
        assert -1.0 <= r["tau_b"] <= 1.0


def test_ccf_matches_python_replay_and_lag0_is_pearson(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_type", "ts"
    ).collect()
    hourly = defaultdict(int)
    for r in ev:
        if r["event_type"] in ("click", "view"):
            h = r["ts"].replace(minute=0, second=0, microsecond=0)
            hourly[(r["event_type"], int(h.timestamp()) // 3600)] += 1
    x = {h: c for (et, h), c in hourly.items() if et == "click"}
    y = {h: c for (et, h), c in hourly.items() if et == "view"}
    expect = {}
    for lag in range(7):
        pairs = [(x[h], y[h + lag]) for h in x if h + lag in y]
        n = len(pairs)
        sx = sum(a for a, _ in pairs)
        sy = sum(b for _, b in pairs)
        sxx = sum(a * a for a, _ in pairs)
        syy = sum(b * b for _, b in pairs)
        sxy = sum(a * b for a, b in pairs)
        r = (float(n) * sxy - float(sx) * sy) / (
            math.sqrt(float(n) * sxx - float(sx) * sx)
            * math.sqrt(float(n) * syy - float(sy) * sy)
        )
        expect[lag] = (n, round(r, 9))
    got = {
        r["lag"]: (r["n_pairs"], r["ccf"])
        for r in REGISTRY["ts_cross_correlation"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(range(7))
    for lag, (n, r) in expect.items():
        assert got[lag][0] == n, lag
        assert abs(got[lag][1] - r) < 1e-9, lag
        assert -1.0 <= got[lag][1] <= 1.0


def test_rsi_matches_python_rolling_replay(spark):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderpriority", "o_orderdate", "o_totalprice"
    ).collect()
    daily = defaultdict(int)
    for r in orders:
        daily[(r["o_orderpriority"], r["o_orderdate"])] += _q_half_up(
            r["o_totalprice"] * 100.0
        )
    series = defaultdict(list)
    for (p, day), v in daily.items():
        series[p].append((day, v))
    expect = {}
    for p, pts in series.items():
        pts.sort()
        deltas = [None] + [b[1] - a[1] for a, b in zip(pts, pts[1:])]
        for i, (day, _) in enumerate(pts):
            frame = [d for d in deltas[max(0, i - 13) : i + 1] if d is not None]
            nd = len(frame)
            sg = sum(d for d in frame if d > 0)
            sl = sum(-d for d in frame if d < 0)
            if nd == 0:
                rsi = None
            elif sg + sl == 0:
                rsi = 50.0
            else:
                rsi = round(100.0 * float(sg) / (sg + sl), 6)
            expect[(p, day)] = (nd, round(sg / 100.0, 2), round(sl / 100.0, 2), rsi)
    got = {
        (r["priority"], r["day"]): (
            r["n_deltas"], r["gain_sum"], r["loss_sum"], r["rsi"],
        )
        for r in REGISTRY["finance_rsi_sma"].fn(spark, SF_DIR).collect()
    }
    assert len(got) == len(expect)
    for k, e in expect.items():
        g = got[k]
        assert g[:3] == e[:3], k
        if e[3] is None:
            assert g[3] is None, k
        else:
            assert abs(g[3] - e[3]) < 1e-6, k
    # RSI bounded; first row of each series is NULL (no delta)
    for (p, day), (nd, _, _, rsi) in got.items():
        assert rsi is None or 0.0 <= rsi <= 100.0
        assert (rsi is None) == (nd == 0)


def test_brier_matches_python_replay(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    stop = {"the", "a", "of", "and", "is"}
    n = len(docs)
    pos = bq = 0
    for r in docs:
        toks = [t for t in r["text"].strip().lower().split() if t]
        score = _round_half_up(sum(t in stop for t in toks) / len(toks), 9)
        label = 1 if r["lang"] == "en" else 0
        pos += label
        bq += _q_half_up(1e9 * (score - label) * (score - label))
    brier = bq / n / 1e9
    p = pos / float(n)
    ref = p * (1 - p)
    row = REGISTRY["eval_brier_score"].fn(spark, SF_DIR).collect()[0]
    assert (row["n"], row["pos"]) == (n, pos)
    assert abs(row["brier"] - round(brier, 9)) < 1e-9
    assert abs(row["brier_ref"] - round(ref, 9)) < 1e-9
    assert abs(row["brier_skill"] - round(1 - brier / ref, 9)) < 1e-9
    # proper-score bounds: 0 <= brier <= 1; skill <= 1
    assert 0.0 <= row["brier"] <= 1.0 and row["brier_skill"] <= 1.0


def test_hapax_matches_python_vocab_replay(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    vc = defaultdict(Counter)
    for r in docs:
        vc[r["lang"]].update(t for t in r["text"].strip().lower().split() if t)
    got = {
        r["lang"]: r
        for r in REGISTRY["text_hapax_richness"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(vc)
    for lang, cnt in vc.items():
        vocab = len(cnt)
        hapax = sum(1 for c in cnt.values() if c == 1)
        dis = sum(1 for c in cnt.values() if c == 2)
        tokens = sum(cnt.values())
        r = got[lang]
        assert (r["vocab"], r["hapax"], r["dis"], r["tokens"]) == (
            vocab, hapax, dis, tokens,
        ), lang
        assert abs(r["hapax_ratio"] - round(hapax / vocab, 9)) < 1e-9
        assert abs(r["type_token_ratio"] - round(vocab / tokens, 9)) < 1e-9
        # structural sanity: hapax + dis never exceed the vocabulary
        assert r["hapax"] + r["dis"] <= r["vocab"] <= r["tokens"]
