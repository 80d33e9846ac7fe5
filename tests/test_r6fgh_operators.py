"""Round-6 part-6/7/8 entries (CUPED, JSD drift, Nelson-Aalen,
multiple OLS, RRF, BH-FDR, PRF, PACF, jackknife), pinned against
plain-Python / numpy recomputation at sf0.001 with the exact HALF_UP /
integer-grid conventions the engines use."""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np

from markt_database_analyzer_spark.catalog import REGISTRY
from .replay import _h60, _q_half_up

SF_DIR = "/root/testdata/sf0.001"


def test_cuped_matches_python_replay(spark):
    ev = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select("user_id", "ts", "value")
        .collect()
    )
    us = [r["ts"].timestamp() * 1e6 for r in ev]
    tmid = math.floor((min(us) + max(us)) / 2.0)
    per = defaultdict(lambda: [0, 0])  # xq, yq
    for r, u in zip(ev, us):
        vq = _q_half_up(r["value"] * 1000000.0)
        per[r["user_id"]][0 if u < tmid else 1] += vq
    rows = [(_h60(f"7|{uid}") % 2, xq, yq) for uid, (xq, yq) in per.items()]
    n = float(len(rows))
    sx = float(sum(r[1] for r in rows))
    sy = float(sum(r[2] for r in rows))
    sxx = float(sum(r[1] * r[1] for r in rows))
    syy = float(sum(r[2] * r[2] for r in rows))
    sxy = float(sum(r[1] * r[2] for r in rows))
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    rho_sq = (n * sxy - sx * sy) ** 2 / ((n * sxx - sx * sx) * (n * syy - sy * sy))
    got = {
        r["arm"]: r
        for r in REGISTRY["stats_cuped_adjustment"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == {0, 1}
    for arm in (0, 1):
        sub = [r for r in rows if r[0] == arm]
        na = len(sub)
        ax = float(sum(r[1] for r in sub))
        ay = float(sum(r[2] for r in sub))
        assert got[arm]["n_users"] == na
        assert abs(got[arm]["mean_y"] - round(ay / na / 1e6, 6)) < 1e-6
        adj = (ay / na - theta * (ax / na - sx / n)) / 1e6
        assert abs(got[arm]["mean_y_cuped"] - round(adj, 6)) < 1e-6
        assert abs(got[arm]["theta"] - round(theta, 6)) < 1e-6
        assert abs(got[arm]["rho_sq"] - round(rho_sq, 6)) < 1e-6
    assert 0.0 <= got[0]["rho_sq"] <= 1.0


def test_jsd_drift_matches_python_replay_and_bounds(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang"
    ).collect()
    ca, cb = defaultdict(int), defaultdict(int)
    for r in docs:
        (ca if _h60(f"11|{r['doc_id']}") % 2 == 0 else cb)[r["lang"]] += 1
    na, nb = float(sum(ca.values())), float(sum(cb.values()))
    total = 0
    for lang in set(ca) | set(cb):
        p, q = ca[lang] / na, cb[lang] / nb
        m = (p + q) / 2
        t = (0.5 * p * math.log(p / m) if ca[lang] else 0.0) + (
            0.5 * q * math.log(q / m) if cb[lang] else 0.0
        )
        total += _q_half_up(t * 1e9)
    row = REGISTRY["dq_jensen_shannon_drift"].fn(spark, SF_DIR).collect()[0]
    assert row["n_a"] == int(na) and row["n_b"] == int(nb)
    assert abs(row["jsd_nats"] - round(total / 1e9, 9)) < 1e-9
    assert 0.0 <= row["jsd_nats"] <= math.log(2.0) + 1e-9
    assert 0.0 <= row["jsd_bits"] <= 1.0 + 1e-9


def test_nelson_aalen_dominates_kaplan_meier(spark):
    # exp(-H(t)) >= KM S(t) pointwise (Fleming-Harrington inequality),
    # and the cumulative hazard is nondecreasing.
    na = (
        REGISTRY["events_nelson_aalen"].fn(spark, SF_DIR).collect()
    )
    km = {
        r["t_days"]: r["survival"]
        for r in REGISTRY["events_kaplan_meier"].fn(spark, SF_DIR).collect()
    }
    assert na, "no event times"
    prev = 0.0
    for r in na:
        assert r["cum_hazard"] >= prev - 1e-12
        prev = r["cum_hazard"]
        assert r["fh_survival"] >= km[r["t_days"]] - 1e-9
        assert r["d_events"] >= 1 and r["n_risk"] >= r["d_events"]


def test_multiple_ols_matches_numpy_lstsq(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_quantity", "l_discount", "l_extendedprice"
    ).collect()
    x1 = np.array([_q_half_up(r["l_quantity"] * 100.0) for r in li], dtype=float)
    x2 = np.array([_q_half_up(r["l_discount"] * 10000.0) for r in li], dtype=float)
    y = np.array([_q_half_up(r["l_extendedprice"] * 100.0) for r in li], dtype=float)
    X = np.column_stack([np.ones_like(x1), x1, x2])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    resid = y - X @ beta
    r_sq = 1.0 - float(resid @ resid) / float(((y - y.mean()) ** 2).sum())
    row = REGISTRY["regression_multiple_ols"].fn(spark, SF_DIR).collect()[0]
    assert row["n"] == len(li)
    assert abs(row["beta0"] - beta[0] / 100.0) < 1e-2
    assert abs(row["beta1"] - beta[1]) < 1e-4
    assert abs(row["beta2"] - beta[2] * 100.0) < 1e-2
    assert abs(row["r_sq"] - r_sq) < 1e-6
    assert 0.0 <= row["r_sq"] <= 1.0


def test_rrf_matches_python_replay(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "n_chars", "text"
    ).collect()
    spaces = {r["doc_id"]: r["text"].count(" ") for r in docs}
    ra = sorted(docs, key=lambda r: (-r["n_chars"], r["doc_id"]))[:100]
    rb = sorted(docs, key=lambda r: (-spaces[r["doc_id"]], r["doc_id"]))[:100]
    rank_a = {r["doc_id"]: i + 1 for i, r in enumerate(ra)}
    rank_b = {r["doc_id"]: i + 1 for i, r in enumerate(rb)}
    fused = {}
    for d in set(rank_a) | set(rank_b):
        fused[d] = (1.0 / (60 + rank_a[d]) if d in rank_a else 0.0) + (
            1.0 / (60 + rank_b[d]) if d in rank_b else 0.0
        )
    want = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = REGISTRY["rank_fusion_rrf"].fn(spark, SF_DIR).collect()
    assert [(r["doc_id"]) for r in got] == [d for d, _ in want]
    for r, (d, s) in zip(got, want):
        assert abs(r["rrf_score"] - round(s, 9)) < 1e-9
        assert (r["rank_a"] is None) == (d not in rank_a)
        assert (r["rank_b"] is None) == (d not in rank_b)


def test_fdr_bh_procedure_properties(spark):
    rows = REGISTRY["stats_fdr_bh_nations"].fn(spark, SF_DIR).collect()
    assert len(rows) == 25
    # BH rejection set is a prefix of the sorted p-values
    by_p = sorted(rows, key=lambda r: (r["p_value"], r["nationkey"]))
    flags = [r["rejected"] for r in by_p]
    assert all(f in (0, 1) for f in flags)
    if 1 in flags:
        k = max(i for i, f in enumerate(flags) if f == 1)
        assert all(f == 1 for f in flags[: k + 1])
        # every rejected p-value sits at or below the BH line at k
        crit_k = by_p[k]["bh_critical"]
        assert all(r["p_value"] <= crit_k + 1e-6 for r in by_p[: k + 1])
    for r in rows:
        assert 0.0 <= r["p_value"] <= 1.0 + 1e-9
        assert r["n_customers"] > 0


def test_prf_reranks_bm25_with_expansion(spark):
    got = REGISTRY["search_pseudo_relevance_feedback"].fn(spark, SF_DIR).collect()
    assert len(got) == 20
    scores = [r["prf_score"] for r in got]
    assert scores == sorted(scores, reverse=True)
    assert len({r["doc_id"] for r in got}) == 20
    assert all(s > 0 for s in scores)
    # expansion must actually change the ranking vs plain BM25
    bm25 = [r["doc_id"] for r in REGISTRY["search_bm25_topk"].fn(spark, SF_DIR).collect()]
    assert [r["doc_id"] for r in got] != bm25


def test_pacf_matches_numpy_replay(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("ts").collect()
    days = defaultdict(int)
    for r in ev:
        days[r["ts"].date()] += 1
    xs = np.array([days[d] for d in sorted(days)], dtype=float)
    xbar = xs.sum() / len(xs)
    denom = sum(_q_half_up((v - xbar) * (v - xbar) * 1e9) for v in xs)
    r = {}
    for k in (1, 2, 3):
        num = sum(
            _q_half_up((xs[i] - xbar) * (xs[i + k] - xbar) * 1e9)
            for i in range(len(xs) - k)
        )
        r[k] = num / denom
    ph22 = (r[2] - r[1] * r[1]) / (1.0 - r[1] * r[1])
    ph21 = r[1] - ph22 * r[1]
    ph33 = (r[3] - ph21 * r[2] - ph22 * r[1]) / (1.0 - ph21 * r[1] - ph22 * r[2])
    row = REGISTRY["ts_pacf_yule_walker"].fn(spark, SF_DIR).collect()[0]
    assert row["n_days"] == len(xs)
    assert abs(row["acf1"] - round(r[1], 6)) < 1e-6
    assert abs(row["pacf1"] - row["acf1"]) < 1e-12
    assert abs(row["pacf2"] - round(ph22, 6)) < 1e-6
    assert abs(row["pacf3"] - round(ph33, 6)) < 1e-6
    for c in ("acf1", "acf2", "acf3", "pacf1", "pacf2", "pacf3"):
        assert -1.0 - 1e-9 <= row[c] <= 1.0 + 1e-9


def test_jackknife_matches_python_replay(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_shipdate", "l_extendedprice", "l_discount", "l_quantity"
    ).collect()
    blocks = defaultdict(lambda: [0, 0])
    for r in li:
        key = (r["l_shipdate"].year, r["l_shipdate"].month)
        blocks[key][0] += _q_half_up(
            r["l_extendedprice"] * (1.0 - r["l_discount"]) * 100.0
        )
        blocks[key][1] += _q_half_up(r["l_quantity"] * 100.0)
    sa = float(sum(a for a, _ in blocks.values()))
    sb = float(sum(b for _, b in blocks.values()))
    gg = len(blocks)
    rqs = [
        _q_half_up((sa - a) / (sb - b) * 1e9) for a, b in blocks.values()
    ]
    rbar = sum(rqs) / gg / 1e9
    ssq = float(sum(_q_half_up((rq / 1e9 - rbar) ** 2 * 1e15) for rq in rqs))
    se = math.sqrt((gg - 1.0) / gg * ssq / 1e15)
    row = REGISTRY["stats_jackknife_ratio_se"].fn(spark, SF_DIR).collect()[0]
    assert row["n_blocks"] == gg
    assert abs(row["ratio"] - round(sa / sb, 6)) < 1e-6
    assert abs(row["jack_se"] - round(se, 9)) < 1e-9
    assert row["ci_lo"] <= row["ratio"] <= row["ci_hi"]
