"""Round-6 part-9/10 entries (Gini, decision stump, Poisson bootstrap,
TOST, Sharpe/Sortino, Wilson CI, query-likelihood), pinned against
plain-Python recomputation at sf0.001 with the exact HALF_UP /
integer-grid conventions the engines use."""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

from markt_database_analyzer_spark.catalog import REGISTRY
from markt_database_analyzer_spark.catalog_stats import _PB_B, _PB_SEED, _PB_THRESH
from markt_database_analyzer_spark.datapipe.sampling import RESOLUTION
from .replay import _h60, _q_half_up

SF_DIR = "/root/testdata/sf0.001"


def test_gini_matches_python_rank_replay(spark):
    bals = [
        _q_half_up(r["c_acctbal"] * 100.0)
        for r in spark.read.parquet(f"{SF_DIR}/customer.parquet").collect()
        if r["c_acctbal"] >= 0
    ]
    xs = sorted(bals)
    n = len(xs)
    sx = sum(xs)
    s1 = sum((i + 1) * x for i, x in enumerate(xs))
    gini = (2.0 * s1 - (n + 1.0) * sx) / (float(n) * sx)
    row = REGISTRY["stats_gini_lorenz"].fn(spark, SF_DIR).collect()[0]
    assert row["n"] == n
    assert abs(row["mean_balance"] - round(sx / n / 100.0, 6)) < 1e-6
    # the tie-grouped rank-sum identity equals the sorted enumeration
    assert abs(row["gini"] - gini) < 1e-9
    assert 0.0 <= row["gini"] <= 1.0


def test_decision_stump_matches_python_split_search(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "n_chars", "lang"
    ).collect()
    pts = sorted((r["n_chars"], 1 if r["lang"] == "en" else 0) for r in docs)
    n = len(pts)
    pos = sum(y for _, y in pts)
    best = None
    by_v: dict[int, list[int]] = defaultdict(lambda: [0, 0])
    for v, y in pts:
        by_v[v][0] += 1
        by_v[v][1] += y
    cumn = cumpos = 0
    for v in sorted(by_v):
        cumn += by_v[v][0]
        cumpos += by_v[v][1]
        if cumn >= n:
            continue
        imp = (
            cumpos * (cumn - cumpos) / cumn
            + (pos - cumpos) * ((n - cumn) - (pos - cumpos)) / (n - cumn)
        ) * 2.0 / n
        if best is None or (imp, v) < best:
            best = (imp, v, cumn, cumpos)
    row = REGISTRY["ml_decision_stump_gini"].fn(spark, SF_DIR).collect()[0]
    imp, v, cumn, cumpos = best
    assert row["threshold"] == v
    assert row["n_left"] == cumn and row["n_right"] == n - cumn
    assert row["pos_left"] == cumpos and row["pos_right"] == pos - cumpos
    assert abs(row["gini_split"] - round(imp, 9)) < 1e-9
    root = 2.0 * pos * (n - pos) / (float(n) * n)
    assert abs(row["gini_root"] - round(root, 9)) < 1e-9
    assert row["gini_split"] <= row["gini_root"] + 1e-12  # a split never hurts


def test_poisson_bootstrap_matches_python_weights(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "value"
    ).collect()
    means = []
    obs = [_h60(str(b)) for b in range(_PB_B)]
    for b in range(_PB_B):
        sw = swv = 0
        for r in ev:
            u = (_h60(f"{_PB_SEED}|{r['event_id']}") + obs[b]) % RESOLUTION
            w = 7
            for k, t in enumerate(_PB_THRESH):
                if u < t:
                    w = k
                    break
            sw += w
            swv += w * _q_half_up(r["value"] * 1000000.0)
        means.append(swv / sw / 1000000.0)
    mom = (
        sum(_q_half_up(m * 1000000.0) for m in means) / len(means) / 1000000.0
    )
    row = REGISTRY["stats_poisson_bootstrap"].fn(spark, SF_DIR).collect()[0]
    assert row["n_resamples"] == _PB_B
    assert abs(row["mean_of_means"] - round(mom, 6)) < 1e-6
    assert row["ci_lo"] <= row["mean_of_means"] <= row["ci_hi"]
    # Poisson(1) weights average ~1, so resample means bracket the truth
    grand = sum(_q_half_up(r["value"] * 1e6) for r in ev) / len(ev) / 1e6
    assert abs(row["mean_of_means"] - grand) < 0.2 * abs(grand) + 1.0


def test_tost_consistency_with_welch(spark):
    row = REGISTRY["stats_tost_equivalence"].fn(spark, SF_DIR).collect()[0]
    assert row["n0"] > 0 and row["n1"] > 0
    assert row["se"] > 0 and row["delta"] > 0
    assert 0.0 <= row["p_lower"] <= 1.0 and 0.0 <= row["p_upper"] <= 1.0
    # equivalent iff both one-sided p-values clear 0.05
    assert row["equivalent"] == int(
        row["p_lower"] <= 0.05 and row["p_upper"] <= 0.05
    )
    # A/A split: the diff should sit well inside a few SEs
    assert abs(row["diff"]) < 10 * row["se"]


def test_sharpe_sortino_matches_python_replay(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_shipdate", "l_extendedprice", "l_discount"
    ).collect()
    daily = defaultdict(int)
    for r in li:
        daily[r["l_shipdate"].date()] += _q_half_up(
            r["l_extendedprice"] * (1.0 - r["l_discount"]) * 100.0
        )
    xs = [daily[d] for d in sorted(daily)]
    rq = [
        _q_half_up(math.log(b / a) * 1e9) for a, b in zip(xs, xs[1:])
    ]
    nr = float(len(rq))
    mr = sum(rq) / nr / 1e9
    sd = math.sqrt(
        (sum(q * q for q in rq) / 1e18 - nr * mr * mr) / (nr - 1)
    )
    dsd = math.sqrt(sum(q * q for q in rq if q < 0) / 1e18 / nr)
    row = REGISTRY["finance_sharpe_sortino"].fn(spark, SF_DIR).collect()[0]
    assert row["n_returns"] == len(rq)
    assert abs(row["mean_daily_ret"] - round(mr, 9)) < 1e-9
    assert abs(row["sharpe"] - round(mr / sd * math.sqrt(252.0), 6)) < 1e-6
    assert abs(row["sortino"] - round(mr / dsd * math.sqrt(252.0), 6)) < 1e-6


def test_wilson_ci_matches_python_and_brackets(spark):
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").collect()
    by = defaultdict(lambda: [0, 0])
    for r in cust:
        by[r["c_nationkey"]][0] += 1
        by[r["c_nationkey"]][1] += int(r["c_acctbal"] > 5000.0)
    rows = REGISTRY["stats_wilson_ci_by_nation"].fn(spark, SF_DIR).collect()
    assert len(rows) == len(by)
    z = 1.96
    for r in rows:
        n, k = by[r["nationkey"]]
        assert r["n_customers"] == n and r["k_high"] == k
        p = k / n
        dn = 1.0 + z * z / n
        ctr = p + z * z / (2.0 * n)
        hw = z * math.sqrt(p * (1.0 - p) / n + z * z / (4.0 * n * n))
        assert abs(r["ci_lo"] - round((ctr - hw) / dn, 6)) < 1e-6
        assert abs(r["ci_hi"] - round((ctr + hw) / dn, 6)) < 1e-6
        assert 0.0 - 1e-9 <= r["ci_lo"] <= r["p_hat"] <= r["ci_hi"] <= 1.0 + 1e-9


def test_query_likelihood_matches_python_replay(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    terms = ("spark", "join", "window")
    mu = 2000.0
    toks = {
        r["doc_id"]: [w for w in re.split(r"[^a-z]+", r["text"].lower()) if w]
        for r in docs
    }
    ct = sum(len(v) for v in toks.values())
    cf = Counter(w for v in toks.values() for w in v if w in terms)
    present = [w for w in sorted(cf) if cf[w] > 0]
    kq = sum(_q_half_up(math.log(mu * (cf[w] / ct)) * 1e9) for w in present)
    nq = len(present)
    scored = []
    for did, ws in toks.items():
        tf = Counter(w for w in ws if w in terms)
        sd = sum(
            _q_half_up(
                (math.log(c + mu * (cf[w] / ct)) - math.log(mu * (cf[w] / ct)))
                * 1e9
            )
            for w, c in tf.items()
        )
        score = round((sd + kq) / 1e9 - nq * math.log(len(ws) + mu), 9)
        scored.append((did, score))
    want = sorted(scored, key=lambda t: (-t[1], t[0]))[:20]
    got = REGISTRY["search_query_likelihood_dirichlet"].fn(spark, SF_DIR).collect()
    assert [(r["doc_id"]) for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        assert abs(r["ql_score"] - s) < 1e-9


def test_gini_and_stump_plans_have_only_partitioned_windows(spark):
    """The scale-path claim: both entries derive ranks from the
    distributed distinct-domain prefix sum, so any Window in the
    executed plan must be PARTITIONED (by the prefix-sum pid) — a
    single-task global sort would silently reintroduce the bottleneck
    the machinery exists to remove."""
    import re as _re

    for name in ("stats_gini_lorenz", "ml_decision_stump_gini"):
        df = REGISTRY[name].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            if "Window" in line and "windowspecdefinition" in line:
                assert _re.search(r"Window \[.*\], \[\w+#\d+\]", line) or (
                    "partitionBy" in line or "pid#" in line
                ), (name, line)
        # the domain windows partition by the prefix-sum pid
        assert "pid#" in plan, name


def test_ranked_cut_entries_use_take_ordered(spark):
    """Every ranked cut in the new retrieval/fusion entries must plan
    as TakeOrderedAndProject (distributed partial top-k) — never a
    global Sort + Limit over the corpus."""
    for name in (
        "rank_fusion_rrf",
        "search_query_likelihood_dirichlet",
        "search_pseudo_relevance_feedback",
    ):
        df = REGISTRY[name].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, name
