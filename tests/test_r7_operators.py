"""Round-7 part-2 entries (Grubbs, Ljung-Box, CAPM beta, degree
assortativity), pinned against plain-Python recomputation at sf0.001."""

from __future__ import annotations

import math
from collections import defaultdict

from markt_database_analyzer_spark.catalog import REGISTRY
from .replay import _phi, _q_half_up

SF_DIR = "/root/testdata/sf0.001"


def _daily_revenue_cents(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_shipdate", "l_extendedprice", "l_discount"
    ).collect()
    daily = defaultdict(int)
    for r in li:
        daily[r["l_shipdate"].date()] += _q_half_up(
            r["l_extendedprice"] * (1.0 - r["l_discount"]) * 100.0
        )
    return daily


def test_grubbs_matches_python_replay(spark):
    daily = _daily_revenue_cents(spark)
    xs = list(daily.values())
    n = len(xs)
    mean = sum(xs) / n
    sd = math.sqrt((sum(x * x for x in xs) - n * mean * mean) / (n - 1))
    day, x = max(daily.items(), key=lambda kv: (abs(kv[1] - mean), -kv[0].toordinal()))
    row = REGISTRY["stats_grubbs_test"].fn(spark, SF_DIR).collect()[0]
    assert row["n"] == n
    assert abs(row["mean_cents"] - round(mean, 6)) < 1e-6
    assert abs(row["sd_cents"] - round(sd, 6)) < 1e-6
    assert abs(row["g_stat"] - round(abs(x - mean) / sd, 9)) < 1e-9
    assert row["outlier_day"].date() == day
    assert row["outlier_cents"] == x
    assert row["g_stat"] > 0.0


def test_ljung_box_matches_python_replay(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("ts", "value").collect()
    by_hour = defaultdict(list)
    for r in ev:
        by_hour[r["ts"].replace(minute=0, second=0, microsecond=0)].append(r["value"])
    hours = sorted(by_hour)
    # the davg quantized mean (micro grid)
    xs = [
        sum(_q_half_up(v * 1e6) for v in by_hour[h]) / len(by_hour[h]) / 1e6
        for h in hours
    ]
    n = len(xs)
    xbar = _q_half_up(sum(_q_half_up(x * 1e6) for x in xs) / 1e0) / len(xs) / 1e6
    denom = sum(_q_half_up((x - xbar) * (x - xbar) * 1e9) for x in xs)
    q = 0.0
    for k in range(1, 7):
        num = sum(
            _q_half_up((xs[i] - xbar) * (xs[i + k] - xbar) * 1e9)
            for i in range(n - k)
        )
        rk = num / denom
        q += rk * rk / (n - k)
    q *= n * (n + 2.0)
    z = ((q / 6.0) ** (1.0 / 3.0) - (1.0 - 2.0 / 54.0)) / math.sqrt(2.0 / 54.0)
    row = REGISTRY["stats_ljung_box"].fn(spark, SF_DIR).collect()[0]
    assert row["n"] == n and row["df"] == 6
    assert abs(row["q_stat"] - round(q, 9)) < 1e-6  # cbrt vs ** rounding slack
    assert abs(row["p_value"] - round(1.0 - _phi(z), 6)) < 1e-5
    assert 0.0 <= row["p_value"] <= 1.0


def test_beta_capm_invariants(spark):
    """The value pin is the DuckDB differential; here pin the identities:
    one row per event type, betas finite, and the n-weighted average of
    per-type beta is NOT forced to 1 (types' matched-hour sets differ),
    but each |beta| stays within a sane envelope for mean-reverting
    engagement series."""
    rows = REGISTRY["finance_beta_capm"].fn(spark, SF_DIR).collect()
    types = {r["event_type"] for r in rows}
    assert len(rows) == len(types) >= 3
    for r in rows:
        assert r["n_hours"] > 10
        assert math.isfinite(r["beta"]) and math.isfinite(r["alpha"])
        assert abs(r["beta"]) < 50.0


def test_assortativity_matches_python_replay(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    ).collect()
    by_order = defaultdict(set)
    for r in li:
        by_order[r["l_orderkey"]].add(r["l_partkey"])
    edges = set()
    for parts in by_order.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for jj in range(i + 1, len(ps)):
                edges.add((ps[i], ps[jj]))
    deg = defaultdict(int)
    for x, y in edges:
        deg[x] += 1
        deg[y] += 1
    pairs = [(deg[x], deg[y]) for x, y in edges]
    sym = pairs + [(b, a) for a, b in pairs]
    m2 = len(sym)
    sa = float(sum(a for a, _ in sym))
    saa = float(sum(a * a for a, _ in sym))
    sab = float(sum(a * b for a, b in sym))
    r_expect = (m2 * sab - sa * sa) / (m2 * saa - sa * sa)
    row = REGISTRY["graph_degree_assortativity"].fn(spark, SF_DIR).collect()[0]
    assert row["n_edges"] == len(edges)
    assert abs(row["assortativity"] - round(r_expect, 9)) < 1e-9
    assert -1.0 <= row["assortativity"] <= 1.0


def test_l_diversity_matches_python_replay(spark):
    rows = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_nationkey", "c_acctbal", "c_mktsegment"
    ).collect()
    cls = defaultdict(lambda: defaultdict(int))
    for r in rows:
        band = _q_half_up(r["c_acctbal"] * 100.0) // 100_000
        cls[(r["c_nationkey"], band)][r["c_mktsegment"]] += 1
    n_classes = len(cls)
    min_l = min(len(v) for v in cls.values())
    below = {k: v for k, v in cls.items() if len(v) < 3}
    rows_below = sum(sum(v.values()) for v in below.values())
    n_rows = sum(sum(v.values()) for v in cls.values())
    ent = []
    for v in cls.values():
        k = sum(v.values())
        ent.append(sum(-(c / k) * math.log(c / k) for c in v.values()))
    out = REGISTRY["privacy_l_diversity"].fn(spark, SF_DIR).collect()[0]
    assert out["n_classes"] == n_classes
    assert out["n_rows"] == n_rows
    assert out["min_distinct_l"] == min_l
    assert out["classes_below_l"] == len(below)
    assert (out["rows_below_l"] or 0) == rows_below
    assert abs(out["min_entropy_l"] - round(math.exp(min(ent)), 9)) < 1e-8
    assert 1.0 <= out["min_entropy_l"] <= out["min_distinct_l"] + 1e-9


def test_dp_laplace_matches_python_replay(spark):
    import hashlib

    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").select("c_nationkey").collect()
    nat = {
        r["n_nationkey"]: r["n_name"]
        for r in spark.read.parquet(f"{SF_DIR}/nation.parquet").collect()
    }
    counts = defaultdict(int)
    for r in cust:
        counts[nat[r["c_nationkey"]]] += 1
    out = {r["n_name"]: r for r in REGISTRY["privacy_dp_laplace_counts"].fn(spark, SF_DIR).collect()}
    assert set(out) == set(counts)
    for name, true_c in counts.items():
        h = int(hashlib.md5(f"23|{name}".encode()).hexdigest()[:15], 16)
        u = (h + 0.5) / 2.0**60
        noise = -(1.0) * (1.0 if u >= 0.5 else -1.0) * math.log(1.0 - 2.0 * abs(u - 0.5))
        r = out[name]
        assert r["true_count"] == true_c
        assert abs(r["noisy_count"] - round(true_c + noise, 6)) < 1e-6
        assert r["laplace_scale"] == 1.0
    # noise is symmetric and unbounded but ln(1-2|u-.5|) stays finite here
    assert all(abs(r["noisy_count"] - r["true_count"]) < 50 for r in out.values())


def test_code_detect_matches_python_replay(spark):
    import re

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).collect()
    agg = defaultdict(lambda: [0, 0, 0])  # n, flagged, micro-sum
    for r in docs:
        if r["n_chars"] <= 0:
            continue
        sym = len(re.sub(r"[^{}();=<>]", "", r["text"]))
        dig = len(re.sub(r"[^0-9]", "", r["text"]))
        score = round((2.0 * sym + dig) / r["n_chars"], 9)
        a = agg[(r["lang"], r["source"])]
        a[0] += 1
        a[1] += 1 if score >= 0.05 else 0
        a[2] += _q_half_up(score * 1e6)
    out = {(r["lang"], r["source"]): r for r in REGISTRY["text_code_detect"].fn(spark, SF_DIR).collect()}
    assert set(out) == set(agg)
    for k, (n, fl, ssum) in agg.items():
        r = out[k]
        assert (r["n_docs"], r["flagged_code"]) == (n, fl)
        assert abs(r["mean_score"] - round(ssum / n / 1e6, 9)) < 1e-9


def test_kendall_tau_matches_python_replay(spark):
    daily_rev = _daily_revenue_cents(spark)
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_shipdate", "l_orderkey"
    ).collect()
    daily_cnt = defaultdict(set)
    for r in li:
        daily_cnt[r["l_shipdate"].date()].add(r["l_orderkey"])
    days = sorted(daily_rev)
    xy = [(daily_rev[d], len(daily_cnt[d])) for d in days]
    c = d = 0
    for i in range(len(xy)):
        for j in range(i + 1, len(xy)):
            p = (xy[i][0] - xy[j][0]) * (xy[i][1] - xy[j][1])
            if p > 0:
                c += 1
            elif p < 0:
                d += 1
    n = len(xy)
    tie = lambda idx: sum(
        t * (t - 1) // 2
        for t in defaultdict(
            int, {v: sum(1 for p in xy if p[idx] == v) for v in {p[idx] for p in xy}}
        ).values()
        if t > 1
    )
    n1, n2 = tie(0), tie(1)
    n0 = n * (n - 1) / 2.0
    tau = (c - d) / math.sqrt((n0 - n1) * (n0 - n2))
    row = REGISTRY["stats_kendall_tau_daily"].fn(spark, SF_DIR).collect()[0]
    assert (row["n_days"], row["concordant"], row["discordant"]) == (n, c, d)
    assert abs(row["tau_b"] - round(tau, 9)) < 1e-9
    assert -1.0 <= row["tau_b"] <= 1.0


def test_hampel_matches_python_replay(spark):
    daily = _daily_revenue_cents(spark)
    days = sorted(daily)
    xs = [daily[d] for d in days]
    flagged = {}
    for i, d in enumerate(days):
        win = xs[max(0, i - 3): i + 4]
        sw = sorted(win)
        med = sw[(len(sw) + 1) // 2 - 1]
        devs = sorted(abs(v - med) for v in win)
        mad = devs[(len(devs) + 1) // 2 - 1]
        if mad > 0 and abs(xs[i] - med) > 3.0 * 1.4826 * mad:
            flagged[d] = (xs[i], med, mad)
    rows = {r["d"].date(): r for r in REGISTRY["ts_hampel_outliers"].fn(spark, SF_DIR).collect()}
    assert set(rows) == set(flagged)
    for d, (x, med, mad) in flagged.items():
        r = rows[d]
        assert (r["x"], r["med"], r["mad"]) == (x, med, mad)
        assert abs(r["score"] - round(abs(x - med) / (1.4826 * mad), 9)) < 1e-9
        assert r["score"] > 3.0


def test_macd_matches_python_replay(spark):
    from markt_database_analyzer_spark.catalog_finance import _MACD_LX, _macd_weights

    w_macd, w_sig = _macd_weights()
    daily = _daily_revenue_cents(spark)
    days = sorted(daily)
    xs = [daily[d] for d in days]
    rows = {r["d"].date(): r for r in REGISTRY["finance_macd"].fn(spark, SF_DIR).collect()}
    expect_days = days[_MACD_LX - 1:]
    assert set(rows) == set(expect_days)
    for i, d in enumerate(expect_days):
        arr = xs[i: i + _MACD_LX]
        macd = sum(v * w for v, w in zip(arr, w_macd)) / 1e9
        sig = sum(v * w for v, w in zip(arr, w_sig)) / 1e9
        r = rows[d]
        # tolerance 2e-6: python round() is half-even while the engines
        # round half-up, and S/1e9 lands on exact 5e-7 ties; the
        # bit-exact pin is the DuckDB differential
        assert abs(r["macd_cents"] - round(macd, 6)) < 2e-6
        assert abs(r["signal_cents"] - round(sig, 6)) < 2e-6
        assert abs(r["histogram_cents"] - round(macd - sig, 6)) < 2e-6
    # the filter coefficients are near-zero-sum (EMA12n − EMA26n both sum
    # to 1), so a constant series yields macd ≈ signal ≈ 0 up to the
    # per-coefficient nano-quantization residue (|Σ| ≤ depth/2 nano-units)
    assert abs(sum(w_macd)) <= _MACD_LX  # nano-units
    assert abs(sum(w_sig)) <= _MACD_LX


def test_partition_pruning_roundtrip_counts(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("ts", "event_type").collect()
    agg = defaultdict(int)
    for r in ev:
        day = r["ts"].strftime("%Y-%m-%d")
        if "2024-01-10" <= day <= "2024-01-16":
            agg[(day, r["event_type"])] += 1
    rows = {(r["event_day"], r["event_type"]): r["n"] for r in REGISTRY["source_partition_pruning"].fn(spark, SF_DIR).collect()}
    assert rows == dict(agg)
    # the output day is the STRING form (type-stable vs the oracle even
    # though the partition column reads back as DATE)
    assert all(isinstance(k[0], str) for k in rows)


def test_sax_matches_python_replay(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("ts", "value").collect()
    by_hour = defaultdict(list)
    for r in ev:
        by_hour[r["ts"].replace(minute=0, second=0, microsecond=0)].append(r["value"])
    hx = {
        h: sum(_q_half_up(v * 1e6) for v in vs) / len(vs) / 1e6
        for h, vs in by_hour.items()
    }
    by_day = defaultdict(list)
    for h, x in hx.items():
        by_day[h.date()].append(x)
    paa = {
        d: sum(_q_half_up(x * 1e6) for x in xs) / len(xs) / 1e6
        for d, xs in by_day.items()
    }
    n = len(paa)
    mu = sum(_q_half_up(p * 1e6) for p in paa.values()) / n / 1e6
    m2 = sum(_q_half_up(p * p * 1e6) for p in paa.values()) / n / 1e6
    sd = math.sqrt(m2 - mu * mu)
    b = 0.6744897501960817
    rows = {r["seg"].date(): r for r in REGISTRY["ts_sax_symbols"].fn(spark, SF_DIR).collect()}
    assert set(rows) == set(paa)
    for d, p in paa.items():
        z = (p - mu) / sd
        sym = "a" if z < -b else "b" if z < 0 else "c" if z < b else "d"
        r = rows[d]
        assert abs(r["paa"] - round(p, 9)) < 1e-9
        assert abs(r["z"] - round(z, 9)) < 1e-9
        assert r["symbol"] == sym
    assert {r["symbol"] for r in rows.values()} <= set("abcd")


def test_markov2_matches_python_replay(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"]))
    cnt = defaultdict(int)
    for seq in by_user.values():
        seq.sort()
        types = [t for _, _, t in seq]
        for i in range(len(types) - 2):
            cnt[(types[i], types[i + 1], types[i + 2])] += 1
    ctx = defaultdict(int)
    for (s1, s2, _), n in cnt.items():
        ctx[(s1, s2)] += n
    rows = {(r["s1"], r["s2"], r["dst"]): r for r in REGISTRY["events_markov2_transitions"].fn(spark, SF_DIR).collect()}
    assert set(rows) == set(cnt)
    for k, n in cnt.items():
        r = rows[k]
        assert r["n"] == n
        assert abs(r["p"] - round(n / ctx[k[:2]], 6)) < 1e-6
    # probabilities row-normalize per context
    by_ctx = defaultdict(float)
    for k, r in rows.items():
        by_ctx[k[:2]] += r["n"] / ctx[k[:2]]
    assert all(abs(v - 1.0) < 1e-9 for v in by_ctx.values())


def test_theil_matches_python_replay(spark):
    rows = spark.read.parquet(f"{SF_DIR}/customer.parquet").select("c_acctbal").collect()
    xs = [_q_half_up(r["c_acctbal"] * 100.0) for r in rows if r["c_acctbal"] > 0]
    n = len(xs)
    mu = sum(xs) / n
    st = sum(_q_half_up((v / mu) * math.log(v / mu) * 1e9) for v in xs)
    sl = sum(_q_half_up(math.log(mu / v) * 1e9) for v in xs)
    out = REGISTRY["stats_theil_index"].fn(spark, SF_DIR).collect()[0]
    assert out["n"] == n
    assert abs(out["mean_cents"] - round(mu, 6)) < 1e-6
    assert abs(out["theil_t"] - round(st / 1e9 / n, 9)) < 1e-9
    assert abs(out["theil_l"] - round(sl / 1e9 / n, 9)) < 1e-9
    # Jensen: both indices nonnegative, T >= 0, L >= 0
    assert out["theil_t"] >= 0 and out["theil_l"] >= 0


def test_neyman_matches_python_replay(spark):
    import hashlib

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    ).collect()
    strata = defaultdict(list)
    for r in docs:
        strata[r["lang"]].append(r)
    stats = {}
    for lang, rs in strata.items():
        n = len(rs)
        s1 = sum(r["n_chars"] for r in rs)
        s2 = sum(r["n_chars"] ** 2 for r in rs)
        sigma = math.sqrt((s2 - n * (s1 / n) * (s1 / n)) / (n - 1))
        stats[lang] = (n, sigma)
    wt = sum(n * s for n, s in stats.values())
    expect = {}
    for lang, (n, sigma) in stats.items():
        alloc = int(round(100 * (n * sigma) / wt))
        ranked = sorted(
            strata[lang],
            key=lambda r: (
                int(hashlib.md5(f"31|{r['doc_id']}".encode()).hexdigest()[:15], 16),
                r["doc_id"],
            ),
        )[:alloc]
        for r in ranked:
            expect[r["doc_id"]] = (lang, n, alloc)
    rows = {r["doc_id"]: r for r in REGISTRY["sample_stratified_neyman"].fn(spark, SF_DIR).collect()}
    assert set(rows) == set(expect)
    for did, (lang, n, alloc) in expect.items():
        r = rows[did]
        assert (r["lang"], r["n_h"], r["alloc_h"]) == (lang, n, alloc)
    # per-stratum sampled counts equal the allocation exactly
    got = defaultdict(int)
    for r in rows.values():
        got[r["lang"]] += 1
    for lang in got:
        alloc = next(v[2] for v in expect.values() if v[0] == lang)
        assert got[lang] == alloc


def test_cochran_armitage_matches_python_replay(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("ts", "event_type").collect()
    g = defaultdict(lambda: [0, 0])
    for r in ev:
        s = r["ts"].hour // 6 + 1
        g[s][0] += 1
        g[s][1] += 1 if r["event_type"] == "purchase" else 0
    n = sum(v[0] for v in g.values())
    rr = sum(v[1] for v in g.values())
    sr = sum(s * v[1] for s, v in g.items())
    sn = sum(s * v[0] for s, v in g.items())
    ssn = sum(s * s * v[0] for s, v in g.items())
    p = rr / n
    z = (sr - rr * sn / n) / math.sqrt(p * (1 - p) * (ssn - sn * sn / n))
    row = REGISTRY["stats_cochran_armitage"].fn(spark, SF_DIR).collect()[0]
    assert (row["n"], row["r"]) == (n, rr)
    assert abs(row["z_stat"] - round(z, 9)) < 1e-9
    assert abs(row["p_value"] - round(2 * (1 - _phi(abs(z))), 6)) < 1e-6
    assert 0.0 <= row["p_value"] <= 1.0


def test_norm_histogram_matches_python_replay(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select("embedding").collect()
    bins = defaultdict(lambda: [0, float("inf"), float("-inf")])
    for r in emb:
        nrm = math.sqrt(sum(float(x) * float(x) for x in r["embedding"]))
        b = min(int(nrm // 0.5), 9)
        cell = bins[b]
        cell[0] += 1
        cell[1] = min(cell[1], nrm)
        cell[2] = max(cell[2], nrm)
    rows = {r["bin"]: r for r in REGISTRY["embeddings_norm_histogram"].fn(spark, SF_DIR).collect()}
    assert set(rows) == set(bins)
    for b, (n, lo, hi) in bins.items():
        r = rows[b]
        assert r["n_vecs"] == n
        assert abs(r["min_norm"] - round(lo, 9)) < 1e-8
        assert abs(r["max_norm"] - round(hi, 9)) < 1e-8
        # max_norm is 9-dp rounded, so it may touch hi from below
        assert r["lo"] <= r["min_norm"] <= r["max_norm"] <= r["hi"] + 1e-9 or b == 9


def test_capture_recapture_matches_python_replay(spark):
    from datetime import datetime

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("user_id", "ts").collect()
    split = datetime(2024, 1, 16)
    cap = {r["user_id"] for r in ev if r["ts"] < split}
    recap = {r["user_id"] for r in ev if r["ts"] >= split}
    n1, n2, m = len(cap), len(recap), len(cap & recap)
    row = REGISTRY["stats_capture_recapture"].fn(spark, SF_DIR).collect()[0]
    assert (row["n1"], row["n2"], row["m"]) == (n1, n2, m)
    assert abs(row["n_hat_chapman"] - round((n1 + 1) * (n2 + 1) / (m + 1) - 1, 6)) < 1e-6
    assert abs(row["n_hat_lp"] - round(n1 * n2 / m, 6)) < 1e-6
    # estimates bound below by the observed union
    assert row["n_hat_lp"] >= len(cap | recap) - 1e-6


def test_id_completeness_matches_python_replay(spark):
    ids = [r["event_id"] for r in spark.read.parquet(f"{SF_DIR}/events.parquet").select("event_id").collect()]
    d = len(set(ids))
    row = REGISTRY["dq_id_completeness"].fn(spark, SF_DIR).collect()[0]
    assert row["n_rows"] == len(ids)
    assert row["n_distinct"] == d
    assert (row["id_min"], row["id_max"]) == (min(ids), max(ids))
    assert row["n_missing"] == max(ids) - min(ids) + 1 - d
    assert row["n_dup_rows"] == len(ids) - d
    assert abs(row["density"] - round(d / (max(ids) - min(ids) + 1), 9)) < 1e-9


def test_gh_means_matches_python_replay(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("event_type", "value").collect()
    g = defaultdict(lambda: [0, 0, 0])  # n, sum q(ln v), sum q(1/v)
    for r in ev:
        if r["value"] <= 0:
            continue
        a = g[r["event_type"]]
        a[0] += 1
        a[1] += _q_half_up(math.log(r["value"]) * 1e9)
        a[2] += _q_half_up((1.0 / r["value"]) * 1e9)
    rows = {r["event_type"]: r for r in REGISTRY["agg_geometric_harmonic_means"].fn(spark, SF_DIR).collect()}
    assert set(rows) == set(g)
    for t, (n, sl, sr) in g.items():
        r = rows[t]
        assert r["n"] == n
        gm = math.exp(sl / 1e9 / n)
        hm = n / (sr / 1e9)
        assert abs(r["geometric_mean"] - round(gm, 9)) < 1e-8
        assert abs(r["harmonic_mean"] - round(hm, 9)) < 1e-8
        # HM <= GM <= AM ordering holds for positive data
        am = sum(rr["value"] for rr in ev if rr["event_type"] == t and rr["value"] > 0) / n
        assert r["harmonic_mean"] <= r["geometric_mean"] + 1e-9 <= am + 1e-6


def test_cosine_hist_matches_python_replay(spark):
    import hashlib

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select("vec_id", "embedding").collect()
    sample = sorted(
        emb,
        key=lambda r: (
            int(hashlib.md5(f"37|{r['vec_id']}".encode()).hexdigest()[:15], 16),
            r["vec_id"],
        ),
    )[:400]
    bins = defaultdict(int)
    vecs = [([float(x) for x in r["embedding"]], r["vec_id"]) for r in sample]
    norms = {vid: math.sqrt(sum(x * x for x in v)) for v, vid in vecs}
    for i in range(len(vecs)):
        for j in range(i + 1, len(vecs)):
            va, ida = vecs[i]
            vb, idb = vecs[j]
            c = sum(x * y for x, y in zip(va, vb)) / (norms[ida] * norms[idb])
            bins[min(int((c + 1.0) // 0.1), 19)] += 1
    rows = {r["bin"]: r["n_pairs"] for r in REGISTRY["similarity_cosine_hist_sample"].fn(spark, SF_DIR).collect()}
    assert rows == dict(bins)
    assert sum(rows.values()) == len(vecs) * (len(vecs) - 1) // 2


def test_pettitt_matches_python_bruteforce(spark):
    """The rank identity U_t = t(n+1) - 2*S_t is pinned here against the
    O(n^2)-per-split pairwise DEFINITION on the sf0.001 day series."""
    daily = _daily_revenue_cents(spark)
    days = sorted(daily)
    xs = [daily[d] for d in days]
    n = len(xs)
    best_u, best_d = None, None
    for t in range(1, n):
        u = sum(
            (1 if xs[j] > xs[i] else -1 if xs[j] < xs[i] else 0)
            for i in range(t)
            for j in range(t, n)
        )
        if best_u is None or abs(u) > abs(best_u):
            best_u, best_d = u, days[t - 1]
    row = REGISTRY["ts_pettitt_changepoint"].fn(spark, SF_DIR).collect()[0]
    assert row["n_days"] == n
    assert row["u_stat"] == best_u
    assert row["changepoint_day"].date() == best_d
    p = 2.0 * math.exp(-6.0 * best_u * best_u / (float(n) ** 3 + float(n) ** 2))
    assert abs(row["p_value"] - round(p, 6)) < 1e-6


def test_heaps_matches_python_replay(spark):
    import re as _re

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text").collect()
    toks = {
        r["doc_id"]: [t for t in _re.split(r"\s+", r["text"].strip().lower()) if t]
        for r in docs
    }
    ids = sorted(toks)
    n = len(ids)
    cuts = [sorted(ids)[(b * n + 9) // 10 - 1] for b in range(1, 10)]
    def bucket(i):
        return 1 + sum(1 for c in cuts if i > c)
    ncum = defaultdict(int)
    for i, ts in toks.items():
        for cp in range(bucket(i), 11):
            ncum[cp] += len(ts)
    first = {}
    for i in ids:
        for t in toks[i]:
            first.setdefault(t, i)
    vcum = defaultdict(int)
    for t, i in first.items():
        for cp in range(bucket(i), 11):
            vcum[cp] += 1
    pts = [(_q_half_up(math.log(ncum[cp]) * 1e9), _q_half_up(math.log(vcum[cp]) * 1e9)) for cp in sorted(ncum)]
    np_ = len(pts)
    sa = sum(a for a, _ in pts) / 1e9
    sb = sum(b for _, b in pts) / 1e9
    saa = sum(a * a for a, _ in pts) / 1e18
    sab = sum(a * b for a, b in pts) / 1e18
    beta = (np_ * sab - sa * sb) / (np_ * saa - sa * sa)
    k = math.exp(sb / np_ - beta * (sa / np_))
    row = REGISTRY["vocab_heaps_law_fit"].fn(spark, SF_DIR).collect()[0]
    assert row["n_points"] == np_
    assert abs(row["beta"] - round(beta, 6)) < 1e-5
    assert abs(row["k_coef"] - round(k, 6)) < max(1e-4 * k, 1e-5)
    # sublinear vocabulary growth; the synthetic generator's FINITE
    # vocabulary saturates within the first decile at sf0.001, so beta
    # can legitimately round to 0 here (natural text sits near 0.5)
    assert 0.0 <= row["beta"] < 1.0


def test_payload_dedup_matches_python_replay(spark):
    import hashlib

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("text").collect()
    cl = defaultdict(lambda: [0, 0])
    for r in docs:
        b = r["text"].encode("utf-8")
        k = hashlib.md5(b).hexdigest()
        cl[k][0] += 1
        cl[k][1] = len(b)
    n_payloads = sum(c for c, _ in cl.values())
    bytes_total = sum(c * nb for c, nb in cl.values())
    bytes_red = sum((c - 1) * nb for c, nb in cl.values())
    row = REGISTRY["multimodal_payload_dedup"].fn(spark, SF_DIR).collect()[0]
    assert row["n_payloads"] == n_payloads
    assert row["n_distinct"] == len(cl)
    assert row["dup_clusters"] == sum(1 for c, _ in cl.values() if c > 1)
    assert row["max_copies"] == max(c for c, _ in cl.values())
    assert (row["bytes_total"], row["bytes_redundant"]) == (bytes_total, bytes_red)
    assert abs(row["dedup_ratio"] - round(bytes_red / bytes_total, 9)) < 1e-9


def test_friedman_matches_python_replay(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("ts", "event_type", "value").collect()
    cells = defaultdict(list)
    for r in ev:
        cells[(r["ts"].date(), r["event_type"])].append(r["value"])
    k_types = len({t for _, t in cells})
    days = defaultdict(dict)
    for (d, t), vs in cells.items():
        days[d][t] = sum(_q_half_up(v * 1e6) for v in vs) / len(vs) / 1e6
    complete = {d: m for d, m in days.items() if len(m) == k_types}
    r2sum = defaultdict(int)
    for d, m in complete.items():
        vals = sorted(m.values())
        for t, x in m.items():
            lo = vals.index(x) + 1
            hi = len(vals) - vals[::-1].index(x)
            r2sum[t] += lo + hi  # doubled midrank
    n = len(complete)
    k = k_types
    q = 12.0 / (n * k * (k + 1)) * sum((v / 2.0) ** 2 for v in r2sum.values()) - 3.0 * n * (k + 1)
    row = REGISTRY["stats_friedman_test"].fn(spark, SF_DIR).collect()[0]
    assert (row["n_blocks"], row["k_treatments"]) == (n, k)
    assert abs(row["q_stat"] - round(q, 9)) < 1e-6
    assert 0.0 <= row["p_value"] <= 1.0


def test_bartlett_matches_python_replay(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("event_type", "value").collect()
    g = defaultdict(lambda: [0, 0, 0])
    for r in ev:
        qv = _q_half_up(r["value"] * 1e6)
        a = g[r["event_type"]]
        a[0] += 1
        a[1] += qv
        a[2] += qv * qv
    var = {t: ((s2 / 1e12) - (s1 / 1e6) ** 2 / n) / (n - 1) for t, (n, s1, s2) in g.items()}
    n = sum(v[0] for v in g.values())
    k = len(g)
    ssw = sum((g[t][0] - 1) * var[t] for t in g)
    slog = sum((g[t][0] - 1) * math.log(var[t]) for t in g)
    sinv = sum(1.0 / (g[t][0] - 1) for t in g)
    t_stat = ((n - k) * math.log(ssw / (n - k)) - slog) / (
        1.0 + (sinv - 1.0 / (n - k)) / (3.0 * (k - 1))
    )
    row = REGISTRY["stats_bartlett_test"].fn(spark, SF_DIR).collect()[0]
    assert (row["n"], row["k"]) == (n, k)
    assert abs(row["t_stat"] - round(t_stat, 9)) < 1e-6
    assert 0.0 <= row["p_value"] <= 1.0


def test_odds_ratio_matches_python_replay(spark):
    import hashlib

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("user_id", "event_type").collect()
    np_ = defaultdict(int)
    for r in ev:
        if r["event_type"] == "purchase":
            np_[r["user_id"]] += 1
        else:
            np_.setdefault(r["user_id"], 0)
    cells = [0, 0, 0, 0]  # a, b, c, d
    for uid, c in np_.items():
        arm = int(hashlib.md5(f"7|{uid}".encode()).hexdigest()[:15], 16) % 2
        conv = 1 if c >= 14 else 0
        if arm == 1 and conv:
            cells[0] += 1
        elif arm == 1:
            cells[1] += 1
        elif conv:
            cells[2] += 1
        else:
            cells[3] += 1
    a, b, c, d = cells
    orr = (a * d) / (b * c)
    se = math.sqrt(1 / a + 1 / b + 1 / c + 1 / d)
    row = REGISTRY["stats_odds_ratio_ci"].fn(spark, SF_DIR).collect()[0]
    assert (row["a"], row["b"], row["c"], row["d"]) == (a, b, c, d)
    assert abs(row["odds_ratio"] - round(orr, 9)) < 1e-9
    assert abs(row["ci_lo"] - round(math.exp(math.log(orr) - 1.959963984540054 * se), 9)) < 1e-8
    assert abs(row["ci_hi"] - round(math.exp(math.log(orr) + 1.959963984540054 * se), 9)) < 1e-8
    assert 0 < row["ci_lo"] <= row["odds_ratio"] <= row["ci_hi"]


def test_truncation_matches_python_replay(spark):
    import hashlib
    import re as _re

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text").collect()
    rows = {r["doc_id"]: r for r in REGISTRY["pack_token_budget_truncation"].fn(spark, SF_DIR).collect()}
    assert set(rows) == {r["doc_id"] for r in docs}
    for r in docs:
        toks = [t for t in _re.split(r"\s+", r["text"].strip().lower()) if t]
        kept = toks if len(toks) <= 64 else toks[:48] + toks[-16:]
        out = rows[r["doc_id"]]
        assert out["n_tokens"] == len(toks)
        assert out["kept_tokens"] == len(kept) and len(kept) <= 64
        assert out["truncated"] == (len(toks) > 64)
        assert out["kept_digest"] == hashlib.md5(" ".join(kept).encode()).hexdigest()


def test_anderson_darling_matches_python_replay(spark):
    daily = _daily_revenue_cents(spark)
    vs = sorted(
        (_q_half_up(math.log(x) * 1e9), d) for d, x in daily.items()
    )
    n = len(vs)
    mu = sum(v for v, _ in vs) / n / 1e9
    sd = math.sqrt(
        (sum(v * v for v, _ in vs) / 1e18 - n * mu * mu) / (n - 1)
    )
    t = 0.0
    for i, (v, _) in enumerate(vs, start=1):
        z = (v / 1e9 - mu) / sd
        fz = _phi(z)
        t += (2 * i - 1) * math.log(fz) + (2 * n + 1 - 2 * i) * math.log(1 - fz)
    a_sq = -n - t / n
    row = REGISTRY["stats_anderson_darling"].fn(spark, SF_DIR).collect()[0]
    assert row["n_days"] == n
    assert abs(row["a_sq"] - round(a_sq, 9)) < 1e-6
    assert row["a_sq"] > 0.0


def test_cooks_distance_matches_python_replay(spark):
    daily = _daily_revenue_cents(spark)
    days = sorted(daily)
    n = len(days)
    xs = list(range(1, n + 1))
    ys = [daily[d] for d in days]
    xbar = sum(xs) / n
    ybar = sum(ys) / n
    sxx = sum(x * x for x in xs) - n * xbar * xbar
    sxy = sum(x * y for x, y in zip(xs, ys)) - n * xbar * ybar
    b = sxy / sxx
    resid = [y - (ybar + b * (x - xbar)) for x, y in zip(xs, ys)]
    lev = [1.0 / n + (x - xbar) ** 2 / sxx for x in xs]
    s2 = sum(e * e for e in resid) / (n - 2)
    dd = [
        (e * e * h / (2.0 * s2 * (1 - h) ** 2), d, e, h)
        for e, h, d in zip(resid, lev, days)
    ]
    top = sorted(dd, key=lambda t: (-t[0], t[1]))[:5]
    rows = REGISTRY["stats_cooks_distance"].fn(spark, SF_DIR).collect()
    assert len(rows) == 5
    for r, (cd, d, e, h) in zip(rows, top):
        assert r["d"].date() == d
        assert abs(r["cooks_d"] - round(cd, 9)) < 1e-7
        assert abs(r["residual_cents"] - round(e, 6)) < 1e-4
        assert abs(r["leverage"] - round(h, 9)) < 1e-9
        assert 0.0 < r["leverage"] < 1.0


def test_pps_systematic_matches_python_replay(spark):
    docs = sorted(
        (r["doc_id"], r["n_chars"])
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "n_chars").collect()
        if r["n_chars"] > 0
    )
    total = sum(w for _, w in docs)
    k = 50
    expect = {}
    c = 0
    for did, w in docs:
        lo_c, c = c, c + w
        # points p_j = (2j+1)T/(2k); hits = #j with lo_c < p_j <= c
        def npts(x):
            if 2 * k * x < total:
                return 0
            return (2 * k * x - total) // (2 * total) + 1
        h = npts(c) - npts(lo_c)
        if h > 0:
            expect[did] = (w, h)
    rows = {r["doc_id"]: r for r in REGISTRY["sample_pps_systematic"].fn(spark, SF_DIR).collect()}
    assert {d: (r["n_chars"], r["n_hits"]) for d, r in rows.items()} == expect
    assert sum(h for _, h in expect.values()) == k
    # selection probability is proportional to size: every hit doc's
    # weight exceeds the smallest skipped doc only on average, but the
    # interval guarantee is exact: any doc with w >= T/k MUST be hit
    for did, w in docs:
        if w * 2 * k >= 2 * total:
            assert did in expect


def test_hurst_matches_python_replay(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("ts", "value").collect()
    by_hour = defaultdict(list)
    for r in ev:
        by_hour[r["ts"].replace(minute=0, second=0, microsecond=0)].append(r["value"])
    xs = [
        sum(_q_half_up(v * 1e6) for v in by_hour[h]) / len(by_hour[h]) / 1e6
        for h in sorted(by_hour)
    ]
    pts = []
    for s in (16, 32, 64, 128):
        rs_q = []
        for b in range(len(xs) // s):
            seg = xs[b * s:(b + 1) * s]
            if len(seg) < s:
                continue
            m = sum(_q_half_up(v * 1e6) for v in seg) / s / 1e6
            d9 = [_q_half_up((v - m) * 1e9) for v in seg]
            dd9 = [_q_half_up((v - m) * (v - m) * 1e9) for v in seg]
            yt, mx, mn = 0, 0, 0
            for d in d9:
                yt += d
                mx, mn = max(mx, yt), min(mn, yt)
            sd = math.sqrt(sum(dd9) / 1e9 / s)
            rs_q.append(_q_half_up(((mx - mn) / 1e9) / sd * 1e6))
        if rs_q:
            pts.append((
                _q_half_up(math.log(s) * 1e9),
                _q_half_up(math.log(sum(rs_q) / len(rs_q) / 1e6) * 1e9),
            ))
    np_ = len(pts)
    sa = sum(a for a, _ in pts) / 1e9
    sb = sum(b for _, b in pts) / 1e9
    saa = sum(a * a for a, _ in pts) / 1e18
    sab = sum(a * b for a, b in pts) / 1e18
    h = (np_ * sab - sa * sb) / (np_ * saa - sa * sa)
    row = REGISTRY["stats_hurst_exponent"].fn(spark, SF_DIR).collect()[0]
    assert row["n_sizes"] == np_
    assert abs(row["hurst_h"] - round(h, 6)) < 1e-4
    assert 0.0 < row["hurst_h"] < 1.0


def test_schema_evolution_matches_python_replay(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "event_type", "value"
    ).collect()
    agg = defaultdict(lambda: [0, 0, 0, 0])  # n, n_eur, micro-sum v, micro-sum eur
    for r in ev:
        a = agg[r["event_type"]]
        a[0] += 1
        a[2] += _q_half_up(r["value"] * 1e6)
        if r["event_id"] % 2 == 1:
            a[1] += 1
            a[3] += _q_half_up(round(r["value"] * 0.92, 6) * 1e6)
    rows = {r["event_type"]: r for r in REGISTRY["source_schema_evolution"].fn(spark, SF_DIR).collect()}
    assert set(rows) == set(agg)
    for t, (n, ne, sv, se) in agg.items():
        r = rows[t]
        assert (r["n"], r["n_with_eur"]) == (n, ne)
        assert abs(r["avg_value"] - sv / n / 1e6) < 1e-6
        assert abs(r["avg_value_eur"] - se / ne / 1e6) < 1e-6
    # the old batch really lacks the column at rest: reading it alone
    # (no mergeSchema) must not expose value_eur
    import hashlib as _h

    scratch = f"/tmp/mda_r7_evolve_{_h.md5(SF_DIR.encode()).hexdigest()[:8]}"
    old_alone = spark.read.parquet(f"{scratch}/batch=old")
    assert "value_eur" not in old_alone.columns


def test_entropy_rate_matches_python_replay(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"]))
    cnt = defaultdict(int)
    for seq in by_user.values():
        seq.sort()
        ts = [t for _, _, t in seq]
        for a, b in zip(ts, ts[1:]):
            cnt[(a, b)] += 1
    rowt = defaultdict(int)
    for (a, _), n in cnt.items():
        rowt[a] += n
    tot = sum(cnt.values())
    h9 = sum(
        _q_half_up(-(n / tot) * math.log(n / rowt[a]) * 1e9)
        for (a, _), n in cnt.items()
    )
    row = REGISTRY["events_entropy_rate"].fn(spark, SF_DIR).collect()[0]
    assert row["n_transitions"] == tot
    assert abs(row["entropy_rate_nats"] - round(h9 / 1e9, 9)) < 1e-9
    assert abs(row["entropy_rate_bits"] - round(h9 / 1e9 / math.log(2.0), 9)) < 1e-8
    # bounded by log2(#states)
    k = len(rowt)
    assert 0.0 <= row["entropy_rate_bits"] <= math.log2(k) + 1e-9


def test_esd_matches_python_replay(spark):
    daily = _daily_revenue_cents(spark)
    remaining = dict(daily)
    expect = []
    for rnd in range(1, 6):
        n = len(remaining)
        mean = sum(remaining.values()) / n
        sd = math.sqrt(
            (sum(x * x for x in remaining.values()) - n * mean * mean) / (n - 1)
        )
        day, x = max(
            remaining.items(), key=lambda kv: (abs(kv[1] - mean) / sd, -kv[0].toordinal())
        )
        expect.append((rnd, day, x, abs(x - mean) / sd))
        del remaining[day]
    rows = REGISTRY["stats_esd_outliers"].fn(spark, SF_DIR).collect()
    assert len(rows) == 5
    for r, (rnd, day, x, rstat) in zip(rows, expect):
        assert r["esd_round"] == rnd
        assert r["d"].date() == day
        assert r["x"] == x
        assert abs(r["r_stat"] - round(rstat, 9)) < 1e-9
    # the studentized statistic re-estimates each round, so it need not
    # be monotone — but all five picks are distinct days
    assert len({r["d"] for r in rows}) == 5


def test_asof_forward_matches_python_replay(spark):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    ).collect()
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id", "ts", "value", "event_id"
    ).collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r["user_id"]].append((r["ts"], r["event_id"], r["value"]))
    for v in by_user.values():
        v.sort()
    rows = {r["o_orderkey"]: r for r in REGISTRY["join_asof_forward"].fn(spark, SF_DIR).collect()}
    assert set(rows) == {o["o_orderkey"] for o in orders}
    n_matched = 0
    for o in orders:
        seq = by_user.get(o["o_custkey"], [])
        nxt = next((val for ts, _, val in seq if ts >= o["o_orderdate"]), None)
        got = rows[o["o_orderkey"]]["value_asof_next"]
        if nxt is None:
            assert got is None
        else:
            assert abs(got - nxt) < 1e-12
            n_matched += 1
    assert n_matched > 0  # the fixture really exercises matches


def test_seasonal_mk_matches_python_replay(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_shipdate", "l_extendedprice", "l_discount"
    ).collect()
    daily = defaultdict(int)
    for r in li:
        daily[r["l_shipdate"].date()] += _q_half_up(
            r["l_extendedprice"] * (1.0 - r["l_discount"]) * 100.0
        )
    seasons = defaultdict(list)
    for d in sorted(daily):
        seasons[d.isoweekday()].append(daily[d])
    s_tot, var_tot, n_tot = 0, 0.0, 0
    for xs in seasons.values():
        n = len(xs)
        n_tot += n
        s = sum(
            (1 if xs[j] > xs[i] else -1 if xs[j] < xs[i] else 0)
            for i in range(n)
            for j in range(i + 1, n)
        )
        s_tot += s
        tie = defaultdict(int)
        for x in xs:
            tie[x] += 1
        tv = sum(c * (c - 1) * (2 * c + 5) for c in tie.values())
        var_tot += (n * (n - 1) * (2 * n + 5) - tv) / 18.0
    z = (
        (s_tot - 1) / math.sqrt(var_tot)
        if s_tot > 0
        else (s_tot + 1) / math.sqrt(var_tot)
        if s_tot < 0
        else 0.0
    )
    row = REGISTRY["ts_seasonal_mann_kendall"].fn(spark, SF_DIR).collect()[0]
    assert (row["n_days"], row["n_seasons"], row["s_stat"]) == (n_tot, len(seasons), s_tot)
    assert abs(row["var_s"] - round(var_tot, 6)) < 1e-6
    assert abs(row["z"] - round(z, 6)) < 1e-6
