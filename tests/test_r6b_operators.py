"""Round-6 part-2 entries (Spearman, ANOVA, NDCG, MaxSim, drawdown),
pinned against plain-Python recomputation at sf0.001 with the exact
HALF_UP / integer-grid conventions the engines use."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from markt_database_analyzer_spark.catalog import REGISTRY
from .replay import _q_half_up, _round_half_up

SF_DIR = "/root/testdata/sf0.001"


def test_spearman_matches_python_rank_replay(spark):
    """Tie-averaged ranks + Pearson over ranks, replayed with exact
    Python integers on the doubled-rank grid (the engine convention)."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_extendedprice", "l_quantity", "l_discount"
    ).collect()

    def rank2(vals):
        # doubled average rank: 2*cum - cnt + 1 over ascending distinct
        from collections import Counter

        cnt = Counter(vals)
        out, cum = {}, 0
        for v in sorted(cnt):
            cum += cnt[v]
            out[v] = 2 * cum - cnt[v] + 1
        return out

    def rho(xs, ys):
        rx, ry = rank2(xs), rank2(ys)
        n = len(xs)
        sx = sy = sxx = syy = sxy = 0
        for x, y in zip(xs, ys):
            a, b = rx[x], ry[y]
            sx += a
            sy += b
            sxx += a * a
            syy += b * b
            sxy += a * b
        nf, sxf, syf = float(n), float(sx), float(sy)
        return round(
            (nf * float(sxy) - sxf * syf)
            / (
                math.sqrt(nf * float(sxx) - sxf * sxf)
                * math.sqrt(nf * float(syy) - syf * syf)
            ),
            9,
        )

    xs = [r["l_extendedprice"] for r in li]
    got = {
        r["y_var"]: (r["n"], r["spearman_rho"])
        for r in REGISTRY["stats_spearman_corr"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == {"l_quantity", "l_discount"}
    for ycol in ("l_quantity", "l_discount"):
        n, rho_got = got[ycol]
        assert n == len(li)
        assert abs(rho_got - rho(xs, [r[ycol] for r in li])) < 1e-9, ycol
        assert -1.0 <= rho_got <= 1.0


def test_anova_matches_python_sufficient_stats(spark):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderpriority", "o_totalprice"
    ).collect()
    groups = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    stats = {g: [0, 0, 0] for g in groups}  # n, sum_cents, sumsq_cents
    for r in orders:
        q = _q_half_up(r["o_totalprice"] * 100.0)
        s = stats[r["o_orderpriority"]]
        s[0] += 1
        s[1] += q
        s[2] += q * q
    # identical left-assoc float fold as both engines
    nn = ssum = tsum = sssum = 0.0
    for g in groups:
        n, s, ss = (float(v) for v in stats[g])
        nn = nn + n
        ssum = ssum + s
        tsum = tsum + s * s / n
        sssum = sssum + ss
    ssb = tsum - ssum * ssum / nn
    ssw = sssum - tsum
    row = REGISTRY["stats_anova_oneway"].fn(spark, SF_DIR).collect()[0]
    assert row["k"] == 5 and row["n"] == len(orders)
    assert abs(row["eta_sq"] - round(ssb / (ssb + ssw), 9)) < 1e-9
    assert abs(row["f_stat"] - round((ssb / 4) / (ssw / (nn - 5)), 6)) < 1e-6
    assert row["f_stat"] >= 0.0 and 0.0 <= row["eta_sq"] <= 1.0


def test_ndcg_matches_python_replay(spark):
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").collect()
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").collect()
    nations = {
        r["n_nationkey"]: r["n_name"]
        for r in spark.read.parquet(f"{SF_DIR}/nation.parquet").collect()
    }
    from collections import Counter, defaultdict

    ocnt = Counter(r["o_custkey"] for r in orders)
    by_nation = defaultdict(list)
    for r in cust:
        rel = min(4, int(math.floor(ocnt.get(r["c_custkey"], 0) / 5.0)))
        by_nation[r["c_nationkey"]].append((r["c_acctbal"], r["c_custkey"], rel))

    def dcg(rels):
        return sum(
            _q_half_up(1e9 * (2.0**rel - 1) / math.log2(rnk + 2))
            for rnk, rel in enumerate(rels[:10])
        )

    expect = {}
    for nk, rows in by_nation.items():
        pred = [t[2] for t in sorted(rows, key=lambda t: (-t[0], t[1]))]
        ideal = [t[2] for t in sorted(rows, key=lambda t: (-t[2], t[1]))]
        d, i = dcg(pred), dcg(ideal)
        expect[nations[nk]] = (
            round(d / 1e9, 9),
            round(i / 1e9, 9),
            0.0 if i == 0 else round(d / i, 9),
        )
    got = {
        r["nation"]: (r["dcg"], r["idcg"], r["ndcg_at_10"])
        for r in REGISTRY["eval_ndcg_at_k"].fn(spark, SF_DIR).collect()
    }
    assert got == expect
    for d, i, nd in got.values():
        assert 0.0 <= nd <= 1.0 and d <= i + 1e-9


def test_maxsim_matches_python_sequential_folds(spark):
    emb = {
        r["vec_id"]: [float(v) for v in r["embedding"]]
        for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect()
    }

    def subvecs(v):
        return [v[i * 8 : (i + 1) * 8] for i in range(8)]

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def score(qid, did):
        qs, ds = subvecs(emb[qid]), subvecs(emb[did])
        total = 0
        for qv in qs:
            best = max(_round_half_up(dot(qv, dv), 9) for dv in ds)
            total += _q_half_up(1e9 * best)
        return total

    expect = {}
    for qid in range(5):
        ranked = sorted(
            ((score(qid, did), did) for did in emb if did != qid),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        for rnk, (s, did) in enumerate(ranked, start=1):
            expect[(qid, rnk)] = (did, round(s / 1e9, 9))
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["maxsim"])
        for r in REGISTRY["similarity_maxsim_late_interaction"].fn(spark, SF_DIR).collect()
    }
    assert got == expect


def test_maxsim_upper_bounds_single_vector_dot(spark):
    """MaxSim >= the full-vector inner product rounded the same way:
    splitting into sub-vectors and maxing per query token can only gain
    (each sub-dot's max over doc tokens >= its aligned counterpart)."""
    rows = REGISTRY["similarity_maxsim_late_interaction"].fn(spark, SF_DIR)
    emb = {
        r["vec_id"]: [float(v) for v in r["embedding"]]
        for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect()
    }
    for r in rows.collect():
        q, d = emb[r["query_id"]], emb[r["neighbor_id"]]
        acc = 0.0
        for x, y in zip(q, d):
            acc = acc + x * y
        assert r["maxsim"] >= acc - 1e-6, (r["query_id"], r["neighbor_id"])


def test_max_drawdown_matches_python_replay(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_partkey", "l_shipdate", "l_orderkey", "l_linenumber",
        "l_extendedprice", "l_quantity",
    ).collect()
    from collections import defaultdict

    series = defaultdict(list)
    for r in li:
        p = _q_half_up(100.0 * r["l_extendedprice"] / r["l_quantity"])
        series[r["l_partkey"]].append(
            (r["l_shipdate"], r["l_orderkey"], r["l_linenumber"], p)
        )
    expect = {}
    for pk, pts in series.items():
        if len(pts) < 25:
            continue
        pts.sort(key=lambda t: t[:3])
        peak, dd = -(10**18), 0
        for *_k, p in pts:
            peak = max(peak, p)
            dd = max(dd, peak - p)
        expect[pk] = (len(pts), round(peak / 100.0, 2), round(dd / 100.0, 2))
    got = {
        r["l_partkey"]: (r["n_points"], r["peak_price"], r["max_drawdown"])
        for r in REGISTRY["finance_max_drawdown"].fn(spark, SF_DIR).collect()
    }
    assert got == expect
    assert all(dd >= 0 for _, _, dd in got.values())


def test_drawdown_zero_for_monotone_series(spark):
    """Property pin: a nondecreasing price stream has zero drawdown —
    the defining boundary of the metric."""
    df = spark.createDataFrame(
        [(1, i, 0, 0, float(100 + i), 1.0) for i in range(30)],
        "l_partkey int, l_shipdate int, l_orderkey int, l_linenumber int,"
        " l_extendedprice double, l_quantity double",
    )
    # replay the entry's own window logic over the synthetic frame
    from pyspark.sql import Window

    w = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pts = df.select(
        "l_partkey", "l_shipdate", "l_orderkey", "l_linenumber",
        F.round(F.lit(100.0) * F.col("l_extendedprice") / F.col("l_quantity"))
        .cast("bigint").alias("p_cents"),
    ).withColumn("peak", F.max("p_cents").over(w))
    out = (
        pts.groupBy("l_partkey")
        .agg(F.max(F.col("peak") - F.col("p_cents")).alias("dd"))
        .collect()
    )
    assert out[0]["dd"] == 0


def test_pr_auc_matches_python_replay(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    stop = {"the", "a", "of", "and", "is"}
    from collections import defaultdict

    by_score = defaultdict(lambda: [0, 0])
    for r in docs:
        toks = [t for t in r["text"].strip().lower().split() if t]
        score = _round_half_up(sum(t in stop for t in toks) / len(toks), 9)
        by_score[score][0 if r["lang"] == "en" else 1] += 1
    tp = fp = prev_tp = 0
    pos = sum(v[0] for v in by_score.values())
    terms, rows_expect = [], {}
    for score in sorted(by_score, reverse=True):
        tp += by_score[score][0]
        fp += by_score[score][1]
        dtp = tp - prev_tp
        prev_tp = tp
        terms.append(_q_half_up(1e9 * ((dtp * tp) / float(pos * (tp + fp)))))
        rows_expect[score] = (tp, fp, round(tp / (tp + fp), 9), round(tp / pos, 9))
    ap = round(sum(terms) / 1e9, 9)
    got = REGISTRY["eval_pr_auc"].fn(spark, SF_DIR).collect()
    assert len(got) == len(rows_expect)
    for r in got:
        e = rows_expect[r["score"]]
        assert (r["tp"], r["fp"]) == e[:2], r["score"]
        assert abs(r["precision"] - e[2]) < 1e-9 and abs(r["recall"] - e[3]) < 1e-9
        assert abs(r["average_precision"] - ap) < 1e-9
    # curve invariants: recall nondecreasing as score descends; AP in (0,1]
    recalls = [r["recall"] for r in got]  # output is score-descending
    assert recalls == sorted(recalls) and 0.0 < ap <= 1.0


def test_sliding_windows_match_python_replay(spark):
    import hashlib

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    W, S = 64, 48
    expect = {}
    for r in docs:
        toks = [t for t in r["text"].strip().lower().split() if t]
        n = len(toks)
        if n < 1:
            continue
        tail = max(1, n - (W - 1))
        starts = sorted(set(range(1, tail + 1, S)) | {tail})
        for seq, st in enumerate(starts, start=1):
            win = toks[st - 1 : min(st + W - 1, n)]
            expect[(r["doc_id"], seq)] = (
                st,
                len(win),
                hashlib.md5(" ".join(win).encode()).hexdigest(),
            )
    got = {
        (r["doc_id"], r["window_seq"]): (
            r["start_tok"], r["n_window_tokens"], r["fingerprint"],
        )
        for r in REGISTRY["pack_sliding_windows"].fn(spark, SF_DIR).collect()
    }
    assert got == expect
    # coverage invariant: the last window of every doc ends at token n,
    # and consecutive windows overlap by >= W - S tokens (no gaps)
    from collections import defaultdict

    per_doc = defaultdict(list)
    for (doc, seq), (st, ln, _) in got.items():
        per_doc[doc].append((seq, st, ln))
    for doc, wins in per_doc.items():
        wins.sort()
        for (_, st1, ln1), (_, st2, _) in zip(wins, wins[1:]):
            assert st2 <= st1 + ln1, (doc, st1, ln1, st2)  # no gap
