"""Round-6 part-5 entries (Brown-Forsythe, burstiness, permutation
test), pinned against plain-Python recomputation at sf0.001 with the
exact HALF_UP / integer-grid conventions the engines use."""

from __future__ import annotations

from collections import Counter, defaultdict

from markt_database_analyzer_spark.catalog import REGISTRY
from markt_database_analyzer_spark.datapipe.sampling import RESOLUTION
from .replay import _h60, _q_half_up

SF_DIR = "/root/testdata/sf0.001"


def test_brown_forsythe_matches_python_replay(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_returnflag", "l_quantity"
    ).collect()
    by = defaultdict(list)
    for r in li:
        by[r["l_returnflag"]].append(_q_half_up(r["l_quantity"] * 100.0))
    groups = ("A", "N", "R")
    med = {}
    for g in groups:
        vs = sorted(by[g])
        med[g] = vs[(len(vs) + 1) // 2 - 1]  # lower median
    stats = {}
    for g in groups:
        zs = [abs(v - med[g]) for v in by[g]]
        stats[g] = (float(len(zs)), float(sum(zs)), float(sum(z * z for z in zs)))
    nn, ssum, ts, sss = (0.0,) * 4
    for g in groups:  # same left-assoc fold as both engines
        n, s, ss = stats[g]
        nn, ssum, ts, sss = nn + n, ssum + s, ts + s * s / n, sss + ss
    ssb = ts - ssum * ssum / nn
    ssw = sss - ts
    row = REGISTRY["stats_levene_brownforsythe"].fn(spark, SF_DIR).collect()[0]
    assert row["k"] == 3 and row["n"] == len(li)
    assert abs(row["eta_sq_z"] - round(ssb / (ssb + ssw), 9)) < 1e-9
    assert abs(row["w_stat"] - round((ssb / 2) / (ssw / (nn - 3)), 6)) < 1e-6
    assert row["w_stat"] >= 0.0 and 0.0 <= row["eta_sq_z"] <= 1.0


def test_burstiness_matches_python_replay(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    n_docs = len(docs)
    per_term = defaultdict(lambda: [0, 0, 0])  # s1, doc_freq, s2
    for r in docs:
        cnt = Counter(t for t in r["text"].strip().lower().split() if t)
        for t, c in cnt.items():
            e = per_term[t]
            e[0] += c
            e[1] += 1
            e[2] += c * c
    top = sorted(per_term.items(), key=lambda kv: (-kv[1][0], kv[0]))[:20]
    got = REGISTRY["text_burstiness"].fn(spark, SF_DIR).collect()
    assert [r["term"] for r in got] == [t for t, _ in top]
    for r, (t, (s1, df, s2)) in zip(got, top):
        mean = s1 / float(n_docs)
        vmr = (s2 / float(n_docs) - mean * mean) / mean
        assert (r["total_cnt"], r["doc_freq"], r["n_docs"]) == (s1, df, n_docs), t
        assert abs(r["mean_per_doc"] - round(mean, 9)) < 1e-9
        assert abs(r["fano_vmr"] - round(vmr, 9)) < 1e-9
        # zeros-included variance is nonnegative, and VMR < mean growth cap
        assert r["fano_vmr"] >= 0.0


def test_permutation_test_matches_python_hash_replay(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    n = len(docs)
    n1 = sum(1 for r in docs if r["lang"] == "en")
    st = sum(r["n_chars"] for r in docs)
    s1 = sum(r["n_chars"] for r in docs if r["lang"] == "en")
    diff_obs = s1 / n1 - (st - s1) / (n - n1)
    import math

    thr = int(math.floor(RESOLUTION * n1 / float(n)))
    ob = {b: _h60(str(b)) for b in range(64)}
    hid = {r["doc_id"]: _h60(f"7|{r['doc_id']}") for r in docs}
    n_extreme = 0
    for b in range(64):
        na = sa = 0
        for r in docs:
            if (hid[r["doc_id"]] + ob[b]) % RESOLUTION < thr:
                na += 1
                sa += r["n_chars"]
        diff_b = sa / na - (st - sa) / (n - na)
        if abs(diff_b) >= abs(diff_obs):
            n_extreme += 1
    row = REGISTRY["stats_permutation_test"].fn(spark, SF_DIR).collect()[0]
    assert (row["n"], row["n_pos"]) == (n, n1)
    assert abs(row["diff_obs"] - round(diff_obs, 6)) < 1e-6
    assert row["b_resamples"] == 64
    assert row["n_extreme"] == n_extreme
    assert abs(row["p_value"] - round((1 + n_extreme) / 65.0, 6)) < 1e-6
    # add-one p-value is bounded away from 0 by construction
    assert 1.0 / 65 <= row["p_value"] <= 1.0
