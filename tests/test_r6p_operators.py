"""Round-6 part-16 entries (k-anonymity audit, inter-arrival
burstiness, snippet extraction), pinned against plain-Python
recomputation at sf0.001 with the exact integer-grid conventions the
engines use."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from markt_database_analyzer_spark.catalog import REGISTRY
from markt_database_analyzer_spark.catalog_privacy import _KANON_BAND, _KANON_K
from markt_database_analyzer_spark.catalog_text import _SNIP_DOCS, _SNIP_WINDOW
from .replay import _q_half_up

SF_DIR = "/root/testdata/sf0.001"


def test_k_anonymity_matches_python_class_replay(spark):
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_nationkey", "c_mktsegment", "c_acctbal"
    ).collect()
    classes = Counter(
        (
            r["c_nationkey"],
            r["c_mktsegment"],
            math.floor(_q_half_up(r["c_acctbal"] * 100.0) / _KANON_BAND),
        )
        for r in c
    )
    ks = list(classes.values())
    below = [k for k in ks if k < _KANON_K]
    row = REGISTRY["privacy_k_anonymity_audit"].fn(spark, SF_DIR).collect()[0]
    assert row["n_classes"] == len(ks)
    assert row["n_rows"] == sum(ks) == len(c)
    assert row["min_k"] == min(ks)
    assert row["classes_below_k"] == len(below)
    assert row["rows_below_k"] == (sum(below) if below else None)
    assert abs(row["at_risk_fraction"] - round(sum(below) / sum(ks), 9)) < 1e-9
    assert row["singletons"] == sum(1 for k in ks if k == 1)
    # audit invariants: risk mass bounded by class count * (K-1)
    assert (row["rows_below_k"] or 0) <= row["classes_below_k"] * (_KANON_K - 1)


def test_burstiness_matches_python_gap_replay(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_type", "user_id", "ts", "event_id"
    ).collect()
    seq = defaultdict(list)
    for r in ev:
        tu = int(r["ts"].timestamp() * 1_000_000)
        seq[(r["user_id"], r["event_type"])].append((tu, r["event_id"]))
    gaps = defaultdict(list)
    for (u, et), pts in seq.items():
        pts.sort()
        for (a, _), (b, _) in zip(pts, pts[1:]):
            gaps[et].append(b - a)
    rows = {
        r["event_type"]: r
        for r in REGISTRY["events_interarrival_burstiness"].fn(spark, SF_DIR).collect()
    }
    assert set(rows) == {et for et, g in gaps.items() if g}
    for et, g in gaps.items():
        if not g:
            continue
        n = len(g)
        mean = sum(g) / n
        sd = math.sqrt(max(sum(x * x for x in g) / n - mean * mean, 0.0))
        cv = sd / mean
        r = rows[et]
        assert r["n_gaps"] == n
        assert abs(r["mean_gap_sec"] - round(mean / 1e6, 6)) < 1e-6
        assert abs(r["cv"] - round(cv, 9)) < 1e-9
        assert abs(r["burstiness"] - round((cv - 1) / (cv + 1), 9)) < 1e-9
        assert -1.0 <= r["burstiness"] <= 1.0


def test_snippet_matches_python_window_replay(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    terms = {"spark", "join", "window"}
    positions = {}
    for r in docs:
        toks = [t for t in r["text"].strip().lower().split() if t]
        hits = [i + 1 for i, t in enumerate(toks) if t in terms]
        if hits:
            positions[r["doc_id"]] = hits
    top = sorted(positions.items(), key=lambda kv: (-len(kv[1]), kv[0]))[:_SNIP_DOCS]
    expected = []
    for doc_id, hits in top:
        best = max(
            (
                (sum(1 for h in hits if a <= h < a + _SNIP_WINDOW), -a)
                for a in hits
            ),
        )
        expected.append((doc_id, len(hits), -best[1], best[0]))
    expected.sort(key=lambda t: (-t[1], t[0]))
    rows = REGISTRY["search_snippet_extraction"].fn(spark, SF_DIR).collect()
    assert [
        (r["doc_id"], r["total_hits"], r["win_start"], r["win_hits"]) for r in rows
    ] == expected
    for r in rows:
        # the best window never beats the doc's total hit count, and
        # always contains at least the anchoring hit
        assert 1 <= r["win_hits"] <= min(r["total_hits"], _SNIP_WINDOW)
