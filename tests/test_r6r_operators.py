"""Round-6 part-18 entries (nearest as-of join, hash-gate uniformity),
pinned against plain-Python recomputation at sf0.001."""

from __future__ import annotations

import math
from collections import defaultdict

from markt_database_analyzer_spark.catalog import REGISTRY
from markt_database_analyzer_spark.catalog_engine import _ASOF_TOL_US
from markt_database_analyzer_spark.catalog_privacy import _UNIF_SEED
from markt_database_analyzer_spark.datapipe.sampling import RESOLUTION
from .replay import _h60

SF_DIR = "/root/testdata/sf0.001"


def test_asof_nearest_matches_python_replay(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_type", "user_id", "ts", "value", "event_id"
    ).collect()
    # equal-time pre-reduce on the view side: max_by(value, event_id)
    per_ut = {}
    for r in ev:
        if r["event_type"] != "view":
            continue
        k = (r["user_id"], r["ts"])
        if k not in per_ut or r["event_id"] > per_ut[k][0]:
            per_ut[k] = (r["event_id"], r["value"])
    series = defaultdict(list)
    for (u, ts), (_, v) in per_ut.items():
        series[u].append((int(ts.timestamp() * 1_000_000), v))
    for u in series:
        series[u].sort()
    purchases = [r for r in ev if r["event_type"] == "purchase"]
    rows = {
        r["purchase_id"]: r
        for r in REGISTRY["join_asof_nearest"].fn(spark, SF_DIR).collect()
    }
    assert len(rows) == len(purchases)
    n_matched = 0
    for o in purchases:
        ot = int(o["ts"].timestamp() * 1_000_000)
        pts = series.get(o["user_id"], [])
        back = max(((t, v) for t, v in pts if t <= ot), default=None)
        fwd = min(((t, v) for t, v in pts if t > ot), default=None)
        bdt = ot - back[0] if back else None
        fdt = fwd[0] - ot if fwd else None
        if bdt is not None and bdt <= _ASOF_TOL_US and (
            fdt is None or fdt > _ASOF_TOL_US or bdt <= fdt
        ):
            want = (back[1], bdt)
        elif fdt is not None and fdt <= _ASOF_TOL_US:
            want = (fwd[1], fdt)
        else:
            want = (None, None)
        r = rows[o["event_id"]]
        assert (r["view_value_nearest"], r["dt_us"]) == want, o["event_id"]
        n_matched += want[0] is not None
    # the ±24h tolerance both matches and rejects on this fixture
    assert 0 < n_matched < len(purchases)


def test_hash_gate_uniformity_matches_python_ecdf(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id"
    ).collect()
    gates = sorted(
        _h60(f"{_UNIF_SEED}|{r['doc_id']}") % RESOLUTION for r in docs
    )
    n = len(gates)
    from collections import Counter

    cnts = Counter(gates)
    cum = 0
    dmax = 0.0
    for v in sorted(cnts):
        c = cnts[v]
        cum += c
        dmax = max(
            dmax,
            abs(cum / n - (v + 1.0) / RESOLUTION),
            abs((cum - c) / n - v / RESOLUTION),
        )
    row = REGISTRY["dq_hash_gate_uniformity"].fn(spark, SF_DIR).collect()[0]
    assert row["n"] == n
    assert abs(row["ks_stat"] - round(dmax, 9)) < 1e-9
    crit = 1.3581015157406195 / math.sqrt(n)
    assert abs(row["ks_critical_05"] - round(crit, 9)) < 1e-9
    # the md5 gate must PASS its own audit
    assert row["uniform_ok"] == 1
