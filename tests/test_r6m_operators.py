"""Round-6 part-13 entries (zone-map pruning stats, LTOB downsampling),
pinned against plain-Python recomputation at sf0.001 with the exact
integer-grid conventions the engines use."""

from __future__ import annotations

import datetime as dt
from collections import defaultdict

from markt_database_analyzer_spark.catalog import REGISTRY
from markt_database_analyzer_spark.catalog_sampling import _ZM_PREDICATES, _ZM_ZONES
from markt_database_analyzer_spark.catalog_timeseries import _LTOB_BUCKET_DAYS
from .replay import _q_half_up

SF_DIR = "/root/testdata/sf0.001"


def test_zone_map_pruning_matches_python_replay(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_shipdate"
    ).collect()
    rows = [(r["l_orderkey"], r["l_shipdate"].date()) for r in li]
    klo = min(k for k, _ in rows)
    khi = max(k for k, _ in rows)
    dlo = min(d for _, d in rows)
    dhi = max(d for _, d in rows)
    zones: dict[tuple[str, int], list] = defaultdict(lambda: [0, None, None])
    for k, d in rows:
        zn = min(int((k - klo) * _ZM_ZONES / (khi - klo + 1)), _ZM_ZONES - 1)
        zc = min(
            int((d - dlo).days * _ZM_ZONES / ((dhi - dlo).days + 1)),
            _ZM_ZONES - 1,
        )
        for layout, z in (("natural", zn), ("clustered", zc)):
            cell = zones[(layout, z)]
            cell[0] += 1
            cell[1] = d if cell[1] is None else min(cell[1], d)
            cell[2] = d if cell[2] is None else max(cell[2], d)
    got = {
        (r["layout"], r["predicate"]): r
        for r in REGISTRY["stats_zone_map_pruning"].fn(spark, SF_DIR).collect()
    }
    for pid, lo, hi in _ZM_PREDICATES:
        lo_d = dt.date.fromisoformat(lo) if lo else None
        hi_d = dt.date.fromisoformat(hi) if hi else None
        for layout in ("natural", "clustered"):
            zs = [v for (la, _), v in zones.items() if la == layout]
            pruned = [
                v
                for v in zs
                if (lo_d is not None and v[2] < lo_d)
                or (hi_d is not None and v[1] > hi_d)
            ]
            r = got[(layout, pid)]
            assert r["zones_total"] == len(zs)
            assert r["zones_pruned"] == len(pruned)
            assert r["rows_skipped"] == sum(v[0] for v in pruned)
            # pruning is CORRECT: no skipped zone may contain a
            # matching row
            for v in pruned:
                assert (lo_d is not None and v[2] < lo_d) or (
                    hi_d is not None and v[1] > hi_d
                )
    # the headline story: clustering dominates the natural layout for
    # every predicate
    for pid, _, _ in _ZM_PREDICATES:
        assert (
            got[("clustered", pid)]["skip_fraction"]
            >= got[("natural", pid)]["skip_fraction"]
        )
    assert any(
        got[("clustered", pid)]["skip_fraction"] > 0.5
        for pid, _, _ in _ZM_PREDICATES
    )


def test_ltob_matches_python_triangle_replay(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_shipdate", "l_extendedprice", "l_discount"
    ).collect()
    daily: dict[int, int] = defaultdict(int)
    epoch = dt.date(1970, 1, 1)
    for r in li:
        x = (r["l_shipdate"].date() - epoch).days
        daily[x] += _q_half_up(r["l_extendedprice"] * (1.0 - r["l_discount"]) * 100.0)
    x0 = min(daily)
    buckets: dict[int, list[tuple[int, int]]] = defaultdict(list)
    for x, y in daily.items():
        buckets[(x - x0) // _LTOB_BUCKET_DAYS].append((x, y))
    anchors = {}
    for b, pts in buckets.items():
        anchors[b] = (
            _q_half_up(sum(x for x, _ in pts) / len(pts) * 1e6),
            _q_half_up(sum(y for _, y in pts) / len(pts)),
        )
    expected = {min(daily), max(daily)}
    bs = sorted(buckets)
    for i, b in enumerate(bs):
        if i == 0 or i == len(bs) - 1:
            continue
        pxq, pyq = anchors[bs[i - 1]]
        nxq, nyq = anchors[bs[i + 1]]
        best = max(
            buckets[b],
            key=lambda p: (
                abs((pxq - nxq) * (p[1] - pyq) - (pxq - p[0] * 1000000) * (nyq - pyq)),
                -p[0],
            ),
        )
        expected.add(best[0])
    rows = REGISTRY["ts_downsample_ltob"].fn(spark, SF_DIR).collect()
    got = {r["epoch_day"] for r in rows}
    assert got == expected
    # values are the exact daily revenue
    for r in rows:
        assert abs(r["revenue"] - round(daily[r["epoch_day"]] / 100.0, 2)) < 1e-9
    # endpoint contract + plot-sized output
    assert min(got) == min(daily) and max(got) == max(daily)
    assert len(rows) <= len(bs) + 2
