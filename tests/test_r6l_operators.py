"""Round-6 part-12 entries (top-K-vocab OOV rate, rank-biased overlap),
pinned against plain-Python recomputation at sf0.001 with the exact
HALF_UP / micro-unit-grid conventions the engines use."""

from __future__ import annotations

import math
from collections import Counter

from markt_database_analyzer_spark.catalog import REGISTRY
from markt_database_analyzer_spark.catalog_eval import _RBO_DEPTH, _RBO_P, _RBO_WEIGHTS
from markt_database_analyzer_spark.catalog_text import _OOV_K
from .replay import _q_half_up

SF_DIR = "/root/testdata/sf0.001"


def _toks(text: str) -> list[str]:
    return [t for t in text.strip().lower().split() if t]


def test_oov_rate_matches_python_vocab_replay(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    cf = Counter()
    per_lang = Counter()
    lang_tokens: dict[str, list[str]] = {}
    for r in docs:
        ts = _toks(r["text"])
        cf.update(ts)
        lang_tokens.setdefault(r["lang"], []).extend(ts)
    vocab = {
        w for w, _ in sorted(cf.items(), key=lambda kv: (-kv[1], kv[0]))[:_OOV_K]
    }
    rows = {
        r["lang"]: r
        for r in REGISTRY["vocab_oov_rate_topk"].fn(spark, SF_DIR).collect()
    }
    assert set(rows) == set(lang_tokens)
    for lang, ts in lang_tokens.items():
        oov = sum(t not in vocab for t in ts)
        r = rows[lang]
        assert r["n_tokens"] == len(ts)
        assert r["oov_tokens"] == oov
        assert abs(r["oov_rate"] - round(oov / len(ts), 9)) < 1e-9
    # fixture non-degenerate: the 16-term budget leaves real OOV mass
    assert any(r["oov_tokens"] > 0 for r in rows.values())


def test_rbo_matches_python_prefix_replay(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    terms = {"spark", "join", "window"}
    k1, b = 1.2, 0.75
    dls = {r["doc_id"]: len(_toks(r["text"])) for r in docs}
    nd = len(docs)
    avgdl = sum(dls.values()) / nd
    tf: dict[int, Counter] = {}
    for r in docs:
        c = Counter(t for t in _toks(r["text"]) if t in terms)
        if c:
            tf[r["doc_id"]] = c
    df = Counter()
    for c in tf.values():
        df.update(c.keys())
    scored = {}
    for doc, c in tf.items():
        acc = 0
        for w, t in c.items():
            idf = math.log(1.0 + (nd - df[w] + 0.5) / (df[w] + 0.5))
            tfn = (t * (k1 + 1.0)) / (
                t + k1 * (1.0 - b + b * (dls[doc] / avgdl))
            )
            acc += _q_half_up(idf * tfn * 1e6)
        scored[doc] = (acc / 1e6, sum(c.values()))
    ra = {
        doc: i + 1
        for i, (doc, _) in enumerate(
            sorted(scored.items(), key=lambda kv: (-kv[1][0], kv[0]))[:_RBO_DEPTH]
        )
    }
    rb = {
        doc: i + 1
        for i, (doc, _) in enumerate(
            sorted(scored.items(), key=lambda kv: (-kv[1][1], kv[0]))[:_RBO_DEPTH]
        )
    }
    ms = [max(ra[d], rb[d]) for d in set(ra) & set(rb)]
    acc = 0
    for d in range(1, _RBO_DEPTH + 1):
        ov = sum(m <= d for m in ms)
        acc += _q_half_up(float(_RBO_WEIGHTS[d - 1]) * (ov / d) * 1e9)
    rbo = (1.0 - _RBO_P) * acc / 1e9
    row = REGISTRY["eval_rank_biased_overlap"].fn(spark, SF_DIR).collect()[0]
    assert row["depth"] == _RBO_DEPTH
    assert row["overlap_at_depth"] == sum(m <= _RBO_DEPTH for m in ms)
    assert abs(row["rbo"] - round(rbo, 9)) < 1e-9
    # RBO is a [0, 1] overlap measure; identical rankers would give ~1,
    # and the idf/length-norm perturbation must keep substantial overlap
    assert 0.0 < row["rbo"] <= 1.0


def test_rbo_weights_are_exact_decimal_literals():
    # the literal-injection contract: both engines parse repr(p**d)
    assert len(_RBO_WEIGHTS) == _RBO_DEPTH
    for d, w in enumerate(_RBO_WEIGHTS):
        assert float(w) == _RBO_P ** d
