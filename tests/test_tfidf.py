"""TF-IDF term extraction and BM25 scoring: the integer scorers
against pure-Python references, determinism, overflow guards and
plan-shape checks."""

from __future__ import annotations

import pytest

from adi_226_datawarehouse_project_spark.operators.tfidf import tf_idf_terms

_DOCS = [
    (0, "spark runs fast fast fast"),
    (1, "spark runs slow"),
    (2, "duck walks slow slow"),
    (3, "unique pelican"),
]


def _py_tfidf(docs, top_k):
    """Independent reference: integer rarity weight
    (tf·10⁶·(N+1)) div (df+1), token tie-break."""
    toks = {i: t.lower().split() for i, t in docs}
    tf = {(i, w): toks[i].count(w) for i in toks for w in set(toks[i])}
    dfreq: dict[str, int] = {}
    for (_, w) in tf:
        dfreq[w] = dfreq.get(w, 0) + 1
    n = len(docs)
    out = {}
    for i in toks:
        scored = sorted(
            (
                (-((tf[(i, w)] * 1_000_000 * (n + 1)) // (dfreq[w] + 1)), w)
                for w in set(toks[i])
            ),
        )
        out[i] = [(w, -s) for s, w in scored[:top_k]]
    return out


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(_DOCS, "doc_id BIGINT, text STRING")


def test_tf_idf_matches_python_reference(spark, docs_df):
    got = tf_idf_terms(docs_df, "doc_id", "text", top_k=2).collect()
    want = _py_tfidf(_DOCS, 2)
    by_doc: dict[int, list] = {}
    for r in sorted(got, key=lambda r: (r["doc_id"], r["rank"])):
        by_doc.setdefault(r["doc_id"], []).append((r["token"], r["score"]))
    assert set(by_doc) == set(want)
    for i, pairs in want.items():
        assert [t for t, _ in by_doc[i]] == [t for t, _ in pairs]
        assert [s for _, s in by_doc[i]] == [s for _, s in pairs]


def test_rational_mode_is_integral_and_rank_consistent(spark, docs_df):
    got = tf_idf_terms(docs_df, "doc_id", "text", top_k=2).collect()
    assert all(isinstance(r["score"], int) for r in got)
    # 'fast' (tf=3, df=1) out-ranks both df=2 terms; 'runs' wins the
    # exact score tie against 'spark' lexicographically.
    doc0 = sorted((r for r in got if r["doc_id"] == 0), key=lambda r: r["rank"])
    assert doc0[0]["token"] == "fast" and doc0[1]["token"] == "runs"


def test_no_udf_and_no_cartesian_over_corpus(spark, docs_df):
    plan = (
        tf_idf_terms(docs_df, "doc_id", "text", top_k=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan
    # the only nested-loop join allowed is the 1-row broadcast of N
    assert plan.count("CartesianProduct") == 0


def test_rational_mode_overflow_guard(spark):
    from adi_226_datawarehouse_project_spark.operators.tfidf import (
        _RATIONAL_SCALE,
        _rational_score_expr,
    )

    max_i64 = (1 << 63) - 1

    def _score(tf, dfreq, n):
        frame = spark.createDataFrame([(tf, dfreq, n)], "tf BIGINT, df BIGINT, __N BIGINT")
        return frame.select(_rational_score_expr().alias("s")).collect()[0]["s"]

    # exactly at the bound: passes and the arithmetic is exact
    n = 10_000_000
    tf_max = max_i64 // (n + 1) // _RATIONAL_SCALE
    assert _score(tf_max, 0, n) == tf_max * _RATIONAL_SCALE * (n + 1)
    # one past the bound: the guard must raise, not wrap
    with pytest.raises(Exception, match="overflow"):
        _score(tf_max + 1, 0, n)


def _py_bm25_int(docs, terms, k1=1200, b=750):
    """Independent integer BM25 reference: whole-bit idf
    floor(log2((N+1) div df)), k1/b and avgdl in milli-units,
    micro-unit per-term scores floored."""
    toks = {i: t.lower().split() for i, t in docs}
    n = len(docs)
    avgdl = max(1000 * sum(len(v) for v in toks.values()) // n, 1)
    dfreq: dict[str, int] = {}
    for i in toks:
        for w in set(toks[i]):
            dfreq[w] = dfreq.get(w, 0) + 1
    out = {}
    for i in toks:
        s, matched = 0, 0
        for w in set(terms):
            tf = toks[i].count(w)
            if tf == 0:
                continue
            matched += 1
            idf_bits = ((n + 1) // dfreq[w]).bit_length() - 1
            denom = 1000 * tf + (k1 * (1000 - b + (b * 1000 * len(toks[i])) // avgdl)) // 1000
            s += (idf_bits * tf * (k1 + 1000) * 1_000_000) // denom
        if matched:
            out[i] = (matched, s)
    return out


def test_bm25_matches_python_reference(spark, docs_df):
    from adi_226_datawarehouse_project_spark.operators.tfidf import bm25_scores

    terms = ["spark", "slow", "pelican"]
    got = {
        r["doc_id"]: (r["matched_terms"], r["score_micro"])
        for r in bm25_scores(docs_df, "doc_id", "text", terms).collect()
    }
    assert got == _py_bm25_int(_DOCS, terms)


def test_bm25_int_mode_exact_and_rank_consistent(spark, docs_df):
    """BIGINT scores, rare terms outrank common ones, and
    re-evaluation is bit-identical (pure integer arithmetic)."""
    from adi_226_datawarehouse_project_spark.operators.tfidf import (
        bm25_scores,
        bm25_topk,
    )

    terms = ["spark", "slow", "pelican"]
    out = bm25_scores(docs_df, "doc_id", "text", terms)
    rows = {r["doc_id"]: (r["matched_terms"], r["score_micro"]) for r in out.collect()}
    rows2 = {r["doc_id"]: (r["matched_terms"], r["score_micro"]) for r in out.collect()}
    assert rows == rows2
    assert all(isinstance(v[1], int) for v in rows.values())
    # 'pelican' appears in 1/4 docs (idf_bits=2); doc 3 must outrank
    # docs matching only the commoner terms
    top = bm25_topk(docs_df, "doc_id", "text", terms, k=2).collect()
    assert top[0]["doc_id"] == 3
    # every doc holding a query term is scored, and only those
    assert set(rows) == {0, 1, 2, 3}


def test_bm25_rejects_bad_inputs(spark, docs_df):
    from adi_226_datawarehouse_project_spark.operators.tfidf import bm25_scores

    with pytest.raises(ValueError, match="empty"):
        bm25_scores(docs_df, "doc_id", "text", ["  ", ""])


def test_bm25_plan_shape(spark, docs_df):
    """Scale posture gates (house style): top-k runs as
    TakeOrderedAndProject (per-partition heaps, never a global sort),
    the only nested-loop join is the 1-row broadcast totals cross
    join, and there is no cartesian product."""
    from adi_226_datawarehouse_project_spark.operators.tfidf import bm25_topk

    plan = (
        bm25_topk(docs_df, "doc_id", "text", ["spark", "pelican"], k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # the 1-row totals join
