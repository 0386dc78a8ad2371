"""Unigram LM scoring: exact integer bit-surprisal vs a pure-Python
reference, and plan-shape gates."""

from __future__ import annotations

import pytest

from adi_226_datawarehouse_project_spark.operators.lm_score import unigram_lm_scores

_DOCS = [
    (0, "the cat sat on the mat"),
    (1, "the dog sat on the log"),
    (2, "the cat and the dog"),
    (3, "zyx qwv zzz zyx"),  # gibberish: rare tokens, high surprisal
    (4, "the the the the"),  # degenerate: most common token only
    (5, "one"),  # single token
]


def _tokens(text):
    return [t for t in text.lower().strip().split() if t]


def _py_unigram(docs):
    toks = {i: _tokens(t) for i, t in docs}
    cnt: dict[str, int] = {}
    for ts in toks.values():
        for w in ts:
            cnt[w] = cnt.get(w, 0) + 1
    T, V = sum(cnt.values()), len(cnt)
    out = {}
    for i, ts in toks.items():
        bits = sum(((T + V) // (cnt[w] + 1)).bit_length() - 1 for w in ts)
        out[i] = (len(ts), bits)
    return out


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(_DOCS, "doc_id BIGINT, text STRING")


def test_unigram_bits_exact(spark, docs_df):
    got = {
        r["doc_id"]: r
        for r in unigram_lm_scores(docs_df, "doc_id", "text").collect()
    }
    want = _py_unigram(_DOCS)
    assert set(got) == set(want)
    for i, (n, bits) in want.items():
        assert got[i]["n_tokens"] == n
        assert got[i]["surprisal_bits"] == bits
        assert got[i]["bits_per_token_milli"] == (1000 * bits) // n
        assert isinstance(got[i]["surprisal_bits"], int)


def test_gibberish_scores_higher_than_common_text(spark, docs_df):
    got = {
        r["doc_id"]: r["bits_per_token_milli"]
        for r in unigram_lm_scores(docs_df, "doc_id", "text").collect()
    }
    assert got[3] > got[0]  # rare-token doc beats common-token doc
    assert got[4] < got[0]  # all-stopword doc is the most predictable


def test_no_udf_and_no_cartesian(spark, docs_df):
    frame = unigram_lm_scores(docs_df, "doc_id", "text")
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert plan.count("CartesianProduct") == 0
