"""Repeated-passage removal vs an independent Python reference, the
keep-one rule, edge cases, and plan-shape gates."""

from __future__ import annotations

import pytest

from adi_226_datawarehouse_project_spark.operators.passage_dedup import (
    remove_repeated_passages,
    repeated_passage_spans,
)

_BOILER = "all rights reserved contact us for details"
_DOCS = [
    (0, f"alpha beta gamma {_BOILER} delta epsilon"),
    (1, f"one two three four {_BOILER}"),
    (2, f"{_BOILER} unrelated tail text here"),
    (3, "completely original prose with no duplicated spans at all"),
    (4, "tiny doc"),  # shorter than n: no grams
    (5, ""),  # empty
]
_N = 4


def _tokens(text):
    return [t for t in text.lower().strip().split() if t]


def _py_reference(docs, n):
    toks = {i: _tokens(t) for i, t in docs}
    occ = {
        i: [tuple(ts[s : s + n]) for s in range(len(ts) - n + 1)]
        for i, ts in toks.items()
    }
    docs_with = {}
    for i, grams in occ.items():
        for g in set(grams):
            docs_with.setdefault(g, set()).add(i)
    flagged = {g for g, ds in docs_with.items() if len(ds) >= 2}
    out = {}
    for i, ts in toks.items():
        starts = {
            s
            for s, g in enumerate(occ[i])
            if g in flagged and i != min(docs_with[g])
        }
        covered = {p for s in starts for p in range(s, s + n)}
        clean = " ".join(t for p, t in enumerate(ts) if p not in covered)
        out[i] = (starts, len(ts), len(covered), clean)
    return out


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(_DOCS, "doc_id BIGINT, text STRING")


def test_matches_python_reference(spark, docs_df):
    want = _py_reference(_DOCS, _N)
    spans = repeated_passage_spans(docs_df, "doc_id", "text", n=_N).collect()
    got_starts: dict[int, set] = {i: set() for i, _ in _DOCS}
    for r in spans:
        got_starts[r["doc_id"]].add(r["start"])
    assert got_starts == {i: s for i, (s, _, _, _) in want.items()}
    cleaned = {
        r["doc_id"]: r
        for r in remove_repeated_passages(docs_df, "doc_id", "text", n=_N).collect()
    }
    for i, (_, n_tok, n_cov, clean) in want.items():
        assert cleaned[i]["n_tokens"] == n_tok
        assert cleaned[i]["covered_tokens"] == n_cov
        assert cleaned[i]["clean_text"] == clean


def test_keep_first_preserves_one_copy(spark, docs_df):
    cleaned = {
        r["doc_id"]: r["clean_text"]
        for r in remove_repeated_passages(docs_df, "doc_id", "text", n=_N).collect()
    }
    # doc 0 is the lowest-id owner of the boilerplate grams: keeps them
    assert _BOILER in cleaned[0]
    assert _BOILER not in cleaned[1]
    assert _BOILER not in cleaned[2]
    # non-boilerplate prose survives everywhere
    assert "unrelated tail text here" in cleaned[2]


def test_short_and_empty_docs_pass_through(spark, docs_df):
    cleaned = {
        r["doc_id"]: r
        for r in remove_repeated_passages(docs_df, "doc_id", "text", n=_N).collect()
    }
    assert cleaned[4]["covered_tokens"] == 0 and cleaned[4]["clean_text"] == "tiny doc"
    assert cleaned[5]["n_tokens"] == 0 and cleaned[5]["clean_text"] == ""


def test_no_udf_and_no_cartesian(spark, docs_df):
    plan = (
        remove_repeated_passages(docs_df, "doc_id", "text", n=_N)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan
    assert plan.count("CartesianProduct") == 0
