"""Product quantization: codebooks/encode/ADC vs a pure-Python
reference, and plan-shape gates."""

from __future__ import annotations

import math

import pytest

from adi_226_datawarehouse_project_spark.operators.pq import (
    pq_adc_topk,
    pq_codebooks,
    pq_encode,
)

_DIM, _M, _KSUB = 8, 2, 4


def _mk_vecs():
    """40 deterministic vectors in 4 loose clusters (dim 8)."""
    vecs = []
    for i in range(40):
        base = i % 4
        v = [
            math.sin(0.7 * base + 0.13 * d) + 0.01 * ((i * 31 + d * 7) % 13 - 6)
            for d in range(_DIM)
        ]
        vecs.append((i, [float(x) for x in v]))
    return vecs


_VECS = _mk_vecs()


def _nrm(v):
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def _py_codebooks(vecs, m, ksub):
    rows = [_nrm(v) for _, v in sorted(vecs)[:ksub]]
    dsub = len(rows[0]) // m
    return [[r[j * dsub : (j + 1) * dsub] for r in rows] for j in range(m)]


def _py_encode(v, cb):
    nv = _nrm(v)
    dsub = len(cb[0][0])
    codes = []
    for j, book in enumerate(cb):
        sub = nv[j * dsub : (j + 1) * dsub]
        dists = [
            (sum((a - b) * (a - b) for a, b in zip(sub, e)), c)
            for c, e in enumerate(book)
        ]
        codes.append(min(dists)[1])
    return codes


def _py_adc(q, codes, cb):
    nq = _nrm(q)
    dsub = len(cb[0][0])
    return sum(
        sum(a * b for a, b in zip(nq[j * dsub : (j + 1) * dsub], cb[j][codes[j]]))
        for j in range(len(cb))
    )


@pytest.fixture(scope="module")
def vec_df(spark):
    return spark.createDataFrame(_VECS, "vec_id BIGINT, embedding ARRAY<DOUBLE>")


@pytest.fixture(scope="module")
def cb(vec_df):
    return pq_codebooks(vec_df, "vec_id", "embedding", m=_M, ksub=_KSUB)


def test_codebooks_match_python(cb):
    want = _py_codebooks(_VECS, _M, _KSUB)
    assert len(cb) == _M and all(len(b) == _KSUB for b in cb)
    for j in range(_M):
        for c in range(_KSUB):
            assert cb[j][c] == pytest.approx(want[j][c], rel=1e-12)


def test_encode_matches_python(spark, vec_df, cb):
    got = {r["vec_id"]: r["codes"] for r in pq_encode(vec_df, "vec_id", "embedding", cb).collect()}
    for i, v in _VECS:
        assert got[i] == _py_encode(v, cb), f"vec {i}"


def test_adc_topk_matches_python(spark, vec_df, cb):
    probe = [0, 7, 13]
    got = pq_adc_topk(
        vec_df, "vec_id", "embedding", cb, k=5, probe_ids=probe
    ).collect()
    codes = {i: _py_encode(v, cb) for i, v in _VECS}
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(probe)
    vec_by_id = dict(_VECS)
    for q in probe:
        want = sorted(
            ((-_py_adc(vec_by_id[q], codes[i], cb), i) for i, _ in _VECS if i != q),
        )[:5]
        assert [r["neighbor_id"] for r in by_q[q]] == [i for _, i in want]
        for r, (neg_s, _) in zip(by_q[q], want):
            assert r["adc"] == pytest.approx(-neg_s, rel=1e-12)


def test_encode_plan_is_narrow_and_udf_free(spark, vec_df, cb):
    plan = (
        pq_encode(vec_df, "vec_id", "embedding", cb)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan  # pure projection: no shuffle at all


def test_guards(spark, vec_df):
    with pytest.raises(ValueError, match="divisible"):
        pq_codebooks(vec_df, "vec_id", "embedding", m=3, ksub=4)
    with pytest.raises(ValueError, match="rows"):
        pq_codebooks(vec_df, "vec_id", "embedding", m=2, ksub=64)
