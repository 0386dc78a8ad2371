"""Unit tests for operators/quality_model.py (hashed linear classifier).

The cross-engine value oracle is the declared query
``text_quality_classifier``; these tests pin the model generation, the
score arithmetic against an independent Python reference, degenerate
docs, and the broadcast-join plan shape.
"""

import hashlib

from pyspark.sql import functions as F

from adi_226_datawarehouse_project_spark.operators.quality_model import (
    N_BUCKETS,
    hashed_linear_score,
    make_hashed_weights,
)


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _py_weight(bucket: int, seed: str = "qw-v1") -> int:
    return _h32(f"{seed}-{bucket}") % 2001 - 1000


def _py_score(text: str, bias_milli: int = 0):
    import math

    toks = [t for t in text.lower().strip().split() if t]
    if not toks:
        return 0, None, None
    sw = sum(_py_weight(_h32(t) % N_BUCKETS) for t in toks)
    raw = sw / len(toks) / 1000.0 + bias_milli / 1000.0
    return len(toks), sw, math.floor(raw * 1000000 + 0.5) / 1000000


def test_weights_deterministic_and_bounded(spark):
    w = make_hashed_weights(spark).collect()
    assert len(w) == N_BUCKETS
    for r in w:
        assert -1000 <= r.w_milli <= 1000
        assert r.w_milli == _py_weight(r.bucket)


def test_scores_match_python_reference(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "lorem ipsum dolor sit amet"),
         (3, "Spark  SQL \t window   functions")],
        "doc_id BIGINT, text STRING",
    )
    out = {
        r.doc_id: r
        for r in hashed_linear_score(
            docs, make_hashed_weights(spark), bias_milli=-25
        ).collect()
    }
    for doc_id, text in [(1, "the quick brown fox"),
                         (2, "lorem ipsum dolor sit amet"),
                         (3, "Spark  SQL \t window   functions")]:
        n, sw, score = _py_score(text, bias_milli=-25)
        assert out[doc_id].n_tokens == n
        assert out[doc_id].sum_w_milli == sw
        assert out[doc_id].score == score
        assert out[doc_id].keep == (score is not None and score > 0.0)


def test_tokenless_doc_scores_null_and_is_not_kept(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "word")],
        "doc_id BIGINT, text STRING",
    )
    out = {
        r.doc_id: r
        for r in hashed_linear_score(docs, make_hashed_weights(spark), bias_milli=0).collect()
    }
    assert len(out) == 4  # every input doc present exactly once
    for d in (1, 2, 3):
        assert out[d].n_tokens == 0
        assert out[d].score is None and out[d].keep is False


def test_plan_broadcasts_model_and_stays_jvm_side(spark, sf_dir):
    from adi_226_datawarehouse_project_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = hashed_linear_score(docs, make_hashed_weights(spark), bias_milli=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sparse_model_table_treats_missing_buckets_as_zero_weight(spark):
    # A trained model that only ships non-zero buckets must not drop
    # the tokens whose bucket is absent: they carry weight 0 and STILL
    # count in the n_tokens denominator.
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id BIGINT, text STRING"
    )
    dense = make_hashed_weights(spark)
    toks = ["alpha", "beta", "gamma", "delta"]
    buckets = {_h32(t) % N_BUCKETS for t in toks}
    keep_bucket = min(buckets)
    sparse = dense.where(F.col("bucket") == keep_bucket)

    out = hashed_linear_score(docs, sparse, bias_milli=0).collect()[0]
    assert out.n_tokens == 4  # all tokens counted
    expected = sum(
        _py_weight(b) for t in toks if (b := _h32(t) % N_BUCKETS) == keep_bucket
    )
    assert out.sum_w_milli == expected



def test_keep_threshold_moves_the_gate(spark):
    """The keep gate is score > 0, so the bias moves it: weights
    average at most 1.0, so a bias of -1.0 keeps nothing."""
    docs = spark.createDataFrame([(1, "alpha beta gamma")], "doc_id BIGINT, text STRING")
    w = make_hashed_weights(spark)
    base = hashed_linear_score(docs, w, bias_milli=0).collect()[0]
    high = hashed_linear_score(docs, w, bias_milli=-1000).collect()[0]
    assert high.keep is False
    assert base.keep == (base.score > 0.0)
