"""DSIR importance selection: property tests against a plain-Python
reference (hashlib md5 buckets + integer bit-weights), selection
semantics (target-lookalikes rank first, empty docs never selected),
determinism under repartitioning, and plan gates (no Python UDF,
broadcast model joins, no global window over the corpus-sized
frame)."""

import hashlib
from collections import Counter

import pytest
from pyspark.sql import Row

from adi_226_datawarehouse_project_spark.operators.dsir import (
    dsir_select,
    hashed_gram_counts,
    importance_weights,
)

B = 64  # deliberately small: collisions exercised on both sides


def _tok(text):
    return [w for w in text.lower().strip().split() if w]


def _bucket(gram: str) -> int:
    return int(hashlib.md5(gram.encode()).hexdigest()[:12], 16) % B


def _feats(docs):
    out = {}
    for i, text in docs:
        toks = _tok(text)
        if toks:
            out[i] = Counter(_bucket(g) for g in toks)
    return out


def _ref_weights(raw_docs, tgt_docs):
    rf = _feats(raw_docs)
    q = Counter()
    for c in rf.values():
        q.update(c)
    p = Counter()
    for c in _feats(tgt_docs).values():
        p.update(c)
    Tq, Tp = sum(q.values()), sum(p.values())
    return {
        i: sum(
            n
            * (
                (((Tq + B) // (q[b] + 1)).bit_length() - 1)
                - (((Tp + B) // (p.get(b, 0) + 1)).bit_length() - 1)
            )
            for b, n in c.items()
        )
        for i, c in rf.items()
    }


RAW = [
    (1, "the market price of copper rose sharply overnight"),
    (2, "quantum entanglement links distant particle states"),
    (3, "the referee blew the whistle after the tackle"),
    (4, "entanglement and superposition define quantum computing"),
    (5, "copper futures and market analysts expect price moves"),
    (6, "a particle in superposition holds quantum information"),
    (7, ""),
    (8, "the whistle echoed across the football pitch"),
]
TGT = [
    (100, "quantum particle superposition and entanglement"),
    (101, "quantum computing stores information in particle states"),
    (102, "entanglement is the core quantum computing resource"),
]


@pytest.fixture()
def frames(spark):
    raw = spark.createDataFrame([Row(id=i, text=t) for i, t in RAW])
    tgt = spark.createDataFrame([Row(id=i, text=t) for i, t in TGT])
    return raw, tgt


def test_hashed_gram_counts_matches_python(spark, frames):
    raw, _ = frames
    got = {
        (r["id"], r["bucket"]): r["c"]
        for r in hashed_gram_counts(raw, "id", "text", B).collect()
    }
    want = {
        (i, b): n for i, c in _feats(RAW).items() for b, n in c.items()
    }
    assert got == want


def test_bits_weights_bit_exact(spark, frames):
    raw, tgt = frames
    got = {
        r["id"]: r["weight_bits"]
        for r in importance_weights(raw, tgt, "id", "text", n_buckets=B).collect()
    }
    assert got == _ref_weights(RAW, TGT)


def test_selection_prefers_target_lookalikes(spark, frames):
    raw, tgt = frames
    sel = dsir_select(raw, tgt, "id", "text", k=3, n_buckets=B)
    ids = {r["id"] for r in sel.collect()}
    # the three quantum-flavored raw docs outscore the finance/sport ones
    assert ids == {2, 4, 6}
    ranks = {
        r["id"]: r["selection_rank"]
        for r in sel.select("id", "selection_rank").collect()
    }
    assert sorted(ranks.values()) == [0, 1, 2]


def test_empty_doc_never_selected_and_k_overshoot(spark, frames):
    raw, tgt = frames
    # k larger than the number of weighted docs: everything with at
    # least one token is selected; the empty doc has no weight (-inf
    # semantics) and stays out.
    sel = dsir_select(raw, tgt, "id", "text", k=100, n_buckets=B)
    ids = {r["id"] for r in sel.collect()}
    assert ids == {1, 2, 3, 4, 5, 6, 8}


def test_selection_partition_invariance(spark, frames):
    raw, tgt = frames
    a = dsir_select(raw, tgt, "id", "text", k=4, n_buckets=B)
    b = dsir_select(
        raw.repartition(7), tgt.repartition(3), "id", "text", k=4, n_buckets=B
    )
    rows = lambda d: sorted(  # noqa: E731
        (r["id"], r["weight_bits"], r["selection_rank"])
        for r in d.select("id", "weight_bits", "selection_rank").collect()
    )
    assert rows(a) == rows(b)


def test_rejects_bad_params(spark, frames):
    raw, tgt = frames
    with pytest.raises(ValueError):
        hashed_gram_counts(raw, "id", "text", 0)
    with pytest.raises(ValueError):
        dsir_select(raw, tgt, "id", "text", k=-1)


def test_plan_no_udf_broadcast_models_no_global_corpus_window(spark, frames):
    raw, tgt = frames
    # the scoring plan (pre-rank): both bucket-model joins must take
    # the broadcast side and nothing may fall to Python or cartesian.
    wplan = (
        importance_weights(raw, tgt, "id", "text", n_buckets=B)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in wplan and "ArrowEvalPython" not in wplan
    assert "CartesianProduct" not in wplan
    assert wplan.count("BroadcastHashJoin") >= 2
    # the selection plan (post-rank; the checkpoint truncates the
    # scoring lineage out of it):
    sel = dsir_select(raw, tgt, "id", "text", k=3, n_buckets=B)
    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # the only unpartitioned window runs over the per-partition totals
    # frame (same gate as distributed_prefix_sum)
    win_lines = [l for l in plan.splitlines() if "windowspecdefinition(" in l]
    assert win_lines, "expected the two-phase rank windows in the plan"
    for line in win_lines:
        if line.count("], [") < 2:
            assert "sum(__t" in line, f"global window over non-totals frame: {line}"
