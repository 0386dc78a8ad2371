"""Unit tests for operators/graph.py (integer-deterministic PageRank).

The cross-engine value oracle is the declared query
``op_graph_pagerank`` (8 unrolled iterations re-played in DuckDB);
these tests pin the recurrence against an independent Python
reference, the dangling-leak semantics, validation, and plan shape.
"""

import collections

import pytest
from conftest import checkpoint_dir

from adi_226_datawarehouse_project_spark.operators.graph import pagerank

SCALE = 10**12


def _py_pagerank(edges, iterations=8, damp=85, scale=SCALE):
    nodes = sorted({x for e in edges for x in e})
    deg = collections.Counter(s for s, _ in edges)
    n = len(nodes)
    tele = (100 - damp) * (scale // n) // 100
    r = {v: scale // n for v in nodes}
    for _ in range(iterations):
        s = collections.defaultdict(int)
        for u, v in edges:
            if deg[u] > 0:
                s[v] += r[u] // deg[u]
        r = {v: tele + damp * s[v] // 100 for v in nodes}
    return r, deg


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
    return {r.node: r for r in pagerank(df, **kw).collect()}


def test_matches_python_reference_on_asymmetric_graph(spark):
    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (4, 1), (2, 4)]
    got = _run(spark, edges, iterations=6)
    ref, deg = _py_pagerank(edges, iterations=6)
    assert set(got) == set(ref)
    for v, ru in ref.items():
        assert got[v].rank_units == ru
        assert got[v].out_deg == deg[v]


def test_dangling_node_keeps_teleport_only_and_leaks(spark):
    # 2 is a sink: its mass leaks, it still receives from 1.
    edges = [(1, 2)]
    got = _run(spark, edges, iterations=3)
    tele = 15 * (SCALE // 2) // 100
    assert got[1].rank_units == tele  # nothing points at 1
    ref, _ = _py_pagerank(edges, iterations=3)
    assert got[2].rank_units == ref[2] and got[1].rank_units == ref[1]
    # total mass strictly below SCALE: the sink leaked
    assert got[1].rank_units + got[2].rank_units < SCALE


def test_symmetric_graph_conserves_mass_within_truncation(spark):
    cs = [(1, 10), (2, 10), (2, 11), (3, 11)]
    edges = cs + [(b, a) for a, b in cs]
    got = _run(spark, edges, iterations=8)
    total = sum(r.rank_units for r in got.values())
    # truncation loses < (edges + nodes) units per iteration
    assert SCALE - 8 * (len(edges) + len(got) + 100) <= total <= SCALE


def test_rank_double_is_units_over_scale(spark):
    got = _run(spark, [(1, 2), (2, 1)], iterations=2)
    for r in got.values():
        assert r.rank == r.rank_units / SCALE


def test_validation_errors(spark):
    df = spark.createDataFrame([(1, 2)], "src BIGINT, dst BIGINT")
    with pytest.raises(ValueError, match="iterations"):
        pagerank(df, iterations=0)
    with pytest.raises(ValueError, match="damping_pct"):
        pagerank(df, damping_pct=100)


def test_pagerank_reliable_checkpoint_path(spark, tmp_path):
    """With a checkpoint dir set, the per-round pins are reliable
    checkpoints (files under the dir) and the ranks still equal the
    Python reference."""
    edges = [(1, 2), (2, 3), (3, 1), (4, 3)]
    with checkpoint_dir(spark, tmp_path):
        got = _run(spark, edges, iterations=3)
    ref, _ = _py_pagerank(edges, iterations=3)
    assert {v: r.rank_units for v, r in got.items()} == ref
    assert any(p.is_file() for p in tmp_path.rglob("*"))


def test_no_python_udf_in_plan(spark):
    df = spark.createDataFrame([(1, 2), (2, 1)], "src BIGINT, dst BIGINT")
    plan = pagerank(df, iterations=1)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
