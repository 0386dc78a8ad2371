"""Training-data assembly operators: property tests against plain-
Python references (hashlib md5 / a sequential packing loop) plus
plan-shape gates proving the prefix-sum machinery never plans a
global single-partition window over the input."""

import hashlib
from contextlib import contextmanager

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from adi_226_datawarehouse_project_spark.operators.dedup import near_dup_clusters
from adi_226_datawarehouse_project_spark.operators.training import (
    distributed_prefix_sum,
    fraction_threshold,
    global_shuffle_rank,
    pack_chunk_stats,
    pack_sequences,
    stratified_sample,
)


def _md5_hex(seed: str, key, width: int = 6) -> str:
    return hashlib.md5(f"{seed}:{key}".encode()).hexdigest()[:width]


@contextmanager
def _shuffle_partitions(spark, n: int):
    """Run the two-phase scans with ``n`` range partitions (they read
    spark.sql.shuffle.partitions when called), restoring the session
    value afterwards."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


# ---------------------------------------------------------------- sampling


def test_stratified_sample_exact_membership(spark):
    rows = [Row(id=i, stratum=["a", "b", "c"][i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows)
    fracs = {"a": 0.5, "b": 0.25, "c": 0.0}
    got = {
        r["id"]
        for r in stratified_sample(df, "id", "stratum", fracs, seed="s1").collect()
    }
    want = {
        r.id
        for r in rows
        if fracs[r.stratum] > 0
        and _md5_hex("s1", r.id) < fraction_threshold(fracs[r.stratum])
    }
    assert got == want
    assert 0 < len(want) < 300  # non-degenerate at these fractions


def test_stratified_sample_edge_fractions_and_default(spark):
    rows = [Row(id=i, stratum="keep" if i % 2 else "other") for i in range(40)]
    df = spark.createDataFrame(rows)
    all_kept = stratified_sample(df, "id", "stratum", {"keep": 1.0}, seed="x")
    got = {(r["id"], r["stratum"]) for r in all_kept.collect()}
    # fraction 1.0 keeps every 'keep' row (no hash-boundary loss);
    # an unlisted stratum is dropped
    assert got == {(r.id, r.stratum) for r in rows if r.stratum == "keep"}
    swapped = stratified_sample(
        df, "id", "stratum", {"keep": 0.0, "other": 1.0}, seed="x"
    )
    assert {r["stratum"] for r in swapped.collect()} == {"other"}
    assert swapped.count() == 20


def test_stratified_sample_is_append_stable(spark):
    # adding rows never changes an existing row's fate
    small = spark.createDataFrame([Row(id=i, stratum="a") for i in range(50)])
    big = spark.createDataFrame([Row(id=i, stratum="a") for i in range(200)])
    fr = {"a": 0.4}
    kept_small = {
        r["id"] for r in stratified_sample(small, "id", "stratum", fr, "s").collect()
    }
    kept_big = {
        r["id"] for r in stratified_sample(big, "id", "stratum", fr, "s").collect()
    }
    assert kept_small == {i for i in kept_big if i < 50}


def test_stratified_sample_plans_no_shuffle(spark):
    df = spark.createDataFrame([Row(id=i, stratum="a") for i in range(10)])
    plan = (
        stratified_sample(df, "id", "stratum", {"a": 0.5}, "s")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # pure narrow filter


# ---------------------------------------------------------------- prefix sum


@pytest.mark.parametrize("parts", [1, 3, 8])
def test_prefix_sum_matches_python_any_partitioning(spark, parts):
    vals = [(i, (i * 7919) % 23) for i in range(157)]
    df = spark.createDataFrame(vals, ["k", "v"]).repartition(5)
    with _shuffle_partitions(spark, parts):
        got = {
            r["k"]: r["prefix_sum"]
            for r in distributed_prefix_sum(df, ["k"], F.col("v")).collect()
        }
    acc, want = 0, {}
    for k, v in vals:  # exclusive scan in k order
        want[k] = acc
        acc += v
    assert got == want


def test_prefix_sum_requires_no_global_window(spark):
    df = spark.createDataFrame([(i, 1) for i in range(50)], ["k", "v"])
    with _shuffle_partitions(spark, 4):
        plan = (
            distributed_prefix_sum(df, ["k"], F.col("v"))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    # the intra window is partitioned by the physical partition id;
    # the only unpartitioned window runs over the per-partition totals
    # (post-aggregate, one row per partition). A partitioned Window node
    # prints two bracket groups after the function list
    # (`], [partSpec], [orderSpec]`); an unpartitioned one prints one.
    win_lines = [l for l in plan.splitlines() if "windowspecdefinition(" in l]
    assert len(win_lines) == 2
    for line in win_lines:
        if line.count("], [") < 2:  # unpartitioned window
            assert "sum(__t" in line, f"global window over non-totals frame: {line}"
        else:
            assert line.split("], [")[1].startswith("__pid#")


# ---------------------------------------------------------------- packing


def _pack_reference(docs, L):
    """Sequential concat-and-chunk loop: the semantics in one pass."""
    off, out = 0, {}
    for i, n in docs:  # docs sorted by id
        first = off // L
        last = (off + max(n, 1) - 1) // L
        out[i] = (n, off, first, last)
        off += n
    return out


@pytest.mark.parametrize("L", [16, 64, 1000])
def test_pack_sequences_matches_sequential_reference(spark, L):
    docs = [(i, (i * 131) % 37) for i in range(200)]  # includes 0-token docs
    df = spark.createDataFrame(docs, ["doc_id", "nt"])
    with _shuffle_partitions(spark, 6):
        got = {
            r["doc_id"]: (
                r["n_tokens"],
                r["token_offset"],
                r["chunk_first"],
                r["chunk_last"],
            )
            for r in pack_sequences(df, "doc_id", "nt", L).collect()
        }
    assert got == _pack_reference(docs, L)


def test_pack_chunk_stats_conserves_tokens_and_fills_chunks(spark):
    L = 64
    docs = [(i, (i * 131) % 37) for i in range(200)]
    df = spark.createDataFrame(docs, ["doc_id", "nt"])
    with _shuffle_partitions(spark, 6):
        packed = pack_sequences(df, "doc_id", "nt", L)
    stats = {
        r["chunk_id"]: (r["n_docs"], r["chunk_tokens"])
        for r in pack_chunk_stats(packed, "doc_id", L).collect()
    }
    total = sum(n for _, n in docs)
    assert sum(t for _, t in stats.values()) == total  # token conservation
    n_chunks = (total + L - 1) // L
    assert set(stats) == set(range(n_chunks))  # contiguous, no gaps
    for c, (_, t) in stats.items():  # every chunk full except the last
        assert t == (L if c < n_chunks - 1 else total - L * (n_chunks - 1))
    # per-chunk doc counts against the reference layout
    ref = _pack_reference(docs, L)
    for c in stats:
        want_docs = sum(
            1 for i, (n, off, fi, la) in ref.items() if n > 0 and fi <= c <= la
        )
        assert stats[c][0] == want_docs


# ---------------------------------------------------------------- shuffle


def test_global_shuffle_rank_matches_python_md5_order(spark):
    ids = list(range(0, 400, 3))
    df = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    got = {
        r["doc_id"]: r["shuffle_rank"]
        for r in global_shuffle_rank(df, "doc_id", seed="ep0").collect()
    }
    order = sorted(ids, key=lambda i: (_md5_hex("ep0", i, 12), i))
    want = {i: r for r, i in enumerate(order)}
    assert got == want
    # a different seed produces a genuinely different permutation
    got2 = {
        r["doc_id"]: r["shuffle_rank"]
        for r in global_shuffle_rank(df, "doc_id", seed="ep1").collect()
    }
    assert got2 != got
    assert sorted(got2.values()) == list(range(len(ids)))


def test_shuffle_rank_partition_invariance(spark):
    df = spark.createDataFrame([(i,) for i in range(120)], ["doc_id"])
    with _shuffle_partitions(spark, 2):
        a = {
            r["doc_id"]: r["shuffle_rank"]
            for r in global_shuffle_rank(df, "doc_id", "s").collect()
        }
    with _shuffle_partitions(spark, 9):
        b = {
            r["doc_id"]: r["shuffle_rank"]
            for r in global_shuffle_rank(df.repartition(7), "doc_id", "s").collect()
        }
    assert a == b


def test_chunk_documents_boundaries_and_overlap(spark):
    from adi_226_datawarehouse_project_spark.operators.training import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),  # 10 tokens
            (2, "a b c"),                               # shorter than window
            (3, ""),                                    # empty
        ],
        "doc_id BIGINT, text STRING",
    )
    got = {
        (r["doc_id"], r["chunk_idx"]): r
        for r in chunk_documents(docs, "doc_id", "text", window=4, stride=3).collect()
    }
    # doc 1: n_chunks = 1 + ceil((10-4)/3) = 3; windows [0:4],[3:7],[6:10]
    assert got[(1, 0)]["n_chunks"] == 3
    assert got[(1, 0)]["chunk_text"] == "t0 t1 t2 t3"
    assert got[(1, 1)]["chunk_text"] == "t3 t4 t5 t6"  # 1-token overlap
    assert got[(1, 2)]["chunk_text"] == "t6 t7 t8 t9"
    assert all(got[(1, i)]["chunk_tokens"] == 4 for i in range(3))
    # short doc: single truncated chunk, nothing dropped
    assert got[(2, 0)]["n_chunks"] == 1 and got[(2, 0)]["chunk_text"] == "a b c"
    assert got[(2, 0)]["chunk_tokens"] == 3
    # empty doc: one empty chunk
    assert got[(3, 0)]["n_chunks"] == 1 and got[(3, 0)]["chunk_text"] == ""
    assert got[(3, 0)]["chunk_tokens"] == 0
    # every token of doc 1 is covered by at least one chunk
    covered = set()
    for i in range(3):
        covered |= set(got[(1, i)]["chunk_text"].split())
    assert covered == {f"t{i}" for i in range(10)}


def test_chunk_documents_rejects_bad_params(spark):
    import pytest as _pytest

    from adi_226_datawarehouse_project_spark.operators.training import chunk_documents

    docs = spark.createDataFrame([(1, "a b")], "doc_id BIGINT, text STRING")
    with _pytest.raises(ValueError):
        chunk_documents(docs, "doc_id", "text", window=0, stride=1)
    with _pytest.raises(ValueError):
        chunk_documents(docs, "doc_id", "text", window=4, stride=-1)


def test_group_sample_k_exact_size_and_determinism(spark):
    from adi_226_datawarehouse_project_spark.operators.training import group_sample_k

    rows = [Row(id=i, stratum=["en", "de", "fr"][i % 3]) for i in range(240)]
    df = spark.createDataFrame(rows)
    got = group_sample_k(df, "stratum", "id", k=10, seed="gs1")
    per = {
        r["stratum"]: r["n"]
        for r in got.groupBy("stratum").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per == {"en": 10, "de": 10, "fr": 10}
    # matches the Python reference: k smallest md5(seed:id) per stratum
    want = set()
    for s in ("en", "de", "fr"):
        ids = [r.id for r in rows if r.stratum == s]
        ids.sort(key=lambda i: (_md5_hex("gs1", i, 12), i))
        want |= set(ids[:10])
    assert {r["id"] for r in got.collect()} == want
    # partition invariance
    got2 = {r["id"] for r in group_sample_k(df.repartition(13), "stratum", "id", 10, "gs1").collect()}
    assert got2 == want


def test_group_sample_k_small_stratum_and_bad_k(spark):
    from adi_226_datawarehouse_project_spark.operators.training import group_sample_k

    df = spark.createDataFrame([Row(id=1, stratum="tiny"), Row(id=2, stratum="tiny")])
    assert group_sample_k(df, "stratum", "id", k=10, seed="s").count() == 2
    import pytest as _pytest

    with _pytest.raises(ValueError):
        group_sample_k(df, "stratum", "id", k=0, seed="s")


def test_group_sample_k_hot_stratum_prefilter_preserves_exact_k(spark):
    """With prefilter_over set below a planted hot stratum's size, the
    plan gains a narrow hash-threshold filter BEFORE the per-stratum
    window, and the exact-k output is row-identical to the unfiltered
    computation (the prefix-dominates-ranking argument in the
    docstring)."""
    from adi_226_datawarehouse_project_spark.operators.training import group_sample_k

    rows = [("hot", i) for i in range(5000)] + [("cold", i) for i in range(40)]
    df = spark.createDataFrame(rows, ["stratum", "id"])

    base = group_sample_k(df, "stratum", "id", k=7, seed="pf", prefilter_over=None)
    pre = group_sample_k(df, "stratum", "id", k=7, seed="pf", prefilter_over=1000)
    want = sorted((r["stratum"], r["id"]) for r in base.collect())
    got = sorted((r["stratum"], r["id"]) for r in pre.collect())
    assert got == want and len(got) == 14

    # the pre-filtered plan really carries the threshold filter (the
    # __thr comparison) upstream of the window
    plan = pre._jdf.queryExecution().optimizedPlan().toString()
    assert "__thr" in plan

    # and the filter does its job: the window input shrinks to ~10k+50
    # survivors for the hot stratum instead of all 5000 rows
    from adi_226_datawarehouse_project_spark.operators.training import (
        _HEX_WIDTH,
        _hash_hex,
    )
    from pyspark.sql import functions as F

    thr = (10.0 * 7 + 50) / 5000
    survivors = df.filter(
        (F.col("stratum") == "hot")
        & (
            _hash_hex("id", "pf", _HEX_WIDTH)
            < F.lpad(
                F.lower(F.hex(F.ceil(F.lit(thr) * (16**_HEX_WIDTH)).cast("bigint"))),
                _HEX_WIDTH,
                "0",
            )
        )
    ).count()
    assert 7 <= survivors < 500


def test_group_sample_k_strict_repairs_prefilter_shortfall(spark):
    """The residual hazard of the hot-stratum pre-filter is a SILENT
    shortfall (< e⁻²⁰ per stratum at the production oversample, but
    nonzero). Forcing it with the test knobs (_oversample=_pad=0 →
    threshold 000000 → zero survivors) pins both behaviors: the lazy
    default returns fewer than k for the hot stratum (the documented
    trade), and strict=True detects it and recomputes that stratum
    without the pre-filter — row-identical to the unfiltered ground
    truth, cold strata untouched."""
    from adi_226_datawarehouse_project_spark.operators.training import group_sample_k

    rows = (
        [("hot", i) for i in range(5000)]
        + [(None, i) for i in range(2000)]  # NULL stratum must repair too
        + [("cold", i) for i in range(40)]
    )
    df = spark.createDataFrame(rows, "stratum string, id bigint")

    nsort = lambda pairs: sorted(pairs, key=lambda t: (t[0] is not None, t[0] or "", t[1]))  # noqa: E731
    base = group_sample_k(df, "stratum", "id", k=7, seed="pf", prefilter_over=None)
    want = nsort((r["stratum"], r["id"]) for r in base.collect())

    kw = dict(k=7, seed="pf", prefilter_over=1000, _oversample=0.0, _pad=0.0)
    lazy = group_sample_k(df, "stratum", "id", **kw)
    got_lazy = [(r["stratum"], r["id"]) for r in lazy.collect()]
    assert {s for s, _ in got_lazy} == {"cold"}  # the silent shortfall
    assert len(got_lazy) == 7

    strict = group_sample_k(df, "stratum", "id", strict=True, **kw)
    got = nsort((r["stratum"], r["id"]) for r in strict.collect())
    assert got == want and len(got) == 21


def test_group_sample_k_strict_is_noop_without_shortfall(spark):
    """At the production oversample the strict verify pass finds no
    shortfall and the output is identical to the lazy path."""
    from adi_226_datawarehouse_project_spark.operators.training import group_sample_k

    rows = [("hot", i) for i in range(5000)] + [(None, i) for i in range(3000)]
    df = spark.createDataFrame(rows, ["stratum", "id"])
    lazy = group_sample_k(df, "stratum", "id", k=7, seed="pf", prefilter_over=1000)
    strict = group_sample_k(
        df, "stratum", "id", k=7, seed="pf", prefilter_over=1000, strict=True
    )
    key = lambda t: (t[0] is not None, t[0] or "", t[1])  # noqa: E731
    assert sorted(map(tuple, lazy.collect()), key=key) == sorted(
        map(tuple, strict.collect()), key=key
    )


def test_two_phase_scans_reliable_checkpoint_path(spark, tmp_path):
    """With a checkpoint dir set, the two-phase scans pin through
    reliable checkpoints (files under the dir) instead of
    localCheckpoint, and give identical values either way."""
    from conftest import checkpoint_dir

    from adi_226_datawarehouse_project_spark.operators.training import (
        distributed_prefix_sum,
        global_order_rank,
    )

    df = spark.createDataFrame(
        [(i, (i * 7) % 13 + 1) for i in range(200)], ["k", "v"]
    )

    def scans():
        with _shuffle_partitions(spark, 4):
            return (
                {
                    r["k"]: r["prefix_sum"]
                    for r in distributed_prefix_sum(df, ["k"], F.col("v")).collect()
                },
                {
                    r["k"]: r["rank"]
                    for r in global_order_rank(df, ["k"], "rank").collect()
                },
            )

    local = scans()
    with checkpoint_dir(spark, tmp_path):
        reliable = scans()
    assert reliable == local
    assert any(p.is_file() for p in tmp_path.rglob("*"))


def test_group_sample_k_prefilter_fraction_ge_one_keeps_exact_k(spark):
    """Regression: a stratum over prefilter_over but NOT over 10k+50
    rows has keep-fraction >= 1 — the pre-filter must disable itself
    for that stratum (the capped 16^6 threshold renders as seven hex
    chars and lpad truncation would silently keep ~1/16 of rows,
    breaking exact-k)."""
    from adi_226_datawarehouse_project_spark.operators.training import group_sample_k

    df = spark.createDataFrame([("s", i) for i in range(100)], ["stratum", "id"])
    base = group_sample_k(df, "stratum", "id", k=25, seed="f1", prefilter_over=None)
    pre = group_sample_k(df, "stratum", "id", k=25, seed="f1", prefilter_over=50)
    want = sorted(r["id"] for r in base.collect())
    got = sorted(r["id"] for r in pre.collect())
    assert got == want and len(got) == 25


def test_group_sample_k_prefilter_matches_null_stratum(spark):
    """An un-tagged (NULL) stratum is often the biggest; the hot-list
    join must match it null-safely or the pre-filter silently turns
    off for exactly the stratum that needs it."""
    from adi_226_datawarehouse_project_spark.operators.training import group_sample_k

    rows = [(None, i) for i in range(3000)] + [("en", i + 10000) for i in range(40)]
    df = spark.createDataFrame(rows, "stratum string, id bigint")
    base = group_sample_k(df, "stratum", "id", k=6, seed="ns", prefilter_over=None)
    pre = group_sample_k(df, "stratum", "id", k=6, seed="ns", prefilter_over=500)
    key = lambda t: (t[0] is None, t[0] or "", t[1])
    assert sorted(map(tuple, base.collect()), key=key) == sorted(
        map(tuple, pre.collect()), key=key
    )
    plan = pre._jdf.queryExecution().optimizedPlan().toString()
    assert "__thr" in plan


def test_chunk_documents_stride_wider_than_window(spark):
    """stride > window must not emit a spurious empty trailing chunk
    (the old count formula overcounted by one)."""
    from adi_226_datawarehouse_project_spark.operators.training import chunk_documents

    df = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")], "doc_id bigint, text string"
    )
    out = chunk_documents(df, "doc_id", "text", window=2, stride=5).collect()
    assert len(out) == 2 and all(r["n_chunks"] == 2 for r in out)
    assert [r["chunk_text"] for r in sorted(out, key=lambda r: r["chunk_idx"])] == [
        "t0 t1",
        "t5 t6",
    ]
    assert all(r["chunk_tokens"] == 2 for r in out)


def _split_fixture(spark):
    """500 docs, 80 near-dup edges forming chains of 3 (i, i+1, i+2 for
    i in 0,10,20,...): enough clusters that all three splits populate,
    enough edges that a doc-keyed split would certainly straddle."""
    from adi_226_datawarehouse_project_spark.operators.training import (
        leakage_safe_split,
    )

    docs = spark.range(500).select(F.col("id").alias("doc_id"))
    edges = []
    for i in range(0, 400, 10):
        edges += [(i, i + 1), (i + 1, i + 2)]
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    return leakage_safe_split, docs, pairs, edges


def test_leakage_safe_split_no_edge_straddles(spark):
    """The contract: every near-dup pair lands in ONE split — and the
    naive doc-keyed hash split provably violates it on the same data."""
    from adi_226_datawarehouse_project_spark.operators.training import (
        _hash_hex,
        fraction_threshold,
    )

    leakage_safe_split, docs, pairs, edges = _split_fixture(spark)
    comp = near_dup_clusters(docs, "doc_id", pairs)
    out = leakage_safe_split(docs, "doc_id", comp, seed="t1")
    split_of = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(split_of) == 500  # join keeps every doc
    for a, b in edges:
        assert split_of[a] == split_of[b], (a, b)
    # all three splits populated at 500 docs / 80%-10%-10%
    assert {"train", "val", "test"} <= set(split_of.values())

    # contrast: doc-keyed split straddles (the leak this op prevents)
    naive = {
        r["doc_id"]: ("test" if r["h"] < fraction_threshold(0.1)
                      else "val" if r["h"] < fraction_threshold(0.2) else "train")
        for r in docs.select("doc_id", _hash_hex(F.col("doc_id"), "t1").alias("h")).collect()
    }
    assert any(naive[a] != naive[b] for a, b in edges)


def test_leakage_safe_split_precomputed_clusters_and_determinism(spark):
    """Each doc takes its cluster's id from the precomputed frame and
    the split the md5(seed:cluster_id) scheme gives that cluster; a
    re-run (here over a repartitioned corpus) is identical."""
    from adi_226_datawarehouse_project_spark.operators.training import (
        fraction_threshold,
    )

    leakage_safe_split, docs, pairs, _ = _split_fixture(spark)
    comp = near_dup_clusters(docs, "doc_id", pairs)
    first = {
        (r["doc_id"], r["cluster_id"], r["split"])
        for r in leakage_safe_split(docs, "doc_id", comp, seed="t2").collect()
    }
    cluster_of = {r["doc_id"]: r["cluster_id"] for r in comp.collect()}
    for doc_id, cluster_id, split in first:
        assert cluster_id == cluster_of[doc_id]
        h = _md5_hex("t2", cluster_id)
        assert split == (
            "test" if h < fraction_threshold(0.1)
            else "val" if h < fraction_threshold(0.2) else "train"
        )
    again = {
        (r["doc_id"], r["cluster_id"], r["split"])
        for r in leakage_safe_split(
            docs.repartition(7), "doc_id", comp, seed="t2"
        ).collect()
    }
    assert again == first


def test_leakage_safe_split_partial_clusters_self_cluster(spark):
    """A caller-supplied clusters= frame that misses some docs must not
    DROP them: uncovered docs self-cluster (cluster_id = own id) with
    near_dup_clusters' singleton semantics, so a partial frame and a
    full frame agree on every covered doc."""
    leakage_safe_split, docs, _, _ = _split_fixture(spark)
    # clusters frame covering ONLY docs < 100
    partial = spark.range(100).select(
        F.col("id").alias("doc_id"),
        (F.col("id") - F.col("id") % 10).alias("cluster_id"),
    )
    out = {
        r["doc_id"]: (r["cluster_id"], r["split"])
        for r in leakage_safe_split(
            docs, "doc_id", clusters=partial, seed="t3"
        ).collect()
    }
    assert len(out) == 500  # nothing vanished
    for i in range(100):
        assert out[i][0] == i - i % 10  # covered docs use the frame
    for i in range(100, 500):
        assert out[i][0] == i  # uncovered docs self-cluster
    # a self-clustered doc's split matches what a singleton cluster
    # frame would assign — same md5(seed:cluster_id) scheme
    singleton = spark.range(100, 500).select(
        F.col("id").alias("doc_id"), F.col("id").alias("cluster_id")
    )
    explicit = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(
            docs.filter(F.col("doc_id") >= 100),
            "doc_id",
            clusters=singleton,
            seed="t3",
        ).collect()
    }
    for i in range(100, 500):
        assert out[i][1] == explicit[i]


def test_leakage_safe_split_validation(spark):
    leakage_safe_split, docs, _, _ = _split_fixture(spark)
    comp = docs.select("doc_id", F.col("doc_id").alias("cluster_id"))
    with pytest.raises(ValueError, match="val.*test"):
        leakage_safe_split(docs, "doc_id", comp, val_frac=0.5, test_frac=0.5)
    with pytest.raises(ValueError, match="val.*test"):
        leakage_safe_split(docs, "doc_id", comp, val_frac=-0.1)
