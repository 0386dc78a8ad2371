"""Similarity-search operators: exact cosine vs numpy, LSH recall vs
the exact baseline (correctness authority for rows-only sim_lsh_topk)."""

import numpy as np
import pytest
from conftest import SF_SMALL

from adi_226_datawarehouse_project_spark.operators.similarity import (
    cosine,
    cosine_self_topk,
    embedding_near_dup_pairs,
    lsh_bucket_topk,
)
from adi_226_datawarehouse_project_spark.sources.catalog import load_table

from pyspark.sql import functions as F


def test_cosine_matches_numpy(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], 2, [0.0, 1.0, 0.0]),
        (3, [1.0, 1.0, 0.0], 4, [1.0, 0.0, 0.0]),
        (5, [2.0, 2.0, 2.0], 6, [1.0, 1.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, ["ia", "va", "ib", "vb"])
    got = [r["c"] for r in df.select(cosine(F.col("va"), F.col("vb")).alias("c")).collect()]
    for (ia, va, ib, vb), g in zip(rows, got):
        a, b = np.array(va), np.array(vb)
        want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(g - want) < 1e-12


def test_topk_matches_numpy_bruteforce(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    probes = [0, 1, 2]
    got = cosine_self_topk(emb, "vec_id", "embedding", k=3, probe_ids=probes).collect()
    pdf = emb.toPandas()
    vecs = {int(r.vec_id): np.array(r.embedding, dtype=np.float64) for r in pdf.itertuples()}
    for q in probes:
        qv = vecs[q]
        scores = {
            n: float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v)))
            for n, v in vecs.items()
            if n != q
        }
        want = sorted(scores, key=lambda n: (-scores[n], n))[:3]
        mine = [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"]) if r["query_id"] == q]
        assert mine == want


def _recall(exact, approx):
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(exact_sets[q] & approx_sets.get(q, set())) for q in exact_sets)
    return hits / sum(len(s) for s in exact_sets.values())


def test_lsh_recall_vs_exact(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    probes = list(range(20))
    exact = cosine_self_topk(emb, "vec_id", "embedding", k=5, probe_ids=probes).collect()
    # default tuning (16 planes / 4 bands): cheap candidates, modest recall
    fast = lsh_bucket_topk(emb, "vec_id", "embedding", k=5, probe_ids=probes).collect()
    assert _recall(exact, fast) >= 0.3
    # recall tuning (8 bands of 2 bits): wide candidate net, high recall
    wide = lsh_bucket_topk(
        emb, "vec_id", "embedding", k=5, bands=8, probe_ids=probes
    ).collect()
    assert _recall(exact, wide) >= 0.9


def test_embedding_near_dup_self_consistent(spark):
    emb = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding").limit(200)
    doubled = emb.union(
        emb.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    )
    pairs = embedding_near_dup_pairs(doubled, "vec_id", "embedding", min_cosine=0.999)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # every planted duplicate (v, v+100000) must be found: identical
    # vectors share all SRP buckets (every band agrees) and have
    # cosine exactly 1, so banding never loses them.
    ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    for v in ids:
        assert (v, v + 100000) in got


def test_embedding_near_dup_banded_recall_on_perturbed(spark):
    """The round-3 verdict's recall cliff, pinned: perturbed (NOT
    identical) near-dups at cosine ≈0.93-0.99 must be recovered. A
    single 16-plane bucket join has per-pair recall (1-θ/π)^16 ≈
    0.13-0.52 here; the 4×4-bit banded join is ≈0.97-0.9995 — the 0.85
    floor separates the two designs decisively over 100 planted pairs."""
    import numpy as np

    rng = np.random.default_rng(11)
    n, dim = 100, 64
    rows = []
    for i in range(n):
        v = rng.standard_normal(dim)
        # relative noise, amplitude stepped over ~0.2-0.55 → cosine
        # spread ≈0.93-0.99 (verified by the exact check below)
        noise = v * rng.standard_normal(dim) * (0.2 + 0.35 * (i % 4) / 3.0)
        rows.append((i, v.tolist()))
        rows.append((i + 100000, (v + noise).tolist()))
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    vecs = dict(rows)
    planted = []
    for i in range(n):
        a, b = np.array(vecs[i]), np.array(vecs[i + 100000])
        c = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        if c >= 0.9:
            planted.append((i, i + 100000))
    assert len(planted) >= 50, "fixture must plant a real truth set"
    pairs = embedding_near_dup_pairs(emb, "vec_id", "embedding", min_cosine=0.9)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    hit = sum(1 for p in planted if p in got)
    assert hit / len(planted) >= 0.85, f"banded recall {hit}/{len(planted)}"
    # precision is exact by re-score: no reported pair below threshold
    for r in pairs.collect():
        a = np.array(vecs[r["id_a"]])
        b = np.array(vecs[r["id_b"]])
        assert a @ b / (np.linalg.norm(a) * np.linalg.norm(b)) >= 0.9 - 1e-9


def test_ivf_recall_vs_exact(spark):
    from adi_226_datawarehouse_project_spark.operators.similarity import ivf_topk

    emb = load_table(spark, SF_SMALL, "embeddings")
    probes = list(range(20))
    exact = cosine_self_topk(emb, "vec_id", "embedding", k=10, probe_ids=probes).collect()
    # default cells/probes (measured ~0.83 at sf0.001)
    got = ivf_topk(emb, "vec_id", "embedding", k=10, probe_ids=probes).collect()
    assert _recall(exact, got) >= 0.7
    # probing more cells must not lower recall
    wide = ivf_topk(
        emb, "vec_id", "embedding", k=10, n_probe=8, probe_ids=probes
    ).collect()
    assert _recall(exact, wide) >= _recall(exact, got)


def test_semantic_dedup_within_cell_collapse(spark):
    from adi_226_datawarehouse_project_spark.operators.similarity import semantic_dedup

    # sample_centroids takes the 3 SMALLEST ids as cells, so ids 0-2
    # are three well-separated axis vectors; the near-dup chain
    # 100~101~102 all land in the +x cell (with its centroid, which is
    # itself within 0.99 cosine → joins the component, rep = 0), the
    # pair 110~111 lands in +y (rep = 1), and 120 is equidistant from
    # every centroid but near none, so it survives alone.
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [0.0, 0.0, 1.0]),
        (100, [0.9999, 0.01, 0.0]),
        (101, [0.9998, 0.02, 0.0]),
        (102, [0.9997, 0.03, 0.0]),
        (110, [0.01, 0.9999, 0.0]),
        (111, [0.02, 0.9998, 0.0]),
        (120, [0.577, 0.577, 0.577]),
    ]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    cl = semantic_dedup(df, "vec_id", "embedding", min_cosine=0.99, n_clusters=3)
    got = {r["vec_id"]: r["cluster_id"] for r in cl.collect()}
    assert got[100] == got[101] == got[102] == got[0] == 0
    assert got[110] == got[111] == got[1] == 1
    assert got[2] == 2 and got[120] == 120
    survivors = sorted(i for i, c in got.items() if i == c)
    assert survivors == [0, 1, 2, 120]


def test_semantic_dedup_misses_cross_cell_pairs_by_design(spark):
    from adi_226_datawarehouse_project_spark.operators.similarity import semantic_dedup

    # Centroids are the two smallest ids = the dup pair itself, so each
    # member is its own cell's centroid and the pair straddles cells:
    # SemDeDup must NOT examine it (the documented approximation).
    rows = [(0, [1.0, 0.0]), (1, [0.9999, 0.0141]), (5, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    cl = semantic_dedup(df, "vec_id", "embedding", min_cosine=0.99, n_clusters=2)
    got = {r["vec_id"]: r["cluster_id"] for r in cl.collect()}
    assert got == {0: 0, 1: 1, 5: 5}


def test_assign_cells_multi_single_probe_matches_assign_cells(spark):
    """n_probe=1 must be exactly assign_cells (the cells ivf_topk's
    corpus side and semantic_dedup use), and n_probe=m emits one row
    per (vector, probed cell)."""
    from adi_226_datawarehouse_project_spark.operators.similarity import (
        assign_cells,
        assign_cells_multi,
        sample_centroids,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (100, [0.9999, 0.01, 0.0]),
        (101, [0.9998, 0.02, 0.0]),
        (110, [0.01, 0.9999, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    cents = sample_centroids(df, "vec_id", "embedding", 2)
    single = assign_cells(df, "vec_id", "embedding", cents)
    multi1 = assign_cells_multi(df, "vec_id", "embedding", cents, n_probe=1)
    key = lambda d: sorted(  # noqa: E731
        (r["vec_id"], r["centroid_id"]) for r in d.collect()
    )
    assert key(single) == key(multi1)
    # n_probe=2 over 2 cells: every vector probes both cells
    multi2 = assign_cells_multi(df, "vec_id", "embedding", cents, n_probe=2)
    assert len(key(multi2)) == 2 * len(rows)


def test_srp_band_buckets_match_signature_shift_mask(spark):
    """Band b packs the sign bits of planes [b·bits, (b+1)·bits): the
    bands must equal shift/mask over the all-planes signature. Each
    plane's bit is its own Spark column here and the signature is
    packed in Python — this is what keeps the oracle-pinned 16/4
    values identical across refactors of the pack."""
    from pyspark.sql import functions as F

    from adi_226_datawarehouse_project_spark.operators.similarity import (
        _srp_plane_bit,
        srp_band_buckets,
    )

    df = spark.range(20).selectExpr(
        "id AS vec_id",
        "transform(sequence(0, 15), i -> CAST(xxhash64(id, i) % 97 AS DOUBLE) / 97.0 - 0.5)"
        " AS embedding",
    )
    for planes, bands in [(16, 4), (16, 2), (48, 4), (64, 8)]:
        bits = planes // bands
        mask = (1 << bits) - 1
        rows = df.select(
            srp_band_buckets("embedding", planes, bands).alias("b"),
            *[F.expr(_srp_plane_bit("embedding", p, 1)).alias(f"p{p}") for p in range(planes)],
        ).collect()
        for r in rows:
            sig = sum(r[f"p{p}"] << p for p in range(planes))
            assert r["b"] == [(sig >> (b * bits)) & mask for b in range(bands)]


def test_srp_wide_planes_supported_and_signature_guarded(spark):
    from adi_226_datawarehouse_project_spark.operators.similarity import (
        srp_band_buckets,
    )

    df = spark.range(4).selectExpr(
        "id AS vec_id",
        "transform(sequence(0, 7), i -> CAST(xxhash64(id, i) % 11 AS DOUBLE) - 5.0)"
        " AS embedding",
    )
    # 64 planes work through band buckets (8x8 bits)...
    rows = df.select(srp_band_buckets("embedding", 64, 8).alias("b")).collect()
    assert all(len(r["b"]) == 8 for r in rows)
    assert all(0 <= v < 256 for r in rows for v in r["b"])
    # ...while one 64-bit band would overflow the bigint sign bit
    with pytest.raises(ValueError, match="63"):
        srp_band_buckets("embedding", 64, 1)


def test_nan_embedding_is_quarantined(spark):
    """A corrupt vector (NaN component) must not rank in anyone's
    top-k nor mark itself a near-dup of every cell-mate — Spark orders
    NaN above every double, so an unguarded cosine would put it at
    rank 1 everywhere."""
    from adi_226_datawarehouse_project_spark.operators.similarity import (
        cosine_self_topk,
        embedding_near_dup_pairs,
    )

    nan = float("nan")
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.14, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0]),
        (9, [nan, 1.0, 0.0]),     # corrupt
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    topk = cosine_self_topk(df, "vec_id", "embedding", k=2, probe_ids=[0])
    neighbors = [r["neighbor_id"] for r in topk.collect()]
    assert 9 not in neighbors and neighbors[0] == 1

    pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            df, "vec_id", "embedding", min_cosine=0.9
        ).collect()
    }
    assert all(9 not in p for p in pairs)
    assert (0, 1) in pairs


def test_srp_band_validation(spark):
    from adi_226_datawarehouse_project_spark.operators.similarity import (
        srp_band_buckets,
    )

    with pytest.raises(ValueError, match="not divisible"):
        srp_band_buckets("v", 16, 3)
    with pytest.raises(ValueError, match="positive"):
        srp_band_buckets("v", 16, 0)


def test_model_sampling_skips_corrupt_low_id_vectors(spark):
    """The deterministic-sample model paths collect the SMALLEST-id
    vectors as driver-resident state; corrupt rows at low ids used to
    crash training (float(None)) or silently seed a dead centroid /
    fix the wrong dim. finite_vectors must screen them out of
    sample_centroids and pq_codebooks — while staying a no-op on clean
    corpora (oracle re-derivation)."""
    from adi_226_datawarehouse_project_spark.operators.pq import pq_codebooks
    from adi_226_datawarehouse_project_spark.operators.similarity import (
        finite_vectors,
        sample_centroids,
    )

    clean = [(10 + i, [float((i * 7 + j * 3) % 5 + 1) for j in range(4)]) for i in range(8)]
    corrupt = [
        (1, None),                               # NULL vector
        (2, [float("nan"), 1.0, 1.0, 1.0]),      # NaN component
        (3, [1.0, 2.0]),                         # ragged (wrong dim)
        (4, [0.0, 0.0, 0.0, 0.0]),               # zero norm (poisons PQ normalize)
    ]
    df = spark.createDataFrame(clean + corrupt, "id BIGINT, vec ARRAY<DOUBLE>")

    assert finite_vectors(df, "vec").count() == len(clean) + 2  # ragged+zero are finite
    cents = sample_centroids(df, "id", "vec", 4).collect()
    assert [r["centroid"] for r in cents] == [
        [1.0, 2.0],               # ragged is finite — screened later by dim checks
        [0.0, 0.0, 0.0, 0.0],     # zero-norm is finite; harmless as a cosine centroid
        clean[0][1],
        clean[1][1],
    ]

    # PQ codebooks: NULL/NaN/zero-norm all excluded (zero-norm
    # normalizes to all-NULL, which used to crash float())
    books = pq_codebooks(df, "id", "vec", m=2, ksub=4)
    assert len(books) == 2 and len(books[0]) == 4
    assert all(all(x == x for x in entry) for sub in books for entry in sub)
