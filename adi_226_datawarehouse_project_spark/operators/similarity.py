"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline; the scale path is
random-hyperplane LSH bucketing (Charikar 2002 SRP) so candidate
generation is an equi-join on bucket signatures instead of a cross
join.

Determinism: dot products use ``F.aggregate`` (a sequential
index-order fold), not a shuffled SUM — so scores are bit-identical
run-to-run and engine-to-engine, which the DuckDB differential oracle
relies on.

Scale notes: brute force is O(|Q|·|N|) — fine when one side is small
(probe set) and broadcastable; self-join all-pairs must go through
LSH. Signature planes are deterministic pseudo-random (seeded from
plane×dim via a splitmix-style integer mix, computed as literal-free
Column arithmetic) so they're identical across runs and executors
without broadcasting any state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    """Sequential fold dot-product — deterministic summation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity, NULL-safe at both poison points: zero-norm
    vectors (nullif denominator) AND NaN/Inf components — Spark orders
    NaN ABOVE every double and NaN passes ``>=`` threshold filters, so
    one corrupt embedding would otherwise rank first in every top-k
    window and mark itself a near-dup of every cell-mate (mass
    collapse under semantic dedup). NaN folds to NULL here, which
    fails filters and sorts last, quarantining the corrupt row."""
    raw = _dot(a, b) / F.nullif(_norm(a) * _norm(b), F.lit(0.0))
    return F.when(~F.isnan(raw), raw)


def finite_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Rows whose embedding is usable as MODEL state: non-NULL,
    non-empty, and free of NULL/NaN components. The deterministic-
    sample model paths (:func:`sample_centroids`, ``pq.pq_codebooks``)
    take the smallest-id vectors as model state — without this filter
    one corrupt low-id row either crashes the codebook collect
    (``float(None)``) or silently becomes a centroid/codebook entry
    that can never win an assignment (its cosine folds to NULL),
    wasting a cell. Query/scoring paths do NOT need it: ``cosine``
    already quarantines corrupt rows at score time."""
    v = F.col(vec_col)
    return df.filter(
        v.isNotNull()
        & (F.size(v) > 0)
        & ~F.exists(v, lambda x: x.isNull() | F.isnan(x))
    )


def cosine_self_topk(
    df: DataFrame, id_col: str, vec_col: str, probe_ids: list[int], k: int = 10
) -> DataFrame:
    """Exact top-k cosine neighbors for each probe row. The probe side
    is broadcast: the big side streams once, no shuffle of the corpus.
    Without a probe set this would be an O(n²) all-pairs scan; the
    scale paths for that case are `lsh_bucket_topk` / `ivf_topk`."""
    probes = df.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")).filter(
        F.col("query_id").isin(probe_ids)
    )
    corpus = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv"))
    cand = corpus.join(F.broadcast(probes), F.col("neighbor_id") != F.col("query_id"))
    return _rerank_topk(cand, k)


def _srp_plane_bit(vec_col: str, p: int, weight: int) -> str:
    """SQL text for plane ``p``'s sign bit scaled by ``weight``."""
    proj = (
        f"aggregate(zip_with({vec_col}, sequence(0, size({vec_col}) - 1),"
        f" (x, i) -> CAST(x AS DOUBLE) *"
        f" (CASE WHEN (xxhash64({p}, i) & 1) = 1 THEN 1.0D ELSE -1.0D END)),"
        f" 0.0D, (acc, x) -> acc + x)"
    )
    return f"(CASE WHEN {proj} > 0 THEN {weight}L ELSE 0L END)"


def srp_band_buckets(vec_col: str, num_planes: int, bands: int) -> Column:
    """Array of ``bands`` SRP bucket keys, band b packing planes
    [b·bits, (b+1)·bits) into one bigint each (bits = num_planes/bands
    ≤ 63). The ±1 hyperplane components are deterministic xxhash64
    mixes of (plane, dim) — same value on every executor, no state to
    ship. No all-planes pack: ``num_planes`` can grow with corpus size
    (the candidate-density rule in :func:`embedding_near_dup_pairs`)
    without hitting a 63-bit cap.

    Built as ONE SQL text expression (the py4j construction-tax
    finding, see dedup.simhash): per-op Column folds were ~1.3s of
    client round trips per query build."""
    if bands < 1:
        raise ValueError(f"bands must be positive: {bands}")
    if num_planes % bands != 0:
        # silently dropping the remainder planes would compute the
        # banding recall curve for a DIFFERENT operating point than the
        # caller asked for (and bits=0 renders malformed SQL)
        raise ValueError(
            f"num_planes={num_planes} is not divisible by bands={bands}"
        )
    bits = num_planes // bands
    if bits > 63:
        raise ValueError(f"bits_per_band={bits} > 63 cannot pack into a bigint")
    band_exprs = []
    for b in range(bands):
        terms = [
            _srp_plane_bit(vec_col, b * bits + i, 1 << i) for i in range(bits)
        ]
        band_exprs.append("CAST(0 AS BIGINT) + " + " + ".join(terms))
    return F.expr("array(" + ", ".join(band_exprs) + ")")


def srp_candidates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_planes: int = 16,
    bands: int = 8,
    probe_ids: list[int] | None = None,
) -> DataFrame:
    """SRP banded candidate pairs ``(query_id, __qv, neighbor_id,
    __nv)`` — the candidate generator behind :func:`lsh_bucket_topk`
    (its row count is the re-rank cost a band count buys). The join is
    on (band, sub-signature) — shuffle-partitioned, never a cross
    join."""
    # NOTE: both self-join branches re-evaluate the SRP fold (no
    # exchange below it to reuse). A repartition("band","bucket")
    # barrier WAS tried to force ReusedExchange — measured 3.5× SLOWER
    # at 40k vectors / 64 planes: the extra full shuffle of banded rows
    # costs far more than the duplicated per-row fold, which is narrow
    # and cheap next to the candidate join. Keep the fold duplicated.
    banded = df.select(
        id_col,
        vec_col,
        F.posexplode(srp_band_buckets(vec_col, num_planes, bands)).alias(
            "band", "bucket"
        ),
    )
    probes = banded.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"), "band", "bucket"
    )
    if probe_ids is not None:
        probes = probes.filter(F.col("query_id").isin(probe_ids))
    corpus = banded.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv"), "band", "bucket"
    )
    return (
        corpus.join(probes, ["band", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "__qv", "neighbor_id", "__nv")
        .dropDuplicates(["query_id", "neighbor_id"])
    )


def _rerank_topk(cand: DataFrame, k: int) -> DataFrame:
    """Exact-cosine re-rank of a candidate-pair frame to per-query
    top-k (shared tail of the exact and every ANN path; ties cosine
    desc, id asc)."""
    scored = cand.withColumn("cosine", cosine(F.col("__qv"), F.col("__nv")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def lsh_bucket_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    num_planes: int = 16,
    bands: int = 8,
    probe_ids: list[int] | None = None,
) -> DataFrame:
    """Approximate top-k: SRP signature → banded buckets → equi-join
    candidates → exact cosine re-rank within candidates. Recall is
    tuned by num_planes/bands.

    OPERATING POINT (r13 measurement, `measurements/ann_recall_sf01.json`):
    the old 16-plane/4-band default measured recall@5 ≈ 0.47 on
    genuinely-spread vectors — correct but not a shippable default. The
    default is now 8 bands (2-bit sub-signatures): recall@5 ≈ 0.97 at
    ~2× candidate cost on the sf0.1 corpus."""
    cand = srp_candidates(df, id_col, vec_col, num_planes, bands, probe_ids)
    return _rerank_topk(cand, k)


def sample_centroids(df: DataFrame, id_col: str, vec_col: str, n_clusters: int) -> DataFrame:
    """Deterministic-sample coarse centroids (the ``n_clusters``
    smallest ids WITH FINITE VECTORS — see :func:`finite_vectors`;
    on a clean corpus the filter is a no-op, so the differential
    oracle's plain smallest-ids derivation still matches):
    bit-reproducible across runs and executors with zero training
    state, so the differential oracle re-derives the identical cells.
    Returns ``(centroid_id, centroid)``."""
    cent_w = Window.orderBy(F.col("centroid_id_src"))
    return (
        finite_vectors(df, vec_col)
        .select(F.col(id_col).alias("centroid_id_src"), F.col(vec_col).alias("centroid"))
        .orderBy("centroid_id_src")
        .limit(n_clusters)
        .withColumn("centroid_id", F.row_number().over(cent_w) - 1)
        .select("centroid_id", "centroid")
    )


def ivf_candidates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 16,
    n_probe: int = 8,
    probe_ids: list[int] | None = None,
) -> DataFrame:
    """IVF candidate pairs ``(query_id, __qv, neighbor_id, __nv)`` over
    :func:`sample_centroids` cells — the candidate generator behind
    :func:`ivf_topk` (its row count is the re-rank cost a probe count
    buys). Candidates come from an equi-join on ``centroid_id`` — a
    shuffle-partitioned join over ~n_probe/n_clusters of the corpus,
    never a cross join."""
    centroids = sample_centroids(df, id_col, vec_col, n_clusters)

    # cell assignment reuses the shared argmax operators (one
    # tie-break/argmax implementation to keep correct): the corpus side
    # gets assign_cells' map-side-combined struct-argmax — no window,
    # no per-row sort shuffle (an earlier inline variant shuffled all
    # n·k scored rows through a row_number window); the probe side
    # gets assign_cells_multi's bounded collect+slice. Identical
    # assignments: max(struct(cos, -id)) ≡ ORDER BY cos DESC, id ASC.
    corpus = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv"))
    assigned = assign_cells(corpus, "neighbor_id", "__nv", centroids)
    probes = df.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    if probe_ids is not None:
        probes = probes.filter(F.col("query_id").isin(probe_ids))
    probed = assign_cells_multi(probes, "query_id", "__qv", centroids, n_probe=n_probe)

    return (
        assigned.join(probed, "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "__qv", "neighbor_id", "__nv")
        .dropDuplicates(["query_id", "neighbor_id"])
    )


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 8,
    probe_ids: list[int] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the second scale path
    next to SRP-LSH: partition the corpus into coarse cells, search
    only the ``n_probe`` most promising cells per query, and re-rank
    the candidates by exact cosine. The cells are the deterministic
    :func:`sample_centroids` — bit-reproducible with zero training
    state, which the DuckDB differential oracle re-derives identically.

    OPERATING POINT (r13 measurement, `measurements/ann_recall_sf01.json`):
    the old 4-probe default measured recall@5 ≈ 0.49 on genuinely-spread
    vectors; the default is now 8 probes (≈ 0.78 — coarse sample cells
    cap what static probing can buy; ``n_probe = n_clusters`` is the
    exact top-k at brute-force candidate cost)."""
    cand = ivf_candidates(df, id_col, vec_col, n_clusters, n_probe, probe_ids)
    return _rerank_topk(cand, k)


def assign_cells(
    df: DataFrame, id_col: str, vec_col: str, centroids: DataFrame
) -> DataFrame:
    """Assign every vector to its max-cosine centroid: ``(id, vec,
    centroid_id)``. Broadcast-join + map-side-combined struct-argmax —
    no window, no sort, one bounded shuffle of pre-combined rows. Ties
    break to the smallest centroid_id (max of (cos, -id))."""
    cent = centroids.select("centroid_id", F.col("centroid").alias("__cv"))
    scored = df.select(
        F.col(id_col), F.col(vec_col).alias("__v")
    ).join(F.broadcast(cent)).withColumn("__ccos", cosine(F.col("__v"), F.col("__cv")))
    best = F.max(
        F.struct(F.col("__ccos").alias("s"), (-F.col("centroid_id")).alias("nid"))
    ).alias("__b")
    return (
        scored.groupBy(id_col)
        .agg(best, F.first("__v").alias("__v"))
        .select(
            id_col,
            F.col("__v").alias(vec_col),
            (-F.col("__b.nid")).cast("int").alias("centroid_id"),
        )
    )


def assign_cells_multi(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
    n_probe: int = 1,
) -> DataFrame:
    """Multi-probe cell assignment: ``(id, vec, centroid_id)`` with one
    row per (vector, probed cell), probing the ``n_probe`` highest-
    cosine centroids. ``n_probe=1`` is :func:`assign_cells`. Top-m per
    id comes from a bounded ``collect_list`` + ``sort_array`` + slice
    over the ≤ k scored structs per vector (k = number of coarse cells
    — small by construction; switch to a per-id window if k grows past
    a few thousand). Ties break to the smaller centroid_id, matching
    assign_cells."""
    if n_probe < 1:
        raise ValueError(f"n_probe must be >= 1: {n_probe}")
    if n_probe == 1:
        return assign_cells(df, id_col, vec_col, centroids)
    cent = centroids.select("centroid_id", F.col("centroid").alias("__cv"))
    scored = df.select(
        F.col(id_col), F.col(vec_col).alias("__v")
    ).join(F.broadcast(cent)).withColumn("__ccos", cosine(F.col("__v"), F.col("__cv")))
    top = (
        scored.groupBy(id_col)
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("__ccos").alias("s"),
                            (-F.col("centroid_id")).alias("nid"),
                        )
                    ),
                    asc=False,
                ),
                1,
                n_probe,
            ).alias("__top"),
            F.first("__v").alias("__v"),
        )
    )
    return top.select(
        F.col(id_col),
        F.col("__v").alias(vec_col),
        F.explode("__top").alias("__t"),
    ).select(
        id_col, vec_col, (-F.col("__t.nid")).cast("int").alias("centroid_id")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    min_cosine: float = 0.9,
    n_clusters: int = 16,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings into coarse cells, find
    near-duplicate pairs ONLY within each cell, collapse the pair
    graph to connected components and keep the min-id representative.
    Returns ``(id, cluster_id)``; survivors are rows with
    ``cluster_id == id``.

    Scale shape: the quadratic pair search is confined to cells
    (n²/k per cell in expectation, the whole point of the paper's
    k-means pre-pass) and runs as a self-equi-join on ``centroid_id``
    with the exact cosine computed per candidate; the component
    collapse is :func:`~..operators.dedup.near_dup_clusters`'
    log-round star contraction. Documented approximation: a pair whose
    members land in DIFFERENT cells is never examined — that recall
    loss is inherent to single-probe SemDeDup and shrinks as cells grow
    (measured same-cell pair recall vs the exhaustive cosine≥0.9 truth
    set on the augmented fixtures: 15/16 at sf0.001, 9/15 at sf0.01
    with 16 sampled cells). Cells are the deterministic
    :func:`sample_centroids`, so the differential oracle re-derives
    the identical cells."""
    from .dedup import near_dup_clusters

    centroids = sample_centroids(df, id_col, vec_col, n_clusters)
    assigned = assign_cells(df, id_col, vec_col, centroids)
    a = assigned.select(F.col(id_col).alias("id_a"), "centroid_id")
    b = assigned.select(F.col(id_col).alias("id_b"), "centroid_id")
    cand = (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    pairs = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("__cos", F.round(cosine(F.col("__va"), F.col("__vb")), 6))
        .filter(F.col("__cos") >= min_cosine)
        .select("id_a", "id_b")
    )
    return near_dup_clusters(df.select(id_col), id_col, pairs)


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    min_cosine: float = 0.95,
    num_planes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b) via BANDED
    SRP buckets + exact re-score — the embedding flavor of dedup.

    Banding is what makes the recall hold away from cosine=1: a pair at
    cosine c agrees on one plane with p = 1 − arccos(c)/π, so a single
    16-plane bucket has recall p¹⁶ (≈0.18 at c=0.95 — useless), while
    4 bands of 4 planes give 1 − (1 − p⁴)⁴ (≈0.985 at c=0.95, ≈0.87 at
    c=0.8). Candidates come from per-band equi-joins; the pair-dedup
    shuffle moves bare ids only (the minhash pattern — vectors re-attach
    after dedup via two id joins), and precision is exact because every
    candidate is re-scored with the true cosine before the threshold.

    CANDIDATE-DENSITY scale rule: ``bits_per_band = num_planes/bands``
    fixes the bucket count at 2^bits per band, and random vectors
    spread ~uniformly, so expected candidates ≈ bands · n²/2^(bits+1) —
    QUADRATIC in n unless bits grows with log2(n). The 16/4 default is
    an oracle-friendly small-corpus point (measured n=5000 at sf0.1:
    514k raw candidates); at corpus scale raise BOTH planes and bands
    so bits lands near log2(n)-ish while the band count preserves
    recall — recall is 1−(1−p^bits)^bands with p = 1−arccos(c)/π.
    Measured on the sf0.1 fixtures (scripts/lsh_breakdown.py): 64
    planes / 8 bands cuts raw candidates 514k → 74k (6.9× at n=5000;
    the n²/2^bits law widens the gap as n grows — label-clustered
    embeddings keep buckets denser than the uniform bound) while
    truth-set recall holds at 78/80 vs 79/80 for 16/4, both with zero
    false positives. Band buckets come from :func:`srp_band_buckets`,
    so num_planes is not capped by the 63-bit signature pack."""
    # the SRP fold is evaluated once per self-join branch — measured
    # cheaper than forcing a ReusedExchange barrier (see
    # srp_candidates' note for the experiment)
    banded = df.select(
        F.col(id_col),
        F.posexplode(srp_band_buckets(vec_col, num_planes, bands)).alias(
            "band", "bucket"
        ),
    )
    left = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    right = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    pair_ids = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    return (
        pair_ids.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cosine(F.col("__va"), F.col("__vb")))
        .filter(F.col("cosine") >= min_cosine)
        .select("id_a", "id_b", "cosine")
    )
