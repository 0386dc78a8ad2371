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

from ..pin import pin, release


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
    sample model paths (:func:`sample_centroids`,
    :func:`train_ivf_centroids` seeds, ``pq.pq_codebooks``) collect
    the smallest-id vectors as driver-resident model state — without
    this filter one corrupt low-id row either crashes training
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
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    probe_ids: list[int] | None = None,
    allow_full_scan: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors for each probe row. The probe side
    is broadcast: the big side streams once, no shuffle of the corpus.

    `probe_ids=None` means ALL rows probe — an O(n²) all-pairs scan
    that is only sane on small corpora, so it must be opted into with
    `allow_full_scan=True`; the scale paths for the no-probe-set case
    are `lsh_bucket_topk` / `ivf_topk`."""
    if probe_ids is None and not allow_full_scan:
        raise ValueError(
            "cosine_self_topk with probe_ids=None is an O(n²) all-pairs scan; "
            "pass allow_full_scan=True explicitly, or use lsh_bucket_topk/"
            "ivf_topk for sublinear candidate generation"
        )
    probes = df.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    if probe_ids is not None:
        probes = probes.filter(F.col("query_id").isin(probe_ids))
    corpus = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv"))
    scored = (
        corpus.join(F.broadcast(probes), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine(F.col("__qv"), F.col("__nv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _srp_plane_bit(vec_col: str, p: int, weight: int) -> str:
    """SQL text for plane ``p``'s sign bit scaled by ``weight``."""
    proj = (
        f"aggregate(zip_with({vec_col}, sequence(0, size({vec_col}) - 1),"
        f" (x, i) -> CAST(x AS DOUBLE) *"
        f" (CASE WHEN (xxhash64({p}, i) & 1) = 1 THEN 1.0D ELSE -1.0D END)),"
        f" 0.0D, (acc, x) -> acc + x)"
    )
    return f"(CASE WHEN {proj} > 0 THEN {weight}L ELSE 0L END)"


def srp_signature(vec_col: str, num_planes: int = 16) -> Column:
    """Signed-random-projection bit signature packed into a bigint.
    The ±1 hyperplane components are deterministic xxhash64 mixes of
    (plane, dim) — same value on every executor, no state to ship.

    Built as ONE SQL text expression (the py4j construction-tax
    finding, see dedup.simhash): 16 planes of per-op Column folds were
    ~1.3s of client round trips per query build; signatures are
    bit-identical to the Column form. Capped at 63 planes — bit 63 is
    the bigint sign bit; wider configurations go through
    :func:`srp_band_buckets`, which never packs more than one band per
    long."""
    if num_planes < 1:
        raise ValueError(f"num_planes must be positive: {num_planes}")
    if num_planes > 63:
        raise ValueError(
            "srp_signature packs all planes into one signed bigint; "
            f"num_planes={num_planes} > 63 would overflow the sign bit — "
            "use srp_band_buckets for wide-plane configurations"
        )
    terms = [_srp_plane_bit(vec_col, p, 1 << p) for p in range(num_planes)]
    return F.expr("CAST(0 AS BIGINT) + " + " + ".join(terms))


def srp_band_buckets(vec_col: str, num_planes: int, bands: int) -> Column:
    """Array of ``bands`` SRP bucket keys, band b packing planes
    [b·bits, (b+1)·bits) into one bigint each (bits = num_planes/bands
    ≤ 63). Identical bucket values to shift/mask over
    :func:`srp_signature` at every operating point both support, but
    with no all-planes pack — so ``num_planes`` can grow with corpus
    size (the candidate-density rule in
    :func:`embedding_near_dup_pairs`) without hitting the 63-bit cap."""
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
    __nv)`` — the shared candidate generator behind
    :func:`lsh_bucket_topk` and the recall/cost self-calibration
    (:func:`tune_srp_bands` counts these rows: the candidate count IS
    the re-rank cost). The join is on (band, sub-signature) —
    shuffle-partitioned, never a cross join."""
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
    top-k (shared tail of every ANN path; ties cosine desc, id asc)."""
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
    target_recall: float | None = None,
    sample_queries: int = 50,
) -> DataFrame:
    """Approximate top-k: SRP signature → banded buckets → equi-join
    candidates → exact cosine re-rank within candidates. Recall is
    tuned by num_planes/bands.

    OPERATING POINT (r13 measurement, `measurements/ann_recall_sf01.json`):
    the old 16-plane/4-band default measured recall@5 ≈ 0.47 on
    genuinely-spread vectors — correct but not a shippable default. The
    default is now 8 bands (2-bit sub-signatures): recall@5 ≈ 0.97 at
    ~2× candidate cost on the sf0.1 corpus. Pass ``target_recall=`` to
    replace the static default with sampled self-calibration
    (:func:`tune_srp_bands`): the band ladder is walked until measured
    recall on a deterministic query sample reaches the target — cost is
    one Q×n broadcast truth scan plus one candidate count per ladder
    step, independent of corpus size beyond the scans themselves."""
    if target_recall is not None:
        report = tune_srp_bands(
            df,
            id_col,
            vec_col,
            k=k,
            target_recall=target_recall,
            num_planes=num_planes,
            sample_queries=sample_queries,
        )
        bands = report["chosen_bands"]
    cand = srp_candidates(df, id_col, vec_col, num_planes, bands, probe_ids)
    return _rerank_topk(cand, k)


def sample_centroids(df: DataFrame, id_col: str, vec_col: str, n_clusters: int) -> DataFrame:
    """Deterministic-sample coarse centroids (the ``n_clusters``
    smallest ids WITH FINITE VECTORS — see :func:`finite_vectors`;
    on a clean corpus the filter is a no-op, so the differential
    oracle's plain smallest-ids derivation still matches):
    bit-reproducible across runs and executors with zero training
    state — the default when the differential oracle must re-derive
    the identical cells. Returns ``(centroid_id, centroid)``."""
    cent_w = Window.orderBy(F.col("centroid_id_src"))
    return (
        finite_vectors(df, vec_col)
        .select(F.col(id_col).alias("centroid_id_src"), F.col(vec_col).alias("centroid"))
        .orderBy("centroid_id_src")
        .limit(n_clusters)
        .withColumn("centroid_id", F.row_number().over(cent_w) - 1)
        .select("centroid_id", "centroid")
    )


# Literal-inlined argmax materializes k×dim multiply-add terms in ONE
# codegen'd expression. Past ~10^4 terms Catalyst falls back to
# interpreted evaluation (or trips the 64KB JVM method limit), so
# production-width models (k=4096, d=1024) must assign via the
# broadcast-centroid join instead. The literal path stays the default
# below the threshold because it is shuffle-free.
_INLINE_MAX_TERMS = 10_000


def _assign_join(vecs: DataFrame, cents: list[list[float]]) -> DataFrame:
    """(__c assigned-centroid, __v) via broadcast join + map-side-
    combined argmax — the k-means assignment scale path. The centroid
    table (k rows) broadcasts; the n×k scored rows collapse to n via
    partial aggregation before any shuffle, and centroids are unit
    vectors so argmax dot == argmax cosine (ties to smallest id, same
    contract as :func:`_nearest_centroid_lit`)."""
    spark = vecs.sparkSession
    cent = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], schema="centroid_id INT, __cv ARRAY<DOUBLE>"
    )
    scored = vecs.join(F.broadcast(cent)).withColumn(
        "__dot", _dot(F.col("__v"), F.col("__cv"))
    )
    best = F.max(
        F.struct(F.col("__dot").alias("s"), (-F.col("centroid_id")).alias("nid"))
    ).alias("__b")
    return (
        scored.groupBy("__id")
        .agg(best, F.first("__v").alias("__v"))
        .select((-F.col("__b.nid")).cast("int").alias("__c"), "__v")
    )


def train_ivf_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 16,
    n_iter: int = 5,
    inline_max_terms: int = _INLINE_MAX_TERMS,
) -> DataFrame:
    """Spherical k-means (Lloyd) coarse-centroid training for IVF —
    the quality upgrade over :func:`sample_centroids` when exact
    cross-engine reproducibility of the cells is not required.

    Distribution contract: below ``inline_max_terms`` total k×dim
    terms, the per-row assignment runs as pure Column expressions over
    the full corpus — centroids enter the plan as *literals*, so there
    is no join, no window and no shuffle in the assignment pass. Above
    the threshold (where a literal expression would blow codegen — see
    ``_INLINE_MAX_TERMS``) assignment switches to the broadcast-
    centroid join with a map-side-combined argmax (:func:`_assign_join`)
    — same assignments, one bounded shuffle of n pre-combined rows. The
    mean-update is one map-side-combined groupBy producing exactly
    ``n_clusters`` rows either way.
    The only driver-side state per iteration is the k×dim centroid
    matrix itself (a few KB) — the same driver-resident model state
    every distributed k-means keeps (e.g. Spark MLlib's). Nothing
    corpus-sized is ever collected. The (id, vec) projection is
    pinned (persisted) before the Lloyd loop and released after, so
    the source table is scanned ONCE and each of the ``n_iter``
    iterations re-reads the cached two-column projection — at 100 TB
    that's the difference between n_iter full-table scans and one
    (MEMORY_AND_DISK spills gracefully when the projection exceeds
    executor memory).

    Empty cells keep their previous centroid. Centroids are
    L2-normalized (spherical k-means maximizes mean cosine).
    Returns ``(centroid_id, centroid)`` ready for ``ivf_topk``.
    """
    # Seeds come from FINITE vectors only (finite_vectors): the seed
    # collect used to run on the raw frame, so a NULL embedding at the
    # smallest id crashed here (float(None)) and a ragged one silently
    # fixed `dim` to the wrong width before the validity filter below
    # could apply. `dim` is the MAJORITY length over a 4× candidate
    # sample (a lone ragged row at the smallest id must not set it);
    # on a clean corpus the candidates all agree and the first
    # n_clusters ids seed exactly as before.
    cand_rows = sorted(
        (r[0], [float(x) for x in r[1]])
        for r in finite_vectors(df, vec_col)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .limit(max(n_clusters * 4, n_clusters))
        .collect()
    )
    if not cand_rows:
        raise ValueError("train_ivf_centroids: empty input (no finite vectors)")
    length_counts: dict[int, int] = {}
    for _, v in cand_rows:
        length_counts[len(v)] = length_counts.get(len(v), 0) + 1
    # ties break to the larger dim (deterministic; a 50/50 ragged split
    # is corrupt input either way)
    dim = max(length_counts, key=lambda n: (length_counts[n], n))
    seed_rows = [(i, v) for i, v in cand_rows if len(v) == dim][:n_clusters]
    if len(seed_rows) < n_clusters:
        # Silent truncation would train a smaller model than requested
        # (pq_codebooks raises in the analogous undersized-sample case).
        raise ValueError(
            f"train_ivf_centroids: only {len(seed_rows)} usable seed "
            f"vectors of dim {dim} for n_clusters={n_clusters}; "
            "corpus too small or too corrupt for the requested model"
        )
    cents = [_l2(v) for _, v in seed_rows]
    use_join = n_clusters * dim > inline_max_terms
    # ragged/NULL vectors poison the mean update: element_at past the
    # array end is NULL, sum() skips it, and an all-short cell yields a
    # None sum that crashes the Python-side divide AFTER the expensive
    # Lloyd iterations. Drop them up front — a wrong-dim vector can
    # never be assigned meaningfully anyway.
    vecs = pin(
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")).filter(
            F.col("__v").isNotNull()
            & (F.size("__v") == dim)
            & ~F.exists("__v", lambda x: x.isNull() | F.isnan(x))
        ),
        truncate=False,
    )
    mean_aggs = [
        F.expr(f"sum(CAST(element_at(__v, {i + 1}) AS DOUBLE))").alias(f"__s{i}")
        for i in range(dim)
    ]
    try:
        for _ in range(n_iter):
            if use_join:
                assign = _assign_join(vecs, cents)
            else:
                assign = vecs.select(
                    _nearest_centroid_lit("__v", cents, dim).alias("__c"), "__v"
                )
            new_rows = (
                assign.groupBy("__c")
                .agg(F.count(F.lit(1)).alias("__n"), *mean_aggs)
                .collect()
            )
            nxt = list(cents)
            for r in new_rows:
                nxt[r["__c"]] = _l2([r[f"__s{i}"] / r["__n"] for i in range(dim)])
            cents = nxt
    finally:
        release(vecs)
    spark = df.sparkSession
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], schema="centroid_id INT, centroid ARRAY<DOUBLE>"
    )


def _l2(v: list[float]) -> list[float]:
    n = sum(x * x for x in v) ** 0.5
    return [x / n for x in v] if n > 0 else list(v)


def _nearest_centroid_lit(vec_col: str, cents: list[list[float]], dim: int) -> Column:
    """argmax-cosine centroid id with the centroid matrix inlined as
    literals — a flat codegen'd expression, no join/window/shuffle.
    Centroids are unit vectors, so argmax dot == argmax cosine (the
    row norm is a positive constant across candidates). Ties break to
    the smallest centroid_id.

    Built as ONE SQL text expression: at k×dim width, per-op Column
    construction is ~3·k·dim py4j round trips PER ITERATION (measured
    ~7s/iteration at k=16,d=64 — 10× the query itself); the JVM parses
    the text in a single call. ``%.17E`` literals are exact float64
    round-trips and parse as DOUBLE (plain decimal literals would be
    DECIMAL), so the arithmetic is bit-identical to the F.lit form."""
    scored = []
    for cid, c in enumerate(cents):
        terms = [
            f"(CAST(element_at({vec_col}, {i + 1}) AS DOUBLE) * {c[i]:.17E})"
            for i in range(dim)
            if c[i] != 0.0
        ]
        dot = " + ".join(terms) if terms else "0.0E0"
        scored.append(f"struct(({dot}) AS s, {-cid} AS nid)")
    return F.expr(f"CAST(-(array_max(array({', '.join(scored)})).nid) AS INT)")


def ivf_candidates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 16,
    n_probe: int = 8,
    probe_ids: list[int] | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF candidate pairs ``(query_id, __qv, neighbor_id, __nv)`` —
    the shared candidate generator behind :func:`ivf_topk` and the
    probe self-calibration (:func:`tune_ivf_probes` counts these rows).
    Candidates come from an equi-join on ``centroid_id`` — a
    shuffle-partitioned join over ~n_probe/n_clusters of the corpus,
    never a cross join."""
    if centroids is None:
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
    centroids: DataFrame | None = None,
    target_recall: float | None = None,
    sample_queries: int = 50,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the second scale path
    next to SRP-LSH: partition the corpus into coarse cells, search
    only the ``n_probe`` most promising cells per query.

    ``centroids`` (schema ``(centroid_id, centroid)``) selects the
    coarse quantizer: pass :func:`train_ivf_centroids` output for
    k-means cells, or leave ``None`` for the deterministic-sample
    default — bit-reproducible with zero training state, which the
    DuckDB differential oracle re-derives identically. Exact cosine
    re-ranks candidates.

    OPERATING POINT (r13 measurement, `measurements/ann_recall_sf01.json`):
    the old 4-probe default measured recall@5 ≈ 0.49 on genuinely-spread
    vectors; the default is now 8 probes (≈ 0.78 with sample centroids —
    coarse sample cells cap what static probing can buy). For a recall
    floor, pass ``target_recall=``: the probe ladder is walked under
    sampled self-calibration (:func:`tune_ivf_probes`) until measured
    recall reaches the target — with n_probe = n_clusters as the exact
    endpoint, so any target ≤ 1.0 is reachable. k-means centroids
    (:func:`train_ivf_centroids`) reach a given recall at fewer probes.
    """
    if centroids is None:
        centroids = sample_centroids(df, id_col, vec_col, n_clusters)
    if target_recall is not None:
        report = tune_ivf_probes(
            df,
            id_col,
            vec_col,
            k=k,
            target_recall=target_recall,
            n_clusters=n_clusters,
            centroids=centroids,
            sample_queries=sample_queries,
        )
        n_probe = report["chosen_n_probe"]
    cand = ivf_candidates(
        df, id_col, vec_col, n_clusters, n_probe, probe_ids, centroids
    )
    return _rerank_topk(cand, k)


# --- recall self-calibration (r13 verdict task #1) -------------------
# The r13 measurement showed static ANN defaults are an operating-POINT
# choice, not a correctness property: 16p/4b SRP measured recall@5 0.47
# on spread vectors. target_recall= turns the point into a contract:
# exact truth for a deterministic query sample is ONE broadcast scan
# (Q×n cosines — the corpus streams once, nothing corpus-sized is
# collected), then the config ladder is walked cheapest-first until the
# sample recall reaches the target. Driver state is bounded by Q·k ids.


def _calibration_probe_ids(df: DataFrame, id_col: str, n_queries: int) -> list:
    """Deterministic evenly-spaced query sample: ids ≡ 0 (mod ⌊n/Q⌋).
    Requires a numeric id column (every embedding fixture/oracle id
    here is). One count + one Q-row collect."""
    n = df.count()
    step = max(1, n // max(1, n_queries))
    return [
        r[0]
        for r in df.filter((F.col(id_col) % step) == 0)
        .select(id_col)
        .orderBy(id_col)
        .limit(n_queries)
        .collect()
    ]


def _topk_id_sets(df: DataFrame) -> dict:
    out: dict = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def _recall_at_k(truth: dict, approx: dict) -> float:
    per_q = [
        len(truth[q] & approx.get(q, set())) / len(truth[q])
        for q in truth
        if truth[q]
    ]
    return sum(per_q) / len(per_q) if per_q else 1.0


def tune_srp_bands(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    target_recall: float = 0.9,
    num_planes: int = 16,
    band_ladder: tuple[int, ...] | None = None,
    sample_queries: int = 50,
) -> dict:
    """Pick the cheapest SRP band count whose measured recall@k on a
    deterministic query sample reaches ``target_recall``. Returns a
    report dict: ``chosen_bands`` plus the full recall/candidate-cost
    ``curve`` (sample_candidates = candidate pairs generated for the Q
    sample queries — the re-rank cost the config buys). More bands of
    fewer bits each ⇒ more bucket collisions ⇒ higher recall at higher
    candidate cost, so the ladder ascends recall; if even the last rung
    misses the target the report says so (``met=False``) and the widest
    rung is chosen — SRP recall has no exact endpoint short of
    1-bit bands."""
    if band_ladder is None:
        band_ladder = tuple(
            b for b in (4, 8, 16, 32, 64) if b <= num_planes and num_planes % b == 0
        )
    if not band_ladder:
        raise ValueError(
            f"no valid band ladder for num_planes={num_planes}"
        )
    probe_ids = _calibration_probe_ids(df, id_col, sample_queries)
    truth = _topk_id_sets(
        cosine_self_topk(df, id_col, vec_col, k=k, probe_ids=probe_ids)
    )
    curve: list[dict] = []
    chosen, met = band_ladder[-1], False
    for bands in band_ladder:
        cand = srp_candidates(df, id_col, vec_col, num_planes, bands, probe_ids)
        n_cand = cand.count()
        rec = _recall_at_k(truth, _topk_id_sets(_rerank_topk(cand, k)))
        curve.append(
            {"bands": bands, "recall_at_k": round(rec, 4), "sample_candidates": n_cand}
        )
        if rec >= target_recall:
            chosen, met = bands, True
            break
    return {
        "chosen_bands": chosen,
        "met": met,
        "target_recall": target_recall,
        "num_planes": num_planes,
        "k": k,
        "n_queries": len(probe_ids),
        "curve": curve,
    }


def tune_ivf_probes(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    target_recall: float = 0.9,
    n_clusters: int = 16,
    probe_ladder: tuple[int, ...] | None = None,
    centroids: DataFrame | None = None,
    sample_queries: int = 50,
) -> dict:
    """Pick the cheapest IVF probe count whose measured recall@k on a
    deterministic query sample reaches ``target_recall``. The ladder
    always ends at ``n_probe = n_clusters`` (probe every cell = the
    exact top-k by construction), so any target ≤ 1.0 is reachable —
    at brute-force candidate cost on the final rung. Pass the SAME
    ``centroids`` you will query with: recall is a property of the
    (quantizer, probes) pair, and k-means cells reach a target at fewer
    probes than the deterministic sample default."""
    if centroids is None:
        centroids = sample_centroids(df, id_col, vec_col, n_clusters)
    if probe_ladder is None:
        probe_ladder = tuple(
            p for p in (4, 8, 12, 16, n_clusters) if p < n_clusters
        ) + (n_clusters,)
    probe_ids = _calibration_probe_ids(df, id_col, sample_queries)
    truth = _topk_id_sets(
        cosine_self_topk(df, id_col, vec_col, k=k, probe_ids=probe_ids)
    )
    curve: list[dict] = []
    chosen, met = probe_ladder[-1], False
    for n_probe in probe_ladder:
        cand = ivf_candidates(
            df, id_col, vec_col, n_clusters, n_probe, probe_ids, centroids
        )
        n_cand = cand.count()
        rec = _recall_at_k(truth, _topk_id_sets(_rerank_topk(cand, k)))
        curve.append(
            {
                "n_probe": n_probe,
                "recall_at_k": round(rec, 4),
                "sample_candidates": n_cand,
            }
        )
        if rec >= target_recall:
            chosen, met = n_probe, True
            break
    return {
        "chosen_n_probe": chosen,
        "met": met,
        "target_recall": target_recall,
        "n_clusters": n_clusters,
        "k": k,
        "n_queries": len(probe_ids),
        "curve": curve,
    }


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
    centroids: DataFrame | None = None,
    n_probe: int = 1,
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
    with 16 sampled cells). ``n_probe > 1`` is the recall lever: each
    vector probes its n_probe nearest cells for the PAIR SEARCH (the
    IVF multi-probe idea applied to dedup), so a boundary pair is
    examined whenever the two probe sets intersect — measured over the
    augmented fixtures' cosine≥0.9 truth set: n_probe=2 lifts recall
    9/15 → 13/15 and n_probe=4 → 15/15 at sf0.01 (15/16 → 16/16 at
    sf0.001 already at n_probe=2) — at ≤ n_probe²× expected candidate
    cost; precision stays exact because every candidate is re-scored
    with the true cosine.
    Candidate pairs dedupe as BARE ids before vectors re-attach for
    scoring (the minhash pattern), so the multi-probe fan-out never
    multiplies vector traffic. Centroids default to the deterministic
    :func:`sample_centroids` so a differential oracle can re-derive the
    identical cells (the declared oracle pins n_probe=1); pass
    :func:`train_ivf_centroids` output for quality cells in
    production."""
    from .dedup import near_dup_clusters

    if centroids is None:
        centroids = sample_centroids(df, id_col, vec_col, n_clusters)
    assigned = assign_cells_multi(df, id_col, vec_col, centroids, n_probe)
    a = assigned.select(F.col(id_col).alias("id_a"), "centroid_id")
    b = assigned.select(F.col(id_col).alias("id_b"), "centroid_id")
    cand = (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if n_probe > 1:
        cand = cand.distinct()  # bare-id dedup before vectors re-attach
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
    # lsh_bucket_topk's note for the experiment)
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
