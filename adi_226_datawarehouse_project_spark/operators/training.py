"""Training-data assembly operators: deterministic mixture sampling,
sequence packing into fixed context windows, and deterministic global
shuffle ordering.

These are the last mile of an LLM data-curation pipeline (after the
lang/quality/dedup funnel): decide HOW MUCH of each stratum to keep
(mixture weighting), lay the surviving tokens into fixed-size training
sequences (packing), and fix a reproducible pseudo-random visit order
(global shuffle). The reference pipeline stops at warehouse gold
tables; these extend the same engine to corpus assembly, which is why
they live beside dedup/similarity rather than in the star model.

Design rules shared by all three:

- **Determinism via portable hashing, not RNG.** Sampling and shuffle
  keys are md5 of ``seed || ':' || id`` — identical bytes in every
  engine (the DuckDB oracles recompute them), stable under re-runs,
  repartitioning, and data append (an existing row never changes its
  fate when new rows arrive). Same scheme as the suite's md5
  train/val/test split.
- **No global single-partition window.** Packing and ranking need a
  corpus-wide prefix sum over a total order — the naive
  ``Window.orderBy(id)`` plans an ``Exchange SinglePartition`` that
  serializes 100 TB through one task. :func:`distributed_prefix_sum`
  is the classic two-phase scan instead: range-partition on the order
  key, per-partition (parallel) intra sums, then a prefix over the
  per-partition totals (a frame of a few thousand rows at cluster
  scale) broadcast back. The only single-partition window in the plan
  runs over that tiny totals frame; a rank is the same scan counting
  rows (:func:`global_order_rank`).
- **Narrow where possible.** Stratified sampling is a pure filter
  Column — no shuffle at all; it composes under the scan's other
  pushed predicates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import _let
from ..pin import pin

_HEX_WIDTH = 6  # 16^6 = 16.7M buckets: fraction granularity ~6e-8


def _hash_hex(id_col: Column | str, seed: str, width: int = _HEX_WIDTH) -> Column:
    """Fixed-width lowercase-hex hash bucket of (seed, id) — the
    portable uniform variate. Lexicographic comparison of fixed-width
    lowercase hex equals numeric comparison, so a threshold test needs
    no hex→int conversion (which DuckDB and Spark spell differently)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.substring(
        F.md5(F.concat(F.lit(seed), F.lit(":"), c.cast("string"))), 1, width
    )


def fraction_threshold(fraction: float) -> str:
    """Width-6 hex threshold t such that P[hash_hex < t] ==
    round(f·16^6)/16^6."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction out of [0,1]: {fraction}")
    return format(int(round(fraction * 16**_HEX_WIDTH)), f"0{_HEX_WIDTH}x")


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: dict[str, float],
    seed: str,
) -> DataFrame:
    """Deterministic per-stratum downsampling — mixture weighting over
    domains/languages/sources. Pure narrow filter (zero shuffle): each
    row's fate is a threshold test on md5(seed:id) against its
    stratum's hex threshold, so the predicate composes with scan
    pushdown and the sample is reproducible and append-stable. A
    fraction >= 1 keeps the whole stratum (the 'ffffff' prefix would
    otherwise be dropped at ~6e-8 probability); strata absent from
    ``fractions`` are dropped.

    At 100 TB this is exactly as scalable as the scan itself; contrast
    ``df.sampleBy`` which is seeded per-partition-RNG (repartitioning
    changes the sample) and not reproducible across engines."""
    whens = None
    h = _hash_hex(id_col, seed)
    for stratum, frac in sorted(fractions.items()):
        if frac >= 1.0:
            cond: Column = F.lit(True)
        elif frac <= 0.0:
            cond = F.lit(False)
        else:
            cond = h < F.lit(fraction_threshold(frac))
        branch = (F.col(strata_col) == F.lit(stratum), cond)
        whens = F.when(*branch) if whens is None else whens.when(*branch)
    pred = F.lit(False) if whens is None else whens.otherwise(F.lit(False))
    return df.filter(pred)


def distributed_prefix_sum(
    df: DataFrame, order_cols: list[str], value: Column
) -> DataFrame:
    """EXCLUSIVE prefix sum of ``value`` as a BIGINT ``prefix_sum``
    column, over the total order given by ``order_cols`` (ascending;
    the combination must be unique — ties would make per-row exclusive
    sums order-dependent), without a global single-partition window.

    Two-phase scan: (1) range-partition on the order key into
    ``spark.sql.shuffle.partitions`` ranges and compute intra-partition
    exclusive sums with a window PARTITIONED BY the physical partition
    id — fully parallel; (2) aggregate one total per partition, prefix
    those (a window over one row per partition — the only unpartitioned
    window in the plan), broadcast-join the offsets back. The result is
    invariant to the partition count/boundaries, so Spark's sampled
    range boundaries never affect values.

    The ranged frame is pinned eagerly with lineage cut (``pin``
    policy; same rationale as ``near_dup_clusters``): both phases
    consume it, and pinning the materialized partitioning removes any
    recompute-alignment concern between the totals branch and the main
    branch — a prefix scan is inherently a two-pass barrier."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = pin(
        df.repartitionByRange(n, *order_cols).withColumn(
            "__pid", F.spark_partition_id()
        ),
        truncate=True,
        eager=True,
    )
    w_intra = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    intra = ranged.withColumn(
        "__intra", F.coalesce(F.sum(value).over(w_intra), F.lit(0).cast("bigint"))
    )
    w_tot = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        ranged.groupBy("__pid")
        .agg(F.sum(value).alias("__t"))
        .withColumn(
            "__off", F.coalesce(F.sum("__t").over(w_tot), F.lit(0).cast("bigint"))
        )
        .select("__pid", "__off")
    )
    return (
        intra.join(F.broadcast(offsets), "__pid")
        .withColumn("prefix_sum", (F.col("__intra") + F.col("__off")).cast("bigint"))
        .drop("__pid", "__intra", "__off")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    max_len: int,
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid end-to-end
    in ``id_col`` order into one virtual token stream, which is cut
    into fixed ``max_len`` context windows (documents may straddle a
    boundary — GPT-style packing, zero padding waste). Emits one row
    per document:

      id, n_tokens, token_offset (exclusive prefix sum),
      chunk_first = offset div L,
      chunk_last  = (offset + max(n_tokens,1) - 1) div L

    A zero-token document occupies no stream space; it is pinned to the
    chunk at its offset (chunk_first == chunk_last) so every doc has a
    well-defined home. The offset comes from
    :func:`distributed_prefix_sum` — no global-order single-partition
    window; the plan stays parallel at any corpus size."""
    if max_len <= 0:
        raise ValueError(f"max_len must be positive: {max_len}")
    packed = distributed_prefix_sum(
        df.select(id_col, F.col(tokens_col).cast("bigint").alias("n_tokens")),
        [id_col],
        F.col("n_tokens"),
    )
    off, nt, L = F.col("prefix_sum"), F.col("n_tokens"), F.lit(max_len)
    return packed.select(
        id_col,
        "n_tokens",
        off.alias("token_offset"),
        F.floor(off / L).cast("bigint").alias("chunk_first"),
        F.floor((off + F.greatest(nt, F.lit(1)) - 1) / L)
        .cast("bigint")
        .alias("chunk_last"),
    )


def pack_chunk_stats(packed: DataFrame, id_col: str, max_len: int) -> DataFrame:
    """Per-chunk rollup of :func:`pack_sequences` output: for every
    context window, how many documents contribute tokens to it and how
    many tokens it holds (== max_len everywhere except the final
    chunk). A document spanning chunks [first, last] contributes
    ``min((c+1)L, off+n) − max(cL, off)`` tokens to chunk c; the
    explode fans each doc out to its ≤ ceil(n/L)+1 chunks — bounded
    per-row fan-out, then a map-side-combinable sum by chunk_id.
    Zero-token docs contribute nothing and are filtered before the
    shuffle."""
    L = F.lit(max_len)
    c = F.col("chunk_id")
    off, nt = F.col("token_offset"), F.col("n_tokens")
    return (
        packed.filter(F.col("n_tokens") > 0)
        .select(
            id_col,
            "token_offset",
            "n_tokens",
            F.explode(F.sequence(F.col("chunk_first"), F.col("chunk_last"))).alias(
                "chunk_id"
            ),
        )
        .withColumn(
            "chunk_tokens",
            F.least((c + 1) * L, off + nt) - F.greatest(c * L, off),
        )
        .filter(F.col("chunk_tokens") > 0)
        .groupBy("chunk_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("chunk_tokens").cast("bigint").alias("chunk_tokens"),
        )
    )


def global_order_rank(
    df: DataFrame, order_cols: list[str], rank_col: str
) -> DataFrame:
    """0-based global rank of every row in the total order given by
    ``order_cols`` (ascending; the combination must be unique — add an
    id tiebreaker), WITHOUT a global single-partition window. A rank is
    the exclusive prefix count, so this is
    :func:`distributed_prefix_sum` of 1."""
    return distributed_prefix_sum(df, order_cols, F.lit(1)).withColumnRenamed(
        "prefix_sum", rank_col
    )


def global_shuffle_rank(
    df: DataFrame,
    id_col: str,
    seed: str,
) -> DataFrame:
    """Deterministic global training-order shuffle: every row gets a
    dense 0-based rank in the pseudo-random order md5(seed:id) (id as
    tiebreaker — md5 prefix collisions at width 12 are ~1e-7 per 10^5
    rows and the tiebreak makes even those deterministic). Runs on
    :func:`global_order_rank` — no global single-partition window; the
    output order is reproducible across runs, engines, and cluster
    sizes — `ORDER BY rand()` is none of those."""
    keyed = df.withColumn("__skey", _hash_hex(id_col, seed, width=12))
    return global_order_rank(keyed, ["__skey", id_col], "shuffle_rank").drop(
        "__skey"
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int,
    stride: int,
) -> DataFrame:
    """Split each document's token stream into (possibly overlapping)
    context windows — the long-document complement of
    :func:`pack_sequences` (which CONCATENATES short docs; this SPLITS
    long ones; real pipelines run both). Returns one row per chunk:
    ``(id, chunk_idx, n_chunks, chunk_text, chunk_tokens)`` with
    ``chunk_idx`` 0-based and ``chunk_text`` the space-joined token
    window starting at ``chunk_idx·stride``.

    ``stride == window`` gives disjoint windows; a smaller stride
    gives sliding-window overlap (common for RAG indexing and for
    training-context continuity). The chunk count is
    ``1 + ceil(max(n_tokens - window, 0) / stride)``, clamped to
    ``ceil(n_tokens / stride)`` (the number of non-empty windows —
    without the clamp a stride wider than the window would emit a
    spurious empty trailing chunk) — and always ≥ 1, so empty/short
    docs yield exactly one (possibly short) chunk and no data is
    silently dropped.

    Distribution: pure narrow expressions — tokenize once per row
    (let-bound), ``posexplode`` over a computed chunk-index sequence,
    per-chunk ``slice`` + ``array_join``. No shuffle, no UDF, linear
    in total token count; composes with pushed filters above it.
    """
    from ..functions.text import word_tokens

    if window <= 0 or stride <= 0:
        raise ValueError(f"window and stride must be positive: {window}, {stride}")
    toks = df.withColumn("__toks", word_tokens(F.col(text_col)))
    n_chunks = F.least(
        F.lit(1)
        + F.ceil(
            F.greatest(F.size("__toks") - window, F.lit(0)).cast("double") / stride
        ).cast("int"),
        F.greatest(
            F.ceil(F.size("__toks").cast("double") / stride).cast("int"), F.lit(1)
        ),
    )
    chunks = toks.withColumn("__n_chunks", n_chunks).select(
        F.col(id_col),
        F.col("__toks"),
        F.col("__n_chunks").alias("n_chunks"),
        F.posexplode(F.sequence(F.lit(0), F.col("__n_chunks") - 1)).alias(
            "chunk_idx", "__v"
        ),
    )
    return chunks.select(
        id_col,
        "chunk_idx",
        "n_chunks",
        F.array_join(
            F.slice(F.col("__toks"), F.col("chunk_idx") * stride + 1, window), " "
        ).alias("chunk_text"),
        F.size(
            F.slice(F.col("__toks"), F.col("chunk_idx") * stride + 1, window)
        ).alias("chunk_tokens"),
    )


def group_sample_k(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    k: int,
    seed: str,
    prefilter_over: int | None = 10_000_000,
    strict: bool = False,
    _oversample: float = 10.0,
    _pad: float = 50.0,
) -> DataFrame:
    """Deterministic EXACT-k sample per stratum — the fixed-size
    complement of :func:`stratified_sample`'s fractions (eval-set
    construction wants "200 docs per language", not "0.1%"). Rows are
    ranked inside each stratum by md5(seed:id) (id tiebreak) and the
    first k kept: reproducible across runs/engines/partitionings, and
    STABLE under corpus growth in the sense that a kept row is evicted
    only when a new row hashes below it (bounded churn — contrast
    per-partition RNG reservoirs, which reshuffle wholesale).

    The per-stratum window is PARTITIONED (never global), but a
    stratum's rows still shuffle to ONE task — the skew hazard for
    hot strata. ``prefilter_over`` (default 10⁷ rows) automates the
    guard: strata whose row count exceeds it get a narrow
    hash-threshold pre-filter at fraction (10·k + 50)/|stratum| BEFORE
    the window, so the sort task sees ~10·k rows instead of the whole
    stratum. The pre-filter keeps every row whose width-6 hash PREFIX
    is below the stratum's threshold; since ranking uses the width-12
    hash of the same md5 (the 6-char prefix is literally a prefix of
    the 12-char key, and fixed-width hex compares lexicographically),
    any surviving row outranks every filtered row — the exact-k output
    is IDENTICAL to the unfiltered computation whenever ≥k rows
    survive, and with mean 10·k+50 survivors the shortfall probability
    is Chernoff-negligible (< e⁻²⁰ for any k ≥ 1). Costs one extra
    map-side-combined count scan; pass ``prefilter_over=None`` to skip
    it on corpora known to be small.

    ``strict=True`` removes even that residual risk: after sampling it
    counts the kept rows of each pre-filtered stratum (one extra job
    over the k-sized output joined to the hot list) and recomputes any
    shortfall stratum WITHOUT the pre-filter, so the result is exact-k
    unconditionally. The default stays lazy (no action inside the
    function) because the failure probability is < e⁻²⁰ per stratum;
    turn strict on for eval-set builds where a silent k−1 matters more
    than one extra job. (``_oversample``/``_pad`` tune the pre-filter
    target of ``_oversample·k + _pad`` expected survivors — test knobs
    for forcing the shortfall path deterministically; leave them at the
    defaults in production.)"""
    if k <= 0:
        raise ValueError(f"k must be positive: {k}")
    keyed = df.withColumn("__skey", _hash_hex(id_col, seed, width=12))
    hot = None
    if prefilter_over is not None:
        space = 16**_HEX_WIDTH
        hot = (
            df.groupBy(strata_col)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > prefilter_over)
            .select(
                strata_col,
                "__n",
                # a threshold at or above 16^6 must DISABLE the filter,
                # not cap it: the capped value renders as SEVEN hex
                # chars and lpad(…, 6) TRUNCATES from the right,
                # yielding "100000" — a ~1/16 keep rate that silently
                # breaks exact-k. The guard is on the CEIL'd value, not
                # the raw fraction: for n just above 10k+50 the ceil
                # still rounds up to exactly 16^6. "g" sorts above
                # every hex digit, so `prefix < "g"` keeps all.
                _let(
                    F.ceil(
                        F.lit(_oversample * k + _pad) / F.col("__n") * space
                    ).cast("bigint"),
                    lambda v: F.when(v >= F.lit(space), F.lit("g")).otherwise(
                        F.lpad(F.lower(F.hex(v)), _HEX_WIDTH, "0")
                    ),
                ).alias("__thr"),
            )
        )
        # eqNullSafe: a NULL stratum (un-tagged docs are often the
        # BIGGEST stratum) must still match its hot-list row — a plain
        # key join never matches NULL, which would silently disable the
        # pre-filter for exactly the stratum most likely to need it
        hot_r = hot.drop("__n").withColumnRenamed(strata_col, "__hot_key")
        keyed = keyed.join(
            F.broadcast(hot_r),
            F.col(strata_col).eqNullSafe(F.col("__hot_key")),
            "left",
        ).filter(
            F.col("__thr").isNull()
            | (F.substring(F.col("__skey"), 1, _HEX_WIDTH) < F.col("__thr"))
        ).drop("__thr", "__hot_key")
    w = Window.partitionBy(strata_col).orderBy("__skey", id_col)
    out = (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__skey", "__rn")
    )
    if strict and hot is not None:
        # Verify-and-repair: only the pre-filtered (hot) strata can
        # fall short; count the kept rows of each (the output is ≤k
        # rows per stratum, so this job is tiny) and recompute any
        # shortfall stratum without the pre-filter. The hot list is
        # strata with >prefilter_over rows — a handful by construction
        # — so the collect is bounded driver state.
        # drive from the hot LIST, not the kept rows: a stratum whose
        # survivors all fell to the pre-filter has ZERO output rows and
        # would never appear in a groupBy over `out` — exactly the case
        # that must be caught.
        kept_counts = out.groupBy(F.col(strata_col).alias("__kc_key")).agg(
            F.count(F.lit(1)).alias("__kept")
        )
        kept = (
            hot.withColumnRenamed(strata_col, "__hot_key")
            .join(
                kept_counts,
                F.col("__hot_key").eqNullSafe(F.col("__kc_key")),
                "left",
            )
            .filter(
                F.coalesce(F.col("__kept"), F.lit(0))
                < F.least(F.lit(k), F.col("__n"))
            )
            .select("__hot_key")
            .collect()
        )
        if kept:
            short = {r["__hot_key"] for r in kept}
            non_null = [s for s in short if s is not None]
            cond = F.col(strata_col).isin(non_null) if non_null else F.lit(False)
            if None in short:
                cond = cond | F.col(strata_col).isNull()
            redo = (
                df.filter(cond)
                .withColumn("__skey", _hash_hex(id_col, seed, width=12))
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= k)
                .drop("__skey", "__rn")
            )
            out = out.filter(~cond | cond.isNull()).unionByName(redo)
    return out


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    clusters: DataFrame,
    val_frac: float = 0.1,
    test_frac: float = 0.1,
    seed: str = "split-v1",
) -> DataFrame:
    """Train/val/test split keyed by NEAR-DUP CLUSTER, not by document:
    every member of a near-duplicate component lands in the SAME split
    by construction, so the eval sets can never contain a near-copy of
    a training document. Splitting by doc hash — the naive approach —
    leaks: any near-dup pair has ~2·f·(1-f) probability of straddling
    the train/eval boundary, which inflates eval scores by exactly the
    memorization the dedup pipeline exists to control. This is the
    split you run when you keep near-dups for volume (bucketing them
    together) instead of collapsing them; after a cluster collapse the
    doc-level and cluster-level splits coincide.

    Input: a ``clusters`` frame ``(id, cluster_id)``, e.g. from
    :func:`..dedup.near_dup_clusters` over the near-dup pairs the
    pipeline already computed.

    The assignment is the engine's standard portable determinism
    scheme (md5 of ``seed || ':' || cluster_id``, fixed-width-hex
    threshold compare — bit-identical in DuckDB, stable under re-runs,
    repartitioning, and corpus growth: an existing cluster never
    changes split when new docs arrive, unless a new edge MERGES two
    clusters — then the merged component follows its new minimum, the
    correct behavior, since the alternative is a straddling pair).
    Expected fractions are over CLUSTERS, not docs: a giant dup
    cluster drags its whole mass into one split — that is the point.

    Scale shape: one hash join of the corpus against the (id,
    cluster_id) frame plus a narrow hash compare — no shuffle beyond
    the join.

    Returns ``df`` plus ``cluster_id`` and ``split`` columns — every
    input row, always: a doc absent from a caller-supplied
    ``clusters`` frame self-clusters (``cluster_id = id``), matching
    the singleton label :func:`..dedup.near_dup_clusters` gives
    isolated nodes.
    """
    if val_frac < 0 or test_frac < 0 or val_frac + test_frac >= 1.0:
        raise ValueError(
            f"need val_frac, test_frac >= 0 and val+test < 1: {val_frac}, {test_frac}"
        )
    comp = clusters.select(
        F.col(clusters.columns[0]).alias(id_col),
        F.col("cluster_id"),
    )
    t_test = fraction_threshold(test_frac)
    t_val = fraction_threshold(test_frac + val_frac)
    h = _hash_hex(F.col("cluster_id"), seed)
    split = (
        F.when(h < F.lit(t_test), F.lit("test"))
        .when(h < F.lit(t_val), F.lit("val"))
        .otherwise(F.lit("train"))
    )
    # LEFT join + self-cluster fallback: a clusters frame that misses
    # some df rows must not silently DROP them (an inner join would —
    # no split at all beats a wrong split only when it's loud).
    # Uncovered docs get cluster_id = their own id, the exact singleton
    # semantics near_dup_clusters assigns to isolated nodes.
    return (
        df.join(comp, id_col, "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col)))
        .withColumn("split", split)
    )
