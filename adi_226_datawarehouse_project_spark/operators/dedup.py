"""Deduplication operator family for LLM-scale data pipelines.

Exact dedup reproduces the reference's semantics
(`glue_job_clean_311.py:131` dropDuplicates, `airbnb_clean_data.py:
183-186` intent) but with a *deterministic* representative — vanilla
dropDuplicates keeps whichever row a partition yields first, which is
irreproducible across runs/engines.

Near-dup operators (MinHash+LSH, SimHash, n-gram Jaccard) are the
standard public algorithms (Broder 1997 resemblance sketches;
Charikar 2002 simhash; the GPT-3/C4-style 10-gram overlap rule)
implemented as pure DataFrame compositions — explode/groupBy/self-join
— with zero Python UDFs, so they distribute and codegen like any other
relational plan.

Scale notes (the whole point of these ops):
- MinHash: |docs|×|word shingles| explode → groupBy doc. Map-side
  partial aggregation collapses the explode before the shuffle;
  signature width k=64 (``NUM_HASHES``) costs k aggregates, not k
  passes.
- LSH banding: candidate pairs come from equi-joins on (band,
  band_hash) buckets — never a cross join. Bucket skew (a hot bucket)
  is bounded by band width choice and AQE skew-join. The self-join
  (:func:`minhash_near_dup_pairs`) and the batch-vs-stored-index
  lookup (:func:`minhash_lookup`) share one scoring tail.
- n-gram Jaccard: inverted-index self-join on shingle, the classic
  |pairs sharing a shingle| blow-up is bounded by first DISTINCT-ing
  (doc, shingle) and, on stopword-hot corpora, by exact PPJoin prefix
  filtering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import word_ngram_hashes, word_ngrams, word_tokens
from ..pin import pin, release


def dedup_exact(df: DataFrame, keys: list[str], order_by: list[str] | None = None) -> DataFrame:
    """Deterministic dropDuplicates: keep the first row per key under
    an explicit ordering (defaults to all non-key columns). When the
    keys cover EVERY column there is nothing to order by (the rows per
    key are identical) — that is plain ``distinct()``; use it directly
    rather than paying this operator's window."""
    order_cols = order_by or [c for c in df.columns if c not in keys]
    if not order_cols:
        return df.distinct()
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc_nulls_first() for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )


# MinHash signature width (estimator standard error ~0.06) and the LSH
# bands of the near-dup self-join and the stored index (4 rows each).
NUM_HASHES = 64
_LSH_BANDS = 16


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, shingle_size: int = 3
) -> DataFrame:
    """(id, signature array<bigint>[NUM_HASHES]) via min-over-shingles
    of word ``shingle_size``-grams (the GPT-3/Gopher-style unit).

    The hash family is seeded xxhash64 — one independent 64-bit hash
    per signature position, wrapped INSIDE the JVM hash kernel (no
    Spark-level arithmetic), so it works under ANY session config:
    with spark.sql.ansi.enabled=true (the external driver's setting —
    the engine's own session.py sets false) bigint wraparound in
    Spark-level arithmetic would throw ARITHMETIC_OVERFLOW. (A Kirsch–Mitzenmacher ``h1 + i*h2`` variant
    was tried and reverted: without full 2^64 modular reduction the
    per-i minima correlate and the Jaccard estimator biases low.)
    Each shingle string is hashed ONCE to a 64-bit base; the family is
    seeded re-hashes of that fixed-width base, so signature width k
    costs k long-hashes, not k string traversals. Documents with no
    shingles are dropped. All JVM-side codegen'd expressions, never a
    Python UDF."""
    # Wide aggregate lists are built as F.expr text, not per-op Column
    # calls: each Python Column op is a py4j round trip, and at k=64
    # that client-side construction tax rivals the query itself (see
    # simhash docstring; same finding).
    shingled = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams(F.col(text_col), shingle_size))).alias("__sh"),
    ).selectExpr(id_col, "xxhash64(__sh) AS __shh")
    aggs = [
        F.expr(f"min(xxhash64(__shh, {seed}))").alias(f"__h{seed}")
        for seed in range(NUM_HASHES)
    ]
    sig = shingled.groupBy(id_col).agg(*aggs)
    arr = ", ".join(f"__h{s}" for s in range(NUM_HASHES))
    return sig.selectExpr(id_col, f"array({arr}) AS signature")


def _band_rows(sig: DataFrame, id_col: str, bands: int) -> DataFrame:
    """Explode a (id, signature) frame into LSH band rows
    ``(id, band, band_hash)`` — the shape both the self-join path and
    the persisted incremental index use."""
    rows_per_band = NUM_HASHES // bands
    return sig.selectExpr(
        id_col,
        f"""posexplode(transform(sequence(0, {bands - 1}),
            b -> xxhash64(array_join(transform(
                   slice(signature, b * {rows_per_band} + 1, {rows_per_band}),
                   x -> CAST(x AS STRING)), ',')))) AS (band, band_hash)""",
    )


def _scored(
    pair_ids: DataFrame, sig_a: DataFrame, id_a: str, sig_b: DataFrame, id_b: str, min_j: float
) -> DataFrame:
    """Score bare ``(id_a, id_b)`` candidates by the estimated Jaccard —
    the share of the NUM_HASHES positions that agree — on signatures
    re-attached from ``sig_a`` (keyed by column ``id_a``) and ``sig_b``
    (keyed by ``id_b``); keep those at or above ``min_j``. One row per
    document per side — small next to the pair set; AQE broadcasts it
    when it fits and falls back to a shuffle join where it can't."""
    a = sig_a.select(F.col(id_a).alias("id_a"), F.col("signature").alias("sig_a"))
    b = sig_b.select(F.col(id_b).alias("id_b"), F.col("signature").alias("sig_b"))
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: (x == y).cast("int")),
            lambda x: x == 1,
        )
    )
    return (
        pair_ids.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard_est", agree.cast("double") / F.lit(float(NUM_HASHES)))
        .filter(F.col("jaccard_est") >= min_j)
        .select("id_a", "id_b", "jaccard_est")
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    min_jaccard_est: float = 0.5,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding, scored by the
    estimated Jaccard (fraction of agreeing minhashes). Returns
    (id_a, id_b, jaccard_est) with id_a < id_b."""
    # The signature frame feeds FOUR plan branches (both band-join
    # sides through `banded`, plus both score re-attaches), and only
    # the map side of its aggregation was deduped by AQE stage reuse —
    # the 64-column final aggregate re-ran per branch. A lazy
    # lineage-cutting pin materializes it once and truncates the plan
    # to an RDD scan: measured on the 64× corpus the bench LSH union
    # dropped 24.7s → 5.9s median (a DataFrame persist() only reached
    # 15.7s — the in-memory COLUMNAR encode/decode of the 64-element
    # signature arrays costs more than the row-format checkpoint
    # blocks). Fault tolerance follows the ``pin`` policy. The stored
    # plan hides the signature subtree from downstream explain/pushdown
    # (nothing pushes into a whole-corpus signature aggregate anyway).
    sig = pin(minhash_signatures(df, id_col, text_col, shingle_size), truncate=True)
    banded = _band_rows(sig, id_col, _LSH_BANDS)
    # Candidate pairs as bare (id_a, id_b): the bucket self-join and the
    # dedup shuffle move 16-byte rows, not 64-element signature arrays.
    left = banded.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    right = banded.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    pair_ids = (
        left.join(right, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return _scored(pair_ids, sig, id_col, sig, id_col, min_jaccard_est)


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit Charikar simhash fingerprint: per-bit majority vote over token
    hashes, composed from explode + LANE-PACKED sums (one shuffle).

    Two engine-level optimizations, both semantics-preserving:

    - Lane packing: instead of one SUM(CASE ±1) aggregate per bit (64
      agg buffers), each token contributes its bits as 4 one-bit counts
      packed into 16-bit lanes of a bigint — 16 lane sums + one token
      count per document. The packed SUM is safe below 32768 tokens per
      doc (runtime-enforced via assert_true, never a silent wrap): the
      binding limit is not lane carry (lanes hold counts < 65536) but
      the top lane's contribution n·2^48 to the signed-bigint pack sum —
      32767·(2^48+2^32+2^16+1) < 2^63 while 32768·2^48 = 2^63 overflows.
      The majority rule is identical: sum(±1) > 0 ⟺ 2·ones > n_tokens.
    - SQL-text construction: the wide expressions are built as ONE
      ``F.expr`` string per column instead of per-op Column calls.
      Each Python Column operation is a py4j round trip; at 64-term
      width that construction tax dominated the whole operator
      (measured 2.5s → 0.5s per fresh call at sf0.1 — the JVM parses
      the text in one call). Catalyst sees the identical tree.
    """
    bits = 64
    lanes_per_long = 4  # 4 × 16-bit lanes per bigint
    n_longs = bits // lanes_per_long
    toks = df.select(
        F.col(id_col), F.explode(word_tokens(F.col(text_col))).alias("__t")
    ).selectExpr(id_col, "xxhash64(__t) AS __h")
    packs = [
        " + ".join(
            f"(CAST(shiftright(__h, {g + lane * n_longs}) & 1 AS BIGINT)"
            f" * {1 << (lane * 16)}L)"
            for lane in range(lanes_per_long)
        )
        for g in range(n_longs)
    ]
    voted = toks.groupBy(id_col).agg(
        F.expr("count(1)").alias("__n"),
        *[F.expr(f"sum({p})").alias(f"__p{g}") for g, p in enumerate(packs)],
    )
    terms = []
    for i in range(bits):
        g, lane = i % n_longs, i // n_longs
        b = f"CAST((shiftright(__p{g}, {lane * 16}) & 65535) * 2 > __n AS BIGINT)"
        terms.append(
            f"shiftleft({b}, {i})" if i < 63
            else f"(CASE WHEN {b} = 1 THEN {-(1 << 63)}L ELSE 0L END)"
        )
    guard = (
        "coalesce(CAST(assert_true(__n < 32768,"
        " 'simhash: document exceeds 16-bit vote lanes (pack-sum bound 32767)') AS BIGINT), 0L)"
    )
    return voted.selectExpr(id_col, f"({' + '.join(terms)} + {guard}) AS simhash")


def simhash_near_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance, candidate-generated
    by 4-way 16-bit block LSH (a pair within Hamming≤3 of 64 bits must
    agree on at least one of 4 disjoint 16-bit blocks — pigeonhole).

    The fingerprint frame gets a lazy lineage-cutting pin for the same
    reason as minhash_near_dup_pairs' signatures: it feeds both block-
    join sides, and the vote aggregation re-ran per side past the
    reused exchange (same 64× measurement)."""
    fps = pin(simhash(df, id_col, text_col), truncate=True)
    blocked = fps.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), b * 16).bitwiseAND(F.lit(0xFFFF))
                    for b in range(4)
                ]
            )
        ).alias("block", "block_val"),
    )
    left = blocked.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("fp_a"), "block", "block_val"
    )
    right = blocked.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("fp_b"), "block", "block_val"
    )
    # Hamming is a cheap xor+popcount on columns already in the joined
    # row, so it filters BEFORE the pair-dedup shuffle: hot 16-bit
    # blocks make raw candidates ~10x the surviving pairs, and
    # deduplicating only survivors shrinks that shuffle accordingly.
    # (hamming is functionally determined by the pair, so carrying it
    # through dropDuplicates is exact.)
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        left.join(right, ["block", "block_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al. 2014): every node u links
    each STRICTLY LARGER neighbor to min(N(u) ∪ {u}). Input/output are
    canonical undirected edges ``(hi, lo)`` with hi > lo."""
    sym = edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionByName(
        edges.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    )
    mins = sym.groupBy("u").agg(
        F.least(F.min("v"), F.col("u")).alias("m")
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
        .filter(F.col("hi") != F.col("lo"))
        .dropDuplicates(["hi", "lo"])
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: every node links its SMALLER-OR-EQUAL
    neighborhood (all of ``lo`` for a given ``hi``, which are < hi by
    canonical form) plus itself to the minimum of that set."""
    mins = edges.groupBy("hi").agg(F.min("lo").alias("m"))
    relinked = (
        edges.join(mins, "hi")
        .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
        .filter(F.col("hi") != F.col("lo"))
    )
    self_links = mins.select(F.col("hi"), F.col("m").alias("lo"))
    return relinked.unionByName(self_links).dropDuplicates(["hi", "lo"])


def near_dup_clusters(
    ids: DataFrame,
    id_col: str,
    pairs: DataFrame,
    max_iter: int = 20,
    _stats: dict | None = None,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph:
    ``(id, cluster_id)`` where ``cluster_id`` is the MINIMUM id in the
    node's component. This is the canonical-representative step every
    curation pipeline runs after pairwise near-dup detection — pairs
    alone can't answer "keep one doc per duplicate GROUP" when dups
    chain (A~B, B~C but A≁C must still collapse to one survivor).

    Algorithm: alternating large-star/small-star contraction (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC 2014
    — the same public algorithm GraphFrames ships as its default CC).
    Each round is two groupBy-min + join passes over the EDGE set; the
    edge set converges to one star per component centered on the
    component minimum in O(log n) rounds — a 200-node path converges
    in ~7 rounds where min-label propagation (this function's previous
    algorithm) needed ~200 diameter-bound rounds. Everything is hash
    joins + map-side-combined aggregations: no windows, no
    graph-sized driver state; the only driver-side values per round
    are the convergence probe counts.

    Edges are pinned eagerly with lineage cut every round — NOT
    merely persisted: each round's plan embeds the previous round's
    several times (two star passes + the convergence anti-join), so
    without lineage truncation the logical plan grows exponentially
    and the DRIVER dies of plan-analysis OOM (observed with the old
    loop around iteration 8). The pin materializes the round and
    replaces its plan with a flat scan — how GraphX/GraphFrames pace
    their iterative jobs. Each round's pin is released once the next
    round is materialized and probed, so block-manager storage stays
    at ~2 × |edges| instead of rounds × |edges|.

    ``max_iter`` is a safety bound only (log-scale rounds make it
    generous for any real graph); exceeding it raises rather than
    returning partial clusters. ``_stats``, when a dict, receives
    ``{"rounds": n}`` — observability for tests and tuning.

    The result is returned still pinned (its owner releases it, e.g.
    via ``pin_scope``) — recomputing it from scratch would replay every
    round.
    """
    # Edges touching ids ABSENT from `ids` are dropped (both-endpoint
    # semi joins): the contract is "cluster_id = the minimum id of the
    # node's component AMONG `ids`", and the survivor rule downstream
    # (`cluster_id == id`) needs the minimum to be a member. This also
    # keeps components connected only THROUGH a filtered-out node
    # separate — the same semantics the previous label-propagation
    # implementation had (unknown nodes never relayed labels).
    known = ids.select(F.col(id_col).alias("__k"))
    edges = pin(
        pairs.filter(F.col("id_a") != F.col("id_b"))
        .join(known, F.col("id_a") == F.col("__k"), "left_semi")
        .join(known, F.col("id_b") == F.col("__k"), "left_semi")
        .select(
            F.greatest(F.col("id_a"), F.col("id_b")).alias("hi"),
            F.least(F.col("id_a"), F.col("id_b")).alias("lo"),
        )
        .dropDuplicates(["hi", "lo"]),
        truncate=True,
        eager=True,
    )
    rounds = 0
    n_edges = edges.count()
    for _ in range(max_iter):
        nxt = pin(_small_star(_large_star(edges)), truncate=True, eager=True)
        rounds += 1
        # ONE-action set-equality probe: |nxt| and |nxt \ edges| from a
        # single left-join aggregate (both sides are (hi, lo)-distinct,
        # so the join is 1:≤1 and count(*) == |nxt|). Set equality then
        # follows from |nxt| == |edges| (carried, no recount) plus
        # nxt ⊆ edges. One Spark job per round instead of the previous
        # count() + anti-join count() pair — the 64× contraction
        # datapoints (rounds × wall at 1×/64×) live in README
        # §Measured, "Star-contraction connected components at 64×".
        probe = (
            nxt.join(
                edges.select("hi", "lo", F.lit(1).alias("__old")),
                ["hi", "lo"],
                "left",
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count_if(F.col("__old").isNull()).alias("fresh"),
            )
            .collect()[0]
        )
        n_nxt = int(probe["n"])
        changed = n_nxt != n_edges or int(probe["fresh"]) > 0
        # the superseded round is dead the moment the probe has run —
        # free it now instead of waiting for GC
        release(edges)
        edges, n_edges = nxt, n_nxt
        if not changed:
            break
    else:
        raise RuntimeError(
            f"near_dup_clusters: edge set still changing after {max_iter} "
            "contraction rounds; raise max_iter"
        )
    if _stats is not None:
        _stats["rounds"] = rounds
    # fixed point = one star per component: every non-center node has
    # exactly one (node, center) edge; centers and isolated nodes label
    # themselves
    labels = edges.groupBy("hi").agg(F.min("lo").alias("__lbl")).select(
        F.col("hi").alias("__id"), "__lbl"
    )
    return (
        ids.select(F.col(id_col).alias("__id"))
        .join(labels, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("__lbl"), F.col("__id")).alias("cluster_id"),
        )
    )


def _prefix_rows(sh: DataFrame, id_col: str, min_jaccard: float) -> DataFrame:
    """PPJoin prefix rows of a (id, hashed-shingle) frame: per doc of
    size s, the ``s - ceil(t·s) + 1`` RAREST shingles under the global
    (document frequency, hash) total order — the only rows the
    candidate join needs (Xiao et al., WWW 2008). The 1e-9 slack keeps
    binary-float products like 0.8*5 = 4.0000000000000002 from
    ceil-ing one too high, which would SHORTEN the prefix and silently
    break exactness."""
    from pyspark.sql import Window

    freq = sh.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy(id_col).orderBy("__df", "__g")
    ranked = (
        sh.join(freq, "__g")
        .withColumn("__rk", F.row_number().over(w))
        .withColumn("__s", F.count(F.lit(1)).over(Window.partitionBy(id_col)))
    )
    return ranked.filter(
        F.col("__rk")
        <= F.col("__s")
        - F.ceil(F.lit(float(min_jaccard)) * F.col("__s") - F.lit(1e-9))
        + 1
    ).select(id_col, "__g")


# Auto-strategy threshold: expected naive-join candidate partners per
# inverted-index row (Σdf² / Σdf). Measured shapes sit 1.5+ orders of
# magnitude away on BOTH sides: the uniform documents corpus ≈ 1.1
# (naive wins — sf0.1: naive 1.4s vs prefix 2.4s), the stopword-hot
# corpus of scripts/ngram_prefix_scale.py ≈ 1000–4000 (prefix wins —
# measured α 1.07 → 0.21). 32 ≈ the point where naive candidate volume
# (Σdf² rows through the shuffle) stops being cheaper than prefix
# mode's extra frequency aggregate + per-doc rank window.
# A SAFETY threshold, deliberately below the measured break-even — the
# losses are asymmetric. The round-9 crossover sweep
# (scripts/ngram_prefix_scale.py --crossover; raw data in
# measurements/ngram_crossover_8k.json) drove a corpus family through
# this constant at 8k docs: empirical break-even sits at cand_per_row
# ≈ 500–1200, so in the 32–500 mid-band auto picks prefix where naive
# is still cheaper — a BOUNDED penalty (measured ≤ 2.2×, the prefix
# plan's flat rank-window overhead; 2.3–2.7× on the 64×/256× uniform
# corpora). Above the break-even the naive join's candidate volume is
# Σdf² — UNBOUNDED in the hot head (measured cand_per_row 6,487 on the
# stopword-hot 64× corpus = ~10¹¹ candidate rows, hours vs the prefix
# plan's 43s). Flipping one order of magnitude early caps the
# worst case at ~2×; flipping late has no cap. Callers who know their
# corpus shape pass prefix_filter= explicitly and skip the probe.
_AUTO_PREFIX_CAND_PER_ROW = 32.0


def _should_prefix_filter(sh: DataFrame, _stats: dict | None = None) -> bool:
    """ONE cheap aggregate over the shingle document-frequency
    distribution decides the exact-Jaccard join strategy: Σdf²/Σdf is
    the expected inverted-list length seen by a random (doc, shingle)
    row — i.e. the naive self-join's candidate partners per row. A
    stopword-hot corpus blows this up (every doc shares the hot head);
    a uniform corpus keeps it near 1. The probe is an eager action
    (two-level aggregate, map-side combined, kilobytes to the driver)
    over one extra pass of the narrow tokenize/explode/hash chain."""
    row = (
        sh.groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__df"))
        .agg(
            F.sum("__df").alias("n"),
            # double, not bigint: Σdf² at corpus scale (df ~ 10⁹ for a
            # true stopword shingle) overflows int64
            F.sum(F.col("__df").cast("double") * F.col("__df")).alias("c2"),
        )
        .collect()[0]
    )
    n = int(row["n"] or 0)
    cand_per_row = (float(row["c2"]) / n) if n else 0.0
    if _stats is not None:
        _stats["cand_per_row"] = cand_per_row
    return cand_per_row > _AUTO_PREFIX_CAND_PER_ROW


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    min_jaccard: float = 0.5,
    prefix_filter: bool | None = None,
    _stats: dict | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for every pair sharing at
    least one n-gram (inverted-index self-join). Returns (id_a, id_b,
    jaccard).

    ``prefix_filter`` picks the join strategy; BOTH strategies return
    the identical exact pair set (pinned in tests, and the per-round
    oracle gates the prefix mode), so the choice is pure plan tuning.
    The default ``None`` is AUTO: one cheap aggregate measures the
    shingle document-frequency skew (Σdf²/Σdf = the naive join's
    expected candidate partners per row, see
    :func:`_should_prefix_filter`) and turns prefix filtering on past
    ``_AUTO_PREFIX_CAND_PER_ROW`` — so a stopword-hot corpus gets the
    prefix plan without the caller knowing the literature, at the cost
    of one eager probe action. Passing an explicit bool skips the
    probe entirely (zero overhead) and forces that strategy.
    ``_stats``, when a dict, receives ``{"prefix_filter": bool}`` and,
    under auto, ``{"cand_per_row": float}`` — observability for tests.

    ``prefix_filter=True`` keeps the result EXACT while still taming
    stopword-hot corpora: PPJoin-style prefix filtering (Xiao et al.,
    "Efficient Similarity Joins for Near Duplicate Detection", WWW
    2008). Shingles get a global total order by ascending document
    frequency (rarest first, ties by hash); a pair with Jaccard ≥ t
    must share at least one shingle inside both docs' length-
    ``s - ceil(t·s) + 1`` prefixes under that order, so the candidate
    join runs over PREFIX rows only — the hot head of the frequency
    distribution (exactly the stopword shingles that blow up the naive
    self-join) sorts to the SUFFIX and never generates candidates.
    Candidates are then verified with the true intersection over the
    full shingle sets. Costs one extra frequency aggregation and one
    per-doc rank window (keyed by doc — no skew); wins whenever hot
    shingles dominate the naive join's candidate volume.

    The shingle frame is PINNED, as a persist (r15; guide §5 "reused AND
    recomputation more expensive"): it feeds 3 plan branches in naive
    mode and 5 in prefix mode (frequency, rank window, both join
    sides, sizes) plus the auto probe, and each branch re-derived the
    whole tokenize/explode/hash chain — stage attribution at the 64×
    corpus showed five ~200s-CPU shingle stages under one
    dedup_ngram_prefix action, 86% of its executor time. (r14 left it
    un-persisted after sf0.1 measurements where idle cores hid the
    recompute; the 64× yardstick overturned that.) The entry is
    MEMORY_AND_DISK, deduped by CacheManager across repeated calls on
    the same corpus; the frame is (id, bigint) — far smaller than its
    recompute at any scale.
    """
    # array_distinct already guarantees per-doc shingle uniqueness, so
    # no dedup shuffle is needed. The inverted index carries an 8-byte
    # hash key of each shingle, never the string — and since r15 the
    # gram string is never even BUILT: word_ngram_hashes derives the
    # key from per-token hashes (same equality classes modulo 64-bit
    # collisions, which the string-hash path already accepted; the
    # DuckDB oracle re-derives jaccard from literal gram strings, so a
    # collision could not self-confirm). Measured on the 64× corpus:
    # the shingle stage's executor CPU drops ~5× vs hashing
    # word_ngrams strings.
    sh = pin(
        df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(word_ngram_hashes(F.col(text_col), n))
            ).alias("__g"),
        ),
        truncate=False,
    )
    if prefix_filter is None:
        prefix_filter = _should_prefix_filter(sh, _stats)
    if _stats is not None:
        _stats["prefix_filter"] = bool(prefix_filter)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("__n"))
    a = sh.select(F.col(id_col).alias("id_a"), "__g")
    b = sh.select(F.col(id_col).alias("id_b"), "__g")
    if prefix_filter:
        # pref feeds BOTH sides of the candidate self-join; without a
        # persist the whole frequency-join + rank-window chain executes
        # twice (64× stage attribution: duplicated window stages even
        # though the exchange below them was reused — the post-exchange
        # sort/window/filter re-ran per side). Prefix rows are a subset
        # of the cached shingle frame, so the entry is strictly smaller
        # than sh's.
        pref = pin(_prefix_rows(sh, id_col, min_jaccard), truncate=False)
        cand = (
            pref.select(F.col(id_col).alias("id_a"), "__g")
            .join(pref.select(F.col(id_col).alias("id_b"), "__g"), "__g")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        # exact verification: true intersection over the FULL sets,
        # restricted to the candidate pairs
        inter = (
            cand.join(a, "id_a")
            .join(b, ["id_b", "__g"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("__i"))
        )
    else:
        inter = (
            a.join(b, "__g")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("__i"))
        )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.col("__i").cast("double")
            / (F.col("__na") + F.col("__nb") - F.col("__i")).cast("double"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_index(
    df: DataFrame, id_col: str, text_col: str, shingle_size: int = 3
) -> tuple[DataFrame, DataFrame]:
    """The persisted LSH index of an existing corpus, as the two tables
    a production deployment stores side by side:

    - **band index** ``(id, band, band_hash)`` — the join side of every
      future candidate lookup (16-byte rows; bucket-partitionable on
      (band, band_hash)).
    - **signature sidecar** ``(id, signature)`` — re-attached only to
      candidate pairs for estimator scoring, never shuffled wholesale.

    A new batch's own index is looked up against it with
    :func:`minhash_lookup`. That turns corpus dedup from a full-corpus
    O(n²-candidates) recompute per ingest into an O(batch) lookup."""
    sig = minhash_signatures(df, id_col, text_col, shingle_size)
    return _band_rows(sig, id_col, _LSH_BANDS), sig


def minhash_lookup(
    batch: tuple[DataFrame, DataFrame],
    index: tuple[DataFrame, DataFrame],
    batch_id_col: str,
    index_id_col: str,
    min_jaccard_est: float,
) -> DataFrame:
    """Batch-vs-stored-index near-duplicate lookup: ``(id_a, id_b,
    jaccard_est)`` with ``id_a`` a batch id and ``id_b`` an index id,
    for every pair that shares an LSH bucket and whose estimate reaches
    ``min_jaccard_est``. ``batch`` and ``index`` are ``(band rows,
    signatures)`` as :func:`minhash_index` returns them, banded alike.
    Bucket matches dedupe as bare id pairs before the signatures
    re-attach. A caller marks a small side with ``F.broadcast``; the
    hint survives the renaming selects."""
    bands, sig = batch
    index_bands, index_sig = index
    pair_ids = (
        bands.select(F.col(batch_id_col).alias("id_a"), "band", "band_hash")
        .join(
            index_bands.select(F.col(index_id_col).alias("id_b"), "band", "band_hash"),
            ["band", "band_hash"],
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return _scored(pair_ids, sig, batch_id_col, index_sig, index_id_col, min_jaccard_est)
