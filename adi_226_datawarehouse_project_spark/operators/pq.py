"""Product quantization (PQ) for embedding similarity at corpus scale
(Jégou et al., "Product Quantization for Nearest Neighbor Search",
TPAMI 2011 — the IVF-PQ recipe behind FAISS-style billion-vector ANN).

Why this exists next to SRP-LSH and IVF (`operators/similarity.py`):
at 100 TB the embedding COLUMN ITSELF is the cost — a 1024-dim float
vector is 4 KB/row, and every candidate join ships it. PQ stores each
vector as ``m`` small codes (here m bytes-ish: one argmin index per
subspace), a 100-1000× compression, and scores queries against codes
via an ADC lookup table WITHOUT decompressing — so the candidate scan
streams codes, not vectors.

Distributed shape:

- codebooks are deterministic-sample sub-vectors (the ``ksub``
  smallest ids — the `sample_centroids` convention, so the DuckDB
  differential oracle re-derives them bit-identically with zero
  training state); they are driver-resident model state of
  ``m·ksub·dsub`` doubles — the same kind MLlib keeps;
- encoding is a NARROW argmin per subspace, folded over the codebooks
  as one literal array: zero shuffles, zero UDFs, the corpus streams
  once and emits ``(id, codes array<int>)``. The folds keep the
  expression text a few hundred characters plus the literal, where
  spelling out every ``m·ksub·dsub`` term made whole-stage codegen
  give up ("Code grows beyond 64 KB") at m=4/ksub=16;
- each probe row computes its ADC lookup table ONCE (``m·ksub``
  dot products, the same fold shape), then every candidate is
  scored with ``m`` array lookups + adds — not ``dim`` multiplies;
- the probe side broadcasts and the code table streams once
  (brute-force ADC — never a corpus×corpus cross join).

Vectors are L2-normalized before everything, so ADC dot approximates
cosine.

All floats follow the module's determinism rule: sequential
index-order folds (``aggregate`` over dims, left to right), so scores
are bit-identical run-to-run and engine-to-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import _let
from .similarity import _norm


def pq_codebooks(
    df: DataFrame, id_col: str, vec_col: str, m: int = 4, ksub: int = 16
) -> list[list[list[float]]]:
    """Deterministic-sample PQ codebooks: ``codebooks[j][c]`` is the
    j-th subspace slice of the L2-normalized vector with the c-th
    smallest id. Bit-reproducible across runs/engines with zero
    training state (the coarse-quantizer convention); a k-means
    refinement per subspace is the quality upgrade when cross-engine
    reproducibility is not required. Driver-resident: m·ksub·(dim/m)
    doubles total — exactly ``ksub`` full vectors' worth."""
    # Finite vectors only, and zero-norm rows excluded: _normalized
    # maps an all-zero vector to an array of NULLs, which crashed the
    # float() below when such a row held one of the ksub smallest ids
    # (same hazard class as the similarity seed paths; filter is a
    # no-op on clean corpora so oracle re-derivation is unchanged).
    from .similarity import finite_vectors

    cand = (
        finite_vectors(df, vec_col)
        .select(F.col(id_col).alias("__i"), _normalized(vec_col).alias("__nv"))
        .filter(~F.exists("__nv", lambda x: x.isNull()))
        .orderBy("__i")
        .limit(max(ksub * 4, ksub))
        .collect()
    )
    # majority dim over the candidate sample: a lone ragged row at the
    # smallest id must not set dsub
    length_counts: dict[int, int] = {}
    for r in cand:
        n = len(r["__nv"])
        length_counts[n] = length_counts.get(n, 0) + 1
    if not length_counts:
        raise ValueError("pq_codebooks: empty input (no finite vectors)")
    dim = max(length_counts, key=lambda n: (length_counts[n], n))
    rows = [r for r in cand if len(r["__nv"]) == dim][:ksub]
    if len(rows) < ksub:
        raise ValueError(f"need >= {ksub} rows to sample codebooks, got {len(rows)}")
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return [
        [[float(x) for x in r["__nv"][j * dsub : (j + 1) * dsub]] for r in rows]
        for j in range(m)
    ]


def _normalized(vec_col: str) -> Column:
    """L2-normalize (double); all-zero vectors become all-NULL."""
    v = F.col(vec_col)
    return _let(
        F.nullif(_norm(v), F.lit(0.0)),
        lambda nrm: F.transform(v, lambda x: x.cast("double") / nrm),
    )


def _codebook_sql(codebooks: list[list[list[float]]]) -> str:
    """The codebooks as one SQL literal ``array<array<array<double>>>``
    (``D``-suffixed, full-precision: repr round-trips exactly)."""
    return "array(" + ", ".join(
        "array(" + ", ".join(
            "array(" + ", ".join(f"{float(x)!r}D" for x in entry) + ")" for entry in book
        ) + ")"
        for book in codebooks
    ) + ")"


def _encode_expr(codebooks: list[list[list[float]]], nv_col: str) -> str:
    """SQL text: array<int> of per-subspace argmin-L2 codes against the
    literal codebooks, as folds over the codebook array (the expression
    text stays small at any m·ksub·dsub, so it compiles inside
    whole-stage codegen). Ties break to the smallest code (struct min
    compares distance, then code)."""
    dsub = len(codebooks[0][0])
    dist = (
        f"aggregate(sequence(0, {dsub - 1}), 0D, (acc, d) -> acc +"
        f" (element_at({nv_col}, j * {dsub} + d + 1) - element_at(e, d + 1)) *"
        f" (element_at({nv_col}, j * {dsub} + d + 1) - element_at(e, d + 1)))"
    )
    return (
        f"transform({_codebook_sql(codebooks)}, (sub, j) -> array_min(transform(sub,"
        f" (e, c) -> named_struct('d', {dist}, 'c', c))).c)"
    )


def _lut_expr(codebooks: list[list[list[float]]], nq_col: str) -> str:
    """SQL text: array<array<double>> ADC table — lut[j][c] is the dot
    of the query's j-th subspace slice with codebook entry c (the same
    fold shape as :func:`_encode_expr`)."""
    dsub = len(codebooks[0][0])
    dot = (
        f"aggregate(sequence(0, {dsub - 1}), 0D, (acc, d) -> acc +"
        f" element_at({nq_col}, j * {dsub} + d + 1) * element_at(e, d + 1))"
    )
    return f"transform({_codebook_sql(codebooks)}, (sub, j) -> transform(sub, e -> {dot}))"


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """``(id, codes array<int>)`` — the compressed corpus. Pure narrow
    projection (no shuffle, no UDF): the literal-inlined argmin runs
    inside whole-stage codegen as the corpus streams."""
    return df.select(
        F.col(id_col), _normalized(vec_col).alias("__pq_nv")
    ).select(F.col(id_col), F.expr(_encode_expr(codebooks, "__pq_nv")).alias("codes"))


def pq_adc_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    k: int = 10,
    probe_ids: list[int] | None = None,
) -> DataFrame:
    """Approximate top-k by ADC score: ``(query_id, neighbor_id, adc,
    rank)``. The probe side broadcasts against the full code table
    (codes, not vectors — the scan is ~dim/m of the exact brute-force
    bytes)."""
    codes = pq_encode(df, id_col, vec_col, codebooks).select(
        F.col(id_col).alias("neighbor_id"), F.col("codes").alias("__codes")
    )
    probes = df.select(
        F.col(id_col).alias("query_id"), _normalized(vec_col).alias("__pq_nq")
    )
    if probe_ids is not None:
        probes = probes.filter(F.col("query_id").isin(probe_ids))
    probes = probes.select(
        "query_id", F.expr(_lut_expr(codebooks, "__pq_nq")).alias("__lut")
    )

    cand = codes.join(F.broadcast(probes)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )

    adc = F.expr(
        f"aggregate(sequence(0, {len(codebooks) - 1}), CAST(0 AS DOUBLE),"
        f" (acc, j) -> acc + element_at(element_at(__lut, j + 1),"
        f" element_at(__codes, j + 1) + 1))"
    )
    scored = cand.withColumn("adc", adc).select("query_id", "neighbor_id", "adc")
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc", "rank")
    )
