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
- encoding is a NARROW literal-inlined argmin per subspace: zero
  shuffles, zero UDFs, the corpus streams once and emits
  ``(id, codes array<int>)``;
- each probe row computes its ADC lookup table ONCE (``m·ksub``
  dot products as one literal expression), then every candidate is
  scored with ``m`` array lookups + adds — not ``dim`` multiplies;
- the probe side broadcasts and the code table streams once
  (brute-force ADC — never a corpus×corpus cross join).

Vectors are L2-normalized before everything, so ADC dot approximates
cosine.

All floats follow the module's determinism rule: sequential
index-order folds (literal-expression sums associate left-to-right),
so scores are bit-identical run-to-run and engine-to-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import _let
from .similarity import _norm

# Codegen guard: the encode expression materializes m·ksub·dsub
# multiply-add terms; past ~10^4 Catalyst falls back to interpreted
# eval or trips JVM method limits. 4×16×16 = 1024
# terms sits comfortably inside; production-width models should raise m
# (more, smaller subspaces) rather than ksub.
_INLINE_MAX_TERMS = 10_000


def _f(x: float) -> str:
    """Full-precision SQL double literal (repr round-trips exactly)."""
    return repr(float(x))


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


def _encode_expr(codebooks: list[list[list[float]]], nv_col: str) -> str:
    """SQL text: array<int> of per-subspace argmin-L2 codes against the
    literal codebooks. Ties break to the smallest code (struct min
    compares distance, then code)."""
    m, ksub, dsub = len(codebooks), len(codebooks[0]), len(codebooks[0][0])
    if m * ksub * dsub > _INLINE_MAX_TERMS:
        raise ValueError(
            f"inline encode would materialize {m * ksub * dsub} terms"
            f" (> {_INLINE_MAX_TERMS}); raise m / lower ksub"
        )
    subs = []
    for j in range(m):
        entries = []
        for c, entry in enumerate(codebooks[j]):
            terms = " + ".join(
                f"(element_at({nv_col}, {j * dsub + d + 1}) - {_f(entry[d])})"
                f" * (element_at({nv_col}, {j * dsub + d + 1}) - {_f(entry[d])})"
                for d in range(dsub)
            )
            entries.append(f"named_struct('d', CAST({terms} AS DOUBLE), 'c', {c})")
        subs.append(f"array_min(array({', '.join(entries)})).c")
    return f"array({', '.join(subs)})"


def _lut_expr(codebooks: list[list[list[float]]], nq_col: str) -> str:
    """SQL text: array<array<double>> ADC table — lut[j][c] is the dot
    of the query's j-th subspace slice with codebook entry c."""
    m, ksub, dsub = len(codebooks), len(codebooks[0]), len(codebooks[0][0])
    rows = []
    for j in range(m):
        dots = []
        for entry in codebooks[j]:
            dots.append(
                " + ".join(
                    f"element_at({nq_col}, {j * dsub + d + 1}) * {_f(entry[d])}"
                    for d in range(dsub)
                )
            )
        rows.append(
            "array(" + ", ".join(f"CAST({d} AS DOUBLE)" for d in dots) + ")"
        )
    return f"array({', '.join(rows)})"


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
    k: int = 10,
    probe_ids: list[int] | None = None,
    m: int = 4,
    ksub: int = 16,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Approximate top-k by ADC score: ``(query_id, neighbor_id, adc,
    rank)``. The probe side broadcasts against the full code table
    (codes, not vectors — the scan is ~dim/m of the exact brute-force
    bytes)."""
    if codebooks is None:
        codebooks = pq_codebooks(df, id_col, vec_col, m=m, ksub=ksub)
    mm = len(codebooks)

    corpus = df.select(
        F.col(id_col).alias("neighbor_id"), _normalized(vec_col).alias("__pq_nv")
    )
    codes = corpus.select(
        "neighbor_id", F.expr(_encode_expr(codebooks, "__pq_nv")).alias("__codes")
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
        f"aggregate(sequence(0, {mm - 1}), CAST(0 AS DOUBLE),"
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
