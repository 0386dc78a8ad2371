"""DSIR-style data selection by importance weights (Xie et al.,
NeurIPS 2023, arXiv:2302.03169): given a large RAW web corpus and a
small TARGET corpus with the desired distribution (curated wiki/books,
a downstream task's domain), score every raw document by how much more
likely it is under a hashed bag-of-words model of the target than
under the raw model, then keep the top-k. This is the standard
pretraining-data selection step between quality filtering and dedup in
an LLM pipeline — the reference warehouse has no analog
(beyond-reference, north-star operator family).

Distributed shape (the tfidf/lm_score lessons applied):

- hashed features are pure narrow expressions: tokenize → explode
  words → md5-bucket (portable across engines) → ONE map-side-combined
  ``groupBy(id, bucket)``;
- both bucket models are ≤ ``n_buckets`` rows by construction — the
  raw model REUSES the raw feature rows (one corpus scan total), and
  both model tables are explicitly ``broadcast()`` into the scoring
  join, so the corpus-sized side never shuffles on bucket;
- corpus totals are 1-row broadcast aggregates (never collected);
- per-doc weights are a final map-side-combinable ``groupBy(id)``;
- top-k selection runs on the two-phase distributed rank
  (:func:`..operators.training.global_order_rank`) — no global
  single-partition window at any corpus size.

Scoring is whole-bit integer importance (the tfidf/lm_score integer
convention): ``Σ_b c_b·(s_q(b) − s_p(b))`` with add-one smoothing over
the ``n_buckets`` feature space,
``s_x(b) = floor(log2((T_x + B) div (cnt_x(b) + 1)))`` computed
exactly as ``length(bin(q)) − 1`` — pure BIGINT, libm-free, bit-exact
on any engine; the DuckDB differential oracle re-derives it.

Documents with zero tokens have no feature rows and therefore no
weight — they are never selected (weight −∞ semantics), in both
engines identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import word_tokens
from .training import _hash_hex, global_order_rank


def _bucket(gram: Column, n_buckets: int) -> Column:
    """Portable hash bucket of a gram string: the first 48 bits of its
    md5 mod ``n_buckets`` — spelled identically in Spark
    (``conv(substring(md5(g),1,12),16,10)``) and DuckDB
    (``CAST(concat('0x', substr(md5(g),1,12)) AS BIGINT)``)."""
    return (
        F.conv(F.substring(F.md5(gram), 1, 12), 16, 10).cast("bigint")
        % F.lit(n_buckets)
    )


def hashed_gram_counts(
    df: DataFrame, id_col: str, text_col: str, n_buckets: int
) -> DataFrame:
    """Hashed bag-of-words features: ``(id, bucket, c)`` counts with
    ``bucket = md5_48(word) mod n_buckets``. Narrow explode + one
    map-side-combined aggregation — no joins, no UDF."""
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive: {n_buckets}")
    grams = df.select(
        F.col(id_col), F.explode(word_tokens(F.col(text_col))).alias("__gram")
    )
    return grams.select(
        id_col, _bucket(F.col("__gram"), n_buckets).alias("bucket")
    ).groupBy(id_col, "bucket").agg(F.count(F.lit(1)).alias("c"))


def _model_counts(feats: DataFrame) -> DataFrame:
    """Bucket-level model counts (≤ n_buckets rows) from feature rows."""
    return feats.groupBy("bucket").agg(F.sum("c").alias("cnt"))


def importance_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int,
) -> DataFrame:
    """Per-raw-document importance weight of target-vs-raw hashed
    bag-of-words models: ``(id, n_grams, weight_bits)``, BIGINT and
    bit-exact. Positive ⇒ the document looks more like the target
    corpus than like the raw corpus."""
    feats = hashed_gram_counts(raw, id_col, text_col, n_buckets)
    q = _model_counts(feats).withColumnRenamed("cnt", "__cq")
    p = _model_counts(
        hashed_gram_counts(target, id_col, text_col, n_buckets)
    ).withColumnRenamed("cnt", "__cp")
    q_tot = q.agg(F.sum("__cq").alias("__Tq"))
    p_tot = p.agg(F.coalesce(F.sum("__cp"), F.lit(0)).cast("bigint").alias("__Tp"))
    joined = (
        feats.join(F.broadcast(q), "bucket")
        .join(F.broadcast(p), "bucket", "left")
        .withColumn("__cp", F.coalesce(F.col("__cp"), F.lit(0)).cast("bigint"))
        .crossJoin(F.broadcast(q_tot))
        .crossJoin(F.broadcast(p_tot))
    )
    # sq − sp, each an exact integer floor-log2 of the smoothed inverse
    # probability (see lm_score.unigram_lm_scores for the div-vs-/
    # rationale).
    s_q = F.length(F.bin(F.expr(f"(__Tq + {n_buckets}) div (__cq + 1)"))).cast(
        "bigint"
    ) - F.lit(1)
    s_p = F.length(F.bin(F.expr(f"(__Tp + {n_buckets}) div (__cp + 1)"))).cast(
        "bigint"
    ) - F.lit(1)
    return joined.groupBy(id_col).agg(
        F.sum("c").alias("n_grams"),
        F.sum(F.col("c") * (s_q - s_p)).cast("bigint").alias("weight_bits"),
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    n_buckets: int = 4096,
    seed: str = "dsir",
) -> DataFrame:
    """Select ``k`` raw documents by importance: rank by weight
    descending (md5 of ``(seed, id)`` then id tiebreaks — fully
    deterministic) via the two-phase distributed rank and keep
    ``selection_rank < k``. The key stays BIGINT end-to-end, so the
    rank order is bit-exact, never subject to double rounding. Returns
    the selected RAW rows plus ``n_grams``, ``weight_bits`` and
    ``selection_rank``.
    """
    if k < 0:
        raise ValueError(f"k must be >= 0: {k}")
    w = importance_weights(raw, target, id_col, text_col, n_buckets)
    scored = w.withColumn("__negkey", -F.col("weight_bits")).withColumn(
        "__tb", _hash_hex(id_col, seed)
    )
    ranked = global_order_rank(
        scored, ["__negkey", "__tb", id_col], "selection_rank"
    ).drop("__negkey", "__tb")
    sel = ranked.filter(F.col("selection_rank") < F.lit(k)).select(
        id_col, "n_grams", "weight_bits", "selection_rank"
    )
    return raw.join(sel, id_col)
