"""TF-IDF term scoring over a document corpus — keyword extraction /
relevance weighting for the training-data pipeline (topic tagging,
boilerplate spotting, quality signals).

Distributed shape: term frequencies are one map-side-combined
``groupBy(id, token)``; document frequencies reuse those SAME rows
(``(id, token)`` is already distinct, so df is a ``groupBy(token)``
count — no ``countDistinct`` shuffle); the corpus size N is a 1-row
aggregate broadcast via cross join (never collected to the driver);
the per-document top-k is a window partitioned by doc id, whose
per-partition cardinality is the doc's vocabulary — bounded, skew-free.
Everything is built-in Column expressions: no UDFs anywhere.

Both scorers are pure BIGINT arithmetic, BIT-EXACT on any engine (a
float ``ln`` idf would reproduce cross-engine only up to libm ulp
differences), so the DuckDB differential oracles recompute them
exactly:

- TF-IDF is the integer-scaled rarity weight
  ``(tf·SCALE·(N+1)) div (df+1)``;
- BM25 uses whole-bit idf and milli-unit length normalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import word_tokens

_RATIONAL_SCALE = 1_000_000
_K1_MILLI, _B_MILLI = 1200, 750  # BM25 k1 = 1.2, b = 0.75


def _rational_score_expr():
    """Integer TF-IDF score over columns (tf, df, __N), with a LOUD
    overflow guard (the simhash lane-pack lesson): the numerator
    tf·SCALE·(N+1) must fit a signed 64-bit lane; the bound is exact —
    the max safe tf given N — and raises instead of silently wrapping
    under non-ANSI sessions. The bound (N·tf ≳ 9.2e12) sits far past
    any per-document term frequency of a real corpus."""
    return F.expr(
        f"CAST(coalesce(CAST(assert_true("
        f"tf <= ((9223372036854775807 div (__N + 1)) div {_RATIONAL_SCALE}),"
        f" 'tfidf: tf*SCALE*(N+1) would overflow bigint"
        f" (term frequency too large for this corpus size)') AS BIGINT), 0)"
        f" + tf * {_RATIONAL_SCALE} * (__N + 1) AS BIGINT) div (df + 1)"
    )


def tf_idf_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_k: int,
) -> DataFrame:
    """Top-``top_k`` TF-IDF terms per document:
    ``(id, token, tf, df, score, rank)`` with the exact integer
    ``score``. Ties break lexicographically on token so results are
    total-ordered and reproducible."""
    toks = df.select(
        F.col(id_col), F.explode(word_tokens(F.col(text_col))).alias("token")
    )
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.count(F.lit(1)).alias("__N"))
    scored = tf.join(docfreq, "token").crossJoin(F.broadcast(n_docs))
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("token").asc())
    return (
        scored.withColumn("score", _rational_score_expr())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(id_col, "token", "tf", "df", "score", "rank")
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
) -> DataFrame:
    """Okapi BM25 document scores for a fixed query-term set — the
    retrieval/relevance primitive of corpus curation (rank documents
    against a topic probe; select domain-relevant training data the
    way DSIR selects distribution-relevant data).

    Returns one row per document matching ≥1 query term:
    ``(id, matched_terms, score_micro)`` — BIGINT, bit-exact
    cross-engine (the DuckDB differential oracle recomputes it).

    The textbook form is
    ``score = Σ idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`` with
    k1 = 1.2, b = 0.75; here in the repo's integer-surprisal
    convention (tfidf / lm_score): ``idf_bits =
    floor(log2((N+1) div df))`` via ``length(bin(q)) − 1`` and all
    length normalization in exact milli-unit BIGINT arithmetic
    (``avgdl_milli = (1000·T) div N``, k1 and b as milli-units).
    WHOLE-BIT idf granularity is the documented trade: a term in more
    than half the corpus scores 0 (worthless for ranking — the right
    call at curation scale, where sub-bit idf of a near-ubiquitous term
    is noise anyway). Overflow guard: per-term numerator
    ``63 · tf · (k1+1000) · 10⁶`` caps tf at ~6.6e7 tokens per
    doc-term — loud assert, never a silent wrap (the tfidf lesson).

    Distributed shape (the tfidf/lm_score lessons): one narrow
    tokenize/explode pass; per-(doc, term) tf and per-term df are
    map-side-combined aggregates over rows PRE-FILTERED to the query
    terms (the corpus-sized explode never shuffles unmatched tokens);
    doc lengths and the (N, T) totals come from one aggregate each,
    totals broadcast via the 1-row cross join; the final score is a
    per-doc combinable sum. No UDFs, no windows over the corpus.
    """
    qts = sorted({t.lower() for t in terms if t and t.strip()})
    if not qts:
        raise ValueError("bm25_scores: empty query-term set")
    toks = df.select(
        F.col(id_col), F.explode(word_tokens(F.col(text_col))).alias("token")
    )
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("__dl"))
    qtoks = toks.filter(F.col("token").isin(qts))
    tf = qtoks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dft = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    totals = df.agg(
        F.count(F.lit(1)).cast("bigint").alias("__N"),
        # size(NULL) is -1 under the legacy sizeOfNull conf, so a NULL
        # text would SUBTRACT from the corpus token total and skew avgdl
        # away from the oracle's unnest-based count (which skips NULLs).
        F.coalesce(
            F.sum(
                F.when(
                    F.col(text_col).isNotNull(),
                    F.greatest(F.size(word_tokens(F.col(text_col))), F.lit(0)),
                ).otherwise(F.lit(0))
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("__T"),
    )
    joined = (
        tf.join(F.broadcast(dft), "token")
        .join(dl, id_col)
        .crossJoin(F.broadcast(totals))
    )
    guard = (
        f"coalesce(CAST(assert_true(tf <= {(1 << 63) // (63 * (_K1_MILLI + 1000) * 1_000_000)},"
        f" 'bm25: idf_bits*tf*(k1+1000)*1e6 would overflow bigint"
        f" (term frequency too large)') AS BIGINT), 0L)"
    )
    scored = (
        joined.withColumn(
            "__avgdl_milli", F.expr("greatest((1000 * __T) div __N, 1L)")
        )
        .withColumn(
            "__idf_bits", F.expr("CAST(length(bin((__N + 1) div df)) AS BIGINT) - 1")
        )
        .withColumn(
            "__denom_milli",
            F.expr(
                f"1000 * tf + ({_K1_MILLI}L * (1000 - {_B_MILLI}"
                f" + ({_B_MILLI}L * 1000 * __dl) div __avgdl_milli)) div 1000"
            ),
        )
        .withColumn(
            "__term_score_micro",
            F.expr(
                f"(__idf_bits * tf * {_K1_MILLI + 1000}L * 1000000 + {guard})"
                " div __denom_milli"
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("matched_terms"),
        F.sum("__term_score_micro").cast("bigint").alias("score_micro"),
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    k: int,
) -> DataFrame:
    """Top-``k`` documents by BM25 score, ties to the smallest id —
    fully deterministic. The global order runs as Spark's top-k
    (TakeOrderedAndProject: per-partition heaps, never a full sort),
    so it scales to any corpus size."""
    scores = bm25_scores(df, id_col, text_col, terms)
    return scores.orderBy(F.col("score_micro").desc(), F.col(id_col).asc()).limit(k)
