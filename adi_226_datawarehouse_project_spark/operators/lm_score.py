"""Unigram language-model scoring over a document corpus — CCNet-style
perplexity filtering for the training-data pipeline (Wenzek et al.,
arXiv:1911.00359 filter web text by LM perplexity; Gopher/Rae et al.
use the same signal). Documents whose tokens are improbable under a
corpus-level LM (boilerplate, gibberish, lorem-ipsum, wrong-language
residue) score a high negative log-likelihood and can be dropped.

Distributed shape (the tfidf lesson applied):

- per-doc term frequencies are ONE map-side-combined
  ``groupBy(id, token)``; the corpus-wide unigram counts REUSE those
  same rows (``sum(tf)`` over token — no second scan of the corpus,
  no countDistinct);
- the corpus totals (T = total tokens, V = vocabulary size) are a
  1-row aggregate broadcast via cross join — never collected to the
  driver;
- per-token probabilities come from a token-keyed equi-join of the
  (id, token, tf) rows against the vocabulary-sized count table —
  a plain shuffle hash join that AQE can skew-split if a handful of
  stopwords dominate;
- the per-doc score is a final ``groupBy(id)`` — map-side combinable.

Everything is built-in Column expressions; no UDFs anywhere.

The score is integer bit-surprisal (the tfidf integer convention): per
token, the add-one-smoothed ``s = floor(log2((T+V) / (cnt+1)))``
computed EXACTLY in integer arithmetic as
``length(bin((T+V) div (cnt+1))) - 1`` (for a ≥ b,
``floor(log2(a/b)) == floor(log2(a div b))`` — both count the leading
bit of the quotient), so the per-doc ``Σ tf·s`` is pure BIGINT and
BIT-EXACT on any engine, where a float nats/perplexity score would
reproduce only up to libm ulp differences. This is a true logarithmic
surprisal at whole-bit granularity; the DuckDB differential oracle
recomputes it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import word_tokens


def unigram_lm_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Per-document unigram-LM surprisal under the corpus's own
    add-one-smoothed unigram distribution: ``(id, n_tokens,
    surprisal_bits, bits_per_token_milli)`` with ``surprisal_bits`` =
    Σ tf·s (BIGINT, bit-exact) and ``bits_per_token_milli`` =
    1000·surprisal_bits div n_tokens (BIGINT). Token-less documents
    have no row.
    """
    toks = df.select(
        F.col(id_col), F.explode(word_tokens(F.col(text_col))).alias("token")
    )
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    counts = tf.groupBy("token").agg(F.sum("tf").alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("__T"), F.count(F.lit(1)).alias("__V")
    )
    joined = tf.join(counts, "token").crossJoin(F.broadcast(totals))
    # exact integer floor-log2 of the smoothed odds ratio.
    # bigint/bigint in Spark SQL is DOUBLE division (a cast back would
    # round, not floor) — integer DIV keeps the whole path exact.
    s_bits = F.length(
        F.bin(F.expr("(__T + __V) div (cnt + 1)"))
    ).cast("bigint") - F.lit(1)
    per_doc = joined.groupBy(id_col).agg(
        F.sum("tf").alias("n_tokens"),
        F.sum(F.col("tf") * s_bits).cast("bigint").alias("surprisal_bits"),
    )
    return per_doc.select(
        id_col,
        "n_tokens",
        "surprisal_bits",
        F.expr("(1000 * surprisal_bits) div n_tokens").alias("bits_per_token_milli"),
    )


def perplexity_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_bits_per_token: float = 14.0,
) -> DataFrame:
    """Keep documents whose exact integer bit-surprisal per token is
    at or below ``max_bits_per_token`` (CCNet keeps the low-perplexity
    head/middle of the corpus). Deterministic on any engine. Returns
    the input rows of the survivors; token-less documents are never
    kept."""
    scores = unigram_lm_scores(df, id_col, text_col)
    keep = scores.filter(
        F.col("bits_per_token_milli")
        <= F.lit(int(round(max_bits_per_token * 1000)))
    ).select(id_col)
    return df.join(keep, id_col, "left_semi")
