"""Model-based quality scoring: a hashed-feature linear classifier.

Production LLM-data pipelines follow the heuristic quality gate with a
TRAINED quality model (a fastText-style linear classifier over hashed
bag-of-words features — the CCNet / GPT-3 "quality classifier" stage).
This module runs that scoring step as a pure Spark plan:

    tokens --hash--> feature bucket --broadcast join--> weight
           --groupBy doc--> score = (Σ w) / n_tokens + bias

Design notes (100 TB):

- The model is a TABLE (bucket -> weight), exactly how a trained
  hashed linear model ships. It is tiny (``N_BUCKETS`` rows) and joined
  with an explicit ``F.broadcast`` — scoring never shuffles the corpus
  on anything but the final per-doc groupBy, and that aggregation is
  map-side combinable (sum/count partials).
- Feature hashing uses the repo's portable md5→32-bit bridge
  (``conv(substring(md5(x),1,8),16,10)``) so any ANSI engine with md5
  reproduces the bucket ids bit-for-bit — the DuckDB oracle in
  ``plans/operators_suite.py`` recomputes the whole score from the
  literal token strings.
- Weights are integer MILLI-units; the per-doc score divides two exact
  integers once at the end, so results are reproducible across engines
  and partition orders (dialect.py conventions).
- ``make_hashed_weights`` generates a deterministic pseudo-random model
  for tests/demos; a real model trains offline and lands as the same
  (bucket, w_milli) table, so the scoring plan is unchanged.

The explode is the only fan-out (one row per token); at 100 TB that is
the same fan-out any tokenizing pass performs, and it feeds a broadcast
hash join plus a combinable aggregate — no wide intermediate survives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import word_tokens

N_BUCKETS = 256
_SEED = "qw-v1"


def _bucket32(col):
    """Portable 32-bit md5 bucket: identical in Spark and DuckDB."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint") % N_BUCKETS
    ).cast("int")


def make_hashed_weights(spark: SparkSession) -> DataFrame:
    """Deterministic (bucket, w_milli) model table, w_milli ∈ [-1000, 1000].

    Derived from ``md5('qw-v1-' bucket)`` so the DuckDB oracle can
    regenerate the identical model from ``range(256)``.
    """
    return spark.range(N_BUCKETS).select(
        F.col("id").cast("int").alias("bucket"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{_SEED}-"), F.col("id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 2001
            - 1000
        ).alias("w_milli"),
    )


def hashed_linear_score(
    docs: DataFrame, weights: DataFrame, bias_milli: int
) -> DataFrame:
    """Score every ``(doc_id, text)`` document with the hashed linear
    model.

    Returns one row per input doc: ``doc_id``, ``n_tokens``,
    ``sum_w_milli`` (exact integer evidence), ``score`` =
    ``sum_w_milli / n_tokens / 1000 + bias`` rounded to 6 dp, and
    ``keep`` — score strictly above 0. Token-less docs score NULL and
    are not kept (route them to the heuristic gate instead).
    """
    toks = docs.select(
        F.col("doc_id"), F.explode(word_tokens("text")).alias("__tok")
    ).select("doc_id", _bucket32(F.col("__tok")).alias("bucket"))

    # LEFT join + coalesce(w, 0): a real trained model table often
    # stores only non-zero buckets, and an inner join would silently
    # drop those tokens from BOTH the sum and the n_tokens denominator.
    per_doc = (
        toks.join(F.broadcast(weights), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.coalesce(F.col("w_milli"), F.lit(0))).alias("sum_w_milli"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )

    # Portable 6-dp rounding (functions.rounding.round6): integer
    # ratios like sum_w_milli/(1000*n_tokens) DO produce exact ties.
    from ..functions.rounding import round6

    raw = (
        F.col("sum_w_milli").cast("double") / F.col("n_tokens") / 1000.0
        + F.lit(bias_milli / 1000.0)
    )
    score = round6(raw)
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            F.col("doc_id"),
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
            F.col("sum_w_milli").cast("bigint").alias("sum_w_milli"),
            score.alias("score"),
            F.coalesce(score > 0.0, F.lit(False)).alias("keep"),
        )
    )
