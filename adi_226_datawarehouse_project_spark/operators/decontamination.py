"""Benchmark decontamination: drop training documents that overlap an
evaluation/benchmark corpus on word n-grams.

The standard training-data hygiene step (GPT-3 §C / PaLM / Llama data
cards all describe the same shape): a training doc is *contaminated*
when at least ``min_overlap`` of its distinct word n-grams appear
anywhere in the benchmark set. Detection is an inverted-index
equi-join, never a pairwise scan:

    bench grams  (distinct, hashed)  ──┐
                                       ├── equi-join on gram hash →
    train grams  (distinct, hashed)  ──┘   groupBy(train id) count

Scale shape: the benchmark side is tiny by construction (eval sets are
thousands of docs, so ~10⁵-10⁶ distinct grams — a few MB hashed), so
its gram set is ``broadcast()`` and the train side streams through a
map-side hash join with ZERO shuffle of the corpus; the only shuffle
is the per-train-doc overlap count, pre-combined map-side. Grams
travel as 8-byte ``xxhash64`` keys, not strings (the
``ngram_jaccard_pairs`` pattern — collision odds ~|grams|²/2⁶⁵ are
negligible).

Reference scope note: the reference warehouse has no decontamination
operator; this is part of the beyond-reference LLM-pipeline family the
build brief asks for (SURVEY.md §2.11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import word_ngrams


def _gram_hashes(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """One row per (id, distinct gram hash). array_distinct guarantees
    per-doc uniqueness before the explode, so downstream counts are
    distinct-gram counts without a dedup shuffle."""
    return df.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias("__g"),
    ).select(F.col(id_col), F.xxhash64(F.col("__g")).alias("__g"))


def benchmark_gram_set(bench: DataFrame, text_col: str, n: int = 8) -> DataFrame:
    """The union of distinct hashed n-grams over the benchmark corpus —
    the broadcast side of every contamination join. Column: ``__g``."""
    return (
        bench.select(F.explode(word_ngrams(F.col(text_col), n)).alias("__g"))
        .select(F.xxhash64(F.col("__g")).alias("__g"))
        .distinct()
    )


def contamination_scores(
    train: DataFrame,
    bench_grams: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Per-train-doc count of distinct n-grams that appear in the
    benchmark gram set: ``(id, n_overlap)``, one row per train doc with
    n_overlap >= 1. The bench side broadcasts; the count is a map-side-
    combined groupBy over (train id) — the corpus itself never
    shuffles."""
    tg = _gram_hashes(train, id_col, text_col, n)
    return (
        tg.join(F.broadcast(bench_grams), "__g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_overlap: int = 1,
) -> DataFrame:
    """Return the train rows that survive decontamination: docs with
    fewer than ``min_overlap`` distinct n-grams shared with the
    benchmark corpus. A left-anti join against the (broadcastable)
    contaminated-id set — the survivors keep their full row, untouched
    and unshuffled."""
    grams = benchmark_gram_set(bench, text_col, n)
    bad = (
        contamination_scores(train, grams, id_col, text_col, n)
        .filter(F.col("n_overlap") >= min_overlap)
        .select(id_col)
    )
    return train.join(F.broadcast(bad), id_col, "left_anti")


# Fuzzy detection's LSH bands over dedup.NUM_HASHES positions. Its
# OPERATING POINT differs from dedup's 16 bands: contamination
# thresholds sit far lower than near-dup thresholds, and 32 bands × 2
# rows gives candidate recall 1−(1−J²)³² ≈ 0.996 at J=0.4 (vs ≈0.34
# for 16×4); the extra low-J candidates the looser bands admit die at
# the exact ``jaccard_est`` re-score, costing join width, not precision.
_FUZZY_BANDS = 32


def fuzzy_contamination_pairs(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    bench_id_col: str,
    bench_text_col: str | None = None,
    shingle_size: int = 5,
    min_jaccard_est: float = 0.5,
) -> DataFrame:
    """FUZZY contamination detection: ``(train id, bench id,
    jaccard_est)`` for every train/bench pair whose MinHash-estimated
    word-shingle Jaccard reaches ``min_jaccard_est`` — the approximate
    complement of the exact n-gram overlap above. The two are
    complementary by construction: the exact detector needs an intact
    ``n``-gram (blind to benchmark items SHORTER than n words and to
    edits that break every long gram), while the resemblance detector
    scores whole-document shingle overlap and survives paraphrase-
    level perturbation — real data cards (GPT-3 §C, Llama) run both.

    Scale shape: both corpora get signatures from the SAME seeded
    xxhash64 family (``dedup.minhash_signatures``); the benchmark's
    band rows and signatures are tiny (eval sets are thousands of
    docs) and ``broadcast()``, so the training corpus streams through
    a map-side band join with zero corpus shuffle. The lookup itself is
    ``dedup.minhash_lookup`` with the benchmark as the index."""
    from .dedup import _band_rows, minhash_lookup, minhash_signatures

    t_sig = minhash_signatures(train, id_col, text_col, shingle_size)
    b_sig = minhash_signatures(bench, bench_id_col, bench_text_col or text_col, shingle_size)
    return minhash_lookup(
        (_band_rows(t_sig, id_col, _FUZZY_BANDS), t_sig),
        (F.broadcast(_band_rows(b_sig, bench_id_col, _FUZZY_BANDS)), F.broadcast(b_sig)),
        id_col,
        bench_id_col,
        min_jaccard_est,
    ).select(
        F.col("id_a").alias(id_col), F.col("id_b").alias(bench_id_col), "jaccard_est"
    )


def fuzzy_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    bench_id_col: str,
    bench_text_col: str | None = None,
    min_jaccard_est: float = 0.5,
    *,
    shingle_size: int,
) -> DataFrame:
    """Survivor form: drop every train doc that fuzzy-matches ANY
    benchmark doc at ``min_jaccard_est`` on word ``shingle_size``-gram
    shingles. Same left-anti shape as :func:`decontaminate`; run BOTH
    for a production scrub."""
    bad = (
        fuzzy_contamination_pairs(
            train,
            bench,
            id_col,
            text_col,
            bench_id_col,
            bench_text_col,
            shingle_size=shingle_size,
            min_jaccard_est=min_jaccard_est,
        )
        .select(id_col)
        .distinct()
    )
    return train.join(F.broadcast(bad), id_col, "left_anti")
