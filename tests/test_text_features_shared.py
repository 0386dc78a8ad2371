"""The shared-tokenization restructure of text_token_features (r15,
VERDICT r14 task #3) must be value-identical to the original per-part
derivations that each tokenized the text themselves. This pins the
five parts (token_stats, top_tokens, hash_split, rolling_fp,
passage_scrub) of the NEW shared-tk plan against an independent
recomputation in the ORIGINAL from-text form, exceptAll in both
directions — so a tokenization-sharing bug (null handling, empty-text
clamp, order sensitivity) fails here instead of surfacing as a
cross-dialect oracle hash mismatch."""

from conftest import SF_DIR

from pyspark.sql import functions as F

from adi_226_datawarehouse_project_spark import dialect as D
from adi_226_datawarehouse_project_spark.functions import text as TX
from adi_226_datawarehouse_project_spark.operators.passage_dedup import (
    remove_repeated_passages,
)
from adi_226_datawarehouse_project_spark.plans.operators_suite import (
    _PASSAGE_N,
    _spark_explode_tokens,
    _spark_text_token_features,
    _spark_token_stats,
    _split_sql,
)
from adi_226_datawarehouse_project_spark.sources.catalog import load_table


def _original_form(spark, sf_dir):
    """The pre-r15 derivation: every part tokenizes the text itself
    (kept verbatim from the r14 code, reading the raw documents
    table)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    docs.createOrReplaceTempView("__orig_text_docs")
    stats = _spark_token_stats(spark, sf_dir, docs=docs).select(
        F.lit("token_stats").alias("part"), F.col("lang").alias("k"),
        F.col("n_docs").cast("bigint").alias("n"),
        F.col("total_tokens").cast("bigint").alias("n2"),
        F.col("avg_tokens").cast("double").alias("v"),
    )
    top = _spark_explode_tokens(spark, sf_dir, docs=docs).select(
        F.lit("top_tokens").alias("part"), F.col("token").alias("k"),
        F.col("occurrences").cast("bigint").alias("n"),
        F.lit(None).cast("bigint").alias("n2"), F.lit(None).cast("double").alias("v"),
    )
    split = spark.sql(_split_sql(D.SPARK, table="__orig_text_docs")).select(
        F.lit("hash_split").alias("part"), F.col("split").alias("k"),
        F.col("n_docs").cast("bigint").alias("n"),
        F.col("total_tokens").cast("bigint").alias("n2"),
        F.lit(None).cast("double").alias("v"),
    )
    roll = docs.select(
        F.lit("rolling_fp").alias("part"),
        F.col("doc_id").cast("string").alias("k"),
        TX.rolling_fingerprint("text").cast("bigint").alias("n"),
        F.lit(None).cast("bigint").alias("n2"), F.lit(None).cast("double").alias("v"),
    )
    scrub = remove_repeated_passages(
        docs.select("doc_id", "text"), "doc_id", "text", n=_PASSAGE_N
    ).select(
        F.lit("passage_scrub").alias("part"),
        F.col("doc_id").cast("string").alias("k"),
        F.conv(F.substring(F.md5(F.col("clean_text")), 1, 12), 16, 10)
        .cast("bigint")
        .alias("n"),
        (F.col("n_tokens").cast("bigint") * 100000 + F.col("covered_tokens")).alias("n2"),
        F.lit(None).cast("double").alias("v"),
    )
    return stats.unionByName(top).unionByName(split).unionByName(roll).unionByName(scrub)


def test_shared_tokenization_matches_original_per_part_form(spark):
    new = _spark_text_token_features(spark, SF_DIR, ordered=False)
    old = _original_form(spark, SF_DIR)
    assert new.columns == old.columns
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_tokens_col_passage_scrub_matches_text_path(spark):
    """remove_repeated_passages(tokens_col=...) must scrub exactly as
    the text path does — including short docs (< n tokens, zero grams)
    and the keep-first owner exemption."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    via_text = remove_repeated_passages(docs, "doc_id", "text", n=_PASSAGE_N).select("doc_id", "n_tokens", "covered_tokens", "clean_text")
    toks = docs.select("doc_id", TX.word_tokens("text").alias("tk"))
    via_tokens = remove_repeated_passages(
        toks, "doc_id", "tk", n=_PASSAGE_N, tokens_col="tk"
    ).select("doc_id", "n_tokens", "covered_tokens", "clean_text")
    assert via_text.exceptAll(via_tokens).count() == 0
    assert via_tokens.exceptAll(via_text).count() == 0
