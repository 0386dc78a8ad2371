"""End-to-end LLM corpus-curation pipeline on the DAG executor:
zone outputs, independent count checks, shard layout, idempotent
re-run."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from adi_226_datawarehouse_project_spark.functions import text as TX
from adi_226_datawarehouse_project_spark.pipelines.corpus_pipeline import (
    run_corpus_pipeline,
)
from adi_226_datawarehouse_project_spark.sources.catalog import load_table
from adi_226_datawarehouse_project_spark.sources.writers import read_run_manifest

_ZONES = ("clean", "dedup", "decontaminated", "packed", "shards")


def test_corpus_pipeline_end_to_end(spark, sf_dir, tmp_path):
    out = str(tmp_path / "corpus")
    results = run_corpus_pipeline(spark, sf_dir, out, shard_size=50)
    assert all(r.state == "SUCCESS" for r in results.values()), {
        k: (v.state, v.error) for k, v in results.items()
    }

    # clean zone matches an independently-derived filter + scrub
    docs = load_table(spark, sf_dir, "documents")
    expect_clean = docs.filter(
        (TX.lang_id("text") == "en")
        & (TX.quality_score("text") >= 0.75)
        & (TX.repeated_token_fraction("text") <= 0.8)
    ).count()
    clean = spark.read.parquet(os.path.join(out, "clean"))
    assert clean.count() == expect_clean == results["clean"].value
    # PII scrub is applied (idempotent on already-clean fixtures, but
    # the schema must carry the precomputed token counts)
    assert set(["doc_id", "text", "lang", "source", "n_tokens"]) == set(clean.columns)

    # monotone funnel, nothing vacuous
    n = {z: results[z].value for z in _ZONES}
    assert n["clean"] >= n["dedup"] >= n["decontaminated"] > 0
    # packed and shards are one row per surviving doc
    assert n["packed"] == n["decontaminated"] == n["shards"]

    # shard layout: hive partitions, bounded size, ranks complete
    shards = spark.read.parquet(os.path.join(out, "shards"))
    sizes = {r["shard"]: r["n"] for r in shards.groupBy("shard").agg(F.count("*").alias("n")).collect()}
    assert all(s <= 50 for s in sizes.values())
    ranks = sorted(r["shuffle_rank"] for r in shards.select("shuffle_rank").collect())
    assert ranks == list(range(n["decontaminated"]))

    # manifest carries every zone's count
    man = read_run_manifest(spark, os.path.join(out, "manifest")).collect()[0]
    for z in _ZONES:
        assert man["stats"][z] == n[z]

    # idempotent re-run: every zone skipped, nothing rewritten
    again = run_corpus_pipeline(spark, sf_dir, out, shard_size=50)
    for z in _ZONES:
        assert again[z].state == "SKIPPED"


def test_corpus_pipeline_failure_poisons_descendants_and_resumes(
    spark, sf_dir, tmp_path, monkeypatch
):
    out = str(tmp_path / "corpus_fail")

    # simulate an operational failure inside the decontamination stage:
    # that task FAILS; packed/shards/manifest must be UPSTREAM_FAILED,
    # clean/dedup still SUCCESS.
    from adi_226_datawarehouse_project_spark.pipelines import corpus_pipeline as cp

    def _boom(*a, **kw):
        raise RuntimeError("simulated stage failure")

    monkeypatch.setattr(cp, "decontaminate", _boom)
    results = run_corpus_pipeline(spark, sf_dir, out)
    monkeypatch.undo()
    assert results["clean"].state == "SUCCESS"
    assert results["dedup"].state == "SUCCESS"
    assert results["decontaminated"].state == "FAILED"
    for t in ("packed", "shards", "manifest"):
        assert results[t].state == "UPSTREAM_FAILED"

    # resume with the fix: completed zones skip, the rest completes
    resumed = run_corpus_pipeline(spark, sf_dir, out)
    assert resumed["clean"].state == "SKIPPED"
    assert resumed["dedup"].state == "SKIPPED"
    assert resumed["decontaminated"].state == "SUCCESS"
    assert resumed["packed"].state == "SUCCESS"
    assert resumed["shards"].state == "SUCCESS"
    assert resumed["manifest"].state == "SUCCESS"

def test_corpus_pipeline_optional_scrub_and_lm_stages(spark, sf_dir, tmp_path):
    out = str(tmp_path / "corpus_opt")
    results = run_corpus_pipeline(
        spark, sf_dir, out, shard_size=50, passage_n=5, max_bits_per_token=9.0
    )
    assert all(r.state == "SUCCESS" for r in results.values()), {
        k: (v.state, v.error) for k, v in results.items()
    }
    zones = ("clean", "scrubbed", "dedup", "decontaminated", "lm_filtered",
             "packed", "shards")
    n = {z: results[z].value for z in zones}
    # funnel: scrub rewrites in place (same row count), filters shrink
    assert n["scrubbed"] == n["clean"]
    assert n["dedup"] >= n["decontaminated"] >= n["lm_filtered"] > 0
    assert n["packed"] == n["lm_filtered"] == n["shards"]

    # the scrubbed zone carries recomputed token counts consistent with
    # its rewritten text
    import os as _os

    from adi_226_datawarehouse_project_spark.functions import text as TX2

    scrubbed = spark.read.parquet(_os.path.join(out, "scrubbed"))
    bad = scrubbed.filter(TX2.token_count("text") != F.col("n_tokens")).count()
    assert bad == 0

    # keep-one semantics: after the scrub no 5-gram survives in >1 doc
    # beyond its owner, so a re-scan flags nothing new
    from adi_226_datawarehouse_project_spark.operators.passage_dedup import (
        repeated_passage_spans,
    )

    residual = repeated_passage_spans(scrubbed, "doc_id", "text", n=5).count()
    assert residual == 0

    # LM gate: every survivor satisfies the bits/token ceiling the
    # operator enforces (recompute over the filtered zone's own corpus
    # would shift the model, so check against the DECONTAMINATED model)
    from adi_226_datawarehouse_project_spark.operators.lm_score import (
        unigram_lm_scores,
    )

    pre = spark.read.parquet(_os.path.join(out, "decontaminated"))
    kept_ids = {r["doc_id"] for r in spark.read.parquet(
        _os.path.join(out, "lm_filtered")).select("doc_id").collect()}
    scores = unigram_lm_scores(pre, "doc_id", "text").collect()
    for r in scores:
        assert (r["bits_per_token_milli"] <= 9000) == (r["doc_id"] in kept_ids)

    # manifest includes the optional zones
    man = read_run_manifest(spark, _os.path.join(out, "manifest")).collect()[0]
    for z in zones:
        assert man["stats"][z] == n[z]


def test_corpus_pipeline_optional_fuzzy_stage(spark, sf_dir, tmp_path):
    import os as _os

    out = str(tmp_path / "corpus_fuzzy")
    results = run_corpus_pipeline(
        spark, sf_dir, out, shard_size=50, fuzzy_min_jaccard=0.5
    )
    assert all(r.state == "SUCCESS" for r in results.values()), {
        k: (v.state, v.error) for k, v in results.items()
    }
    n = {z: results[z].value for z in (
        "clean", "dedup", "decontaminated", "fuzzy_decontaminated",
        "packed", "shards",
    )}
    # the fuzzy scrub only removes; pack/shard consume ITS output
    assert n["decontaminated"] >= n["fuzzy_decontaminated"] > 0
    assert n["packed"] == n["fuzzy_decontaminated"] == n["shards"]

    # the survivor set equals applying the operator to the zone directly
    from adi_226_datawarehouse_project_spark.operators.decontamination import (
        fuzzy_decontaminate,
    )
    from adi_226_datawarehouse_project_spark.sources.catalog import load_table

    pre = spark.read.parquet(_os.path.join(out, "decontaminated"))
    bench = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 7 == 0
    ).select(F.col("doc_id").alias("bench_id"), "text")
    want = {r["doc_id"] for r in fuzzy_decontaminate(
        pre, bench, "doc_id", "text", "bench_id",
        shingle_size=5, min_jaccard_est=0.5,
    ).select("doc_id").collect()}
    got = {r["doc_id"] for r in spark.read.parquet(
        _os.path.join(out, "fuzzy_decontaminated")).select("doc_id").collect()}
    assert got == want


def test_clean_zone_token_counts_match_output_text(spark, sf_dir, tmp_path):
    import os as _os

    from adi_226_datawarehouse_project_spark.functions import text as TX2

    out = str(tmp_path / "corpus_ntok")
    results = run_corpus_pipeline(spark, sf_dir, out, shard_size=50)
    assert results["clean"].state == "SUCCESS"
    clean = spark.read.parquet(_os.path.join(out, "clean"))
    bad = clean.filter(
        TX2.token_count("text").cast("bigint") != F.col("n_tokens")
    ).count()
    assert bad == 0


def test_decontamination_matches_on_normalized_text(spark, tmp_path):
    """The clean stage normalizes typography in training text; the
    benchmark side must be compared in the SAME normal form, or a
    contaminated doc whose benchmark twin uses curly quotes slips
    through (the round-4 ADVICE regression)."""
    base = (
        "The quick brown fox said \"hello there\" and it's a fine day "
        "to jump over the lazy dog near the river bank today."
    )
    # the benchmark twin: curly quotes + NBSP separators throughout —
    # every shingle differs from the training form until both sides
    # are normalized, so this fails loudly on a raw-bench comparison
    curly = (
        base.replace('"', "“", 1)
        .replace('"', "”", 1)
        .replace("it's", "it’s")
        .replace(" ", " ")
    )
    fillers = [
        "Completely unrelated municipal service records describe the annual "
        "budget review for parks and public libraries across the city.",
        "Another independent document covers weather observations gathered "
        "by volunteers during the spring measurement campaign this year.",
        "A third distinct text lists the ferry timetable changes and the "
        "expected impact on commuters traveling between the boroughs.",
    ]
    rows = [(0, curly, "en", "bench")]  # doc_id % 7 == 0 → benchmark side
    rows += [(1, base, "en", "train")]  # typographic twin → contaminated
    rows += [(i + 2, t, "en", "train") for i, t in enumerate(fillers)]
    sf = tmp_path / "sf_typo"
    sf.mkdir()
    import pandas as pd

    spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    ).withColumn("n_chars", F.length("text").cast("bigint")).write.parquet(
        str(sf / "documents.parquet")
    )
    out = str(tmp_path / "corpus_typo")
    results = run_corpus_pipeline(spark, str(sf), out)
    assert all(r.state == "SUCCESS" for r in results.values()), {
        k: (v.state, v.error) for k, v in results.items()
    }
    survivors = {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out, "decontaminated")).collect()
    }
    assert 1 not in survivors  # the contaminated twin must be scrubbed
    assert {2, 3, 4} <= survivors  # unrelated docs survive
