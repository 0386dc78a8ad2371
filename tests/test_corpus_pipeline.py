"""End-to-end LLM corpus-curation pipeline on the DAG executor:
zone outputs, independent count checks, shard layout, idempotent
re-run, and agreement with the registry's `pipeline_curation_funnel`
(both are built from the pipeline's one stage list)."""

from __future__ import annotations

import os

from conftest import SF_SMALL
from pyspark.sql import functions as F

from adi_226_datawarehouse_project_spark.functions import text as TX
from adi_226_datawarehouse_project_spark.pipelines.corpus_pipeline import (
    SHARD_SIZE,
    run_corpus_pipeline,
)
from adi_226_datawarehouse_project_spark.plans.operators_suite import (
    _spark_curation_funnel,
)
from adi_226_datawarehouse_project_spark.sources.catalog import load_table
from adi_226_datawarehouse_project_spark.sources.writers import read_run_manifest

_ZONES = ("clean", "dedup", "decontaminated", "packed", "shards")


def test_corpus_pipeline_end_to_end(spark, sf_dir, tmp_path):
    out = str(tmp_path / "corpus")
    results = run_corpus_pipeline(spark, sf_dir, out)
    assert all(r.state == "SUCCESS" for r in results.values()), {
        k: (v.state, v.error) for k, v in results.items()
    }

    # clean zone matches an independently-derived scrub + filter
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text", TX.scrub_pii(TX.normalize_text("text"))
    )
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
    assert all(s <= SHARD_SIZE for s in sizes.values())
    ranks = sorted(r["shuffle_rank"] for r in shards.select("shuffle_rank").collect())
    assert ranks == list(range(n["decontaminated"]))

    # manifest carries every zone's count
    man = read_run_manifest(spark, os.path.join(out, "manifest")).collect()[0]
    for z in _ZONES:
        assert man["stats"][z] == n[z]

    # idempotent re-run: every zone skipped, nothing rewritten — the
    # manifest row included
    again = run_corpus_pipeline(spark, sf_dir, out)
    for z in _ZONES:
        assert again[z].state == "SKIPPED"
    assert again["manifest"].state == "SKIPPED"
    assert read_run_manifest(spark, os.path.join(out, "manifest")).collect() == [man]


def test_pipeline_counts_match_registry_funnel(spark, tmp_path):
    """The pipeline's per-stage counts equal the oracle-checked registry
    funnel's rows: the clean write's filter-stage observations (in the
    manifest) for lang_en and quality, the dedup zone for cluster_dedup
    and the decontaminated zone for decontaminated."""
    out = str(tmp_path / "corpus_agree")
    results = run_corpus_pipeline(spark, SF_SMALL, out)
    assert all(r.state == "SUCCESS" for r in results.values())
    stats = read_run_manifest(spark, os.path.join(out, "manifest")).collect()[0]["stats"]
    registry = {
        r["stage"]: r["n_docs"] for r in _spark_curation_funnel(spark, SF_SMALL).collect()
    }
    assert stats["input"] == registry["raw"]
    assert stats["lang_en"] == registry["lang_en"]
    assert stats["quality"] == registry["quality"] == results["clean"].value
    assert results["dedup"].value == registry["cluster_dedup"]
    assert results["decontaminated"].value == registry["decontaminated"]
    # monotone and not vacuous (at sf0.001: 500, 466, 466, 445, 378)
    n = [registry[k] for k in ("raw", "lang_en", "quality", "cluster_dedup", "decontaminated")]
    assert n == sorted(n, reverse=True) and n[0] > n[-1] > 0, n


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

def test_clean_zone_token_counts_match_output_text(spark, sf_dir, tmp_path):
    import os as _os

    from adi_226_datawarehouse_project_spark.functions import text as TX2

    out = str(tmp_path / "corpus_ntok")
    results = run_corpus_pipeline(spark, sf_dir, out)
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


def test_funnel_oracle_clean_text_matches_spark(spark):
    """The fixtures hold no text the funnel's rewrite changes, so the
    DuckDB derivation of it (`_duck_clean_text`) is checked here on text
    it does change: typographic quotes and dashes, exotic and zero-width
    spaces, control characters, whitespace runs and each PII class."""
    import duckdb
    import pandas as pd

    from adi_226_datawarehouse_project_spark.pipelines.corpus_pipeline import funnel_input
    from adi_226_datawarehouse_project_spark.plans.operators_suite import _duck_clean_text

    texts = [
        "He said \u201chi\u201d \u2014 it\u2019s \u00abfine\u00bb",
        "a\u00a0\u00a0b\u200bc\u00add\u3000e\u2009f",
        " \tx\x01y\n\n z\x7f ",
        "mail bob.smith@example.org, call 555-123-4567 or ping 10.0.0.12 now",
        "plain text stays as it is",
    ]
    docs = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    got = {
        r["doc_id"]: r["text"]
        for r in funnel_input(spark.createDataFrame(docs)).collect()
    }
    con = duckdb.connect()
    con.register("documents", docs)
    want = dict(
        con.execute(f"SELECT doc_id, {_duck_clean_text()} AS text FROM documents").fetchall()
    )
    assert got == want
    assert got[4] == texts[4] and all(got[i] != texts[i] for i in range(4))
