"""End-to-end LLM training-corpus curation as one orchestrated run —
the training-data counterpart of :mod:`warehouse_pipeline`, composing
the pipeline-operator family over the ``orchestration.run_dag``
executor with the same zone/idempotency semantics:

    clean/            lang-filtered, quality+repetition gated, PII-scrubbed docs
    scrubbed/         (optional, ``passage_n``) cross-doc repeated-passage
                      removal — keep-one semantics, texts rewritten
    dedup/            exact dedup + near-dup cluster collapse survivors
    decontaminated/   survivors minus the benchmark stratum + its n-gram overlaps
    fuzzy_decontaminated/ (optional, ``fuzzy_min_jaccard``) MinHash-resemblance
                      scrub vs the same benchmark — catches paraphrase/short-item
                      contamination the exact grams miss
    lm_filtered/      (optional, ``max_bits_per_token``) CCNet-style LM
                      perplexity gate over the surviving corpus
    packed/           doc → context-window chunk assignment (offsets, spans)
    shards/           final corpus in deterministic global shuffle order,
                      hive-partitioned by shard id
    manifest/         nested-struct run manifest with per-zone row counts

DAG shape: clean → [scrubbed →] dedup → decontaminated →
[fuzzy_decontaminated →] [lm_filtered →] [packed ∥ shards] → manifest — the last data wave is a
genuine parallel fan-out (two independent Spark jobs over the same
upstream zone). Every zone is ``_SUCCESS``-idempotent: a re-run (or a
resume after a failure) skips completed zones unless ``force=True``.

Scale notes: every stage is one of the already-audited operators
(broadcast gram joins, bounded label propagation, two-phase prefix
scans — no new plan shapes); zones are parquet writes, so each stage's
input is a materialized scan rather than a recomputation of the whole
upstream chain (the medallion lesson from the warehouse build); shards
are hive partitions keyed by ``rank div shard_size``, so a trainer
reads shard k with partition pruning and rows within a shard arrive in
deterministic rank order.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators.decontamination import decontaminate
from ..operators.dedup import dedup_exact, near_dup_clusters, ngram_jaccard_pairs
from ..operators.training import global_shuffle_rank, pack_sequences
from ..orchestration.dag import DagTask, TaskResult, run_dag
from ..sources.catalog import load_table
from ..sources.observe import observed_write_parquet
from ..sources.writers import write_run_manifest


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def run_corpus_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    lang: str = "en",
    min_quality: float = 0.75,
    max_repetition: float = 0.8,
    ngram_n: int = 5,
    min_jaccard: float = 0.8,
    bench_mod: int = 7,
    decon_min_overlap: int = 2,
    pack_len: int = 512,
    shard_size: int = 100,
    shuffle_seed: str = "corpus-v1",
    run_utc: str = "1970-01-01T00:00:00Z",
    force: bool = False,
    fuzzy_min_jaccard: float | None = None,
    passage_n: int | None = None,
    max_bits_per_token: float | None = None,
) -> dict[str, TaskResult]:
    """Run the curation DAG; returns every task's :class:`TaskResult`
    (value = rows written, None when skipped). Zone readers load the
    PREVIOUS zone's parquet, so each stage is restartable in isolation."""

    def _zone(name: str) -> str:
        return os.path.join(out_dir, name)

    def _write(df, name: str, partition_by: list[str] | None = None) -> int:
        # rows-written observed during the write job itself (no zone
        # read-back — at corpus scale that second scan is the cost of
        # the write again); tests/test_corpus_pipeline.py keeps its own
        # independent read-back counts as the external check.
        return observed_write_parquet(df, _zone(name), partition_by=partition_by)

    def _clean(upstream: dict) -> int:
        docs = load_table(spark, sf_dir, "documents")
        kept = docs.filter(
            (TX.lang_id("text") == lang)
            & (TX.quality_score("text") >= min_quality)
            & (TX.repeated_token_fraction("text") <= max_repetition)
        )
        # normalize BEFORE scrubbing (typographic variants fold so the
        # dedup stages see stable text); n_tokens counts the OUTPUT
        # text — the previous form counted the pre-scrub text, which
        # drifts when a PII match spans whitespace
        scrubbed = kept.select(
            "doc_id",
            TX.scrub_pii(TX.normalize_text(F.col("text"))).alias("text"),
            "lang",
            "source",
        ).withColumn("n_tokens", TX.token_count("text").cast("bigint"))
        return _write(scrubbed, "clean")

    dedup_src = "scrubbed" if passage_n else "clean"
    decon_out = (
        "fuzzy_decontaminated" if fuzzy_min_jaccard is not None else "decontaminated"
    )
    pack_src = "lm_filtered" if max_bits_per_token is not None else decon_out

    def _scrub_passages(upstream: dict) -> int:
        from ..operators.passage_dedup import remove_repeated_passages

        docs = spark.read.parquet(_zone("clean"))
        scrubbed = remove_repeated_passages(
            docs, "doc_id", "text", n=passage_n
        ).select(
            "doc_id",
            F.col("clean_text").alias("text"),
            "lang",
            "source",
            (F.col("n_tokens") - F.col("covered_tokens")).cast("bigint").alias("n_tokens"),
        )
        return _write(scrubbed, "scrubbed")

    def _lm_filter(upstream: dict) -> int:
        from ..operators.lm_score import perplexity_filter

        docs = spark.read.parquet(_zone(decon_out))
        kept = perplexity_filter(
            docs, "doc_id", "text", max_bits_per_token=max_bits_per_token
        )
        return _write(kept, "lm_filtered")

    def _dedup(upstream: dict) -> int:
        docs = spark.read.parquet(_zone(dedup_src))
        uniq = dedup_exact(docs, ["text"], order_by=["doc_id"])
        edges = ngram_jaccard_pairs(
            uniq, "doc_id", "text", n=ngram_n, min_jaccard=min_jaccard
        ).select("id_a", "id_b")
        comp = near_dup_clusters(uniq.select("doc_id"), "doc_id", edges)
        survivors = uniq.join(
            comp.filter(F.col("cluster_id") == F.col("doc_id")).select("doc_id"),
            "doc_id",
        )
        return _write(survivors, "dedup")

    def _bench_docs():
        # benchmark text must go through the SAME normalization (and
        # PII scrub) the clean stage applies to training text — the
        # n-gram/shingle match happens on the normalized form, so a
        # raw-vs-normalized mismatch silently loses decontamination
        # recall on any bench doc with typographic characters
        return (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % bench_mod == 0)
            .select(
                "doc_id",
                TX.scrub_pii(TX.normalize_text(F.col("text"))).alias("text"),
            )
        )

    def _decontaminate(upstream: dict) -> int:
        docs = spark.read.parquet(_zone("dedup"))
        bench = _bench_docs()
        survivors = decontaminate(
            docs.filter(F.col("doc_id") % bench_mod != 0),
            bench,
            "doc_id",
            "text",
            n=ngram_n,
            min_overlap=decon_min_overlap,
        )
        return _write(survivors, "decontaminated")

    def _fuzzy_decontaminate(upstream: dict) -> int:
        from ..operators.decontamination import fuzzy_decontaminate

        docs = spark.read.parquet(_zone("decontaminated"))
        bench = _bench_docs().select(F.col("doc_id").alias("bench_id"), "text")
        survivors = fuzzy_decontaminate(
            docs,
            bench,
            "doc_id",
            "text",
            "bench_id",
            shingle_size=ngram_n,
            min_jaccard_est=fuzzy_min_jaccard,
        )
        return _write(survivors, "fuzzy_decontaminated")

    def _packed(upstream: dict) -> int:
        docs = spark.read.parquet(_zone(pack_src))
        packed = pack_sequences(
            docs.select("doc_id", F.col("n_tokens").alias("nt")),
            "doc_id",
            "nt",
            pack_len,
        )
        return _write(packed, "packed")

    def _shards(upstream: dict) -> int:
        docs = spark.read.parquet(_zone(pack_src))
        ranked = global_shuffle_rank(docs, "doc_id", seed=shuffle_seed)
        sharded = ranked.withColumn(
            "shard", F.expr(f"shuffle_rank div {shard_size}")
        )
        return _write(sharded, "shards", partition_by=["shard"])

    def _manifest(upstream: dict) -> int:
        stats = {k: v for k, v in upstream.items() if isinstance(v, int)}
        write_run_manifest(
            spark,
            _zone("manifest"),
            job_name="corpus_pipeline",
            run_utc=run_utc,
            inputs={"sf_dir": sf_dir},
            outputs={z: _zone(z) for z in upstream if isinstance(upstream.get(z), int)},
            stats=stats,
        )
        return 1

    def _task(name, fn, upstream):
        return DagTask(
            name=name,
            fn=fn,
            upstream=upstream,
            skip_if=(None if force else lambda p=_zone(name): _done(p)),
        )

    tasks = [
        DagTask("start", lambda u: None),
        _task("clean", _clean, ["start"]),
    ]
    if passage_n:
        tasks.append(_task("scrubbed", _scrub_passages, ["clean"]))
    tasks += [
        _task("dedup", _dedup, [dedup_src]),
        _task("decontaminated", _decontaminate, ["dedup"]),
    ]
    if fuzzy_min_jaccard is not None:
        tasks.append(
            _task("fuzzy_decontaminated", _fuzzy_decontaminate, ["decontaminated"])
        )
    if max_bits_per_token is not None:
        tasks.append(_task("lm_filtered", _lm_filter, [decon_out]))
    # parallel fan-out: chunk assignment and shard publication are
    # independent consumers of the last filtering zone
    tasks += [
        _task("packed", _packed, [pack_src]),
        _task("shards", _shards, [pack_src]),
    ]
    zone_names = [t.name for t in tasks if t.name != "start"]
    tasks.append(DagTask("manifest", _manifest, upstream=zone_names))
    return run_dag(tasks)
