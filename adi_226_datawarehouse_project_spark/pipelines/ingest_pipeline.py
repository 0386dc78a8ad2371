"""Incremental corpus ingestion — the operational counterpart of
``corpus_pipeline``: that pipeline REBUILDS the curated corpus from
scratch; this one folds a NEW batch into an existing curated corpus in
O(batch) work, using the persisted MinHash index
(``operators.dedup.minhash_index`` / ``incremental_near_dup_filter``)
so the corpus text is never rescanned.

This is how a 100 TB corpus actually operates: the crawl arrives in
daily increments of ~0.1-1% of corpus size, and the cost of a full
near-dup rebuild per increment (re-shuffling every band row of the
corpus) dwarfs the increment itself. Here each increment costs:

- one scan of the BATCH text (clean + signatures — narrow);
- banded equi-joins of the batch's band rows against the stored
  ``index_bands`` zone (batch side broadcast-size by construction);
- parquet APPENDS of the survivors and their index rows.

Zone layout under ``corpus_dir``::

    docs/         curated survivors (appended per batch)
    index_bands/  (id, band, band_hash)   — the candidate-lookup side
    index_sigs/   (id, signature)          — estimator re-scoring side
    batches/      one marker row per ingested batch id

Idempotence: each batch carries a caller-supplied ``batch_id``; an id
already present in ``batches/`` makes ``ingest_increment`` a no-op
(crash-after-partial-append is NOT covered by the marker — the marker
is written LAST, so a crash before it re-runs the batch, and the
near-dup filter then drops every already-appended doc against the
index at est 1.0, converging to the same state; only the partial
append's duplicates in ``docs`` need the documented sweep, same
posture as the warehouse upsert sinks).

Post-ingest invariant (pinned in tests/test_ingest_pipeline.py): no
batch survivor is a near-duplicate (est ≥ the operating threshold) of
any PREVIOUSLY indexed doc, and re-ingesting any batch changes
nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators.dedup import _band_rows, incremental_near_dup_filter, minhash_index
from ..pin import pin, pin_scope
from ..sources.observe import observed_write_parquet

_NUM_HASHES = 64
_BANDS = 16


def _band_rows_of(sigs: DataFrame) -> DataFrame:
    return _band_rows(sigs, "doc_id", _NUM_HASHES, _BANDS)


def _zone(corpus_dir: str, name: str) -> str:
    return os.path.join(corpus_dir, name)


def _exists(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def init_corpus(spark: SparkSession, corpus_dir: str) -> None:
    """Create an EMPTY curated corpus: zero-row docs/index zones, so
    the first ``ingest_increment`` needs no special casing."""
    empty_docs = spark.createDataFrame(
        [], "doc_id bigint, text string, lang string, source string, n_tokens bigint"
    )
    bands, sigs = minhash_index(
        empty_docs, "doc_id", "text", _NUM_HASHES, _BANDS, shingle="word"
    )
    observed_write_parquet(empty_docs, _zone(corpus_dir, "docs"))
    observed_write_parquet(bands, _zone(corpus_dir, "index_bands"))
    observed_write_parquet(sigs, _zone(corpus_dir, "index_sigs"))
    observed_write_parquet(
        spark.createDataFrame([], "batch_id string, n_in bigint, n_kept bigint"),
        _zone(corpus_dir, "batches"),
    )


def ingested_batches(spark: SparkSession, corpus_dir: str) -> set[str]:
    return {
        r["batch_id"]
        for r in spark.read.parquet(_zone(corpus_dir, "batches")).collect()
    }


def read_corpus(spark: SparkSession, corpus_dir: str) -> DataFrame:
    return spark.read.parquet(_zone(corpus_dir, "docs"))


def ingest_increment(
    spark: SparkSession,
    batch_docs: DataFrame,
    corpus_dir: str,
    batch_id: str,
    lang: str = "en",
    min_quality: float = 0.75,
    max_repetition: float = 0.8,
    min_jaccard_est: float = 0.7,
    shingle_size: int = 3,
) -> dict:
    """Fold one batch (``doc_id``, ``text``, ``lang``, ``source``) into
    the curated corpus. Returns ``{"batch_id", "n_in", "n_kept",
    "skipped"}``. The clean stage applies the SAME normalization /
    PII scrub / lang / quality gates as ``corpus_pipeline``'s clean
    zone, so a doc admitted incrementally is a doc the full rebuild
    would admit."""
    if not _exists(_zone(corpus_dir, "docs")):
        raise FileNotFoundError(
            f"{corpus_dir} is not an initialized corpus — run init_corpus first"
        )
    if batch_id in ingested_batches(spark, corpus_dir):
        return {"batch_id": batch_id, "n_in": 0, "n_kept": 0, "skipped": True}

    # The cleaned batch feeds FIVE consumers (two candidate joins, the
    # docs append, and both index-delta writes), and cleaning is regex-
    # heavy (lang-id + quality + PII scrub) — without a pin, each
    # consumer re-runs the whole chain. Pins are batch-size state, held
    # only until the appends below have run.
    with pin_scope():
        cleaned = pin(
            batch_docs.filter(
                (TX.lang_id("text") == lang)
                & (TX.quality_score("text") >= min_quality)
                & (TX.repeated_token_fraction("text") <= max_repetition)
            )
            .select(
                "doc_id",
                TX.scrub_pii(TX.normalize_text(F.col("text"))).alias("text"),
                "lang",
                "source",
            )
            .withColumn("n_tokens", TX.token_count("text").cast("bigint")),
            truncate=False,
        )
        n_in = batch_docs.count()

        index_bands = spark.read.parquet(_zone(corpus_dir, "index_bands"))
        index_sigs = spark.read.parquet(_zone(corpus_dir, "index_sigs"))
        # the batch's signatures are computed ONCE (the dominant per-doc
        # CPU): the filter reuses them via new_index, and the index delta
        # below is a plain semi-join of the same frames on survivor ids
        _, batch_sigs = minhash_index(
            cleaned, "doc_id", "text", _NUM_HASHES, _BANDS, shingle_size, "word"
        )
        # band rows are derived from the PINNED signatures (a narrow
        # posexplode), so both consumers below read the pinned sigs
        # instead of re-running the signature aggregation
        batch_sigs = pin(batch_sigs, truncate=False)
        batch_bands = _band_rows_of(batch_sigs)
        survivors = pin(
            incremental_near_dup_filter(
                cleaned,
                "doc_id",
                "text",
                index_bands,
                index_sigs,
                num_hashes=_NUM_HASHES,
                bands=_BANDS,
                shingle_size=shingle_size,
                min_jaccard_est=min_jaccard_est,
                shingle="word",
                new_index=(batch_bands, batch_sigs),
            ),
            truncate=False,
        )
        n_kept = observed_write_parquet(
            survivors, _zone(corpus_dir, "docs"), mode="append"
        )
        kept_ids = survivors.select("doc_id")
        # sigs BEFORE bands: the candidate scorer inner-joins
        # index_sigs, so a band row whose sig row is missing (crash
        # between the two appends, bands-first order) would silently
        # fail verification and admit real near-dups forever. A sig
        # row without its bands only re-admits the crashed doc as a
        # docs-zone duplicate on re-run — the sweep posture the module
        # docstring already documents.
        observed_write_parquet(
            batch_sigs.join(kept_ids, "doc_id"),
            _zone(corpus_dir, "index_sigs"),
            mode="append",
        )
        observed_write_parquet(
            batch_bands.join(kept_ids, "doc_id"),
            _zone(corpus_dir, "index_bands"),
            mode="append",
        )
    # marker LAST: a crash anywhere above re-runs the batch and
    # converges (module docstring)
    observed_write_parquet(
        spark.createDataFrame(
            [(batch_id, n_in, n_kept)], "batch_id string, n_in bigint, n_kept bigint"
        ),
        _zone(corpus_dir, "batches"),
        mode="append",
    )
    return {"batch_id": batch_id, "n_in": n_in, "n_kept": n_kept, "skipped": False}
