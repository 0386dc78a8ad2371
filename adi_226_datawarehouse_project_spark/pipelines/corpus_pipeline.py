"""End-to-end LLM training-corpus curation — the training-data
counterpart of :mod:`warehouse_pipeline`. The curation funnel is ONE
ordered stage list, :data:`STAGES`:

    lang_en → quality → dedup → cluster_dedup → decontaminated

over :func:`funnel_input` (every document, its text normalized and
PII-scrubbed). Two callers build from the list:

- the registry query ``pipeline_curation_funnel``
  (``plans/operators_suite.py``) folds it lazily with
  :func:`fold_stages` into one count row per stage, and the DuckDB
  oracle checks that composition;
- :func:`run_corpus_pipeline` runs it as a DAG over the
  ``orchestration.run_dag`` executor, one task per zone, each stage in
  the write of its ``zone``:

    clean/            lang_en + quality survivors; the write observes
                      each filter stage's survivors (``instrument_funnel``)
                      and adds ``n_tokens``
    dedup/            exact dedup + near-dup cluster collapse survivors
    decontaminated/   survivors minus the benchmark stratum + its n-gram overlaps
    packed/           doc → context-window chunk assignment (offsets, spans)
    shards/           final corpus in deterministic global shuffle order,
                      hive-partitioned by shard id
    manifest/         nested-struct run manifest: rows written per zone and
                      survivors per filter stage

DAG shape: clean → dedup → decontaminated → [packed ∥ shards] →
manifest — the last data wave is a genuine parallel fan-out (two
independent Spark jobs over the same upstream zone). Every zone is
``_SUCCESS``-idempotent: a re-run (or a resume after a failure) skips
completed zones unless ``force=True``.

Scale notes: every stage is one of the already-audited operators
(broadcast gram joins, bounded label propagation, two-phase prefix
scans — no new plan shapes); zones are parquet writes, so each stage's
input is a materialized scan rather than a recomputation of the whole
upstream chain (the medallion lesson from the warehouse build); shards
are hive partitions keyed by ``rank div SHARD_SIZE``, so a trainer
reads shard k with partition pruning and rows within a shard arrive in
deterministic rank order.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators.decontamination import decontaminate
from ..operators.dedup import dedup_exact, near_dup_clusters, ngram_jaccard_pairs
from ..operators.training import global_shuffle_rank, pack_sequences
from ..orchestration.dag import DagTask, TaskResult, run_dag
from ..sources.catalog import load_table
from ..sources.observe import funnel_counts, instrument_funnel, observed_write_parquet
from ..sources.writers import write_run_manifest

LANG = "en"
MIN_QUALITY = 0.75
MAX_REPETITION = 0.8  # repeated-token fraction ceiling (Gopher-style)
NGRAM_N = 5  # word n-gram width of the near-dup and decontamination stages
MIN_JACCARD = 0.8  # near-dup edge: exact word-5-gram Jaccard >= 0.8
BENCH_MOD = 7  # benchmark stratum: input docs with doc_id % 7 == 0
DECON_MIN_OVERLAP = 2  # contaminated: >= 2 distinct 5-grams shared with it
PACK_LEN = 512
SHARD_SIZE = 100
SHUFFLE_SEED = "corpus-v1"


def funnel_input(docs: DataFrame) -> DataFrame:
    """The funnel's input: every document, its text typography-folded
    and PII-redacted first, so the filters, both dedup stages and the
    benchmark match all see one normal form (a curly-quoted benchmark
    twin of a training doc must still match it). A rewrite only — no
    document is dropped."""
    return docs.withColumn("text", TX.scrub_pii(TX.normalize_text(F.col("text"))))


def bench_docs(src: DataFrame) -> DataFrame:
    """The decontamination benchmark: the ``doc_id % BENCH_MOD == 0``
    stratum of the funnel input — derived, so both engines build the
    identical eval set with no side state."""
    return src.filter(F.col("doc_id") % BENCH_MOD == 0).select("doc_id", "text")


@dataclass
class FunnelRun:
    """State of one pass over :data:`STAGES`: the benchmark the
    decontamination stage reads, and the near-dup pair graph the cluster
    stage leaves behind (``edges`` (id_a, id_b) and ``comp`` (doc_id,
    cluster_id) over the exact-dedup survivors) for callers that reuse
    it — the registry's cluster-keyed split, the scale invariants."""

    bench: DataFrame
    edges: DataFrame | None = None
    comp: DataFrame | None = None


@dataclass(frozen=True)
class Stage:
    """One funnel stage: ``name`` is its row in the registry funnel,
    ``zone`` the pipeline zone whose write runs it. A filter stage has a
    ``keep`` predicate builder (a Column needs an active session, so it
    is built per use); every other stage a ``step``."""

    name: str
    zone: str
    keep: Callable[[], Column] | None = None
    step: Callable[[DataFrame, FunnelRun], DataFrame] | None = None

    def apply(self, df: DataFrame, run: FunnelRun) -> DataFrame:
        return df.filter(self.keep()) if self.keep else self.step(df, run)


def _collapse_near_dups(df: DataFrame, run: FunnelRun) -> DataFrame:
    # connected components over the exact-Jaccard pair graph; keep the
    # min-id representative — pairwise detection alone can't collapse
    # chained duplicates A~B~C to one survivor
    run.edges = ngram_jaccard_pairs(
        df, "doc_id", "text", n=NGRAM_N, min_jaccard=MIN_JACCARD
    ).select("id_a", "id_b")
    run.comp = near_dup_clusters(df.select("doc_id"), "doc_id", run.edges)
    return df.join(
        run.comp.filter(F.col("cluster_id") == F.col("doc_id")).select("doc_id"), "doc_id"
    )


def _decontaminate(df: DataFrame, run: FunnelRun) -> DataFrame:
    # drop benchmark members and docs sharing >= DECON_MIN_OVERLAP
    # distinct word-n-grams with the benchmark (the GPT-3-style scrub)
    return decontaminate(
        df.filter(F.col("doc_id") % BENCH_MOD != 0),
        run.bench,
        "doc_id",
        "text",
        n=NGRAM_N,
        min_overlap=DECON_MIN_OVERLAP,
    )


STAGES: tuple[Stage, ...] = (
    Stage("lang_en", "clean", keep=lambda: TX.lang_id("text") == LANG),
    Stage(
        "quality",
        "clean",
        keep=lambda: (TX.quality_score("text") >= MIN_QUALITY)
        & (TX.repeated_token_fraction("text") <= MAX_REPETITION),
    ),
    Stage("dedup", "dedup", step=lambda df, run: dedup_exact(df, ["text"], order_by=["doc_id"])),
    Stage("cluster_dedup", "dedup", step=_collapse_near_dups),
    Stage("decontaminated", "decontaminated", step=_decontaminate),
)


def fold_stages(docs: DataFrame) -> tuple[dict[str, DataFrame], FunnelRun]:
    """Every stage's output over ``docs`` (doc_id, text, ...), by stage
    name, and the run state. Lazy but for the cluster stage, whose
    components are computed (and pinned) as it is folded."""
    src = funnel_input(docs)
    run = FunnelRun(bench_docs(src))
    frames: dict[str, DataFrame] = {}
    for stage in STAGES:
        src = frames[stage.name] = stage.apply(src, run)
    return frames, run


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def run_corpus_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    run_utc: str = "1970-01-01T00:00:00Z",
    force: bool = False,
) -> dict[str, TaskResult]:
    """Run the curation DAG; returns every task's :class:`TaskResult`
    (value = rows written, None when skipped). Zone readers load the
    PREVIOUS zone's parquet, so each stage is restartable in isolation."""
    src = funnel_input(load_table(spark, sf_dir, "documents"))
    run = FunnelRun(bench_docs(src))
    survivors: dict[str, int] = {}  # per filter stage, from the clean write

    def _zone(name: str) -> str:
        return os.path.join(out_dir, name)

    def _write(df, name: str, partition_by: list[str] | None = None) -> int:
        # rows-written observed during the write job itself (no zone
        # read-back — at corpus scale that second scan is the cost of
        # the write again); tests/test_corpus_pipeline.py keeps its own
        # independent read-back counts as the external check.
        return observed_write_parquet(df, _zone(name), partition_by=partition_by)

    def _clean(upstream: dict) -> int:
        kept, obs = instrument_funnel(
            src, [(s.name, s.keep()) for s in STAGES if s.zone == "clean"]
        )
        n = _write(
            kept.select(
                "doc_id", "text", "lang", "source",
                TX.token_count("text").cast("bigint").alias("n_tokens"),
            ),
            "clean",
        )
        survivors.update(funnel_counts(obs))
        return n

    def _fold(zone: str, prev: str):
        def fn(upstream: dict) -> int:
            df = spark.read.parquet(_zone(prev))
            for stage in STAGES:
                if stage.zone == zone:
                    df = stage.apply(df, run)
            return _write(df, zone)

        return fn

    zones = list(dict.fromkeys(s.zone for s in STAGES))
    last = zones[-1]

    def _packed(upstream: dict) -> int:
        docs = spark.read.parquet(_zone(last))
        packed = pack_sequences(
            docs.select("doc_id", F.col("n_tokens").alias("nt")),
            "doc_id",
            "nt",
            PACK_LEN,
        )
        return _write(packed, "packed")

    def _shards(upstream: dict) -> int:
        docs = spark.read.parquet(_zone(last))
        ranked = global_shuffle_rank(docs, "doc_id", seed=SHUFFLE_SEED)
        sharded = ranked.withColumn("shard", F.expr(f"shuffle_rank div {SHARD_SIZE}"))
        return _write(sharded, "shards", partition_by=["shard"])

    def _manifest(upstream: dict) -> int:
        written = {k: v for k, v in upstream.items() if isinstance(v, int)}
        write_run_manifest(
            spark,
            _zone("manifest"),
            job_name="corpus_pipeline",
            run_utc=run_utc,
            inputs={"sf_dir": sf_dir},
            outputs={z: _zone(z) for z in written},
            stats={**survivors, **written},
        )
        return 1

    def _task(name, fn, upstream):
        return DagTask(
            name=name,
            fn=fn,
            upstream=upstream,
            skip_if=(None if force else lambda p=_zone(name): _done(p)),
        )

    tasks = [DagTask("start", lambda u: None), _task("clean", _clean, ["start"])]
    tasks += [_task(z, _fold(z, prev), [prev]) for prev, z in zip(zones, zones[1:])]
    # parallel fan-out: chunk assignment and shard publication are
    # independent consumers of the last filtering zone
    tasks += [_task("packed", _packed, [last]), _task("shards", _shards, [last])]
    zone_names = [t.name for t in tasks if t.name != "start"]
    tasks.append(DagTask("manifest", _manifest, upstream=zone_names))
    return run_dag(tasks)
