"""The reference's END-TO-END pipeline as one orchestrated run: the
hybrid DAG (`nyc_hybrid_etl_pipeline.py:403-408` — `start >>
[trigger_airbnb, run_glue_311]`, sync barrier, warehouse load, gold
publication) re-expressed over this engine's operators and the
`orchestration.run_dag` executor.

Zone layout written under ``out_dir`` (the reference's S3 medallion:
raw → staging → warehouse → gold, `glue_job_clean_311.py` /
`Glue job to merge 311 Airbnb.py`):

    staging/staging_311/            cleaned 311 (parquet)
    staging/staging_airbnb/         cleaned listings (parquet)
    warehouse/<dim|fact tables>/    star schema; facts partitioned by
                                    created_year (partition pruning)
    gold/<golden query names>/      published query results
    manifest/                       nested-struct run manifest (K5+)

DAG semantics exercised for real: parallel staging fan-out (two
concurrent Spark jobs — Spark co-schedules driver-thread submissions
over one executor pool), a sync barrier before the warehouse wave,
per-task ``skip_if`` idempotency (a completed zone — `_SUCCESS`
marker — is never rewritten unless ``force=True``, the reference's
skip-if-S3-key-exists), and row-count stats flowing downstream into
the manifest. Failures propagate as UPSTREAM_FAILED without raising,
so a partial run is inspectable and resumable — rerunning after a
fix skips the completed zones.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions import quality_checks as QC
from ..model.star import _REGISTER_WAVES, register_star_views
from ..orchestration.dag import DagTask, TaskResult, run_dag
from ..plans.golden import GOLDEN_QUERIES
from ..sources.observe import observed_write_parquet
from ..sources.writers import write_run_manifest


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def run_warehouse_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    goldens: tuple[str, ...] = ("g01_complaints_by_borough_pct", "g02_top_complaint_types"),
    run_utc: str = "1970-01-01T00:00:00Z",
    force: bool = False,
) -> dict[str, TaskResult]:
    """Run the full medallion pipeline; returns every task's
    :class:`TaskResult` (value = rows written, or None when skipped).
    ``run_utc`` is caller-supplied so runs are reproducible (no hidden
    clock read); pass a real timestamp in production."""
    register_star_views(spark, sf_dir)
    # The star's dependency waves after raw: staging, dims, facts.
    _, staging, dims, facts = _REGISTER_WAVES

    def _writer(
        table: str,
        zone: str,
        partition_expr: tuple[str, str] | None = None,
    ):
        """partition_expr = (column_name, SQL expr) derives the
        partition column at write time — facts carry surrogate date
        KEYS, not calendar columns, so the hive layout column is
        computed from the key (yyyymmdd key div 10000 → year)."""
        path = os.path.join(out_dir, zone, table)

        def fn(upstream: dict) -> int:
            df = spark.table(table)
            pb = None
            if partition_expr:
                name, expr = partition_expr
                df = df.withColumn(name, F.expr(expr))
                pb = [name]
            # rows-written observed during the write job — replaces the
            # original read-back count (a full second scan per zone)
            return observed_write_parquet(df, path, partition_by=pb)

        return DagTask(
            name=table,
            fn=fn,
            skip_if=(None if force else lambda p=path: _done(p)),
        )

    def _golden(name: str):
        path = os.path.join(out_dir, "gold", name)

        def fn(upstream: dict) -> int:
            df = spark.sql(GOLDEN_QUERIES[name])
            return observed_write_parquet(df, path)

        return DagTask(
            name=f"gold_{name}",
            fn=fn,
            upstream=list(facts),  # the facts already wait on every dim
            skip_if=(None if force else lambda p=path: _done(p)),
        )

    manifest_path = os.path.join(out_dir, "manifest")

    def _manifest(upstream: dict) -> int:
        stats = {k: v for k, v in upstream.items() if isinstance(v, int)}
        write_run_manifest(
            spark,
            manifest_path,
            job_name="warehouse_pipeline",
            run_utc=run_utc,
            inputs={"sf_dir": sf_dir},
            outputs={
                "staging": os.path.join(out_dir, "staging"),
                "warehouse": os.path.join(out_dir, "warehouse"),
                "gold": os.path.join(out_dir, "gold"),
            },
            stats=stats,
        )
        return 1

    def _validate(upstream: dict) -> int:
        """The reference's staging-validation gate (`README.md:179`
        'Data validated in staging tables before production load'):
        hard invariants of the cleaning chain, checked on the WRITTEN
        staging zone in one aggregation pass per table (+ one grouped
        pass for the exact key-uniqueness check). A violation raises,
        so every downstream wave goes UPSTREAM_FAILED instead of
        loading a malformed warehouse."""
        s311 = spark.read.parquet(os.path.join(out_dir, "staging", "staging_311"))
        report = QC.require(
            s311,
            [
                QC.non_empty(),
                QC.not_null("unique_key"),
                QC.unique("unique_key"),
                QC.in_range("latitude", 40.4, 41.0),
                QC.in_range("longitude", -74.3, -73.7),
            ],
        )
        # airbnb staging keeps the reference's semantics: non-null id +
        # coords, full-row DISTINCT (id may legitimately repeat — the
        # documented non-deduplicated-dims quirk — and no bbox filter
        # is applied on this branch), so the gate checks exactly what
        # the cleaning chain guarantees.
        sab = spark.read.parquet(os.path.join(out_dir, "staging", "staging_airbnb"))
        report += QC.require(
            sab,
            [
                QC.non_empty(),
                QC.not_null("id"),
                QC.not_null("latitude"),
                QC.not_null("longitude"),
            ],
        )
        return len(report)

    tasks: list[DagTask] = [DagTask("start", lambda u: None)]
    # wave 1: parallel staging fan-out (the `[trigger_airbnb, run_glue_311]` branch)
    for t in staging:
        task = _writer(t, "staging")
        task.upstream = ["start"]
        tasks.append(task)
    # wave 1.5: staging validation gate (no skip_if — the gate re-runs
    # every time; it is cheap relative to the loads it protects)
    tasks.append(DagTask("validate_staging", _validate, upstream=list(staging)))
    # wave 2: dims — barrier on both staging branches via the gate
    for t in dims:
        task = _writer(t, "warehouse")
        task.upstream = ["validate_staging"]
        tasks.append(task)
    # wave 3: facts, partitioned for pruning at the gold layer
    fact_parts = {
        "fact_311_complaint": ("created_year", "created_date_key DIV 10000"),
        "fact_airbnb_listings": ("scrape_year", "year(scraped_date)"),
    }
    for t in facts:
        task = _writer(t, "warehouse", partition_expr=fact_parts[t])
        task.upstream = list(dims)
        tasks.append(task)
    # wave 4: gold publication
    tasks.extend(_golden(g) for g in goldens)
    # wave 5: manifest with every zone's row counts; it skips like a
    # zone, so a re-run that skipped every zone keeps the first run's row
    tasks.append(
        DagTask(
            "manifest",
            _manifest,
            upstream=[t.name for t in tasks if t.name not in ("start",)],
            skip_if=(None if force else lambda p=manifest_path: _done(p)),
        )
    )
    return run_dag(tasks)
