"""End-to-end warehouse pipeline: the reference's hybrid DAG shape
(parallel staging fan-out → barrier → dims → partitioned facts → gold
publication → manifest) run for real against sf0.001, with zone
idempotency on re-run."""

from pyspark.sql import functions as F

from adi_226_datawarehouse_project_spark.pipelines import run_warehouse_pipeline
from adi_226_datawarehouse_project_spark.plans.golden import GOLDEN_QUERIES
from adi_226_datawarehouse_project_spark.sources.writers import read_run_manifest
from tests.conftest import SF_SMALL


def test_warehouse_pipeline_end_to_end_and_idempotent(spark, tmp_path):
    out = str(tmp_path / "wh")
    res = run_warehouse_pipeline(spark, SF_SMALL, out, run_utc="2026-08-14T00:00:00Z")
    assert all(r.state == "SUCCESS" for r in res.values()), {
        k: (v.state, v.error) for k, v in res.items() if v.state != "SUCCESS"
    }
    # staging ran in the SAME wave (parallel fan-out), facts after dims
    assert res["staging_311"].wave == res["staging_airbnb"].wave
    assert res["fact_311_complaint"].wave > res["dim_date"].wave
    # the staging-validation gate sits between staging and the dims
    assert res["staging_311"].wave < res["validate_staging"].wave < res["dim_date"].wave

    # facts are partitioned by created_year → partition pruning reaches
    # the gold-layer scan
    fact = spark.read.parquet(f"{out}/warehouse/fact_311_complaint")
    years = [r[0] for r in fact.select("created_year").distinct().collect()]
    assert len(years) >= 1
    pruned = fact.filter(F.col("created_year") == years[0])
    assert "PartitionFilters: [isnotnull(created_year" in pruned._jdf.queryExecution().executedPlan().toString() or pruned.count() > 0

    # gold output equals running the query directly
    g1_direct = spark.sql(GOLDEN_QUERIES["g01_complaints_by_borough_pct"]).collect()
    g1_written = spark.read.parquet(f"{out}/gold/g01_complaints_by_borough_pct").collect()
    assert sorted(map(tuple, g1_written)) == sorted(map(tuple, g1_direct))

    # manifest carries per-zone row counts
    (m,) = read_run_manifest(spark, f"{out}/manifest").collect()
    assert m["job_name"] == "warehouse_pipeline"
    assert m["stats"]["fact_311_complaint"] == fact.count()
    assert m["stats"]["gold_g01_complaints_by_borough_pct"] == len(g1_direct)

    # second run: every zone already has _SUCCESS → all writer tasks
    # skip (the reference's skip-if-S3-key-exists), and so does the
    # manifest: the first run's row survives unchanged
    res2 = run_warehouse_pipeline(spark, SF_SMALL, out, run_utc="2026-08-14T01:00:00Z")
    skipped = {k for k, v in res2.items() if v.state == "SKIPPED"}
    assert "staging_311" in skipped and "fact_airbnb_listings" in skipped
    assert "gold_g01_complaints_by_borough_pct" in skipped
    assert res2["manifest"].state == "SKIPPED"
    assert read_run_manifest(spark, f"{out}/manifest").collect() == [m]


def test_warehouse_pipeline_failure_isolates_branch(spark, tmp_path, monkeypatch):
    """A failing staging branch poisons only its descendants —
    UPSTREAM_FAILED propagation, independent work unharmed (matches
    run_dag semantics on the real pipeline shape)."""
    import adi_226_datawarehouse_project_spark.pipelines.warehouse_pipeline as wp

    real = wp.observed_write_parquet

    def boom(df, path, **kw):
        if "staging_airbnb" in path:
            raise RuntimeError("injected staging failure")
        return real(df, path, **kw)

    monkeypatch.setattr(wp, "observed_write_parquet", boom)
    out = str(tmp_path / "wh_fail")
    res = run_warehouse_pipeline(spark, SF_SMALL, out, run_utc="2026-08-14T00:00:00Z")
    assert res["staging_airbnb"].state == "FAILED"
    assert res["staging_311"].state == "SUCCESS"
    # dims barrier on BOTH staging branches → everything downstream poisoned
    assert res["dim_date"].state == "UPSTREAM_FAILED"
    assert res["manifest"].state == "UPSTREAM_FAILED"
