"""Physical-plan quality gates — the 100 TB posture, asserted.

These tests pin the *shape* of the plans, not just their output:
dims broadcast, no Python UDFs anywhere, parquet filter/column
pushdown reaching the scan, AQE on.
"""

import pytest
from conftest import SF_SMALL

import __spark_entry__ as entrymod
from adi_226_datawarehouse_project_spark.model.star import register_star_views
from adi_226_datawarehouse_project_spark.plans.golden import GOLDEN_QUERIES
from adi_226_datawarehouse_project_spark.sources.catalog import load_table

from pyspark.sql import functions as F


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_golden_star_joins_broadcast_dims(spark):
    register_star_views(spark, SF_SMALL)
    plan = _physical(spark.sql(GOLDEN_QUERIES["g01_complaints_by_borough_pct"]))
    assert "BroadcastHashJoin" in plan  # dims must broadcast, never SMJ
    assert "SortMergeJoin" not in plan


@pytest.fixture(scope="module")
def declared_plans(spark) -> dict[str, str]:
    """Executed plan of every declared query, built once: eager pins
    run jobs while a query is built, so each build is paid once for
    all the plan gates below."""
    return {
        name: _physical(fn(spark, SF_SMALL)) for name, fn in entrymod.queries().items()
    }


def test_no_python_udf_in_any_declared_query(declared_plans):
    for name, plan in declared_plans.items():
        assert "BatchEvalPython" not in plan, f"{name} uses a row-wise Python UDF"


def test_no_cartesian_product_in_any_declared_query(declared_plans):
    """Every candidate generator must be an equi-join (LSH bands, SRP
    buckets, IVF cells, hashed shingles): no declared query's plan may
    contain a CartesianProduct. The one sanctioned all-pairs query
    (sim_near_dup_exact) runs as a broadcast nested-loop with the
    cosine threshold pushed into the join condition — also not a
    CartesianProduct node."""
    for name, plan in declared_plans.items():
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


def test_banded_near_dup_joins_on_buckets(spark):
    """embedding_near_dup_pairs must generate candidates via the banded
    bucket equi-join (hash-partitioned on band+bucket), never a
    signature-free cross join; the pair-dedup shuffle carries bare ids
    (no vector columns in the dedup exchange)."""
    from adi_226_datawarehouse_project_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    plan = _physical(embedding_near_dup_pairs(emb, "vec_id", "embedding"))
    assert "CartesianProduct" not in plan
    assert "band" in plan and "bucket" in plan  # candidate equi-join keys
    # pair dedup physicalizes as a HashAggregate keyed on the bare id
    # pair — if a vector column ever appears among the keys, the dedup
    # shuffle is carrying 512-byte arrays instead of 16-byte rows
    import re

    dedup_keys = re.findall(r"HashAggregate\(keys=\[(id_a[^\]]*)\]", plan)
    assert dedup_keys, "pair dedup must be a HashAggregate on id_a/id_b"
    for keys in dedup_keys:
        assert "embedding" not in keys and "__v" not in keys


def test_parquet_filter_pushdown(spark):
    li = load_table(spark, SF_SMALL, "lineitem").filter(F.col("l_quantity") > 49).select(
        "l_orderkey", "l_quantity"
    )
    plan = _physical(li)
    assert "PushedFilters: [" in plan and "l_quantity" in plan.split("PushedFilters")[1][:200]
    # column pruning: the scan must read only the 2 referenced columns
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_extendedprice" not in read_schema


def test_aqe_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_wholestage_codegen_in_agg_plan(spark):
    li = load_table(spark, SF_SMALL, "lineitem")
    agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    agg.collect()  # finalize the adaptive plan first
    plan = _physical(agg)
    # `*(n)` prefixes mark WholeStageCodegen spans in simpleString form.
    assert "*(" in plan and "HashAggregate" in plan


def test_approx_count_distinct_error_bound(spark):
    """HLL++ sketch (the COUNT(DISTINCT) scale escape hatch) must track
    the exact count within its documented default rsd (5%)."""
    li = load_table(spark, SF_SMALL, "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_partkey").alias("approx"),
        F.countDistinct("l_partkey").alias("exact"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) <= max(0.05 * row["exact"], 10)


def test_approx_percentile_accuracy(spark):
    from adi_226_datawarehouse_project_spark.sources.catalog import load_table
    from conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem")
    row = li.agg(
        F.expr("approx_percentile(l_extendedprice, 0.5, 10000)").alias("approx"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) <= 0.01 * row["exact"]
