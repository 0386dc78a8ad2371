"""Geohash native expression vs the pure-Python bisection oracle
(the reference's algorithm, `glue_job_clean_311.py:51-86`)."""

import random

from pyspark.sql import functions as F
from pyspark.sql import types as T

from adi_226_datawarehouse_project_spark.functions.geohash import (
    encode_geohash_py,
    geohash_sql,
)


def _gh(precision=7):
    """The star's Spark form: the dialect-rendered SQL as a Column."""
    return F.expr(geohash_sql("lat", "lon", precision)).alias("gh")


def _check_points(spark, pts, precision=7):
    schema = T.StructType(
        [T.StructField("lat", T.DoubleType()), T.StructField("lon", T.DoubleType())]
    )
    df = spark.createDataFrame(pts, schema)
    got = [r["gh"] for r in df.select(_gh(precision)).collect()]
    want = [encode_geohash_py(la, lo, precision) for la, lo in pts]
    assert got == want


def test_random_world_points(spark):
    rng = random.Random(1234)
    pts = [(rng.uniform(-90, 90), rng.uniform(-180, 180)) for _ in range(500)]
    _check_points(spark, pts)


def test_nyc_bbox_points(spark):
    rng = random.Random(99)
    pts = [(rng.uniform(40.4, 41.0), rng.uniform(-74.3, -73.7)) for _ in range(500)]
    _check_points(spark, pts)


def test_known_value(spark):
    # Public geohash test vectors (Wikipedia): u4pruy / ezs42.
    _check_points(spark, [(57.64911, 10.40744), (42.6, -5.6)], precision=5)
    assert encode_geohash_py(57.64911, 10.40744, 6) == "u4pruy"
    assert encode_geohash_py(42.6, -5.6, 5) == "ezs42"


def test_null_propagates(spark):
    df = spark.createDataFrame(
        [(None, -73.9), (40.7, None), (40.7, -73.9)],
        T.StructType(
            [T.StructField("lat", T.DoubleType()), T.StructField("lon", T.DoubleType())]
        ),
    )
    got = [r["gh"] for r in df.select(_gh()).collect()]
    assert got[0] is None and got[1] is None and got[2] is not None


def test_no_python_udf_in_plan(spark):
    df = spark.range(10).select(
        (F.col("id") * 0.001 + 40.5).alias("lat"), (F.col("id") * 0.001 - 74.0).alias("lon")
    )
    out = df.select(_gh())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
