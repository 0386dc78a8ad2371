"""Cleaning column functions (SURVEY §2.2/§2.9)."""

import datetime

from pyspark.sql import functions as F

from adi_226_datawarehouse_project_spark import dialect as D
from adi_226_datawarehouse_project_spark.functions.cleaning import (
    bbox_filter,
    clean_currency,
    date_key,
    duration_hours,
    ensure_columns,
    normalize_lower,
    normalize_upper,
    nullif_blank,
)


def _one(df, col):
    return df.select(col.alias("v")).collect()[0]["v"]


def test_clean_currency(spark):
    df = spark.createDataFrame(
        [("$1,234.56",), ("99",), ("garbage",), ("",), (None,)], ["price"]
    )
    got = [r["v"] for r in df.select(clean_currency("price").alias("v")).collect()]
    assert got[0] == 1234.56 and got[1] == 99.0
    assert got[2] is None and got[3] is None and got[4] is None


def test_parse_timestamp_multi_formats(spark):
    """The star's F5 parse (dialect.parse_timestamp, Spark form): the
    four reference formats through the structural dispatch and the
    try-parse cascade, NULL for anything else."""
    rows = [
        ("2024-03-01T10:20:30.123",),
        ("2024-03-01T10:20:30",),
        ("03/01/2024 10:20:30 AM",),
        ("3/1/2024 1:02:03 PM",),
        ("not a time",),
    ]
    df = spark.createDataFrame(rows, ["s"])
    parsed = F.expr(D.parse_timestamp(D.SPARK, "s"))
    got = [r["v"] for r in df.select(parsed.alias("v")).collect()]
    assert got[0] == datetime.datetime(2024, 3, 1, 10, 20, 30, 123000)
    assert got[1] == datetime.datetime(2024, 3, 1, 10, 20, 30)
    assert got[2] == datetime.datetime(2024, 3, 1, 10, 20, 30)
    assert got[3] == datetime.datetime(2024, 3, 1, 13, 2, 3)
    assert got[4] is None


def test_to_utc(spark):
    """The star's F6 conversion (dialect.to_utc, Spark form)."""
    df = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 15, 12, 0, 0),), (datetime.datetime(2024, 7, 15, 12, 0, 0),)],
        ["ts"],
    )
    got = [r["v"] for r in df.select(F.expr(D.to_utc(D.SPARK, "ts")).alias("v")).collect()]
    # America/New_York is UTC-5 in January and UTC-4 (DST) in July.
    assert got == [
        datetime.datetime(2024, 1, 15, 17, 0, 0),
        datetime.datetime(2024, 7, 15, 16, 0, 0),
    ]


def test_normalize_and_nullif(spark):
    df = spark.createDataFrame([("  BrOOKlyn  ",), ("   ",)], ["b"])
    up = [r["v"] for r in df.select(normalize_upper("b").alias("v")).collect()]
    lo = [r["v"] for r in df.select(normalize_lower("b").alias("v")).collect()]
    nb = [r["v"] for r in df.select(nullif_blank("b").alias("v")).collect()]
    assert up == ["BROOKLYN", ""]
    assert lo == ["brooklyn", ""]
    assert nb == ["BrOOKlyn", None]


def test_bbox_filter(spark):
    df = spark.createDataFrame(
        [(40.7, -74.0), (39.0, -74.0), (40.7, -80.0), (None, -74.0)],
        ["latitude", "longitude"],
    )
    assert bbox_filter(df).count() == 1


def test_ensure_columns_adds_typed_nulls(spark):
    df = spark.createDataFrame([(1,)], ["a"])
    out = ensure_columns(df, ["a", "b", "c"])
    assert out.columns == ["a", "b", "c"]
    assert dict(out.dtypes)["b"] == "string"
    row = out.collect()[0]
    assert row["b"] is None and row["c"] is None


def test_duration_hours_and_date_key(spark):
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    t1 = datetime.datetime(2024, 1, 1, 6, 0, 0)
    df = spark.createDataFrame([(t0, t1), (t0, None)], ["s", "e"])
    got = [r["v"] for r in df.select(duration_hours("s", "e").alias("v")).collect()]
    assert got[0] == 6.0 and got[1] is None
    assert _one(df.limit(1), date_key(F.to_date("s"))) == 20240101
