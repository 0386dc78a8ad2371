"""Parquet sink options: the column bloom filter reaches the file."""

import os

from pyspark.sql import functions as F

BASE = "/tmp/spark_graft_io/test_formats"


def test_parquet_bloom_filter_written_and_values_intact(spark):
    """The bloom knob must reach parquet-mr: the bloom-enabled file is
    measurably larger (the serialized filter) for IDENTICAL data and
    values roundtrip unchanged."""
    import glob

    from adi_226_datawarehouse_project_spark.sources.writers import write_parquet

    df = (
        spark.range(200000)
        .withColumn("k", F.xxhash64("id") % 150000)
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    write_parquet(df, f"{BASE}/nobloom")
    write_parquet(
        df, f"{BASE}/bloom", bloom_filter_cols=["k"], bloom_ndv=150000
    )

    def _bytes(d):
        return sum(
            os.path.getsize(p) for p in glob.glob(f"{d}/*.parquet")
        )

    plain, bloomed = _bytes(f"{BASE}/nobloom"), _bytes(f"{BASE}/bloom")
    # a 150k-ndv bloom filter is ~180KB; demand a clearly-present delta
    assert bloomed - plain > 50_000, (plain, bloomed)
    got = spark.read.parquet(f"{BASE}/bloom").agg(
        F.count(F.lit(1)).alias("n"), F.sum("k").alias("s")
    ).collect()[0]
    want = df.agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("s")).collect()[0]
    assert (got["n"], got["s"]) == (want["n"], want["s"])
