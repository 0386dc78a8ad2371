"""Source readers (SURVEY §2.1 S1-S9) — schema-contract CSV/JSON/
parquet scans re-expressed Spark-first.

The reference reads raw JSON with multiline array files and falls back
to header+inferSchema CSV when JSON parsing fails
(`glue_job_clean_311.py:96-98`), then pads a fixed expected-columns
contract with typed NULLs (`:101-111`). Here the same policy is a
library: every reader returns a DataFrame already conforming to the
declared contract, so downstream operators never branch on source
shape.

Formats are the reference's three: CSV, JSON and parquet.

Scale: all readers are plain DataFrameReader scans — Catalyst pushes
filters/projections into them; explicit schemas (when given) skip the
inference pass, which at 100 TB is the difference between one job and
two.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.cleaning import ensure_columns


def read_csv(
    spark: SparkSession,
    path: str,
    expected_cols: list[str] | None = None,
    schema=None,
    header: bool = True,
    infer: bool = True,
) -> DataFrame:
    """CSV scan (S2/S3/S5). With `schema` the inference pass is
    skipped (preferred at scale); `expected_cols` pads the contract."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    df = reader.csv(path)
    return ensure_columns(df, expected_cols) if expected_cols else df


def read_json(
    spark: SparkSession,
    path: str,
    expected_cols: list[str] | None = None,
    schema=None,
    multiline: bool = True,
) -> DataFrame:
    """JSON scan (S4/S6/S9): multiLine for array-of-objects files (the
    reference's raw zone shape), schema-inferred unless given."""
    reader = spark.read.option("multiLine", str(multiline).lower())
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.json(path)
    return ensure_columns(df, expected_cols) if expected_cols else df


def read_json_with_csv_fallback(
    spark: SparkSession,
    path: str,
    expected_cols: list[str] | None = None,
) -> DataFrame:
    """The reference's defensive source policy (S4+S5,
    `glue_job_clean_311.py:96-98`): try multiline JSON; if the parse
    yields a corrupt-record-only frame or throws, re-read as
    header+inferSchema CSV."""
    try:
        df = read_json(spark, path, multiline=True)
        if df.columns in ([], ["_corrupt_record"]):
            raise ValueError("JSON parse produced no usable columns")
    except Exception:  # noqa: BLE001 — any parse failure falls back
        df = read_csv(spark, path, header=True, infer=True)
    return ensure_columns(df, expected_cols) if expected_cols else df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan (S7/S8) — vectorized reader, row-group skipping."""
    return spark.read.parquet(path)
