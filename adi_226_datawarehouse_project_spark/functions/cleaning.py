"""Cleaning & enrichment column functions (DataFrame surface).

The reference's cleaning layer re-expressed as composable Column
functions (SURVEY §2.2/§2.9): text normalization
(`glue_job_clean_311.py:127-129`), bounding-box filters (`:24-25,
122-126`), currency parsing with try-cast semantics
(`airbnb_clean_data.py:46-48`), and the expected-columns schema
contract (`glue_job_clean_311.py:101-111`). Multi-format timestamp
parsing (`:40-46`) and the timezone conversion (`:120-121`) are SQL
text in `dialect.parse_timestamp` / `dialect.to_utc`, the forms the
star model runs.

All pure `pyspark.sql.functions` — JVM-side, codegen-friendly, no
Python UDFs anywhere in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NYC_BBOX = {"min_lat": 40.4, "max_lat": 41.0, "min_lon": -74.3, "max_lon": -73.7}


def normalize_upper(col: Column | str) -> Column:
    """TRIM + UPPER pre-join normalization (F1)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.upper(F.trim(c))


def normalize_lower(col: Column | str) -> Column:
    """TRIM + lower (F2, geohash normalization)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(c))


def clean_currency(col: Column | str) -> Column:
    """'$1,234.56' → 1234.56 double; sentinels/garbage → NULL ('NaN'
    deliberately parses to NaN, matching the reference's
    errors='coerce' then string-sentinel behavior)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r"[$,]", "").try_cast("double")


def bbox_filter(
    df: DataFrame,
    lat: str = "latitude",
    lon: str = "longitude",
    *,
    min_lat: float = NYC_BBOX["min_lat"],
    max_lat: float = NYC_BBOX["max_lat"],
    min_lon: float = NYC_BBOX["min_lon"],
    max_lon: float = NYC_BBOX["max_lon"],
) -> DataFrame:
    """Not-null + bounding-box filter (P3+P4). Plain comparisons so the
    predicate pushes into the parquet scan."""
    la, lo = F.col(lat), F.col(lon)
    return df.filter(
        la.isNotNull()
        & lo.isNotNull()
        & (la >= min_lat)
        & (la <= max_lat)
        & (lo >= min_lon)
        & (lo <= max_lon)
    )


def ensure_columns(df: DataFrame, expected: list[str], dtype: str = "string") -> DataFrame:
    """Schema contract: add any missing expected column as typed NULL
    (P1, `glue_job_clean_311.py:101-111`)."""
    out = df
    for c in expected:
        if c not in out.columns:
            out = out.withColumn(c, F.lit(None).cast(dtype))
    return out


def nullif_blank(col: Column | str) -> Column:
    """NULLIF(TRIM(x), '') (P14, `nyc_hybrid_etl_pipeline.py:165`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(F.trim(c), F.lit(""))


def duration_hours(start: Column | str, end: Column | str) -> Column:
    """Epoch-seconds difference in hours, NULL while open (F11/P13)."""
    s = F.col(start) if isinstance(start, str) else start
    e = F.col(end) if isinstance(end, str) else end
    return F.when(e.isNotNull(), (e.cast("double") - s.cast("double")) / 3600.0)


def date_key(col: Column | str) -> Column:
    """Date → YYYYMMDD int surrogate (F9)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyyMMdd").cast("int")
