"""DataFrame-API forms of the ten golden queries (SURVEY §7.2(5): the
golden suite exists in BOTH SQL and DataFrame forms and they must
agree). The SQL forms (`golden.py`) carry the DuckDB oracle; these
builders are pinned row-identical to them by `tests/test_golden_df.py`,
so both surfaces inherit the oracle's authority.

The two forms share the same plan shape (same join graph, same
exact-cents money paths, same window-over-aggregate two-phase shape,
and — since round 11 — the same aggregate-below-join rewrite for the
geohash family g04–g08), so everything in golden.py's scale notes
applies to both surfaces. Earlier rounds kept g04–g06 in the naive
fact⋈dim m:n form here; that silently re-introduced the 3.9-billion-
pair blowup golden.py documents (its g04 note) on the DataFrame
surface. The naive↔rewrite value equivalence is pinned separately in
tests/test_golden_rewrites.py, so nothing is lost by aligning the
shapes.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..model.star import register_star_views


def _cents(expr: Column) -> Column:
    return F.round(expr * 100, 0).cast("bigint")


def _price() -> Column:
    return F.expr("try_cast(price AS DOUBLE)")


def _price_ok() -> Column:
    return ~F.col("price").isin("NaN", "nan", "", "INF", "-INF") & _price().isNotNull()


def _g01(spark: SparkSession) -> DataFrame:
    # Alias-qualified join condition (r14): the star views store
    # ANALYZED plans (model/star.py), so the fact's lineage embeds the
    # same dim-plan instances the dim views hand out — a fact⋈dim join
    # is a shared-lineage self-join, and a bare Dataset-attribute
    # condition (loc.borough == b.borough_name) is ambiguous after
    # deduplication. Qualifying through explicit aliases is the
    # standard Spark idiom for joins over shared lineage; string-key
    # (USING) joins resolve by name and need nothing.
    f = spark.table("fact_311_complaint")
    loc = spark.table("dim_311_location").alias("__loc")
    b = spark.table("dim_311_borough").alias("__b")
    agg = (
        f.join(loc, "location_key")
        .join(b, F.col("__loc.borough") == F.col("__b.borough_name"))
        .groupBy(F.col("borough_name").alias("borough"))
        .agg(F.count("*").alias("total_complaints"))
    )
    pct = F.round(
        F.col("total_complaints").cast("double")
        * 100.0
        / F.sum("total_complaints").over(Window.partitionBy()).cast("double"),
        2,
    )
    return agg.withColumn("percentage", pct).orderBy(
        F.desc("total_complaints"), "borough"
    )


def _g02(spark: SparkSession) -> DataFrame:
    f = spark.table("fact_311_complaint")
    c = spark.table("dim_311_complaint")
    loc = spark.table("dim_311_location").alias("__loc")  # see _g01
    b = spark.table("dim_311_borough").alias("__b")
    return (
        f.join(c, "complaint_type_key")
        .join(loc, "location_key")
        .join(b, F.col("__loc.borough") == F.col("__b.borough_name"))
        .filter(F.col("complaint_type_name").isNotNull())
        .groupBy(
            F.col("complaint_type_name").alias("complaint_type"),
            F.col("borough_name").alias("borough"),
        )
        .agg(F.count("*").alias("complaint_count"))
        .orderBy(F.desc("complaint_count"), "complaint_type", "borough")
        .limit(20)
    )


def _g03(spark: SparkSession) -> DataFrame:
    f = spark.table("fact_311_complaint")
    a = spark.table("dim_311_agency")
    return (
        f.join(a, "agency_key")
        .filter(F.col("duration_hours").isNotNull())
        .groupBy("agency_name")
        .agg(
            F.count("*").alias("total_complaints"),
            F.round(F.avg("duration_hours"), 2).alias("avg_resolution_hours"),
            F.round(F.avg("duration_hours") / 24, 1).alias("avg_resolution_days"),
        )
        .orderBy(F.desc("total_complaints"), "agency_name")
    )


def _pair_avg_money(cents: Column, pairs: Column, alias: str) -> Column:
    """avg over the m:n pair count, recovered from per-cell partials:
    sum(cents·dcnt) / sum(cnt·dcnt) — exact integer math until the one
    final divide (mirrors golden.py's SQL text)."""
    return F.round(
        F.sum(cents).cast("bigint").cast("double")
        / F.sum(pairs).cast("bigint")
        / 100.0,
        2,
    ).alias(alias)


def _g04(spark: SparkSession) -> DataFrame:
    # Aggregate-below-join (golden.py g04 note): both sides roll up to
    # geohash grain BEFORE the m:n join; pair counts/sums are weighted
    # products of the per-cell partials.
    fa = (
        spark.table("fact_airbnb_listings")
        .filter(_price_ok())
        .groupBy("geohash")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(_cents(_price())).alias("cents"),
            F.min(_price()).alias("min_p"),
            F.max(_price()).alias("max_p"),
        )
    )
    da = (
        spark.table("dim_airbnb_location")
        .filter(F.col("borough").isNotNull())
        .groupBy("geohash", "borough")
        .agg(F.count("*").alias("dcnt"))
    )
    return (
        fa.join(da, "geohash")
        .groupBy("borough")
        .agg(
            F.sum(F.col("cnt") * F.col("dcnt")).cast("bigint").alias("total_listings"),
            _pair_avg_money(
                F.col("cents") * F.col("dcnt"), F.col("cnt") * F.col("dcnt"), "avg_price"
            ),
            F.min("min_p").alias("min_price"),
            F.max("max_p").alias("max_price"),
        )
        .orderBy(F.desc("total_listings"), "borough")
    )


def _g05(spark: SparkSession) -> DataFrame:
    # Same rewrite; the property LEFT JOIN is 1:1 on listing_id so it
    # stays below the fact-side aggregation (golden.py g05 note).
    f = spark.table("fact_airbnb_listings").alias("f")
    dp = spark.table("dim_airbnb_property").alias("dp")
    fa = (
        f.join(dp, F.col("f.listing_id") == F.col("dp.listing_id"), "left")
        .filter(_price_ok())
        .groupBy(
            F.col("f.geohash").alias("geohash"),
            F.coalesce(F.col("f.room_type"), F.col("dp.room_type")).alias("room_type"),
        )
        .agg(F.count("*").alias("cnt"), F.sum(_cents(_price())).alias("cents"))
    )
    da = (
        spark.table("dim_airbnb_location")
        .filter(F.col("borough").isNotNull())
        .groupBy("geohash", "borough")
        .agg(F.count("*").alias("dcnt"))
    )
    return (
        fa.join(da, "geohash")
        .groupBy("room_type", "borough")
        .agg(
            F.sum(F.col("cnt") * F.col("dcnt")).cast("bigint").alias("listing_count"),
            _pair_avg_money(
                F.col("cents") * F.col("dcnt"), F.col("cnt") * F.col("dcnt"), "avg_price"
            ),
        )
        .orderBy(F.desc("listing_count"), "room_type", "borough")
    )


def _g06(spark: SparkSession) -> DataFrame:
    # Same rewrite; avg divides by the PAIR count of non-null prices
    # (pcnt·dcnt), matching count(price) over the raw join exactly
    # (golden.py g06 note).
    fa = (
        spark.table("fact_airbnb_listings")
        .filter(~F.col("price").isin("NaN", "nan", "", "INF", "-INF"))
        .groupBy("geohash")
        .agg(
            F.count("*").alias("cnt"),
            F.count(_price()).alias("pcnt"),
            F.sum(_cents(_price())).alias("cents"),
            F.sum(_cents(F.coalesce(F.col("estimated_revenue_l365d"), F.lit(0)))).alias(
                "rev_cents"
            ),
        )
    )
    da = (
        spark.table("dim_airbnb_location")
        .groupBy("geohash", "neighbourhood_name", "borough")
        .agg(F.count("*").alias("dcnt"))
    )
    return (
        fa.join(da, "geohash")
        .groupBy(
            F.col("neighbourhood_name").alias("neighbourhood"),
            "borough",
        )
        .agg(
            F.sum(F.col("cnt") * F.col("dcnt")).cast("bigint").alias("listings"),
            _pair_avg_money(
                F.col("cents") * F.col("dcnt"), F.col("pcnt") * F.col("dcnt"), "avg_price"
            ),
            F.round(
                F.sum(F.col("rev_cents") * F.col("dcnt")).cast("bigint").cast("double")
                / 100.0,
                2,
            ).alias("est_total_revenue_l365d"),
        )
        .orderBy(F.desc("listings"), "neighbourhood", "borough")
        .limit(20)
    )


def _per_geohash_rollups(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """The aggregate-below-join rollups shared by g07/g08 (see
    golden.py's rewrite note)."""
    l311 = spark.table("dim_311_location")
    c = spark.table("fact_311_complaint")
    cg = (
        l311.join(c, "location_key")
        .groupBy(l311.geohash.alias("geohash"))
        .agg(F.countDistinct("complaint_id").alias("c_cnt"))
    )
    ag = (
        spark.table("fact_airbnb_listings")
        .groupBy("geohash")
        .agg(F.countDistinct("listing_id").alias("a_cnt"))
    )
    return cg, ag


def _g07(spark: SparkSession) -> DataFrame:
    cg, ag = _per_geohash_rollups(spark)
    g = (
        spark.table("dim_airbnb_location")
        .filter(F.col("borough").isNotNull())
        .select("geohash", "borough", F.col("neighbourhood_name").alias("neighbourhood"))
        .distinct()
    )
    joined = g.join(cg, "geohash", "left").join(ag, "geohash", "left")
    out = (
        joined.groupBy("borough", "neighbourhood")
        .agg(
            F.sum(F.coalesce(F.col("c_cnt"), F.lit(0))).cast("bigint").alias("complaint_count"),
            F.sum(F.coalesce(F.col("a_cnt"), F.lit(0))).cast("bigint").alias("airbnb_count"),
        )
        .withColumn(
            "airbnb_per_complaint",
            F.round(
                F.col("airbnb_count").cast("double")
                / F.nullif(F.col("complaint_count").cast("double"), F.lit(0.0)),
                4,
            ),
        )
    )
    return (
        out.filter(F.col("complaint_count") > 10)
        .orderBy(F.desc("airbnb_count"), "borough", "neighbourhood")
        .limit(50)
    )


def _g08(spark: SparkSession) -> DataFrame:
    cg, ag = _per_geohash_rollups(spark)
    g = spark.table("dim_airbnb_location").select("geohash", "borough").distinct()
    return (
        g.join(cg, "geohash", "left")
        .join(ag, "geohash", "left")
        .select(
            "geohash",
            "borough",
            F.coalesce(F.col("c_cnt"), F.lit(0)).alias("complaints"),
            F.coalesce(F.col("a_cnt"), F.lit(0)).alias("airbnb_listings"),
        )
        .withColumn(
            "complaints_per_listing",
            F.round(
                F.col("complaints").cast("double")
                / F.nullif(F.col("airbnb_listings").cast("double"), F.lit(0.0)),
                2,
            ),
        )
        .filter(F.col("airbnb_listings") > 5)
        .orderBy(F.desc("complaints_per_listing"), "geohash")
        .limit(30)
    )


def _g09(spark: SparkSession) -> DataFrame:
    f = spark.table("fact_311_complaint")
    d = spark.table("dim_date")
    l311 = spark.table("dim_311_location")
    agg = (
        f.join(d, f.created_date_key == d.date_id)
        .join(l311, "location_key")
        .filter(F.col("year") >= 1998)
        .groupBy("quarter", "month_name", "borough")
        .agg(F.count("*").alias("complaints"))
    )
    return agg.withColumn(
        "avg_quarterly_complaints",
        F.avg("complaints").over(Window.partitionBy("quarter")),
    ).orderBy("quarter", F.col("borough").asc_nulls_first(), "month_name")


def _g10(spark: SparkSession) -> DataFrame:
    f = spark.table("fact_311_complaint")
    d = spark.table("dim_date")
    l311 = spark.table("dim_311_location")
    day_type = F.when(F.col("is_weekend"), "Weekend").otherwise("Weekday")
    return (
        f.join(d, f.created_date_key == d.date_id)
        .join(l311, "location_key")
        .groupBy(day_type.alias("day_type"), "borough")
        .agg(
            F.count("*").alias("complaint_count"),
            F.round(F.avg("duration_hours"), 2).alias("avg_resolution_hours"),
        )
        .orderBy(F.col("borough").asc_nulls_first(), "day_type")
    )


GOLDEN_DF_BUILDERS: dict[str, Callable[[SparkSession], DataFrame]] = {
    "g01_complaints_by_borough_pct": _g01,
    "g02_top_complaint_types": _g02,
    "g03_agency_resolution": _g03,
    "g04_price_stats_by_borough": _g04,
    "g05_room_type_price": _g05,
    "g06_neighbourhood_revenue": _g06,
    "g07_airbnb_complaint_ratio": _g07,
    "g08_geohash_density": _g08,
    "g09_quarterly_trend": _g09,
    "g10_weekend_weekday": _g10,
}


def golden_df(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    register_star_views(spark, sf_dir)
    return GOLDEN_DF_BUILDERS[name](spark)
