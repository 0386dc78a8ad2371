"""Two-dialect SQL rendering: Spark SQL and DuckDB.

Every derived table and query in the engine is defined once as SQL text
rendered per dialect, so the Spark implementation and its DuckDB oracle
are generated from the same logical definition. Only genuinely
divergent scalar functions live here (timestamp parse/format patterns,
day-of-week conventions, regexp-replace flags); everything else is the
common ANSI subset both engines accept.

Conventions enforced for oracle-comparability:
- every numeric output column is BIGINT or DOUBLE (never DECIMAL/
  HUGEINT: DuckDB SUM(int)->HUGEINT and Spark decimal-literal division
  both break schema parity);
- timestamps are compared after CAST to STRING or DATE where feasible;
- day_of_week follows the Redshift convention (0=Sunday..6=Saturday,
  reference `nyc_hybrid_etl_pipeline.py:94-95`).
"""

from __future__ import annotations

SPARK = "spark"
DUCKDB = "duckdb"

# (java pattern for Spark, C pattern for DuckDB) — the four formats the
# reference's parse_timestamp handles (`glue_job_clean_311.py:40-46`).
TS_FORMATS: list[tuple[str, str]] = [
    ("yyyy-MM-dd'T'HH:mm:ss.SSS", "%Y-%m-%dT%H:%M:%S.%g"),
    ("yyyy-MM-dd'T'HH:mm:ss", "%Y-%m-%dT%H:%M:%S"),
    ("MM/dd/yyyy hh:mm:ss a", "%m/%d/%Y %I:%M:%S %p"),
    ("M/d/yyyy h:mm:ss a", "%-m/%-d/%Y %-I:%M:%S %p"),
]


def parse_timestamp(dialect: str, expr: str) -> str:
    """Multi-format robust timestamp parse: COALESCE over try-parses.

    Mirrors reference `glue_job_clean_311.py:40-46` (F.coalesce over
    four to_timestamp formats), with try_* semantics so unparseable
    strings yield NULL instead of failing.
    """
    if dialect == SPARK:
        # Dispatch on cheap structural predicates first instead of
        # walking the try-parse cascade: a failed try_to_timestamp is
        # exception-driven in the JVM and costs ~4x a successful parse,
        # which at 100 TB makes the cascade the scan bottleneck. The
        # dispatch is semantics-preserving: 'T'+'.' ⇒ ISO-ms, 'T' ⇒
        # ISO-seconds, otherwise the non-padded US pattern (Java 'M/d h'
        # accepts 1-2 digits, so it subsumes the zero-padded form). The
        # full cascade remains as a coalesce fallback so inputs that
        # defeat the dispatch still parse exactly as before.
        dispatch = (
            f"CASE WHEN contains({expr}, 'T') THEN "
            f"CASE WHEN contains({expr}, '.') "
            f'THEN try_to_timestamp({expr}, "{TS_FORMATS[0][0]}") '
            f'ELSE try_to_timestamp({expr}, "{TS_FORMATS[1][0]}") END '
            f'ELSE try_to_timestamp({expr}, "{TS_FORMATS[3][0]}") END'
        )
        parts = [dispatch] + [f'try_to_timestamp({expr}, "{j}")' for j, _ in TS_FORMATS]
    else:
        parts = [f"try_strptime({expr}, '{c}')" for _, c in TS_FORMATS]
    return "coalesce(" + ", ".join(parts) + ")"


def to_utc(dialect: str, expr: str, tz: str = "America/New_York") -> str:
    """Interpret a wall-clock timestamp as `tz` local time → UTC
    (reference `glue_job_clean_311.py:120-121` to_utc_timestamp)."""
    if dialect == SPARK:
        return f"to_utc_timestamp({expr}, '{tz}')"
    # DuckDB: timezone(tz, TIMESTAMP) interprets the naive ts in tz and
    # returns TIMESTAMPTZ; cast back to naive-UTC timestamp.
    return f"cast(timezone('{tz}', {expr}) as timestamp)"


def yyyymmdd_key(dialect: str, expr: str) -> str:
    """Date → YYYYMMDD integer key (`nyc_hybrid_etl_pipeline.py:86`)."""
    if dialect == SPARK:
        return f"cast(date_format({expr}, 'yyyyMMdd') as int)"
    return f"cast(strftime({expr}, '%Y%m%d') as int)"


def month_name(dialect: str, expr: str) -> str:
    return f"date_format({expr}, 'MMMM')" if dialect == SPARK else f"monthname({expr})"


def day_name(dialect: str, expr: str) -> str:
    return f"date_format({expr}, 'EEEE')" if dialect == SPARK else f"dayname({expr})"


def dow_sunday0(dialect: str, expr: str) -> str:
    """Day-of-week, 0=Sunday (Redshift EXTRACT(DOW) convention)."""
    if dialect == SPARK:
        return f"(dayofweek({expr}) - 1)"  # Spark: 1=Sunday
    return f"dayofweek({expr})"  # DuckDB: 0=Sunday


def regexp_replace_all(dialect: str, expr: str, pattern: str, replacement: str) -> str:
    """Global regexp replace (Spark is global by default; DuckDB needs
    the 'g' flag)."""
    if dialect == SPARK:
        return f"regexp_replace({expr}, '{pattern}', '{replacement}')"
    return f"regexp_replace({expr}, '{pattern}', '{replacement}', 'g')"


def repartition_hint(dialect: str, *cols: str) -> str:
    """Spark REPARTITION hint (no partition count — uses
    spark.sql.shuffle.partitions, so it scales with the cluster);
    empty for DuckDB. Placed on materialized (cached/written) tables so
    their stored partitioning is parallel — without it a fact cached
    after AQE-coalesced small-SF shuffles can end up as 1-2 in-memory
    partitions and serialize every downstream join."""
    if dialect == SPARK:
        return "/*+ REPARTITION(" + ", ".join(cols) + ") */ "
    return ""


def hash_key(dialect: str, *parts: str) -> str:
    """Deterministic 60-bit surrogate key from the natural key: the
    first 15 hex digits of md5 over the '|'-joined parts, parsed as a
    BIGINT. md5 is byte-identical in both engines; Spark parses hex via
    conv(), DuckDB via the '0x…' string cast. Always positive (60 < 63
    bits).

    This replaces global-window ``row_number() OVER (ORDER BY …)``
    surrogate keys, which force a single-partition sort of the whole
    table at scale. Collision odds are the 60-bit birthday bound
    (~N²/2^61: ~5e-5 at 10M rows) — the standard hash-surrogate-key
    tradeoff (cf. data-vault md5 keys).

    Callers must pre-coalesce nullable parts (concat_ws skips NULLs in
    both engines, which would conflate ('a',NULL) with ('a')) and
    stringify doubles via an exact integer form (round(x*1e6) micro-
    units), never raw double→string formatting."""
    joined = ", ".join(parts)
    if dialect == SPARK:
        return (
            f"CAST(conv(substr(md5(concat_ws('|', {joined})), 1, 15), 16, 10) AS BIGINT)"
        )
    return f"CAST('0x' || substr(md5(concat_ws('|', {joined})), 1, 15) AS BIGINT)"
