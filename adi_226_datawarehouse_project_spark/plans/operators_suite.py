"""Operator-level differential query inventory (SURVEY §2 coverage).

Each entry pairs a Spark implementation (DataFrame-library operator or
SQL) with a DuckDB oracle that derives the same result independently.
Shared-dialect SQL is used where both engines accept the identical
text; dialect-split snippets come from ``dialect``/per-query renderers.

Money/double determinism: any SUM/AVG over non-integral doubles runs
through the exact integer (micro-)units trick — per-row
round-to-integer is bit-identical in both engines, integer sums are
exact, and the final division yields bit-identical doubles (see
plans/golden.py docstring).

Randomized-by-design operators (seeded xxhash64 MinHash/SimHash/SRP
planes — not DuckDB-expressible directly) are oracled via their
CONTRACT instead: deterministic recall/precision booleans against an
exact truth set both engines derive independently (see
dedup_lsh_pairs / sim_ann_topk). Every entry carries a full oracle.
"""

from __future__ import annotations

import datetime
from collections.abc import Callable
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import dialect as D
from ..functions import text as TX
from ..functions.cleaning import ensure_columns
from ..model.star import oracle_with_chain, register_star_views
from ..multimodal.binary_ops import attach_binary_payload, decode_image_stub
from ..operators.dedup import (
    dedup_exact,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from ..operators.gapfill import gap_fill_interpolate, hourly_observations
from ..operators.quality_model import hashed_linear_score, make_hashed_weights
from ..operators.similarity import cosine_self_topk, ivf_topk, lsh_bucket_topk
from ..operators.training import (
    fraction_threshold,
    global_shuffle_rank,
    leakage_safe_split,
    pack_chunk_stats,
    pack_sequences,
    stratified_sample,
)
from ..operators.upsert import incremental_upsert
from ..pin import pin
from ..pipelines import corpus_pipeline as CP
from ..sources.catalog import load_table, register_base_views
from ..sources.readers import read_csv, read_json, read_parquet
from ..sources.writers import write_csv, write_json, write_parquet
from ..streaming.events_stream import run_windowed_counts_once


@dataclass
class OpQuery:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL over the registered base views


def _sql(text: str, star: bool = False) -> Callable[[SparkSession, str], DataFrame]:
    """Spark side that runs (possibly dialect-rendered) SQL text."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        if star:
            register_star_views(spark, sf_dir)
        else:
            register_base_views(spark, sf_dir)
        return spark.sql(text)

    return run


# ---- exact-sum helpers (see module docstring) ----
def _units(expr: str, scale: int) -> str:
    return f"CAST(round(({expr}) * {scale}, 0) AS BIGINT)"


def _round_text(expr: str, digits: int) -> str:
    """Portable HALF-UP rounding in shared SQL text — the
    functions/rounding.py convention (floor(x·10^d + 0.5)/10^d) instead
    of engine-native round(x, d). Native round diverges at 1 ulp once
    the value's magnitude pushes the d-th decimal to the double's
    resolution edge (found by the r12 64× sweep: op_q1's
    sum_disc_price at 1.8e11 differed in the 4th decimal — Spark
    rounds the shortest decimal form via BigDecimal, DuckDB rounds the
    binary double). The floor form is the same IEEE op sequence on
    both engines WHILE expr*10^d stays exactly representable — Spark's
    floor returns BIGINT and DuckDB's returns DOUBLE, so the identical-
    op argument holds for |expr|*10^d < 2^53 (double's integer range;
    also well inside bigint). Within that bound the oracles agree
    bitwise at every corpus scale the suites run (the 64× sweep's
    1.8e11 * 10^4 = 1.8e15 << 2^53 ≈ 9e15); past it both engines are
    in ulp territory and no text form can promise bit equality."""
    s = 10 ** digits
    return f"(floor(({expr}) * {s} + 0.5) / {s})"


def _sum_units(expr: str, scale: int, alias: str, digits: int = 4) -> str:
    total = f"CAST(CAST(sum({_units(expr, scale)}) AS BIGINT) AS DOUBLE) / {scale}.0"
    return f"{_round_text(total, digits)} AS {alias}"


def _avg_units(expr: str, scale: int, alias: str, digits: int = 6) -> str:
    mean = (
        f"CAST(CAST(sum({_units(expr, scale)}) AS BIGINT) AS DOUBLE)"
        f" / count({expr}) / {scale}.0"
    )
    return f"{_round_text(mean, digits)} AS {alias}"


# =====================================================================
# Relational operators over the TPC-H base tables (shared SQL)
# =====================================================================

_Q1 = f"""
SELECT l_returnflag, l_linestatus,
       {_sum_units("l_quantity", 100, "sum_qty", 2)},
       {_sum_units("l_extendedprice", 100, "sum_base_price", 2)},
       {_sum_units("l_extendedprice * (1 - l_discount)", 10000, "sum_disc_price", 4)},
       {_sum_units("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 1000000, "sum_charge", 4)},
       {_avg_units("l_quantity", 100, "avg_qty", 6)},
       {_avg_units("l_extendedprice", 100, "avg_price", 6)},
       {_avg_units("l_discount", 100, "avg_disc", 6)},
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

# TPC-H-shaped multi-join analytics (beyond the reference's own query
# set; exercise CBO/AQE join ordering over 3-6 tables). Revenue sums
# run through the exact-cents path (module docstring).
_Q3_STYLE = f"""
SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS orderdate,
       {_sum_units("l.l_extendedprice * (1 - l.l_discount)", 10000, "revenue", 4)}
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < DATE '1997-06-01'
  AND l.l_shipdate > DATE '1997-06-01'
GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE)
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""

_Q5_STYLE = f"""
SELECT n.n_name AS nation,
       {_sum_units("l.l_extendedprice * (1 - l.l_discount)", 10000, "revenue", 4)}
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
ORDER BY revenue DESC, nation
"""

_Q10_STYLE = f"""
SELECT c.c_custkey, c.c_mktsegment,
       {_sum_units("l.l_extendedprice * (1 - l.l_discount)", 10000, "returned_revenue", 4)}
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_mktsegment
ORDER BY returned_revenue DESC, c_custkey
LIMIT 20
"""

_PART_SUPPLIER_JOIN = """
SELECT p.p_brand, CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS n_suppliers,
       COUNT(*) AS n_lineitems
FROM part p
JOIN lineitem l ON l.l_partkey = p.p_partkey
WHERE p.p_size >= 10
GROUP BY p.p_brand
ORDER BY p_brand
"""

_TOPK_ORDERS = """
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) t
WHERE rn <= 3
"""

_PCT_PRIORITY = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       round(CAST(COUNT(*) AS DOUBLE) * 100.0
             / CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 2) AS pct
FROM orders
GROUP BY o_orderpriority
ORDER BY n_orders DESC, o_orderpriority
"""

_QUARTER_WINDOW = """
SELECT q, m, n_orders,
       avg(n_orders) OVER (PARTITION BY q) AS avg_monthly_in_quarter
FROM (
  SELECT CAST(extract(quarter FROM o_orderdate) AS INT) AS q,
         CAST(extract(month FROM o_orderdate) AS INT) AS m,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1, 2
) t
ORDER BY q, m
"""

_UNION_DISTINCT = """
SELECT CAST(nk AS INT) AS nationkey FROM (
  SELECT c_nationkey AS nk FROM customer
  UNION
  SELECT s_nationkey AS nk FROM supplier
) u
ORDER BY nationkey
"""

_UNION_ALL_COUNT = """
SELECT CAST(nk AS INT) AS nationkey, COUNT(*) AS n
FROM (
  SELECT c_nationkey AS nk FROM customer
  UNION ALL
  SELECT s_nationkey AS nk FROM supplier
) u
GROUP BY nk ORDER BY nationkey
"""

_ANTI_JOIN_SQL = """
SELECT c_mktsegment, COUNT(*) AS new_customers
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM customer e WHERE e.c_custkey % 3 = 0 AND e.c_custkey = c.c_custkey
)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

_SEMI_JOIN_SQL = """
SELECT c_mktsegment, COUNT(*) AS customers_with_orders
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

_LEFT_JOIN_NULLS = """
SELECT CAST(c.c_nationkey AS INT) AS nationkey, COUNT(*) AS customers_without_orders
FROM customer c
LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o ON c.c_custkey = o.o_custkey
WHERE o.o_custkey IS NULL
GROUP BY c.c_nationkey
ORDER BY nationkey
"""

_DISTINCT_PRIORITIES = """
SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority
"""

_ROLLUP = """
SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
       COUNT(*) AS n_customers
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP(r_name, n_name)
ORDER BY region, nation
"""

# CUBE adds the nation-only marginals ROLLUP lacks; GROUPING() keys the
# aggregation level explicitly (both engines share the SQL).
_CUBE = """
SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
       CAST(GROUPING(r_name) AS INT) AS g_region,
       CAST(GROUPING(n_name) AS INT) AS g_nation,
       COUNT(*) AS n_customers
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY CUBE(r_name, n_name)
ORDER BY region, nation, g_region, g_nation
"""

_DEDUP_EVENTS = """
SELECT event_type, COUNT(*) AS n_kept, CAST(sum(event_id) AS BIGINT) AS id_sum
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts, event_id) AS __rn
  FROM events
) t
WHERE __rn = 1
GROUP BY event_type
ORDER BY event_type
"""


def _date_parts_sql(d: str) -> str:
    return f"""
SELECT CAST(extract(year FROM o_orderdate) AS INT) AS year,
       CAST(extract(quarter FROM o_orderdate) AS INT) AS quarter,
       COUNT(*) AS n_orders,
       min({D.yyyymmdd_key(d, "CAST(o_orderdate AS DATE)")}) AS min_date_key,
       max({D.yyyymmdd_key(d, "CAST(o_orderdate AS DATE)")}) AS max_date_key
FROM orders
GROUP BY 1, 2
ORDER BY year, quarter
"""


def _weekend_sql(d: str) -> str:
    dow = D.dow_sunday0(d, "CAST(o_orderdate AS DATE)")
    return f"""
SELECT CASE WHEN CAST({dow} AS INT) IN (0, 6) THEN 'Weekend' ELSE 'Weekday' END AS day_type,
       COUNT(*) AS n_orders
FROM orders
GROUP BY 1
ORDER BY day_type
"""


def _epoch(d: str, expr: str) -> str:
    return f"CAST({expr} AS DOUBLE)" if d == D.SPARK else f"epoch({expr})"


def _sessionize_sql(d: str) -> str:
    return f"""
SELECT n_sessions, COUNT(*) AS n_users
FROM (
  SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions
  FROM (
    SELECT user_id,
           CASE WHEN lag_ts IS NULL
                     OR {_epoch(d, "ts")} - {_epoch(d, "lag_ts")} > 1800
                THEN 1 ELSE 0 END AS is_new
    FROM (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS lag_ts
      FROM events
    ) x
  ) g
  GROUP BY user_id
) s
GROUP BY n_sessions
ORDER BY n_sessions
"""


def _window_start(d: str, secs: int) -> str:
    if d == D.SPARK:
        return f"timestamp_seconds(CAST(floor(CAST(ts AS DOUBLE) / {secs}) AS BIGINT) * {secs})"
    return f"CAST(to_timestamp(floor(epoch(ts) / {secs}) * {secs}) AS TIMESTAMP)"


def _events_window_sql(d: str) -> str:
    return f"""
SELECT {_window_start(d, 300)} AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(sum({_units("value", 1000000)}) AS BIGINT) AS total_value_micros
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


def _scd2_norm(df: DataFrame, part: str) -> DataFrame:
    """Normalize an SCD2 dimension frame to the merge-suite schema
    (part, k, s, d1, d2, b, n)."""
    return df.select(
        F.lit(part).alias("part"),
        F.col("custkey").cast("string").alias("k"),
        F.col("address").alias("s"),
        F.col("effective_from").alias("d1"),
        F.col("effective_to").alias("d2"),
        F.col("is_current").alias("b"),
        F.lit(None).cast("bigint").alias("n"),
    )


def _spark_merge_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-family tag-union suite (registry key kept as
    ``op_scd2_dimension_apply``; COVERAGE.md headroom policy — the
    round-10 adversarial pytest pins promoted into oracle coverage,
    VERDICT r10 #3). Parts, each with an independent oracle body:

    - ``scd2_apply``: the original SCD2 versioned-dimension merge
      (operators/scd.py) over a deterministic customer fixture: keys
      %5≠0 exist, keys %3=0 arrive in the update batch (odd keys
      change address, even keys are attribute-identical no-ops,
      %5=0∧%3=0 are brand new).
    - ``scd2_same_day_triple``: THREE same-batch-date applies over the
      nation keys — the round-10 audit-row-loss shape (a same-day
      re-update creates a zero-length closed version sharing
      effective_from with the current row; the third apply used to
      delete that audit row). Keys %5=0 make batch 2 a no-op (attr
      equality), so both the 4-version and 3-version outcomes are
      covered.
    - ``cdc_stale_batch``: apply_cdc (operators/cdc.py) on a
      seq-carrying snapshot, folding a FRESH batch (seq 20: U on even
      keys, D on key 7, I of key 100) and then a STALE batch (seq 5:
      U on every surviving key, plus a D on key 3 that must LOSE to
      the base row's seq 10). The oracle is the per-key argmax over
      base ∪ fresh ∪ stale with D>U>I tie precedence — equal to the
      sequential fold for this fixture (no reinsert of a deleted
      key, the documented snapshot-defense boundary)."""
    from ..operators.cdc import apply_cdc
    from ..operators.scd import scd2_apply

    cust = load_table(spark, sf_dir, "customer")
    addr = F.concat(F.lit("addr-"), (F.col("c_custkey") % 97).cast("string"))
    new_addr = F.when(F.col("c_custkey") % 2 == 0, addr).otherwise(
        F.concat(F.lit("addr-new-"), (F.col("c_custkey") % 97).cast("string"))
    )
    dim = (
        cust.filter(F.col("c_custkey") % 5 != 0)
        .select(
            F.col("c_custkey").alias("custkey"),
            addr.alias("address"),
            F.lit(datetime.date(2020, 1, 1)).alias("effective_from"),
            F.lit(datetime.date(9999, 12, 31)).alias("effective_to"),
            F.lit(True).alias("is_current"),
        )
    )
    updates = cust.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("custkey"), new_addr.alias("address")
    )
    apply_once = scd2_apply(
        dim, updates, "custkey", "address", datetime.date(2025, 6, 1)
    )

    # --- scd2_same_day_triple ---
    batch_day = datetime.date(2025, 6, 1)
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("custkey")
    )

    def _attr(i: int):
        return F.concat(F.lit(f"v{i}-"), (F.col("custkey") % 7).cast("string"))

    dim0 = nat.select(
        "custkey",
        _attr(0).alias("address"),
        F.lit(datetime.date(2020, 1, 1)).alias("effective_from"),
        F.lit(datetime.date(9999, 12, 31)).alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    attr2 = F.when(F.col("custkey") % 5 == 0, _attr(1)).otherwise(_attr(2))
    # Each apply's plan embeds the previous dimension several times
    # (four legs + the duplicate-key guard), so the RAW triple chain is
    # cubic in plan references and Catalyst analysis dominated the
    # whole suite (measured 8.5s/eval at sf0.01). A lineage-cutting pin
    # between applies truncates lineage to a flat scan — the
    # near_dup_clusters pacing pattern; the frames are nation-sized
    # (25–100 rows), so materialization is free next to analysis.
    tri = dim0
    for attr in (_attr(1), attr2):
        tri = pin(
            scd2_apply(tri, nat.select("custkey", attr.alias("address")),
                       "custkey", "address", batch_day),
            truncate=True,
            eager=True,
        )
    tri = scd2_apply(
        tri, nat.select("custkey", _attr(3).alias("address")),
        "custkey", "address", batch_day,
    )

    # --- cdc_stale_batch ---
    k = F.col("k")
    nk = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k")
    )
    base = nk.select(
        "k",
        F.concat(F.lit("base-"), k.cast("string")).alias("payload"),
        F.lit(10).cast("bigint").alias("seq"),
    )
    key100 = spark.range(1).select(
        F.lit(100).cast("bigint").alias("k"),
        F.lit("fresh-100").alias("payload"),
        F.lit(20).cast("bigint").alias("seq"),
        F.lit("I").alias("op"),
    )
    fresh = (
        nk.filter(k % 2 == 0)
        .select(
            "k",
            F.concat(F.lit("fresh-"), k.cast("string")).alias("payload"),
            F.lit(20).cast("bigint").alias("seq"),
            F.lit("U").alias("op"),
        )
        .unionByName(
            nk.filter(k == 7).select(
                "k",
                F.lit("del").alias("payload"),
                F.lit(20).cast("bigint").alias("seq"),
                F.lit("D").alias("op"),
            )
        )
        .unionByName(key100)
    )
    stale = (
        nk.filter(k != 7)
        .select(
            "k",
            F.concat(F.lit("stale-"), k.cast("string")).alias("payload"),
            F.lit(5).cast("bigint").alias("seq"),
            F.lit("U").alias("op"),
        )
        .unionByName(
            nk.filter(k == 3).select(
                "k",
                F.lit("del").alias("payload"),
                F.lit(5).cast("bigint").alias("seq"),
                F.lit("D").alias("op"),
            )
        )
    )
    folded = apply_cdc(
        pin(apply_cdc(base, fresh, ["k"], "seq"), truncate=True, eager=True),
        stale, ["k"], "seq",
    )
    cdc_part = folded.select(
        F.lit("cdc_stale_batch").alias("part"),
        F.col("k").cast("string").alias("k"),
        F.col("payload").alias("s"),
        F.lit(None).cast("date").alias("d1"),
        F.lit(None).cast("date").alias("d2"),
        F.lit(None).cast("boolean").alias("b"),
        F.col("seq").alias("n"),
    )

    return (
        _scd2_norm(apply_once, "scd2_apply")
        .unionByName(_scd2_norm(tri, "scd2_same_day_triple"))
        .unionByName(cdc_part)
        .orderBy("part", "k", "s")
    )


_SCD2_APPLY_ORACLE_BODY = """
WITH dim AS (
  SELECT c_custkey AS custkey,
         'addr-' || CAST(c_custkey % 97 AS VARCHAR) AS address,
         DATE '2020-01-01' AS effective_from,
         DATE '9999-12-31' AS effective_to,
         TRUE AS is_current
  FROM customer WHERE c_custkey % 5 <> 0
),
upd AS (
  SELECT c_custkey AS custkey,
         CASE WHEN c_custkey % 2 = 0 THEN 'addr-' || CAST(c_custkey % 97 AS VARCHAR)
              ELSE 'addr-new-' || CAST(c_custkey % 97 AS VARCHAR) END AS new_address
  FROM customer WHERE c_custkey % 3 = 0
),
changed AS (
  SELECT d.custkey, u.new_address FROM dim d JOIN upd u USING (custkey)
  WHERE d.is_current AND d.address <> u.new_address
),
closed AS (
  SELECT d.custkey, d.address, d.effective_from,
         DATE '2025-06-01' AS effective_to, FALSE AS is_current
  FROM dim d
  WHERE d.is_current AND d.custkey IN (SELECT custkey FROM changed)
),
reopened AS (
  SELECT custkey, new_address AS address, DATE '2025-06-01' AS effective_from,
         DATE '9999-12-31' AS effective_to, TRUE AS is_current
  FROM changed
),
brand_new AS (
  SELECT u.custkey, u.new_address AS address, DATE '2025-06-01' AS effective_from,
         DATE '9999-12-31' AS effective_to, TRUE AS is_current
  FROM upd u WHERE u.custkey NOT IN (SELECT custkey FROM dim)
),
untouched AS (
  SELECT d.* FROM dim d
  WHERE NOT EXISTS (SELECT 1 FROM closed c
                    WHERE c.custkey = d.custkey AND c.effective_from = d.effective_from)
)
SELECT * FROM (
  SELECT * FROM untouched
  UNION ALL SELECT * FROM closed
  UNION ALL SELECT * FROM reopened
  UNION ALL SELECT * FROM brand_new
) t
"""

# scd2_same_day_triple expected state, derived in SQL from the same
# nation-key fixture: per key the version trail is
#   v0 (2020-01-01 → B, closed) ; v1 (B → B, zero-length audit row) ;
#   v2 (B → B, audit row; ONLY for keys whose batch 2 was a real
#   change, i.e. k%5≠0) ; v3 (B → far-future, current).
_SCD2_TRIPLE_ORACLE_BODY = """
WITH nk AS (
  SELECT CAST(n_nationkey AS BIGINT) AS custkey,
         CAST(n_nationkey % 7 AS STRING) AS m
  FROM nation
)
SELECT custkey, 'v0-' || m AS address, DATE '2020-01-01' AS effective_from,
       DATE '2025-06-01' AS effective_to, FALSE AS is_current FROM nk
UNION ALL
SELECT custkey, 'v1-' || m, DATE '2025-06-01', DATE '2025-06-01', FALSE FROM nk
UNION ALL
SELECT custkey, 'v2-' || m, DATE '2025-06-01', DATE '2025-06-01', FALSE
FROM nk WHERE custkey % 5 <> 0
UNION ALL
SELECT custkey, 'v3-' || m, DATE '2025-06-01', DATE '9999-12-31', TRUE FROM nk
"""

# cdc_stale_batch expected state: per-key argmax over
# base ∪ fresh ∪ stale on (seq DESC, D>U>I) with D-winners dropped —
# equal to the sequential fold for this fixture (no deleted-key
# reinsert; see the Spark-side docstring).
_CDC_STALE_ORACLE_BODY = """
WITH base AS (
  SELECT CAST(n_nationkey AS BIGINT) AS k,
         'base-' || CAST(n_nationkey AS STRING) AS payload,
         CAST(10 AS BIGINT) AS seq, 'I' AS op
  FROM nation
),
fresh AS (
  SELECT CAST(n_nationkey AS BIGINT) AS k,
         'fresh-' || CAST(n_nationkey AS STRING) AS payload,
         CAST(20 AS BIGINT) AS seq, 'U' AS op
  FROM nation WHERE n_nationkey % 2 = 0
  UNION ALL
  SELECT CAST(n_nationkey AS BIGINT), 'del', CAST(20 AS BIGINT), 'D'
  FROM nation WHERE n_nationkey = 7
  UNION ALL
  SELECT CAST(100 AS BIGINT), 'fresh-100', CAST(20 AS BIGINT), 'I'
),
stale AS (
  SELECT CAST(n_nationkey AS BIGINT) AS k,
         'stale-' || CAST(n_nationkey AS STRING) AS payload,
         CAST(5 AS BIGINT) AS seq, 'U' AS op
  FROM nation WHERE n_nationkey <> 7
  UNION ALL
  SELECT CAST(3 AS BIGINT), 'del', CAST(5 AS BIGINT), 'D'
),
allrows AS (
  SELECT * FROM base UNION ALL SELECT * FROM fresh UNION ALL SELECT * FROM stale
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY k
    ORDER BY seq DESC, CASE op WHEN 'D' THEN 2 WHEN 'U' THEN 1 ELSE 0 END DESC
  ) AS rn
  FROM allrows
)
SELECT k, payload, seq FROM ranked WHERE rn = 1 AND op <> 'D'
"""

_MERGE_SUITE_ORACLE = f"""
SELECT 'scd2_apply' AS part, CAST(custkey AS STRING) AS k, address AS s,
       effective_from AS d1, effective_to AS d2, is_current AS b,
       CAST(NULL AS BIGINT) AS n
FROM ({_SCD2_APPLY_ORACLE_BODY}) __a
UNION ALL
SELECT 'scd2_same_day_triple' AS part, CAST(custkey AS STRING) AS k,
       address AS s, effective_from AS d1, effective_to AS d2,
       is_current AS b, CAST(NULL AS BIGINT) AS n
FROM ({_SCD2_TRIPLE_ORACLE_BODY}) __t
UNION ALL
SELECT 'cdc_stale_batch' AS part, CAST(k AS STRING) AS k, payload AS s,
       CAST(NULL AS DATE) AS d1, CAST(NULL AS DATE) AS d2,
       CAST(NULL AS BOOLEAN) AS b, seq AS n
FROM ({_CDC_STALE_ORACLE_BODY}) __c
ORDER BY part, k, s
"""


# Explicit RANGE frame (rolling window): 7-day rolling order volume.
# Identical syntax and semantics in Spark and DuckDB; at scale the
# frame runs over the PRE-AGGREGATED daily series (one row per day),
# never the raw fact.
_ROLLING_WINDOW_SQL = """
SELECT d, n,
       CAST(sum(n) OVER (ORDER BY d RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
            AS BIGINT) AS rolling_7d_orders
FROM (SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n FROM orders GROUP BY 1) t
ORDER BY d
"""


# Lead/lag + dense_rank (the window-family members the reference never
# writes — SURVEY §2.5): per-customer gap between consecutive orders
# and a dense spend rank within the order-priority class.
_LAG_LEAD_SQL = """
SELECT o_custkey,
       o_orderkey,
       CAST(o_orderdate AS DATE) AS orderdate,
       CAST(datediff(o_orderdate,
                     lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
            AS INT) AS days_since_prev,
       CAST(datediff(lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                     o_orderdate) AS INT) AS days_until_next,
       CAST(dense_rank() OVER (PARTITION BY o_orderpriority ORDER BY CAST(round(o_totalprice * 100, 0) AS BIGINT) DESC)
            AS BIGINT) AS spend_rank_in_priority
FROM orders
WHERE o_custkey % 100 = 7
ORDER BY o_custkey, orderdate, o_orderkey
"""

# DuckDB datediff argument order differs from Spark's (Spark:
# datediff(end, start); DuckDB: date_diff('day', start, end)).
_LAG_LEAD_ORACLE = """
SELECT o_custkey,
       o_orderkey,
       CAST(o_orderdate AS DATE) AS orderdate,
       CAST(date_diff('day',
                      lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                      o_orderdate) AS INT) AS days_since_prev,
       CAST(date_diff('day', o_orderdate,
                      lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
            AS INT) AS days_until_next,
       CAST(dense_rank() OVER (PARTITION BY o_orderpriority ORDER BY CAST(round(o_totalprice * 100, 0) AS BIGINT) DESC)
            AS BIGINT) AS spend_rank_in_priority
FROM orders
WHERE o_custkey % 100 = 7
ORDER BY o_custkey, orderdate, o_orderkey
"""


# GROUPING SETS (explicit, beyond the ROLLUP/CUBE shorthands):
# region-level, region×nation-level, and grand-total rows in one pass.
_GROUPING_SETS_SQL = """
SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name), (r_name, n_name), ())
ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
"""

# Aggregate FILTER clause (per-branch conditional aggregation without
# CASE scaffolding; one pass over the fact).
_AGG_FILTER_SQL = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_finished,
       CAST(count(*) FILTER (WHERE extract(year FROM o_orderdate) = 1997) AS BIGINT) AS n_1997
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

# regexp_extract (same builtin name and group semantics both engines).
_REGEXP_EXTRACT_SQL = """
SELECT CAST(regexp_extract(o_orderpriority, '^([0-9]+)', 1) AS INT) AS priority_rank,
       CAST(count(*) AS BIGINT) AS n
FROM orders
GROUP BY 1
ORDER BY priority_rank
"""


# INTERSECT / EXCEPT (distinct set semantics, identical in both
# engines): repeat vs churned customer keys across two order years.
_INTERSECT_SQL = """
SELECT o_custkey FROM orders WHERE extract(year FROM o_orderdate) = 1997
INTERSECT
SELECT o_custkey FROM orders WHERE extract(year FROM o_orderdate) = 1998
ORDER BY o_custkey
"""

_EXCEPT_SQL = """
SELECT o_custkey FROM orders WHERE extract(year FROM o_orderdate) = 1997
EXCEPT
SELECT o_custkey FROM orders WHERE extract(year FROM o_orderdate) = 1998
ORDER BY o_custkey
"""


def _spark_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream attribution join driven to completion
    (streaming/stream_join.py); stream-batch equivalence is asserted in
    tests/test_stream_join.py, and this oracle checks the values."""
    from ..streaming.stream_join import run_stream_stream_join_once

    return run_stream_stream_join_once(spark, sf_dir)


_STREAM_STREAM_JOIN_ORACLE = """
SELECT COUNT(*) AS n_pairs,
       COUNT(DISTINCT c.user_id) AS n_users,
       CAST(sum(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT) AS total_delay_micros
FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
  ON p.user_id = c.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 600 SECONDS
"""


def _spark_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (wide-format rollup): order counts per year × status.
    Explicit value list keeps the plan a single pass (no distinct-scan
    to discover columns — the 100 TB form)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("year", F.year("o_orderdate").cast("int"))
        .groupBy("year")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0, ["F", "O", "P"])
        .orderBy("year")
    )


def _spark_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest through the foreachBatch left-anti upsert sink
    (streaming/upsert_sink.py), run TWICE — the second pass replays the
    whole source with a fresh checkpoint (at-least-once re-delivery),
    and the anti-join must add zero rows. The returned aggregate over
    the target therefore hash-matches the plain batch aggregate over
    `events` only if the sink is exactly-once under replay."""
    import shutil

    from ..streaming.upsert_sink import stream_upsert_events

    base = f"{_io_dir(sf_dir)}/stream_upsert"
    shutil.rmtree(base, ignore_errors=True)
    target = f"{base}/events_latest"
    stream_upsert_events(spark, sf_dir, target, f"{base}/cp1")
    stream_upsert_events(spark, sf_dir, target, f"{base}/cp2")  # replay
    return (
        spark.read.parquet(target)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.expr(_units("value", 1000000))).cast("bigint").alias("total_value_micros"),
            F.sum("event_id").cast("bigint").alias("id_sum"),
        )
        .orderBy("event_type")
    )


_STREAM_UPSERT_ORACLE = f"""
SELECT event_type, COUNT(*) AS n_events,
       CAST(sum({_units("value", 1000000)}) AS BIGINT) AS total_value_micros,
       CAST(sum(event_id) AS BIGINT) AS id_sum
FROM events GROUP BY event_type ORDER BY event_type
"""


def _spark_asof_join(
    spark: SparkSession, sf_dir: str, ordered: bool = True
) -> DataFrame:
    """As-of attribution: each click joined to the user's most recent
    prior (or simultaneous) view — `operators/asof.py`, one window
    shuffle, no UDF. Oracle is DuckDB's native ASOF LEFT JOIN."""
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.col("event_id").alias("view_id"),
        F.col("value").alias("view_value"),
    )
    joined = asof_join(clicks, views, by=["user_id"], ts="ts",
                       right_value_cols=["view_id", "view_value"])
    out = joined.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("asof_view_id").alias("view_id"),
        F.col("asof_view_value").alias("view_value"),
        (F.unix_micros("ts") - F.unix_micros("asof_ts")).alias("gap_us"),
    )
    # EliminateSorts does not strip a sort sitting under a Union, so
    # the suite wrapper (which re-sorts on its own keys) asks for the
    # unordered frame — a global sort is a full range-partition
    # shuffle, pure waste below another sort.
    return out.orderBy("click_id") if ordered else out


_ASOF_ORACLE = """
SELECT l.event_id AS click_id, l.user_id, r.event_id AS view_id,
       r.value AS view_value,
       epoch_us(l.ts) - epoch_us(r.ts) AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY click_id
"""


def _spark_range_join(
    spark: SparkSession, sf_dir: str, ordered: bool = True
) -> DataFrame:
    """Keyless interval-containment join: each user's first-hour window
    × ALL events (10-minute buckets) — `operators/rangejoin.py`. The
    naive BETWEEN formulation is a BroadcastNestedLoopJoin; the bucket
    explode turns it into an ordinary shuffled equi-join."""
    from ..operators.rangejoin import range_join

    ev = load_table(spark, sf_dir, "events")
    points = ev.select(F.col("event_id"), F.col("value"), F.unix_micros("ts").alias("p"))
    intervals = ev.groupBy(F.col("user_id").alias("window_user")).agg(
        F.min(F.unix_micros("ts")).alias("lo")
    ).withColumn("hi", F.col("lo") + F.lit(3_600_000_000))
    j = range_join(points, "p", intervals, "lo", "hi", bucket_width=600e6)
    out = j.groupBy("window_user").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("value_cents"),
    )
    return out.orderBy("window_user") if ordered else out


_RANGE_JOIN_ORACLE = """
SELECT i.window_user, COUNT(*) AS n_events,
       CAST(sum(CAST(round(e.value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
FROM (SELECT user_id AS window_user, min(epoch_us(ts)) AS lo,
             min(epoch_us(ts)) + 3600000000 AS hi
      FROM events GROUP BY user_id) i
JOIN events e ON epoch_us(e.ts) BETWEEN i.lo AND i.hi
GROUP BY i.window_user
ORDER BY window_user
"""


def _spark_range_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """range_join's LEFT mode (VERDICT r11 task 1 oracle promotion):
    sparse intervals (first 5 minutes of every 5th user) so most
    points match NO interval — the null-extended point rows the r11
    fix exists to keep (the exact predicate must live in the join
    condition; a post-join filter would drop them) land in the
    'unmatched' group, which the oracle value-checks alongside the
    matched per-window groups."""
    from ..operators.rangejoin import range_join

    ev = load_table(spark, sf_dir, "events")
    points = ev.select(
        F.col("event_id"), F.col("value"), F.unix_micros("ts").alias("p")
    )
    intervals = (
        ev.filter(F.col("user_id") % 5 == 0)
        .groupBy(F.col("user_id").alias("window_user"))
        .agg(F.min(F.unix_micros("ts")).alias("lo"))
        .withColumn("hi", F.col("lo") + F.lit(300_000_000))
    )
    j = range_join(points, "p", intervals, "lo", "hi",
                   bucket_width=600e6, how="left")
    return j.groupBy(
        F.coalesce(F.col("window_user").cast("string"), F.lit("unmatched"))
        .alias("window_user")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("value_cents"),
    )


_RANGE_JOIN_LEFT_ORACLE = """
SELECT coalesce(CAST(i.window_user AS VARCHAR), 'unmatched') AS window_user,
       COUNT(*) AS n_events,
       CAST(sum(CAST(round(e.value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
FROM events e
LEFT JOIN (SELECT user_id AS window_user, min(epoch_us(ts)) AS lo,
                  min(epoch_us(ts)) + 300000000 AS hi
           FROM events WHERE user_id % 5 = 0 GROUP BY user_id) i
  ON epoch_us(e.ts) BETWEEN i.lo AND i.hi
GROUP BY 1
ORDER BY window_user
"""


def _spark_stateful_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user gap sessionization driven as a real streaming query; the
    oracle recomputes the same totals with a batch lag window."""
    from ..streaming.sessionize import streaming_sessionize

    return streaming_sessionize(spark, sf_dir, gap_seconds=1800.0).orderBy("user_id")


def _stateful_sessionize_oracle(d: str) -> str:
    return f"""
SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions
FROM (
  SELECT user_id,
         CASE WHEN lag_ts IS NULL
                   OR {_epoch(d, "ts")} - {_epoch(d, "lag_ts")} > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM (
    SELECT user_id, ts,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS lag_ts
    FROM events
  ) x
) g
GROUP BY user_id
ORDER BY user_id
"""


def _spark_session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate for the ORDER-ROBUST sessionize path (VERDICT r12
    task 1, the banked 50th slot): `stream_stateful_sessionize` drives
    the applyInPandasWithState escape hatch, whose per-key-ordered-
    batches contract is now ENFORCED (streaming/sessionize.py raises
    on backfill); THIS entry proves the production path — the built-in
    ``session_window`` aggregation — computes batch-true sessions even
    when the micro-batch sequence is adversarially OUT of time order.

    Fixture: the sf events table split 3 ways by event_id % 3, each
    split written as ONE parquet file spanning the FULL time range,
    with forced distinct mtimes — so the file stream (one file per
    trigger, mtime order) replays the corpus as three mutually
    out-of-order micro-batches (every batch reaches back before the
    previous batch's frontier). The state-store session merge under a
    non-dropping watermark must converge to the batch truth, which the
    DuckDB lag/cumsum oracle recomputes with session_window's boundary
    semantics: split at diff > gap — the exact-gap case MERGES, the
    same boundary as the SQL lag form, pinned empirically against
    adversarial exact-gap layouts in
    tests/test_session_window_properties.py (the r13 property sweep
    falsified the previous "splits at >=" docstring claim; window end
    = last event + gap). Session bounds are compared as epoch micros
    (BIGINT) to keep the hash engine-neutral."""
    import glob as _glob
    import os
    import shutil

    base = f"{_io_dir(sf_dir)}/session_window_stream"
    shutil.rmtree(base, ignore_errors=True)
    stream_dir = f"{base}/events_ooo"
    os.makedirs(stream_dir)
    ev = load_table(spark, sf_dir, "events")
    for i in range(3):
        part_dir = f"{base}/split{i}"
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(part_dir)
        (src,) = _glob.glob(f"{part_dir}/part-*.parquet")
        dst = os.path.join(stream_dir, f"batch-{i}.parquet")
        os.replace(src, dst)
        # mtime order 1, 0, 2 — any multi-batch order is out-of-order
        # (every file spans the full range); fixed for a deterministic
        # replay sequence
        mt = 1_000_000 + [1, 0, 2][i] * 1_000
        os.utime(dst, (mt, mt))

    from ..streaming.events_stream import _with_event_time, drain, session_window_counts

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
    )
    agg = session_window_counts(
        _with_event_time(stream).withWatermark("event_time", "3650 days"),
        "30 minutes",
    )
    name = "session_window_ooo_out"
    drain(agg.writeStream.outputMode("complete").format("memory").queryName(name))
    return spark.sql(
        f"""
        SELECT user_id,
               unix_micros(session_start) AS session_start_us,
               unix_micros(session_end) AS session_end_us,
               CAST(n_events AS BIGINT) AS n_events
        FROM {name}
        ORDER BY user_id, session_start_us
        """
    )


_SESSION_WINDOW_STREAM_ORACLE = """
SELECT user_id,
       CAST(min(epoch_us(ts)) AS BIGINT) AS session_start_us,
       CAST(max(epoch_us(ts)) + 1800000000 AS BIGINT) AS session_end_us,
       COUNT(*) AS n_events
FROM (
  SELECT user_id, ts, event_id,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM events
  ) x
) s
GROUP BY user_id, session_id
ORDER BY user_id, session_start_us
"""


def _spark_stream_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Structured Streaming tumbling-window aggregation
    (streaming/events_stream.py) drained over the events file source;
    stream/batch equivalence is asserted in tests/test_streaming.py.
    Double-sum columns are dropped here (order-dependent ulps); the
    exact-cents total is checked by op_events_tumbling_window."""
    df = run_windowed_counts_once(spark, sf_dir, "5 minutes")
    return df.select("window_start", "window_end", "event_type", "n_events")


def _stream_windowed_oracle(d: str) -> str:
    return f"""
SELECT {_window_start(d, 300)} AS window_start,
       {_window_start(d, 300)} + INTERVAL 5 MINUTE AS window_end,
       event_type,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2, 3
ORDER BY window_start, event_type
"""


def _json_props_sql(d: str) -> str:
    if d == D.SPARK:
        k = "get_json_object(props, '$.k')"
    else:
        k = "json_extract_string(props, '$.k')"
    return f"""
SELECT {k} AS k_value, COUNT(*) AS n
FROM events
WHERE props IS NOT NULL
GROUP BY 1
ORDER BY CAST(k_value AS INT)
"""


# =====================================================================
# Cleaning / star-schema operator queries
# =====================================================================

_REGEX_GUARD_STAR = """
SELECT status, COUNT(*) AS numeric_keys
FROM complaints_raw
WHERE {guard}
GROUP BY status
ORDER BY status
"""

_NOT_IN_SENTINELS = """
SELECT property_type, COUNT(*) AS priced_listings
FROM listings_raw
WHERE price NOT IN ('NaN', 'nan', '', 'INF', '-INF') AND price IS NOT NULL
GROUP BY property_type
ORDER BY property_type
"""


def _try_cast_currency_sql(d: str) -> str:
    cleaned = D.regexp_replace_all(d, "price", r"[$,]", "")
    return f"""
SELECT room_type,
       COUNT(try_cast({cleaned} AS DOUBLE)) AS castable,
       {_avg_units(f"try_cast({cleaned} AS DOUBLE)", 100, "avg_price", 2)}
FROM listings_raw
WHERE price NOT IN ('NaN', 'nan', '', 'INF', '-INF')
GROUP BY room_type
ORDER BY room_type NULLS FIRST
"""


def _decimal_price_sql(d: str) -> str:
    """The reference's literal typed path: TRY_CAST(price AS
    DECIMAL(18,2)) (`Airbnb Listings Analysis.ipynb` cell 0) — exact
    decimal SUM in both engines, then one final CAST to DOUBLE (the
    engine-native avg() output types differ: Spark DECIMAL(22,6),
    DuckDB DOUBLE — so the average is computed as exact-sum/count)."""
    cleaned = D.regexp_replace_all(d, "price", r"[$,]", "")
    dec = f"try_cast({cleaned} AS DECIMAL(18,2))"
    return f"""
SELECT room_type,
       COUNT({dec}) AS castable,
       round(CAST(sum({dec}) AS DOUBLE) / COUNT({dec}), 2) AS avg_price
FROM listings_raw
WHERE price NOT IN ('NaN', 'nan', '', 'INF', '-INF')
GROUP BY room_type
ORDER BY room_type NULLS FIRST
"""


def _ts_parse_hour_sql(d: str) -> str:
    parsed = D.parse_timestamp(d, "created_date")
    utc = D.to_utc(d, parsed)
    return f"""
SELECT CAST(extract(hour FROM {utc}) AS INT) AS utc_hour, COUNT(*) AS n
FROM complaints_raw
WHERE created_date IS NOT NULL
GROUP BY 1
ORDER BY utc_hour
"""


_DURATION_BY_BOROUGH = """
SELECT borough, COUNT(*) AS n, round(avg(duration_hours), 2) AS avg_hours
FROM staging_311
WHERE duration_hours IS NOT NULL
GROUP BY borough
ORDER BY borough
"""

_GEOHASH_GROUPBY = """
SELECT geohash, COUNT(*) AS n
FROM staging_311
GROUP BY geohash
ORDER BY n DESC, geohash
LIMIT 50
"""

# The reference's signature cross-dataset op: geohash equi-join +
# two countDistinct rollups (`Glue job to merge 311 Airbnb.py:135-141`).
#
# AGGREGATE-BELOW-JOIN REWRITE (same argument as g07): the naive inner
# join fans out |complaints/cell| × |listings/cell| rows per geohash
# before COUNT(DISTINCT) collapses them (~14M intermediate rows at
# sf0.1, quadratic per hot cell at 100 TB). Because the grouping key IS
# the join key, each side's distinct count is independent of the other
# side's multiplicity, and the INNER join only gates which cells
# survive — so per-side pre-aggregation + join of the tiny rollups is
# row-identical (pinned in tests/test_golden_rewrites.py).
_GEOHASH_MERGE = """
SELECT c.geohash,
       c.cnt AS n_complaints,
       a.cnt AS n_airbnbs
FROM (SELECT geohash, COUNT(DISTINCT unique_key) AS cnt
      FROM staging_311 GROUP BY geohash) c
JOIN (SELECT geohash, COUNT(DISTINCT id) AS cnt
      FROM staging_airbnb GROUP BY geohash) a ON a.geohash = c.geohash
ORDER BY n_complaints DESC, c.geohash
LIMIT 100
"""


def _spark_schema_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = ensure_columns(load_table(spark, sf_dir, "nation"), ["n_name", "park_borough"])
    return df.select(
        F.col("n_nationkey").cast("int").alias("n_nationkey"), "n_name", "park_borough"
    ).orderBy("n_nationkey")


_SCHEMA_CONTRACT_ORACLE = """
SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name, CAST(NULL AS STRING) AS park_borough
FROM nation ORDER BY n_nationkey
"""


def _spark_upsert_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti upsert tag-union suite (J2/J3). Parts:

    - ``segments_after_twice``: run the upsert twice over customer;
      the second pass must add zero rows (idempotency) — per-segment
      counts equal the plain table's.
    - ``null_key``: the round-10 NULL-key fix promoted to oracle
      coverage (VERDICT r10 #3): existing holds the even nation keys
      plus a NULL-key row; incoming holds EVERY nation key plus a
      NULL-key row. Two passes must keep exactly one row per key —
      NULL included (null-safe anti-join; a plain equality anti-join
      re-appends the NULL-key row every run) — and the surviving
      payload must be the EXISTING row's, never the incoming twin's."""
    customer = load_table(spark, sf_dir, "customer")
    existing = customer.filter(F.col("c_custkey") % 3 == 0)
    once = incremental_upsert(existing, customer, ["c_custkey"])
    twice = incremental_upsert(once, customer, ["c_custkey"])
    seg_part = (
        twice.groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("segments_after_twice").alias("part"),
            F.col("c_mktsegment").alias("k"),
            F.lit(None).cast("string").alias("s"),
            F.col("n"),
        )
    )

    k = F.col("n_nationkey").cast("bigint")
    nat = load_table(spark, sf_dir, "nation")
    null_row = lambda payload: spark.range(1).select(  # noqa: E731
        F.lit(None).cast("bigint").alias("k"), F.lit(payload).alias("payload")
    )
    ex = (
        nat.filter(k % 2 == 0)
        .select(k.alias("k"), F.concat(F.lit("seed-"), k.cast("string")).alias("payload"))
        .unionByName(null_row("null-seed"))
    )
    inc = (
        nat.select(k.alias("k"), F.concat(F.lit("inc-"), k.cast("string")).alias("payload"))
        .unionByName(null_row("null-inc"))
    )
    after = incremental_upsert(
        incremental_upsert(ex, inc, ["k"]), inc, ["k"]
    )
    null_part = (
        after.groupBy("k", "payload")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("null_key").alias("part"),
            F.coalesce(F.col("k").cast("string"), F.lit("NULL")).alias("k"),
            F.col("payload").alias("s"),
            F.col("n"),
        )
    )
    return seg_part.unionByName(null_part).orderBy("part", "k")


_UPSERT_ORACLE = """
SELECT 'segments_after_twice' AS part, c_mktsegment AS k,
       CAST(NULL AS STRING) AS s, COUNT(*) AS n
FROM customer GROUP BY c_mktsegment
UNION ALL
SELECT 'null_key' AS part, coalesce(CAST(k AS STRING), 'NULL') AS k,
       payload AS s, COUNT(*) AS n
FROM (
  WITH existing AS (
    SELECT CAST(n_nationkey AS BIGINT) AS k,
           'seed-' || CAST(n_nationkey AS STRING) AS payload
    FROM nation WHERE n_nationkey % 2 = 0
    UNION ALL SELECT CAST(NULL AS BIGINT), 'null-seed'
  ),
  incoming AS (
    SELECT CAST(n_nationkey AS BIGINT) AS k,
           'inc-' || CAST(n_nationkey AS STRING) AS payload
    FROM nation
    UNION ALL SELECT CAST(NULL AS BIGINT), 'null-inc'
  )
  SELECT * FROM existing
  UNION ALL
  SELECT i.* FROM incoming i
  WHERE NOT EXISTS (
    SELECT 1 FROM existing e WHERE e.k IS NOT DISTINCT FROM i.k
  )
) __m
GROUP BY 1, 2, 3
ORDER BY part, k
"""


# =====================================================================
# Source/sink roundtrips (SURVEY §2.1 scans K1-K5/S2-S7): write with
# the engine's writers, read back with its readers, aggregate; the
# oracle aggregates the original table directly, so the check proves
# the write→read cycle is value-preserving.
# =====================================================================


def _io_dir(sf_dir: str) -> str:
    """Per-PROCESS scratch zone for the io-roundtrip suite.

    Keyed by (sf basename, pid): multiple pytest workers execute the whole
    registry concurrently (tests/test_entry.py and tests/test_plans.py both
    do), and a dir keyed by sf alone makes them race on the same
    run_manifest/csv paths (observed at 4 workers, round 9). Lifecycle
    (atexit removal + dead-pid orphan sweep) lives in ``scratch``.
    """
    import os

    from ..scratch import process_scratch_dir

    return process_scratch_dir(
        "/tmp/spark_graft_io", os.path.basename(sf_dir.rstrip("/"))
    )


def _spark_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = f"{_io_dir(sf_dir)}/nation_csv"
    write_csv(load_table(spark, sf_dir, "nation"), path)
    back = read_csv(spark, path)
    return (
        back.groupBy("n_regionkey")
        .agg(F.count("*").alias("n_nations"), F.sum("n_nationkey").alias("key_sum"))
        .select(
            F.col("n_regionkey").cast("int").alias("regionkey"),
            "n_nations",
            F.col("key_sum").cast("bigint").alias("key_sum"),
        )
        .orderBy("regionkey")
    )


_CSV_ROUNDTRIP_ORACLE = """
SELECT CAST(n_regionkey AS INT) AS regionkey, COUNT(*) AS n_nations,
       CAST(sum(n_nationkey) AS BIGINT) AS key_sum
FROM nation GROUP BY n_regionkey ORDER BY regionkey
"""


def _spark_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = f"{_io_dir(sf_dir)}/customer_json"
    write_json(load_table(spark, sf_dir, "customer"), path)
    back = read_json(spark, path, multiline=False)
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.round(F.col("c_acctbal") * 100, 0).cast("bigint")).alias("acctbal_cents"),
        )
        .orderBy("c_mktsegment")
    )


_JSON_ROUNDTRIP_ORACLE = """
SELECT c_mktsegment, COUNT(*) AS n_customers,
       CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS acctbal_cents
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def _spark_manifest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-struct manifest write→read (§1.2 nested struct row): the
    read-back must expose the struct fields by name, and the stats
    struct carries a value only the data can produce (orders count) so
    the oracle check is genuinely differential."""
    from ..sources.writers import read_run_manifest, write_run_manifest

    path = f"{_io_dir(sf_dir)}/run_manifest"
    n_orders = load_table(spark, sf_dir, "orders").count()
    write_run_manifest(
        spark,
        path,
        job_name="merge_311_airbnb",
        run_utc="2026-01-01T00:00:00Z",
        inputs={"complaints": "events.parquet", "airbnb": "documents.parquet"},
        outputs={"joined": "joined"},
        stats={"n_orders": n_orders},
    )
    m = read_run_manifest(spark, path)
    return m.select(
        F.concat_ws(
            "|", F.col("job_name"), F.col("inputs.airbnb"),
            F.col("inputs.complaints"), F.col("outputs.joined"), F.col("run_utc"),
        ).alias("k"),
        F.col("stats.n_orders").alias("n_orders"),
    )


_MANIFEST_ROUNDTRIP_ORACLE = """
SELECT 'merge_311_airbnb|documents.parquet|events.parquet|joined|2026-01-01T00:00:00Z' AS k,
       COUNT(*) AS n_orders
FROM orders
"""


def _spark_partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gold-zone partitioned layout (K1 + §4 partition pruning): write
    lineitem partitioned by ship year, read back filtered to one year —
    the scan only touches that year's directory."""
    path = f"{_io_dir(sf_dir)}/lineitem_by_year"
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate")
    )
    write_parquet(li, path, partition_by=["ship_year"])
    back = read_parquet(spark, path).filter(F.col("ship_year") == 1996)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")).alias("price_cents"),
    )


_PARTITIONED_PRUNE_ORACLE = """
SELECT COUNT(*) AS n_rows,
       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS price_cents
FROM lineitem WHERE extract(year FROM l_shipdate) = 1996
"""


# =====================================================================
# Text analysis / dedup / similarity / multimodal (documents+embeddings)
# =====================================================================

_DUCK_TOKENS = r"list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')"


def _spark_token_stats(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    if docs is None:
        docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", TX.token_count("text").alias("tc"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tc").alias("total_tokens"),
            F.round(F.sum("tc").cast("double") / F.count("*"), 4).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


_TOKEN_STATS_ORACLE = f"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(sum(len({_DUCK_TOKENS})) AS BIGINT) AS total_tokens,
       round(CAST(CAST(sum(len({_DUCK_TOKENS})) AS BIGINT) AS DOUBLE) / COUNT(*), 4) AS avg_tokens
FROM documents
GROUP BY lang ORDER BY lang
"""


def _spark_explode_tokens(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Explode (UDTF-shaped row generator): corpus-level token
    frequencies via explode(word_tokens) — one row per token, then a
    plain re-aggregation. Scale: explode is a narrow transformation
    (no shuffle); only the tiny token-frequency agg shuffles."""
    if docs is None:
        docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(TX.word_tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("occurrences"))
        .orderBy(F.desc("occurrences"), "token")
        .limit(20)
    )


_EXPLODE_TOKENS_ORACLE = f"""
SELECT token, COUNT(*) AS occurrences
FROM (SELECT unnest({_DUCK_TOKENS}) AS token FROM documents) t
GROUP BY token
ORDER BY occurrences DESC, token
LIMIT 20
"""


# Deterministic dataset splitting — the train/val/test assignment a
# training pipeline needs: hash the stable id (md5, identical in both
# engines), take the first hex byte as a 256-bucket, and split by
# lexicographic threshold (fixed-width lowercase hex compares
# numerically). Reshuffling data, adding rows, or re-running never
# moves an existing doc across splits.
_SPLIT_CASE = """CASE WHEN substring(md5(CAST(doc_id AS {stype})), 1, 2) < '1a' THEN 'test'
     WHEN substring(md5(CAST(doc_id AS {stype})), 1, 2) < '33' THEN 'val'
     ELSE 'train' END"""


def _split_sql(d: str, table: str = "documents") -> str:
    """``table`` lets the Spark side read a cached shared projection
    (text_features_suite's shared scan) — same rows, same values; the
    DuckDB oracle always reads ``documents``."""
    stype = "STRING" if d == D.SPARK else "VARCHAR"
    case = _SPLIT_CASE.format(stype=stype)
    return f"""
SELECT {case} AS split,
       COUNT(*) AS n_docs,
       CAST(sum(len({_DUCK_TOKENS}) ) AS BIGINT) AS total_tokens
FROM {table}
GROUP BY 1 ORDER BY split
""" if d != D.SPARK else f"""
SELECT {case} AS split,
       COUNT(*) AS n_docs,
       CAST(sum(size(filter(split(lower(trim(text)), '\\\\s+'), x -> x != ''))) AS BIGINT) AS total_tokens
FROM {table}
GROUP BY 1 ORDER BY split
"""


def _spark_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(TX.lang_id("text").alias("predicted_lang"))
        .groupBy("predicted_lang")
        .agg(F.count("*").alias("n"))
        .orderBy("predicted_lang")
    )


def _duck_lang_id(src: str = "documents") -> str:
    """Rows `(doc_id, text, predicted_lang)` of relation `src`:
    functions.text.lang_id as per-language stopword shares, their max,
    and a CASE."""
    toks = _DUCK_TOKENS
    scores = []
    for lang in sorted(TX.LANG_STOPWORDS):
        lits = ", ".join(f"'{w}'" for w in TX.LANG_STOPWORDS[lang])
        scores.append(
            f"CAST(len(list_filter({toks}, x -> x IN ({lits}))) AS DOUBLE)"
            f" / greatest(len({toks}), 1) AS s_{lang}"
        )
    langs = sorted(TX.LANG_STOPWORDS)
    best = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    case = "CASE "
    for lg in langs:  # first language wins ties (matches Spark impl)
        case += f"WHEN s_{lg} = __best AND __best > 0 THEN '{lg}' "
    case += "ELSE 'und' END"
    return f"""
  SELECT doc_id, text, {case} AS predicted_lang FROM (
    SELECT *, {best} AS __best FROM (SELECT doc_id, text, {", ".join(scores)} FROM {src}) s0
  ) s1"""


def _lang_id_oracle() -> str:
    return f"""
SELECT predicted_lang, COUNT(*) AS n FROM ({_duck_lang_id()}
) s2
GROUP BY predicted_lang ORDER BY predicted_lang
"""


def _spark_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(TX.fingerprint("text").alias("fp")).agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fp").alias("n_distinct_fingerprints"),
    )


_FINGERPRINT_ORACLE = f"""
SELECT COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(array_to_string(list_sort(list_distinct({_DUCK_TOKENS})), ' ')))
         AS n_distinct_fingerprints
FROM documents
"""


def _spark_dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kept = dedup_exact(docs, ["text"], order_by=["doc_id"])
    return kept.agg(
        F.count("*").alias("n_unique_texts"), F.sum("doc_id").alias("kept_id_sum")
    )


_DEDUP_EXACT_ORACLE = """
SELECT COUNT(*) AS n_unique_texts, CAST(sum(doc_id) AS BIGINT) AS kept_id_sum
FROM (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text) t
"""


# Word 5-grams at Jaccard ≥ 0.5 — a realistic near-dup operating point
# (production pipelines shingle on 5-13 word n-grams). Short shingles
# degenerate on same-register text: at n=2 this corpus has only 931
# distinct bigrams over 5000 docs, so the inverted-index self-join
# materializes Σf² ≈ 73M rows; at n=5 the same join is ~280k rows.
_NGRAM_N = 5
_NGRAM_MIN_J = 0.5


def _duck_word_grams(toks: str, with_id: bool = True) -> str:
    """Distinct word-`_NGRAM_N`-grams `(doc_id, g)` of the token relation
    `toks(doc_id, t)`, or `g` alone when `with_id` is False. Grams are
    the literal token strings; the Spark side hashes its gram keys."""
    key = "doc_id, " if with_id else ""
    return f"""
  SELECT DISTINCT {key}g FROM (
    SELECT {key}unnest(list_transform(generate_series(1, greatest(len(t) - {_NGRAM_N - 1}, 1)),
                                     i -> array_to_string(t[i:i+{_NGRAM_N - 1}], ' '))) AS g
    FROM {toks}
  ) __g
"""


def _duck_jaccard(grams: str, pair: str, min_j: float) -> str:
    """CTEs `sizes`, `inter` and `truth(id_a, id_b, j)`: the exact gram
    Jaccard of each pair of `grams(doc_id, g)` docs `a`, `b` that share
    a gram and satisfy the `pair` predicate, kept where j >= min_j."""
    return f"""sizes AS (SELECT doc_id, COUNT(*) AS n FROM {grams} GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM {grams} a JOIN {grams} b ON a.g = b.g AND {pair}
  GROUP BY a.doc_id, b.doc_id
),
truth AS (
  SELECT id_a, id_b, CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) AS j
  FROM inter
  JOIN sizes na ON na.doc_id = id_a
  JOIN sizes nb ON nb.doc_id = id_b
  WHERE CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) >= {min_j}
)"""


def _duck_components(nodes: str, key: str, edges: str, p: str = "") -> str:
    """CTEs `{p}sym`, `{p}reach` and `{p}comp(key, cluster_id)`: connected
    components of the undirected `edges(id_a, id_b)` over the `key`
    column of `nodes`, by recursive-CTE transitive closure (the oracle
    needs WITH RECURSIVE). A node's cluster is the least id it reaches.
    `sym` and `comp` are MATERIALIZED: inlined, DuckDB 1.0 ran the
    curation-funnel oracle ~8× slower at sf0.01 (the exact-Jaccard
    edges feeding `sym` appear to be re-derived per recursion step)."""
    return f"""{p}sym AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM {edges}
  UNION ALL SELECT id_b, id_a FROM {edges}
),
{p}reach(src, node) AS (
  SELECT {key}, {key} FROM {nodes}
  UNION
  SELECT {p}reach.src, e.b FROM {p}reach JOIN {p}sym e ON e.a = {p}reach.node
),
{p}comp AS MATERIALIZED (
  SELECT src AS {key}, min(node) AS cluster_id FROM {p}reach GROUP BY src
)"""


_NGRAM_JACCARD_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents
),
grams AS ({_duck_word_grams("toks")}),
{_duck_jaccard("grams", "a.doc_id < b.doc_id", _NGRAM_MIN_J)}
SELECT id_a, id_b, round(j, 6) AS jaccard FROM truth
ORDER BY jaccard DESC, id_a, id_b
LIMIT 50
"""


def _duck_cos(a: str, b: str) -> str:
    def _dot(x: str, y: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, len({x})),"
            f" i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE)))"
        )

    return f"({_dot(a, b)} / nullif(sqrt({_dot(a, a)}) * sqrt({_dot(b, b)}), 0.0))"


def _spark_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out = cosine_self_topk(emb, "vec_id", "embedding", k=5, probe_ids=[0, 1, 2, 3, 4])
    return out.select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")


def _duck_cos_top5(v: str) -> str:
    """Rows (query_id, neighbor_id, c, rank): the exact cosine top-5 of
    probe vectors 0-4 over every other vector of `v(vec_id, embedding)`."""
    return f"""
  SELECT * FROM (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           {_duck_cos("q.embedding", "n.embedding")} AS c,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {_duck_cos("q.embedding", "n.embedding")} DESC,
                                       n.vec_id) AS rank
    FROM {v} q JOIN {v} n ON n.vec_id <> q.vec_id
    WHERE q.vec_id IN (0, 1, 2, 3, 4)
  ) r WHERE rank <= 5
"""


_COSINE_TOPK_ORACLE = f"""
SELECT query_id, neighbor_id, round(c, 6) AS cosine, rank
FROM ({_duck_cos_top5("embeddings")}) t
ORDER BY query_id, rank
"""


# --- augmented embeddings: the driver's embeddings fixture has NO
# near-duplicate pairs (max pairwise cosine ~0.5-0.6 across SFs), so a
# near-dup oracle over the raw table verifies an EMPTY truth set —
# vacuously green. Both engines therefore derive the SAME augmented
# corpus in-query: every `_AUG_STRIDE`-th vector gains a perturbed copy
# (id + `_AUG_ID_OFFSET`) whose components are scaled by deterministic
# pseudo-noise built from pure integer arithmetic and exact-in-double
# literals (1.0 / 10.0 / 6.0) — the expression trees are operation-for-
# operation identical in Spark and DuckDB, so the derived vectors and
# every downstream cosine are bit-identical. The relative amplitude
# steps with vec_id % 4 (rho = 0.2/0.4/0.6/0.8), planting pairs spread
# over cosine ≈ 0.99/0.97/0.93/0.87 — a genuine recall exercise for the
# banded SRP join, not just cosine=1 clones. ---
_AUG_STRIDE = 25
_AUG_ID_OFFSET = 1_000_000


def _spark_aug_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding"
    )
    # Spark's transform index `i` is 0-based; the DuckDB form below uses
    # 1-based generate_series — hence `(i + 1)` here so both engines
    # compute the identical per-component factor.
    pert = emb.filter(F.expr(f"vec_id % {_AUG_STRIDE} = 0")).selectExpr(
        f"vec_id + {_AUG_ID_OFFSET} AS vec_id",
        "transform(embedding, (x, i) -> CAST(x AS DOUBLE) * (1.0D"
        " + ((CAST(2 + 2 * (vec_id % 4) AS DOUBLE) / 10.0D)"
        " * (CAST(((vec_id * 31 + (i + 1) * 17) % 13) - 6 AS DOUBLE) / 6.0D))))"
        " AS embedding",
    )
    return base.unionByName(pert)


_AUG_EMB_SQL = f"""
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings
  UNION ALL
  SELECT vec_id + {_AUG_ID_OFFSET} AS vec_id,
         list_transform(generate_series(1, len(embedding)),
           i -> CAST(embedding[i] AS DOUBLE) * (1.0
             + ((CAST(2 + 2 * (vec_id % 4) AS DOUBLE) / 10.0)
               * (CAST(((vec_id * 31 + i * 17) % 13) - 6 AS DOUBLE) / 6.0)))) AS embedding
  FROM embeddings WHERE vec_id % {_AUG_STRIDE} = 0
"""


def _exact_near_dup_pairs(emb: DataFrame, min_cos: float = 0.8) -> DataFrame:
    # Norms are precomputed once per VECTOR (not per pair) and the
    # per-pair dot is the HOF fold — same left-to-right summation
    # order as the oracle, but crucially a COMPACT expression: the
    # cosine threshold gets filter-pushed into the all-pairs join
    # CONDITION, where a dim-unrolled multiply-add chain evaluates
    # interpreted per candidate pair (measured 15.9s; the looping
    # fold form runs the same plan in 3.2s at sf0.01).
    from ..operators.similarity import _dot

    with_norm = emb.select(
        "vec_id", "embedding",
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("__n"),
    )
    a = with_norm.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va"), F.col("__n").alias("__na")
    )
    b = with_norm.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb"), F.col("__n").alias("__nb")
    )
    cos = _dot(F.col("__va"), F.col("__vb")) / F.nullif(
        F.col("__na") * F.col("__nb"), F.lit(0.0)
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= min_cos)
        .select("id_a", "id_b", "cosine")
    )


def _spark_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spark_aug_embeddings(spark, sf_dir)
    return _exact_near_dup_pairs(emb).orderBy(F.desc("cosine"), "id_a", "id_b")


_NEAR_DUP_EXACT_ORACLE = f"""
WITH v AS ({_AUG_EMB_SQL})
SELECT id_a, id_b, cosine FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round({_duck_cos("a.embedding", "b.embedding")}, 6) AS cosine
  FROM v a JOIN v b ON a.vec_id < b.vec_id
) s
WHERE cosine >= 0.8
ORDER BY cosine DESC, id_a, id_b
"""


def _spark_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k. Deterministic end-to-end (sampled
    centroids, argmax assignment, exact re-rank), so unlike the SRP
    variant it carries a full value oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, "vec_id", "embedding", k=5, n_clusters=16, n_probe=4, probe_ids=[0, 1, 2, 3, 4]
    ).select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")


def _duck_assign_centroids(v: str, p: str = "") -> str:
    """CTEs `{p}cent(centroid_id, cv)`, the 16 lowest-id vectors of
    `v(vec_id, embedding)`, and `{p}assigned(vec_id, embedding,
    centroid_id)`: each vector's most cosine-similar centroid, ties to
    the lower centroid id."""
    return f"""{p}cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, embedding AS cv
  FROM (SELECT * FROM {v} ORDER BY vec_id LIMIT 16) __c
),
{p}assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT n.vec_id, n.embedding, c.centroid_id,
           row_number() OVER (PARTITION BY n.vec_id
                              ORDER BY {_duck_cos("n.embedding", "c.cv")} DESC, c.centroid_id) AS rn
    FROM {v} n CROSS JOIN {p}cent c
  ) __a WHERE rn = 1
)"""


_IVF_TOPK_ORACLE = f"""
WITH v AS (SELECT vec_id, embedding FROM embeddings),
{_duck_assign_centroids("v")},
probed AS (
  SELECT vec_id AS query_id, embedding AS qv, centroid_id FROM (
    SELECT q.vec_id, q.embedding, c.centroid_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {_duck_cos("q.embedding", "c.cv")} DESC, c.centroid_id) AS rn
    FROM v q CROSS JOIN cent c WHERE q.vec_id IN (0, 1, 2, 3, 4)
  ) __p WHERE rn <= 4
),
cand AS (
  SELECT DISTINCT p.query_id, p.qv, a.vec_id AS neighbor_id, a.embedding AS nv
  FROM assigned a JOIN probed p USING (centroid_id)
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, round(c, 6) AS cosine, rank FROM (
  SELECT query_id, neighbor_id, {_duck_cos("qv", "nv")} AS c,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {_duck_cos("qv", "nv")} DESC, neighbor_id) AS rank
  FROM cand
) __r WHERE rank <= 5
ORDER BY query_id, rank
"""


def _spark_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", TX.quality_score("text").alias("q"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.round(F.col("q") * 100, 0).cast("bigint")).alias("quality_centisum"),
        )
        .orderBy("lang")
    )


def _duck_quality_expr() -> str:
    # Exact DuckDB replica of functions.text.quality_score: length band
    # + punct ratio + en-stopword ratio + mean word length band. Java's
    # \p{Punct} == POSIX [[:punct:]] for ASCII text (the fixture is
    # ASCII), so the regex classes agree.
    toks = _DUCK_TOKENS
    sw = ", ".join(f"'{w}'" for w in TX.LANG_STOPWORDS["en"])
    n_tok = f"CAST(len({toks}) AS DOUBLE)"
    n_chars = "CAST(length(text) AS DOUBLE)"
    punct = (
        f"({n_chars} - CAST(length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE))"
        f" / greatest({n_chars}, 1.0)"
    )
    sw_ratio = (
        f"CAST(len(list_filter({toks}, x -> x IN ({sw}))) AS DOUBLE)"
        f" / greatest(CAST(len({toks}) AS DOUBLE), 1.0)"
    )
    mean_wl = f"{n_chars} / greatest({n_tok}, 1.0)"
    return (
        f"(CASE WHEN {n_tok} >= 5 AND {n_tok} <= 100000 THEN 0.25 ELSE 0.0 END"
        f" + CASE WHEN {punct} <= 0.2 THEN 0.25 ELSE 0.0 END"
        f" + CASE WHEN {sw_ratio} >= 0.05 THEN 0.25 ELSE 0.0 END"
        f" + CASE WHEN {mean_wl} >= 2.0 AND {mean_wl} <= 12.0 THEN 0.25 ELSE 0.0 END)"
    )


def _quality_oracle() -> str:
    q = _duck_quality_expr()
    return f"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(sum(CAST(round({q} * 100, 0) AS BIGINT)) AS BIGINT) AS quality_centisum
FROM documents GROUP BY lang ORDER BY lang
"""


# leakage-safe split operating point (funnel stages 6-8): cluster-keyed
# 80/10/10 via the portable md5 scheme
_SPLIT_SEED = "split-v1"
_SPLIT_VAL_FRAC = 0.1
_SPLIT_TEST_FRAC = 0.1


def _spark_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation funnel, one row per stage:
    the corpus pipeline's own stage list (`pipelines/corpus_pipeline`
    `STAGES`, folded lazily) — cleaned text (normalize + PII scrub) →
    language filter (en) → quality floor (≥0.75, repeated-token
    fraction ≤0.8) → exact dedup (earliest doc per text) → NEAR-dup
    cluster collapse (connected components over the exact word-5-gram
    Jaccard≥0.8 pair graph, min-id representative per component) →
    benchmark DECONTAMINATION (drop benchmark members, the doc_id % 7 ==
    0 stratum, and survivors sharing ≥2 distinct word-5-grams with it)
    — then a leakage-safe split over the exact-dedup survivors. Each
    row counts a stage's docs and tokens, so the oracle checks the
    pipeline's whole composition: its selectivity AND token mass. The
    components stage is the alternating large-star/small-star
    contraction (operators.dedup.near_dup_clusters); its DuckDB oracle
    is a recursive-CTE transitive closure over the identical edge set.
    The decontamination stage is operators.decontamination (broadcast
    bench-gram inverted index); its oracle is the same distinct-gram
    overlap count in SQL."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    frames, run = CP.fold_stages(docs)
    # leakage-safe split: cluster-keyed train/val/test over the
    # EXACT-deduped population (near-dups still present — the regime
    # where doc-keyed splits leak eval near-copies into train). Reuses
    # the fold's already-computed components; same md5 determinism
    # scheme as the sampling ops, so the DuckDB oracle recomputes the
    # identical assignment.
    splits = leakage_safe_split(
        frames["dedup"], "doc_id", clusters=run.comp,
        val_frac=_SPLIT_VAL_FRAC, test_frac=_SPLIT_TEST_FRAC, seed=_SPLIT_SEED,
    )
    stages = [
        ("raw", docs),
        *frames.items(),
        *((f"split_{s}", splits.filter(F.col("split") == s)) for s in ("train", "val", "test")),
    ]
    rows = [
        df.agg(
            F.count("*").alias("n_docs"),
            F.sum(TX.token_count("text")).cast("bigint").alias("total_tokens"),
        ).select(F.lit(i).alias("stage_idx"), F.lit(name).alias("stage"), "n_docs", "total_tokens")
        for i, (name, df) in enumerate(stages)
    ]
    return reduce(DataFrame.unionByName, rows).orderBy("stage_idx")


def _duck_clean_text() -> str:
    """corpus_pipeline.funnel_input's text rewrite of `text` in DuckDB:
    functions.text.normalize_text (translate the typographic quotes and
    dashes, drop zero-width/format characters, space out exotic spaces
    and control characters, collapse whitespace runs, trim), then the
    scrub_pii chain email → phone → ipv4 under RE2. Character classes
    are written as RE2 `\\x{...}` escapes (a SQL string cannot carry
    the NUL its class starts at)."""

    def re2(cls: str) -> str:
        return "".join(c if " " < c < "\x7f" else f"\\x{{{ord(c):04x}}}" for c in cls)

    src = TX._QUOTE_SRC + TX._DASH_SRC
    dst = (TX._QUOTE_DST + TX._DASH_DST).replace("'", "''")
    out = (
        "trim(regexp_replace(regexp_replace(regexp_replace("
        f"translate(text, '{src}', '{dst}'),"
        f" '{re2(TX._ZERO_WIDTH_RE)}', '', 'g'),"
        f" '{re2(TX._SPACE_RE)}', ' ', 'g'), '\\s+', ' ', 'g'))"
    )
    for _, pat in TX._PII_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '[PII]', 'g')"
    return out


def _funnel_oracle() -> str:
    toks = _DUCK_TOKENS
    q = _duck_quality_expr()
    stage = (
        "SELECT {i} AS stage_idx, '{nm}' AS stage, COUNT(*) AS n_docs,"
        f" CAST(sum(len({toks})) AS BIGINT) AS total_tokens FROM {{src}}"
    )
    return f"""
WITH RECURSIVE src AS (SELECT doc_id, {_duck_clean_text()} AS text FROM documents),
s1 AS (
  SELECT doc_id, text FROM ({_duck_lang_id("src")}
  ) f2 WHERE predicted_lang = '{CP.LANG}'
),
s2 AS (
  SELECT doc_id, text FROM s1
  WHERE {q} >= {CP.MIN_QUALITY} AND {_duck_repeat_fraction(1)} <= {CP.MAX_REPETITION}
),
s3 AS (SELECT min(doc_id) AS doc_id, text FROM s2 GROUP BY text),
s4grams AS ({_duck_word_grams(f"(SELECT doc_id, {toks} AS t FROM s3) s3t")}),
{_duck_jaccard("s4grams", "a.doc_id < b.doc_id", CP.MIN_JACCARD)},
{_duck_components("s3", "doc_id", "truth")},
s4 AS (
  SELECT s3.doc_id, s3.text FROM s3
  JOIN comp ON comp.doc_id = s3.doc_id AND comp.cluster_id = s3.doc_id
),
s5bench AS ({_duck_word_grams(
    f"(SELECT {toks} AS t FROM src WHERE doc_id % {CP.BENCH_MOD} = 0) bd", with_id=False
)}),
s5traing AS ({_duck_word_grams(
    f"(SELECT doc_id, {toks} AS t FROM s4 WHERE doc_id % {CP.BENCH_MOD} <> 0) td"
)}),
s5bad AS (
  SELECT doc_id FROM (
    SELECT doc_id, COUNT(*) AS c FROM s5traing JOIN s5bench USING (g) GROUP BY doc_id
  ) ov WHERE c >= {CP.DECON_MIN_OVERLAP}
),
s5 AS (
  SELECT doc_id, text FROM s4
  WHERE doc_id % {CP.BENCH_MOD} <> 0 AND doc_id NOT IN (SELECT doc_id FROM s5bad)
),
-- leakage-safe split: the same md5(seed || ':' || cluster_id)
-- fixed-width-hex scheme operators.training._hash_hex computes —
-- every near-dup component lands in one split in BOTH engines
splitted AS (
  SELECT s3.doc_id, s3.text,
         CASE WHEN substr(md5('{_SPLIT_SEED}' || ':' || CAST(comp.cluster_id AS VARCHAR)), 1, 6)
                   < '{fraction_threshold(_SPLIT_TEST_FRAC)}' THEN 'test'
              WHEN substr(md5('{_SPLIT_SEED}' || ':' || CAST(comp.cluster_id AS VARCHAR)), 1, 6)
                   < '{fraction_threshold(_SPLIT_TEST_FRAC + _SPLIT_VAL_FRAC)}' THEN 'val'
              ELSE 'train' END AS split
  FROM s3 JOIN comp USING (doc_id)
),
sp_train AS (SELECT doc_id, text FROM splitted WHERE split = 'train'),
sp_val   AS (SELECT doc_id, text FROM splitted WHERE split = 'val'),
sp_test  AS (SELECT doc_id, text FROM splitted WHERE split = 'test')
{stage.format(i=0, nm="raw", src="documents")}
UNION ALL {stage.format(i=1, nm="lang_en", src="s1")}
UNION ALL {stage.format(i=2, nm="quality", src="s2")}
UNION ALL {stage.format(i=3, nm="dedup", src="s3")}
UNION ALL {stage.format(i=4, nm="cluster_dedup", src="s4")}
UNION ALL {stage.format(i=5, nm="decontaminated", src="s5")}
UNION ALL {stage.format(i=6, nm="split_train", src="sp_train")}
UNION ALL {stage.format(i=7, nm="split_val", src="sp_val")}
UNION ALL {stage.format(i=8, nm="split_test", src="sp_test")}
ORDER BY stage_idx
"""


def _spark_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = attach_binary_payload(docs)
    return decode_image_stub(payload).select(
        "doc_id", "n_bytes", "width", "height", "channels", F.round("mean_luma", 6).alias("mean_luma")
    ).orderBy("doc_id")


_MULTIMODAL_ORACLE = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
       CAST(octet_length(encode(text)) % 480 + 1 AS INT) AS height,
       3 AS channels,
       round(CAST(ascii(substr(text, 1, 1)) % 256 AS DOUBLE) / 255.0, 6) AS mean_luma
FROM documents
ORDER BY doc_id
"""


def _spark_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal.binary_ops import resize_image_stub

    docs = load_table(spark, sf_dir, "documents")
    decoded = decode_image_stub(attach_binary_payload(docs))
    return resize_image_stub(decoded, 224, 224).select(
        "doc_id", "width", "height", "new_width", "new_height", F.round("scale", 6).alias("scale")
    ).orderBy("doc_id")


# Same IEEE-double geometry as the numpy stub: least/floor over doubles
# is bit-exact across engines, so the oracle checks values, not shape.
_MULTIMODAL_RESIZE_ORACLE = """
SELECT doc_id, width, height,
       CAST(greatest(1, floor(width * scale)) AS INT) AS new_width,
       CAST(greatest(1, floor(height * scale)) AS INT) AS new_height,
       round(scale, 6) AS scale
FROM (
  SELECT doc_id, width, height,
         least(224.0 / width, 224.0 / height, 1.0) AS scale
  FROM (
    SELECT doc_id,
           CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
           CAST(octet_length(encode(text)) % 480 + 1 AS INT) AS height
    FROM documents
  ) __d
) __s
ORDER BY doc_id
"""


def _spark_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal.binary_ops import decode_audio_stub

    docs = load_table(spark, sf_dir, "documents")
    return decode_audio_stub(attach_binary_payload(docs)).orderBy("doc_id")


_MULTIMODAL_AUDIO_ORACLE = """
SELECT doc_id,
       16000 AS sample_rate,
       CAST(octet_length(encode(text)) // 2 AS BIGINT) AS n_samples,
       CAST(octet_length(encode(text)) // 2 AS DOUBLE) / 16000.0 AS duration_s,
       CAST((ascii(substr(text, 1, 1)) % 256) * 31 + octet_length(encode(text)) AS BIGINT) % 1000
         / 1000.0 AS rms
FROM documents
ORDER BY doc_id
"""


# =====================================================================
# Consolidated suites
#
# The driver's CORRECTNESS budget covers 50 queries; related operators
# are therefore verified together as one tag-union query ("suite")
# whose parts normalize to a shared schema. Every part keeps its own
# fully deterministic derivation; the `part` tag names the operator so
# a failure localizes. Numeric outputs stay typed (BIGINT/DOUBLE) —
# only grouping keys are stringified — so value hashing is exact.
# =====================================================================


def _part_sql(
    part: str,
    body: str,
    k: str,
    n: str = "NULL",
    n2: str = "NULL",
    v: str = "NULL",
) -> str:
    """Normalize one sub-query to (part, k, n, n2, v). `STRING` is a
    valid type alias in both Spark and DuckDB, so the text is shared."""
    return (
        f"SELECT '{part}' AS part, CAST({k} AS STRING) AS k,"
        f" CAST({n} AS BIGINT) AS n, CAST({n2} AS BIGINT) AS n2,"
        f" CAST({v} AS DOUBLE) AS v FROM ({body}) __sub"
    )


def _suite_sql(parts: list[str]) -> str:
    return "\nUNION ALL\n".join(parts) + "\nORDER BY part, k"


# --- op_set_operators: UNION / UNION ALL / INTERSECT / EXCEPT (U1-U3 +
# set ops; shared SQL text).  The distinct/dedup family (A8 + D1-D3 +
# the streaming-dedup key-set contract, whose Spark side drains the
# dropDuplicatesWithinWatermark stream) is folded in as further parts
# so the driver's 50-query CORRECTNESS cap covers the whole declared
# surface; each part keeps its own independent oracle body. ---
_SET_OPERATORS_BASE_PARTS = [
    _part_sql("union_distinct", _UNION_DISTINCT, k="nationkey"),
    _part_sql("union_all_counts", _UNION_ALL_COUNT, k="nationkey", n="n"),
    _part_sql("intersect", _INTERSECT_SQL, k="o_custkey"),
    _part_sql("except", _EXCEPT_SQL, k="o_custkey"),
]

# --- op_join_filters: anti / semi / left-outer-null-probe (J2/J3/J8) ---
_JOIN_FILTERS_SQL = _suite_sql([
    _part_sql("anti_new_keys", _ANTI_JOIN_SQL, k="c_mktsegment", n="new_customers"),
    _part_sql("semi_exists", _SEMI_JOIN_SQL, k="c_mktsegment", n="customers_with_orders"),
    _part_sql("left_null_probe", _LEFT_JOIN_NULLS, k="nationkey", n="customers_without_orders"),
])

# --- op_groupby_shapes_suite: ROLLUP / CUBE+GROUPING() / GROUPING
# SETS / PIVOT — the round-10 registry fold (COVERAGE.md headroom
# policy, fold #1): the formerly-standalone op_pivot_status_by_year
# lands as a part of the grouping-shapes family, freeing one registry
# slot under the driver's 50-query cap. Every part keeps its own
# independent derivation and oracle. ---
_GROUPBY_SHAPES_BODY = f"""
SELECT 'rollup' AS part, region, nation,
       CAST(NULL AS INT) AS g_region, CAST(NULL AS INT) AS g_nation, n_customers
FROM ({_ROLLUP}) __r
UNION ALL
SELECT 'cube' AS part, region, nation, g_region, g_nation, n_customers
FROM ({_CUBE}) __c
UNION ALL
SELECT 'grouping_sets' AS part, coalesce(r_name, 'ALL') AS region,
       coalesce(n_name, 'ALL') AS nation,
       CAST(NULL AS INT) AS g_region, CAST(NULL AS INT) AS g_nation, n_customers
FROM ({_GROUPING_SETS_SQL}) __g
"""

_GROUPBY_SHAPES_ORDER = "\nORDER BY part, region, nation, g_region, g_nation"

# Oracle form of the pivot_status part: the Spark side runs the REAL
# wide-format pivot (groupBy().pivot(values).count() + na.fill) and
# unpivots to the suite schema, so the oracle must reproduce the
# zero-filled year × status grid (a bare GROUP BY would miss the
# combinations the pivot materializes as 0).
_PIVOT_PART_ORACLE = """
SELECT 'pivot_status' AS part,
       CAST(y.year AS STRING) AS region,
       s.status AS nation,
       CAST(NULL AS INT) AS g_region, CAST(NULL AS INT) AS g_nation,
       CAST(coalesce(c.cnt, 0) AS BIGINT) AS n_customers
FROM (SELECT DISTINCT CAST(extract(year FROM o_orderdate) AS INT) AS year
      FROM orders) y
CROSS JOIN (SELECT 'F' AS status UNION ALL SELECT 'O' UNION ALL SELECT 'P') s
LEFT JOIN (SELECT CAST(extract(year FROM o_orderdate) AS INT) AS year,
                  o_orderstatus AS status, count(*) AS cnt
           FROM orders GROUP BY 1, 2) c
       ON c.year IS NOT DISTINCT FROM y.year AND c.status = s.status
"""

_GROUPBY_SHAPES_ORACLE = (
    _GROUPBY_SHAPES_BODY
    + "UNION ALL\n"
    + _PIVOT_PART_ORACLE
    + _GROUPBY_SHAPES_ORDER
)


def _spark_groupby_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP/CUBE/GROUPING SETS run as shared SQL; the pivot_status
    part executes the real DataFrame pivot (_spark_pivot_status) and
    unpivots via stack() into the suite schema — the operator under
    test stays the wide-format pivot, only the compare shape is
    shared."""
    register_base_views(spark, sf_dir)
    variants = spark.sql(_GROUPBY_SHAPES_BODY)
    pivot = _spark_pivot_status(spark, sf_dir)
    unpivoted = pivot.selectExpr(
        "'pivot_status' AS part",
        "CAST(year AS STRING) AS region",
        "stack(3, 'F', F, 'O', O, 'P', P) AS (nation, cnt)",
    ).selectExpr(
        "part",
        "region",
        "nation",
        "CAST(NULL AS INT) AS g_region",
        "CAST(NULL AS INT) AS g_nation",
        "CAST(cnt AS BIGINT) AS n_customers",
    )
    return variants.unionAll(unpivoted).orderBy(
        "part", "region", "nation", "g_region", "g_nation"
    )

# --- op_window_functions: the full window family in one tag-union
# suite — %-of-total empty frame + window-over-agg (W1/W2 direct
# forms), lag/lead/dense_rank, and the explicit RANGE frame (7-day
# rolling).  Dialect-parameterized because Spark's datediff(end,
# start) and DuckDB's date_diff('day', start, end) differ. ---
def _window_functions_sql(d: str) -> str:
    lag_lead = _LAG_LEAD_SQL if d == D.SPARK else _LAG_LEAD_ORACLE
    return _suite_sql([
        _part_sql("pct_of_total", _PCT_PRIORITY, k="o_orderpriority", n="n_orders", v="pct"),
        _part_sql(
            "quarterly_avg",
            _QUARTER_WINDOW,
            k="CAST(q AS STRING) || '-' || CAST(m AS STRING)",
            n="n_orders",
            v="round(avg_monthly_in_quarter, 6)",
        ),
        _part_sql(
            "lag_lead_rank",
            lag_lead,
            k="CAST(o_custkey AS STRING) || '|' || CAST(o_orderkey AS STRING)"
              " || '|' || CAST(orderdate AS STRING)",
            n="days_since_prev",
            n2="days_until_next",
            v="CAST(spend_rank_in_priority AS DOUBLE)",
        ),
        _part_sql(
            "rolling_7d",
            _ROLLING_WINDOW_SQL,
            k="CAST(d AS STRING)",
            n="n",
            n2="rolling_7d_orders",
        ),
    ])

# --- op_multijoin_revenue: 3-way and 6-way join revenue rollups ---
_MULTIJOIN_REVENUE_SQL = _suite_sql([
    _part_sql(
        "q3_building_shipping",
        _Q3_STYLE,
        k="CAST(o_orderkey AS STRING) || '|' || CAST(orderdate AS STRING)",
        v="revenue",
    ),
    _part_sql(
        "q10_returned",
        _Q10_STYLE,
        k="CAST(c_custkey AS STRING) || '|' || c_mktsegment",
        v="returned_revenue",
    ),
])

# --- op_dim_rollups: region-gated 6-table star revenue + part/supplier
# countDistinct rollup ---
_DIM_ROLLUPS_SQL = _suite_sql([
    _part_sql("q5_asia_nation_revenue", _Q5_STYLE, k="nation", v="revenue"),
    _part_sql(
        "part_supplier",
        _PART_SUPPLIER_JOIN,
        k="p_brand",
        n="n_lineitems",
        n2="n_suppliers",
    ),
])

# SELECT DISTINCT + deterministic business-key dedup (A8 + D1-D3
# direct forms) + the STREAMING dedup operator's key-set contract: the
# Spark side runs streaming/dedup_stream.py's batch transformation
# (dropDuplicates — the same key semantics
# dropDuplicatesWithinWatermark enforces incrementally; stream/batch
# key-set equivalence incl. cross-micro-batch arrivals is pinned in
# tests/test_stream_dedup.py), summarized per event_type as
# (distinct-key count, user_id checksum) — identical whichever
# survivor row wins, so it is a full value oracle.  Folded into
# op_set_operators (see _SET_OPERATORS_BASE_PARTS).
_DISTINCT_DEDUP_BASE_PARTS = [
    _part_sql("select_distinct", _DISTINCT_PRIORITIES, k="o_orderpriority"),
    _part_sql("dedup_business_key", _DEDUP_EVENTS, k="event_type", n="n_kept", n2="id_sum"),
]

_STREAM_DEDUP_KEYS_ORACLE = """
SELECT event_type, COUNT(*) AS n_keys, SUM(user_id) AS uid_sum
FROM (SELECT DISTINCT user_id, event_type FROM events) __dk
GROUP BY event_type
"""

_SET_OPERATORS_SQL_PARTS = _SET_OPERATORS_BASE_PARTS + _DISTINCT_DEDUP_BASE_PARTS

_SET_OPERATORS_SQL = _suite_sql(
    _SET_OPERATORS_SQL_PARTS
    + [_part_sql("stream_dedup_keys", _STREAM_DEDUP_KEYS_ORACLE, k="event_type", n="n_keys", n2="uid_sum")]
)


def _spark_set_operators(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.dedup_stream import dedup_key_summary, run_dedup_stream_once

    register_base_views(spark, sf_dir)
    base = spark.sql("\nUNION ALL\n".join(_SET_OPERATORS_SQL_PARTS))
    stream_part = dedup_key_summary(run_dedup_stream_once(spark, sf_dir)).select(
        F.lit("stream_dedup_keys").alias("part"),
        F.col("event_type").cast("string").alias("k"),
        F.col("n_keys").cast("bigint").alias("n"),
        F.col("uid_sum").cast("bigint").alias("n2"),
        F.lit(None).cast("double").alias("v"),
    )
    return base.unionByName(stream_part).orderBy("part", "k")


# --- op_events_time_suite: gap-sessionization (lag window) + 5-minute
# tumbling-window rollup over events, folded into one tag-union suite
# (formerly the standalone op_sessionize_events / op_events_tumbling_
# window queries — merged for the driver's 50-query CORRECTNESS cap).
# Dialect-parameterized for epoch extraction. ---
def _events_time_suite_sql(d: str) -> str:
    return _suite_sql([
        _part_sql("sessionize", _sessionize_sql(d), k="CAST(n_sessions AS STRING)", n="n_users"),
        _part_sql(
            "tumbling_5m",
            _events_window_sql(d),
            k=f"CAST(CAST({_epoch(d, 'window_start')} AS BIGINT) AS STRING)"
              " || '|' || event_type",
            n="n_events",
            n2="total_value_micros",
        ),
    ])


# --- op_asof_range_join_suite: the as-of attribution join and the
# keyless interval-containment (range) join, folded into one suite
# (formerly standalone op_asof_join_events / op_range_join_events).
# Both Spark sides run the real operators (operators/asof.py,
# operators/rangejoin.py); the oracles are DuckDB's native ASOF JOIN
# and a BETWEEN join. ---
def _spark_asof_range_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    asof = _spark_asof_join(spark, sf_dir, ordered=False).select(
        F.lit("asof_click_view").alias("part"),
        F.col("click_id").cast("string").alias("k"),
        F.col("view_id").cast("bigint").alias("n"),
        F.col("gap_us").cast("bigint").alias("n2"),
        F.col("view_value").cast("double").alias("v"),
    )
    rng = _spark_range_join(spark, sf_dir, ordered=False).select(
        F.lit("range_first_hour").alias("part"),
        F.col("window_user").cast("string").alias("k"),
        F.col("n_events").cast("bigint").alias("n"),
        F.col("value_cents").cast("bigint").alias("n2"),
        F.lit(None).cast("double").alias("v"),
    )
    rng_left = _spark_range_join_left(spark, sf_dir).select(
        F.lit("range_left_unmatched").alias("part"),
        F.col("window_user").cast("string").alias("k"),
        F.col("n_events").cast("bigint").alias("n"),
        F.col("value_cents").cast("bigint").alias("n2"),
        F.lit(None).cast("double").alias("v"),
    )
    return asof.unionByName(rng).unionByName(rng_left).orderBy("part", "k")


_ASOF_RANGE_ORACLE = _suite_sql([
    _part_sql(
        "asof_click_view", _ASOF_ORACLE,
        k="click_id", n="view_id", n2="gap_us", v="view_value",
    ),
    _part_sql(
        "range_first_hour", _RANGE_JOIN_ORACLE,
        k="window_user", n="n_events", n2="value_cents",
    ),
    _part_sql(
        "range_left_unmatched", _RANGE_JOIN_LEFT_ORACLE,
        k="window_user", n="n_events", n2="value_cents",
    ),
])


# --- text_features_suite: the token-level and document-level text
# feature families, folded into one suite (formerly standalone
# text_token_features / text_doc_features). Part tags are disjoint, so
# both keep their independent value oracles. Round 11 adds the
# `bm25_topk` part: the real BM25 retrieval operator
# (operators/tfidf.bm25_topk — exact BIGINT arithmetic, whole-bit
# idf) over a fixed 3-term query, top 50 by
# (score DESC, doc_id) — membership, match counts, and scores all
# value-checked against an independent DuckDB derivation. ---
_BM25_TERMS = ["dup", "vector", "spark"]
_BM25_TOPK = 50
# the operator's fixed k1 = 1.2, b = 0.75, restated for the oracle
_BM25_K1_MILLI, _BM25_B_MILLI = 1200, 750

# Independent DuckDB derivation of bm25_topk: same integer
# formula, DuckDB spellings (// for div, string_split_regex tokens).
_BM25_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_TOKENS}) AS token FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks
  WHERE token IN ({", ".join(repr(t) for t in sorted(_BM25_TERMS))})
  GROUP BY doc_id, token
),
dft AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
totals AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT count(*) FROM toks) AS n_toks
),
term AS (
  SELECT tf.doc_id,
         (
           (CAST(length(bin((n_docs + 1) // df)) AS BIGINT) - 1)
           * tf.tf * {_BM25_K1_MILLI + 1000} * 1000000
         ) // (
           1000 * tf.tf
           + ({_BM25_K1_MILLI} * (1000 - {_BM25_B_MILLI}
              + ({_BM25_B_MILLI} * 1000 * dl.dl)
                // greatest((1000 * n_toks) // n_docs, 1))) // 1000
         ) AS ts
  FROM tf JOIN dft USING (token) JOIN dl USING (doc_id) CROSS JOIN totals
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS matched_terms,
       CAST(sum(ts) AS BIGINT) AS score_micro
FROM term GROUP BY doc_id
ORDER BY score_micro DESC, doc_id
LIMIT {_BM25_TOPK}
"""


def _spark_bm25_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.tfidf import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    out = bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=_BM25_TOPK)
    return out.select(
        F.lit("bm25_topk").alias("part"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("matched_terms").cast("bigint").alias("n"),
        F.col("score_micro").cast("bigint").alias("n2"),
        F.lit(None).cast("double").alias("v"),
    )


def _spark_text_features_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = _spark_text_token_features(spark, sf_dir, ordered=False)
    doc = _spark_text_doc_features(spark, sf_dir, ordered=False).withColumn(
        "v", F.lit(None).cast("double")
    )
    bm25 = _spark_bm25_part(spark, sf_dir)
    return tok.unionByName(doc).unionByName(bm25).orderBy("part", "k")


def _text_features_suite_oracle() -> str:
    tok = _text_token_features_oracle().rsplit("\nORDER BY", 1)[0]
    doc = _text_doc_features_oracle().rsplit("\nORDER BY", 1)[0]
    bm25 = _part_sql("bm25_topk", _BM25_ORACLE, k="doc_id", n="matched_terms", n2="score_micro")
    return (
        f"{tok}\nUNION ALL\n"
        f"SELECT part, k, n, n2, CAST(NULL AS DOUBLE) AS v FROM ({doc}) __doc"
        f"\nUNION ALL\n{bm25}"
        "\nORDER BY part, k"
    )


# --- op_extract_functions: JSON path extraction + regexp_extract +
# the date-part suite / weekend flag (F7-F10, formerly the standalone
# op_date_functions query — folded in for the 50-query cap) ---
def _extract_functions_sql(d: str) -> str:
    return _suite_sql([
        _part_sql("json_props", _json_props_sql(d), k="coalesce(k_value, '(null)')", n="n"),
        _part_sql("regexp_extract", _REGEXP_EXTRACT_SQL, k="CAST(priority_rank AS STRING)", n="n"),
        _part_sql(
            "date_parts",
            _date_parts_sql(d),
            k="CAST(year AS STRING) || '-' || CAST(quarter AS STRING)",
            n="n_orders",
            n2="min_date_key",
            v="CAST(max_date_key AS DOUBLE)",
        ),
        _part_sql("weekend_flag", _weekend_sql(d), k="day_type", n="n_orders"),
    ])


# --- op_approx_vs_exact: exact interpolated percentiles (value-oracled)
# plus the two sketch escape hatches (HLL++ distinct counts,
# approx_percentile/t-digest) checked as deterministic within-tolerance
# booleans against each engine's own exact value. The sketches are the
# documented 100 TB path (one pass, fixed memory, mergeable partials);
# the tolerance bounds are far looser than either sketch's worst case
# at these cardinalities, so the booleans are stably TRUE in both
# engines and the row hashes match. ---
def _approx_vs_exact_sql(d: str) -> str:
    if d == D.SPARK:
        pct, apx = "percentile", "approx_percentile({col}, {q}, 10000)"
    else:
        pct, apx = "quantile_cont", "approx_quantile({col}, {q})"

    def _e(col: str, q: str) -> str:
        return f"CAST({pct}({col}, {q}) AS DOUBLE)"

    def _a(col: str, q: str) -> str:
        return f"CAST({apx.format(col=col, q=q)} AS DOUBLE)"

    def _pct_ok(col: str, q: str, alias: str) -> str:
        return (
            f"(abs({_a(col, q)} - {_e(col, q)}) <= 0.05 * abs({_e(col, q)})) AS {alias}"
        )

    def _hll_ok(col: str, alias: str) -> str:
        return (
            f"(abs(CAST(approx_count_distinct({col}) AS DOUBLE)"
            f" - CAST(count(DISTINCT {col}) AS DOUBLE))"
            f" <= 0.1 * CAST(count(DISTINCT {col}) AS DOUBLE)) AS {alias}"
        )

    return f"""
SELECT l_returnflag,
       round({_e("l_extendedprice", "0.5")}, 4) AS p50_price,
       round({_e("l_extendedprice", "0.95")}, 4) AS p95_price,
       round({_e("l_quantity", "0.9")}, 4) AS p90_qty,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       {_hll_ok("l_partkey", "hll_parts_ok")},
       {_hll_ok("l_orderkey", "hll_orders_ok")},
       {_pct_ok("l_extendedprice", "0.5", "apx_p50_ok")},
       {_pct_ok("l_extendedprice", "0.95", "apx_p95_ok")}
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --- op_agg_expressions: aggregate FILTER clause + sorted array_agg.
# The array aggregate is emitted as a scalar CSV (concat_ws over the
# sorted list) — arrays are order-sensitive and unhashable for the
# driver's pandas canonicalizer; the joined string carries the same
# information. ---
def _agg_expressions_sql(d: str) -> str:
    if d == D.SPARK:
        arr = "concat_ws(',', sort_array(collect_list(n_name)))"
    else:
        arr = "array_to_string(list_sort(list(n_name)), ',')"
    array_body = f"""
SELECT r_name, {arr} AS nations_csv
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""
    return f"""
SELECT 'filter_clause' AS part, o_orderpriority AS k,
       n_orders AS n, n_finished AS n2, n_1997 AS n3, CAST(NULL AS STRING) AS s
FROM ({_AGG_FILTER_SQL}) __f
UNION ALL
SELECT 'array_agg_sorted' AS part, r_name AS k,
       CAST(NULL AS BIGINT) AS n, CAST(NULL AS BIGINT) AS n2,
       CAST(NULL AS BIGINT) AS n3, nations_csv AS s
FROM ({array_body}) __a
ORDER BY part, k
"""


# --- op_cleaning_suite: the staging-zone cleaning operator family
# (P9/P10/P13/F4/F5/F6/F11 + J1/A1 groupbys) verified directly against
# the raw zone; oracle re-derives via the full WITH chain. ---
def _cleaning_suite_sql(d: str) -> str:
    guard = (
        "regexp_like(unique_key, '^[0-9]+$')"
        if d == D.SPARK
        else "regexp_matches(unique_key, '^[0-9]+$')"
    )
    return _suite_sql([
        _part_sql(
            "regex_key_guard",
            _REGEX_GUARD_STAR.format(guard=guard),
            k="status",
            n="numeric_keys",
        ),
        _part_sql("not_in_sentinels", _NOT_IN_SENTINELS, k="property_type", n="priced_listings"),
        _part_sql(
            "try_cast_currency",
            _try_cast_currency_sql(d),
            k="coalesce(room_type, '(null)')",
            n="castable",
            v="avg_price",
        ),
        _part_sql(
            "decimal_price",
            _decimal_price_sql(d),
            k="coalesce(room_type, '(null)')",
            n="castable",
            v="avg_price",
        ),
        _part_sql("ts_parse_utc_hour", _ts_parse_hour_sql(d), k="CAST(utc_hour AS STRING)", n="n"),
        _part_sql("duration_by_borough", _DURATION_BY_BOROUGH, k="borough", n="n", v="avg_hours"),
        _part_sql("geohash_groupby", _GEOHASH_GROUPBY, k="geohash", n="n"),
    ])


# --- op_io_roundtrip_suite: CSV/JSON/partitioned-parquet write→read
# roundtrips + schema-contract padding (S2-S9/K1-K5/P1), one normalized
# result; the oracle aggregates the ORIGINAL tables, so equality proves
# each write→read cycle is value-preserving. ---
def _norm_part(
    df: DataFrame,
    part: str,
    k: Column,
    n: Column | None = None,
    n2: Column | None = None,
) -> DataFrame:
    return df.select(
        F.lit(part).alias("part"),
        k.cast("string").alias("k"),
        (n if n is not None else F.lit(None)).cast("bigint").alias("n"),
        (n2 if n2 is not None else F.lit(None)).cast("bigint").alias("n2"),
    )


def _spark_io_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    csv = _norm_part(
        _spark_csv_roundtrip(spark, sf_dir), "csv_roundtrip",
        F.col("regionkey"), F.col("n_nations"), F.col("key_sum"),
    )
    js = _norm_part(
        _spark_json_roundtrip(spark, sf_dir), "json_roundtrip",
        F.col("c_mktsegment"), F.col("n_customers"), F.col("acctbal_cents"),
    )
    prune = _norm_part(
        _spark_partitioned_write_prune(spark, sf_dir), "partitioned_prune",
        F.lit("lineitem_1996"), F.col("n_rows"), F.col("price_cents"),
    )
    pad = _norm_part(
        _spark_schema_contract(spark, sf_dir), "schema_padding",
        F.col("n_name"), F.col("n_nationkey"),
        F.when(F.col("park_borough").isNull(), 1).otherwise(0),
    )
    man = _norm_part(
        _spark_manifest_roundtrip(spark, sf_dir), "manifest_struct",
        F.col("k"), F.col("n_orders"),
    )
    return (
        csv.unionByName(js).unionByName(prune).unionByName(pad).unionByName(man)
        .orderBy("part", "k")
    )


def _duck_norm(part: str, body: str, k: str, n: str = "NULL", n2: str = "NULL") -> str:
    return (
        f"SELECT '{part}' AS part, CAST({k} AS STRING) AS k, CAST({n} AS BIGINT) AS n,"
        f" CAST({n2} AS BIGINT) AS n2 FROM ({body}) __sub"
    )


_IO_SUITE_ORACLE = "\nUNION ALL\n".join([
    _duck_norm("csv_roundtrip", _CSV_ROUNDTRIP_ORACLE, k="regionkey", n="n_nations", n2="key_sum"),
    _duck_norm(
        "json_roundtrip", _JSON_ROUNDTRIP_ORACLE,
        k="c_mktsegment", n="n_customers", n2="acctbal_cents",
    ),
    _duck_norm(
        "partitioned_prune", _PARTITIONED_PRUNE_ORACLE,
        k="'lineitem_1996'", n="n_rows", n2="price_cents",
    ),
    _duck_norm(
        "schema_padding", _SCHEMA_CONTRACT_ORACLE,
        k="n_name", n="n_nationkey", n2="CASE WHEN park_borough IS NULL THEN 1 ELSE 0 END",
    ),
    _duck_norm("manifest_struct", _MANIFEST_ROUNDTRIP_ORACLE, k="k", n="n_orders"),
]) + "\nORDER BY part, k"


# --- text_token_features: token stats + corpus top-token explode +
# deterministic md5 train/val/test split ---
_PASSAGE_N = 5  # word-gram width for the passage-scrub differential


def _spark_text_token_features(
    spark: SparkSession, sf_dir: str, ordered: bool = True
) -> DataFrame:
    # SHARED SCAN + SHARED TOKENIZATION (r13 verdict task #8; r15
    # VERDICT task #3): the five parts used to be five independent
    # scans of the documents parquet (~2–2.7s each at sf0.1,
    # measurements/text_features_breakdown_r13.json); r13 folded them
    # onto one persisted (doc_id, text, lang) projection, but every
    # part still re-ran word_tokens(text) — 6 tokenizations per action
    # (token_stats, top_tokens, hash_split, rolling_fp, and 2 inside
    # passage_scrub's gram/rebuild stages). Persist the TOKEN ARRAY
    # once (guide §2.3 "don't compute things twice") and fan the parts
    # out over it: tokenize-once, identical values — every part's
    # token expression is derived from the same word_tokens tree, so
    # outputs are bit-identical (pinned by the text_features_suite
    # oracle and tests/test_text_features_shared.py's exceptAll).
    # persist() of the same analyzed plan is idempotent (CacheManager
    # dedupes); footprint is the token arrays instead of the text
    # (same order of bytes) and MEMORY_AND_DISK spills gracefully at
    # replicated-corpus scale.
    base = pin(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", TX.word_tokens("text").alias("tk")
        ),
        truncate=False,
    )
    # token_stats ≡ _spark_token_stats over the shared tokens:
    # token_count(text) = size(word_tokens(text)) guarded NULL-in/
    # NULL-out — tk is NULL exactly when text is NULL, so the guard
    # carries over unchanged.
    tc = F.when(F.col("tk").isNotNull(), F.size("tk"))
    stats = (
        base.select("lang", tc.alias("tc"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tc").alias("total_tokens"),
            F.round(F.sum("tc").cast("double") / F.count("*"), 4).alias("avg_tokens"),
        )
        .select(
            F.lit("token_stats").alias("part"), F.col("lang").alias("k"),
            F.col("n_docs").cast("bigint").alias("n"),
            F.col("total_tokens").cast("bigint").alias("n2"),
            F.col("avg_tokens").cast("double").alias("v"),
        )
    )
    # top_tokens ≡ _spark_explode_tokens: explode(word_tokens(text))
    # and explode(tk) skip NULL/empty arrays identically.
    top = (
        base.select(F.explode("tk").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("occurrences"))
        .orderBy(F.desc("occurrences"), "token")
        .limit(20)
        .select(
            F.lit("top_tokens").alias("part"), F.col("token").alias("k"),
            F.col("occurrences").cast("bigint").alias("n"),
            F.lit(None).cast("bigint").alias("n2"), F.lit(None).cast("double").alias("v"),
        )
    )
    # hash_split ≡ _split_sql(D.SPARK): the SQL's total_tokens term is
    # sum(size(<word_tokens expr>)) with NO null guard — size("tk") is
    # the same expression over the same array, so NULL-text rows
    # contribute identically under either session flavor.
    split = (
        base.select(
            F.expr(_SPLIT_CASE.format(stype="STRING")).alias("split"),
            F.size("tk").alias("__sz"),
        )
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("__sz").alias("total_tokens"))
        .select(
            F.lit("hash_split").alias("part"), F.col("split").alias("k"),
            F.col("n_docs").cast("bigint").alias("n"),
            F.col("total_tokens").cast("bigint").alias("n2"),
            F.lit(None).cast("double").alias("v"),
        )
    )
    # Rabin-Karp rolling fingerprint, one row per doc: full value oracle
    # of the order-sensitive polynomial hash (functions.text).
    roll = base.select(
        F.lit("rolling_fp").alias("part"),
        F.col("doc_id").cast("string").alias("k"),
        TX.rolling_fingerprint_of_tokens(F.col("tk")).cast("bigint").alias("n"),
        F.lit(None).cast("bigint").alias("n2"), F.lit(None).cast("double").alias("v"),
    )
    # Repeated-passage scrub (keep-one semantic): clean-text CONTENT is
    # verified exactly via a 48-bit md5 — a one-token scrub error flips
    # the hash; n2 packs (n_tokens, covered_tokens).
    from ..operators.passage_dedup import remove_repeated_passages

    docs = base.select("doc_id", "tk")
    scrub = remove_repeated_passages(
        docs, "doc_id", "tk", n=_PASSAGE_N, tokens_col="tk"
    ).select(
        F.lit("passage_scrub").alias("part"),
        F.col("doc_id").cast("string").alias("k"),
        F.conv(F.substring(F.md5(F.col("clean_text")), 1, 12), 16, 10)
        .cast("bigint")
        .alias("n"),
        (F.col("n_tokens").cast("bigint") * 100000 + F.col("covered_tokens")).alias("n2"),
        F.lit(None).cast("double").alias("v"),
    )
    out = (
        stats.unionByName(top)
        .unionByName(split)
        .unionByName(roll)
        .unionByName(scrub)
    )
    return out.orderBy("part", "k") if ordered else out


def _text_token_features_oracle() -> str:
    roll_body = f"""
SELECT doc_id, list_reduce(
  list_prepend(CAST(0 AS BIGINT), list_transform({_DUCK_TOKENS},
     t -> CAST(CAST(concat('0x', substr(md5(t), 1, 12)) AS BIGINT)
               % {TX._ROLL_MOD} AS BIGINT))),
  (acc, h) -> (acc * {TX._ROLL_BASE} + h) % {TX._ROLL_MOD}) AS fp
FROM documents
"""
    # Passage scrub re-derived from the literal gram STRINGS (the Spark
    # side shuffles xxhash64 keys — a hash bug cannot self-confirm).
    pn = _PASSAGE_N
    scrub_body = f"""
WITH tk AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
occ AS (
  SELECT doc_id, ci AS start, array_to_string(tk[ci + 1 : ci + {pn}], ' ') AS gram
  FROM (SELECT doc_id, tk, unnest(generate_series(0, len(tk) - {pn})) AS ci FROM tk) __o
),
freq AS (
  SELECT gram, COUNT(*) AS dfq, MIN(doc_id) AS owner
  FROM (SELECT DISTINCT doc_id, gram FROM occ) __d GROUP BY gram
),
flags AS (
  SELECT DISTINCT o.doc_id, o.start
  FROM occ o JOIN freq f USING (gram)
  WHERE f.dfq >= 2 AND o.doc_id <> f.owner
),
cov AS (
  SELECT DISTINCT doc_id, start + gs AS pos
  FROM (SELECT doc_id, start, unnest(generate_series(0, {pn - 1})) AS gs FROM flags) __c
),
toks AS (
  SELECT doc_id, p AS pos, tk[p + 1] AS tok
  FROM (SELECT doc_id, tk, unnest(generate_series(0, len(tk) - 1)) AS p FROM tk) __t
),
rebuilt AS (
  SELECT t.doc_id,
         coalesce(string_agg(t.tok, ' ' ORDER BY t.pos)
                  FILTER (WHERE c.pos IS NULL), '') AS clean_text,
         COUNT(*) FILTER (WHERE c.pos IS NOT NULL) AS covered
  FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
  GROUP BY t.doc_id
)
SELECT k.doc_id,
       CAST(concat('0x', substr(md5(coalesce(r.clean_text, '')), 1, 12)) AS BIGINT) AS fp48,
       CAST(len(k.tk) AS BIGINT) * 100000 + coalesce(r.covered, 0) AS packed
FROM tk k LEFT JOIN rebuilt r USING (doc_id)
"""
    return "\nUNION ALL\n".join([
        _part_sql(
            "token_stats", _TOKEN_STATS_ORACLE,
            k="lang", n="n_docs", n2="total_tokens", v="avg_tokens",
        ),
        _part_sql("top_tokens", _EXPLODE_TOKENS_ORACLE, k="token", n="occurrences"),
        _part_sql("hash_split", _split_sql(D.DUCKDB), k="split", n="n_docs", n2="total_tokens"),
        _part_sql("passage_scrub", scrub_body, k="doc_id", n="fp48", n2="packed"),
        _part_sql("rolling_fp", roll_body, k="doc_id", n="fp"),
    ]) + "\nORDER BY part, k"


# --- training-data assembly parts (verified inside text_doc_features):
# deterministic mixture sampling, concat-and-chunk sequence packing,
# and deterministic global shuffle order. All portable-hash / window
# derivations both engines compute bit-identically; the Spark side is
# the operators.training module (two-phase prefix sums — no global
# single-partition window; plan shape pinned in tests/test_training.py).
_MIX_SEED = "mix-v1"
_MIX_FRACTIONS = {"en": 0.5, "de": 0.25, "zh": 0.125, "fr": 1.0, "es": 0.0}
_PACK_LEN = 512
_SHUFFLE_SEED = "order-v1"


def _spark_strat_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return stratified_sample(
        docs, "doc_id", "lang", _MIX_FRACTIONS, seed=_MIX_SEED
    ).select(
        F.concat("lang", F.lit(":"), F.col("doc_id").cast("string")).alias("k"),
        F.col("doc_id").cast("bigint").alias("n"),
        TX.token_count("text").cast("bigint").alias("n2"),
    )


def _strat_sample_oracle() -> str:
    arms = []
    for stratum, frac in sorted(_MIX_FRACTIONS.items()):
        if frac >= 1.0:
            cond = "TRUE"
        elif frac <= 0.0:
            cond = "FALSE"
        else:
            cond = (
                f"substr(md5(concat('{_MIX_SEED}:', CAST(doc_id AS VARCHAR))), 1, 6)"
                f" < '{fraction_threshold(frac)}'"
            )
        arms.append(f"WHEN '{stratum}' THEN {cond}")
    return f"""
SELECT concat(lang, ':', CAST(doc_id AS VARCHAR)) AS k,
       doc_id AS n, CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n2
FROM documents
WHERE CASE lang {" ".join(arms)} ELSE FALSE END
"""


def _spark_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", TX.token_count("text").alias("nt")
    )
    return pack_sequences(docs, "doc_id", "nt", _PACK_LEN)


_DUCK_PACKED = f"""
SELECT doc_id, nt, off, off // {{L}} AS cf,
       (off + greatest(nt, 1) - 1) // {{L}} AS cl
FROM (
  SELECT doc_id, nt,
         CAST(COALESCE(sum(nt) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS off
  FROM (SELECT doc_id, CAST(len({_DUCK_TOKENS}) AS BIGINT) AS nt FROM documents) d
) p
"""

_PACK_DOCS_ORACLE = (
    f"SELECT doc_id AS k, off AS n, cl AS n2 FROM ({_DUCK_PACKED}) pd"
).format(L=_PACK_LEN)

_PACK_CHUNKS_ORACLE = f"""
SELECT c AS k, COUNT(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS chunk_tokens
FROM (
  SELECT least((c + 1) * {_PACK_LEN}, off + nt) - greatest(c * {_PACK_LEN}, off) AS tok, c
  FROM (
    SELECT off, nt, unnest(generate_series(cf, cl)) AS c
    FROM ({_DUCK_PACKED.format(L=_PACK_LEN)}) pd WHERE nt > 0
  ) x
) y
WHERE tok > 0
GROUP BY c
"""

_SHUFFLE_RANK_ORACLE = f"""
SELECT doc_id AS k,
       row_number() OVER (
         ORDER BY substr(md5(concat('{_SHUFFLE_SEED}:', CAST(doc_id AS VARCHAR))), 1, 12),
                  doc_id) - 1 AS n
FROM documents
"""


# --- PII scrub part: deterministic synthetic PII (email / phone /
# IPv4, keyed off doc_id % 5 so both engines plant the identical spans;
# classes 3-4 stay clean and must report ZERO redactions — the
# false-positive leg) is appended in-query, scrubbed with
# functions.text.scrub_pii, and per-class redaction counts compared
# against DuckDB's independent RE2 engine running the same patterns. ---
def _spark_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cls = F.col("doc_id") % 5
    did = F.col("doc_id").cast("string")
    inj = (
        F.when(cls == 0, F.concat(F.lit(" contact user"), did, F.lit("@example.com now")))
        .when(
            cls == 1,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" ok"),
            ),
        )
        .when(
            cls == 2,
            F.concat(
                F.lit(" from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit("."),
                (F.col("doc_id") % 254 + 1).cast("string"),
                F.lit(" port"),
            ),
        )
        .otherwise(F.lit(""))
    )
    with_pii = docs.select(cls.alias("cls"), F.concat(F.col("text"), inj).alias("t"))
    counted = with_pii.select("cls", TX.pii_match_count("t").alias("c"))
    return (
        counted.groupBy("cls")
        .agg(
            F.sum(F.when(F.col("c") > 0, 1).otherwise(0)).alias("n_redacted"),
            F.sum("c").alias("n_pii"),
        )
        .orderBy("cls")
    )


def _pii_scrub_oracle() -> str:
    # Same injection + patterns under DuckDB's RE2. The scrub chain is
    # applied email→phone→ipv4 exactly like functions.text.scrub_pii.
    inj = """
CASE doc_id % 5
  WHEN 0 THEN concat(' contact user', CAST(doc_id AS VARCHAR), '@example.com now')
  WHEN 1 THEN concat(' call 555-', lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'),
                     '-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' ok')
  WHEN 2 THEN concat(' from 10.0.', CAST(doc_id % 256 AS VARCHAR),
                     '.', CAST(doc_id % 254 + 1 AS VARCHAR), ' port')
  ELSE ''
END"""
    scrub = f"concat(text, {inj})"
    for _, pat in TX._PII_PATTERNS:
        scrub = f"regexp_replace({scrub}, '{pat}', '[PII]', 'g')"
    return f"""
SELECT doc_id % 5 AS cls,
       sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS n_redacted,
       sum(c) AS n_pii
FROM (
  SELECT doc_id,
         (length({scrub}) - length(replace({scrub}, '[PII]', ''))) // 5 AS c
  FROM documents
) __p GROUP BY doc_id % 5 ORDER BY cls
"""


# --- repetition-filter parts: Gopher-style repeated-token and
# repeated-bigram fractions per doc, aggregated per lang as (flagged
# docs, centi-scaled fraction sum). Identical double arithmetic both
# sides, so the centisums hash-match exactly. ---
def _spark_repetition(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    frac = (
        TX.repeated_token_fraction("text") if n == 1 else TX.repeated_ngram_fraction("text", n)
    )
    thr = 0.5 if n == 1 else 0.2
    return (
        docs.select("lang", frac.alias("f"))
        .groupBy("lang")
        .agg(
            F.sum(F.when(F.col("f") > thr, 1).otherwise(0)).alias("n_flagged"),
            F.sum(F.round(F.col("f") * 100, 0).cast("bigint")).alias("centisum"),
        )
        .orderBy("lang")
    )


def _duck_repeat_fraction(n: int) -> str:
    """functions.text.repeated_token_fraction (n=1) or
    repeated_ngram_fraction(n) of `text`: the share of tokens (n-grams)
    that repeat an earlier one, as a DOUBLE."""
    toks = _DUCK_TOKENS
    arr = toks if n == 1 else (
        f"list_transform(generate_series(1, greatest(len({toks}) - {n - 1}, 1)),"
        f" i -> array_to_string(({toks})[i:i+{n - 1}], ' '))"
    )
    return (
        f"(CAST(len({arr}) - len(list_distinct({arr})) AS DOUBLE)"
        f" / CAST(greatest(len({arr}), 1) AS DOUBLE))"
    )


def _repetition_oracle(n: int) -> str:
    thr = 0.5 if n == 1 else 0.2
    return f"""
SELECT lang,
       sum(CASE WHEN f > {thr} THEN 1 ELSE 0 END) AS n_flagged,
       CAST(sum(CAST(round(f * 100, 0) AS BIGINT)) AS BIGINT) AS centisum
FROM (SELECT lang, {_duck_repeat_fraction(n)} AS f FROM documents) __r
GROUP BY lang ORDER BY lang
"""


# --- tfidf part: top-2 TF-IDF terms per document by the operator's
# integer rarity weight (pure BIGINT arithmetic — libm-free, so the
# ranking is reproducible on any engine). k packs (doc, rank, token);
# n is the integer score; n2 packs (tf, df). ---
_TFIDF_TOP_K = 2


def _spark_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.tfidf import tf_idf_terms

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return tf_idf_terms(docs, "doc_id", "text", top_k=_TFIDF_TOP_K).select(
        F.concat(
            F.col("doc_id").cast("string"), F.lit(":"),
            F.col("rank").cast("string"), F.lit(":"), F.col("token"),
        ).alias("k"),
        F.col("score").cast("bigint").alias("n"),
        (F.col("tf") * 100000 + F.col("df")).cast("bigint").alias("n2"),
    )


def _tfidf_oracle() -> str:
    return f"""
WITH toks AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS token FROM documents),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
nn AS (SELECT COUNT(*) AS N FROM documents),
ranked AS (
  SELECT doc_id, t.token, tf, df,
         (tf * 1000000 * (N + 1)) // (df + 1) AS score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY (tf * 1000000 * (N + 1)) // (df + 1) DESC,
                                     t.token) AS rank
  FROM tf t JOIN dfq USING (token) CROSS JOIN nn
)
SELECT concat(CAST(doc_id AS VARCHAR), ':', CAST(rank AS VARCHAR), ':', token) AS k,
       CAST(score AS BIGINT) AS n, CAST(tf * 100000 + df AS BIGINT) AS n2
FROM ranked WHERE rank <= {_TFIDF_TOP_K}
"""


# --- lm_ppl part: CCNet-style unigram LM surprisal per document as
# bit-exact integer surprisal (integer floor-log2 of the add-one-
# smoothed odds ratio — libm-free, reproducible on any engine). k is
# the doc, n the exact Σ tf·bits, n2 packs (n_tokens,
# bits_per_token_milli). ---
def _spark_lm_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lm_score import unigram_lm_scores

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return unigram_lm_scores(docs, "doc_id", "text").select(
        F.col("doc_id").cast("string").alias("k"),
        F.col("surprisal_bits").alias("n"),
        (F.col("n_tokens").cast("bigint") * 100000 + F.col("bits_per_token_milli")).alias("n2"),
    )


_LM_PPL_ORACLE = f"""
WITH toks AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS token FROM documents),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
cnts AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY token),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS T, CAST(COUNT(*) AS BIGINT) AS V FROM cnts),
terms AS (
  SELECT doc_id, tf, length(bin((T + V) // (cnt + 1))) - 1 AS s
  FROM tf JOIN cnts USING (token) CROSS JOIN tot
)
SELECT CAST(doc_id AS VARCHAR) AS k,
       CAST(SUM(tf * s) AS BIGINT) AS n,
       CAST(SUM(tf) AS BIGINT) * 100000
         + (1000 * CAST(SUM(tf * s) AS BIGINT)) // CAST(SUM(tf) AS BIGINT) AS n2
FROM terms GROUP BY doc_id
"""


# --- doc_chunks part: sliding-window document chunking (window 32,
# stride 24 — overlapping windows over the fixtures' 30-100-token
# docs). Chunk CONTENT is verified exactly: n is the first 48 bits of
# md5(chunk_text) as an integer, so a one-token boundary error flips
# the hash; n2 packs (chunk_tokens, n_chunks). ---
_CHUNK_WINDOW = 32
_CHUNK_STRIDE = 24


def _spark_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.training import chunk_documents

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ch = chunk_documents(docs, "doc_id", "text", window=_CHUNK_WINDOW, stride=_CHUNK_STRIDE)
    return ch.select(
        F.concat(
            F.col("doc_id").cast("string"), F.lit(":"), F.col("chunk_idx").cast("string")
        ).alias("k"),
        F.conv(F.substring(F.md5(F.col("chunk_text")), 1, 12), 16, 10)
        .cast("bigint")
        .alias("n"),
        (F.col("chunk_tokens").cast("bigint") * 1000 + F.col("n_chunks")).alias("n2"),
    )


def _doc_chunks_oracle() -> str:
    w, s = _CHUNK_WINDOW, _CHUNK_STRIDE
    return f"""
SELECT concat(CAST(doc_id AS VARCHAR), ':', CAST(ci AS VARCHAR)) AS k,
       CAST(concat('0x', substr(md5(array_to_string(tk[ci*{s}+1 : ci*{s}+{w}], ' ')), 1, 12))
            AS BIGINT) AS n,
       CAST(len(tk[ci*{s}+1 : ci*{s}+{w}]) AS BIGINT) * 1000 + n_chunks AS n2
FROM (
  SELECT doc_id, tk, n_chunks, unnest(generate_series(0, n_chunks - 1)) AS ci
  FROM (
    SELECT doc_id, tk,
           CAST(1 + ceil(CAST(greatest(len(tk) - {w}, 0) AS DOUBLE) / {s}) AS INT) AS n_chunks
    FROM (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents) __t
  ) __c
) __e
"""


# --- dsir part: DSIR-style importance selection (Xie et al.,
# arXiv:2302.03169) with bit-exact integer weights — target stratum =
# doc_id % 7 == 0 (the "curated domain"), raw = the rest; hashed
# unigram features into 512 md5 buckets; keep the top ceil(30%) of raw
# by integer whole-bit importance Σ c·(s_q − s_p) with deterministic
# md5+id tiebreaks. The oracle re-derives the ENTIRE chain (features,
# both models, weights, rank) in DuckDB; k verifies the doc, n the
# exact weight, n2 packs (rank, n_grams) — a one-bucket drift or a
# rank swap anywhere flips the hash. ---
_DSIR_BUCKETS = 512
_DSIR_SEED = "dsir-v1"
_DSIR_FRAC = 0.3


def _spark_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..operators.dsir import dsir_select

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    target = docs.filter(F.col("doc_id") % 7 == 0)
    raw = docs.filter(F.col("doc_id") % 7 != 0)
    k = math.ceil(_DSIR_FRAC * raw.count())
    sel = dsir_select(
        raw,
        target,
        "doc_id",
        "text",
        k=k,
        n_buckets=_DSIR_BUCKETS,
        seed=_DSIR_SEED,
    )
    return sel.select(
        F.col("doc_id").cast("string").alias("k"),
        F.col("weight_bits").alias("n"),
        ((F.col("selection_rank") + 1) * 1000000 + F.col("n_grams")).alias("n2"),
    )


_DSIR_ORACLE = f"""
WITH raw AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
tgt AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
rfeat AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(token), 1, 12)) AS BIGINT) % {_DSIR_BUCKETS} AS bucket,
         COUNT(*) AS c
  FROM (SELECT doc_id, unnest({_DUCK_TOKENS}) AS token FROM raw) __rt
  GROUP BY doc_id, bucket
),
qcnt AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS cq FROM rfeat GROUP BY bucket),
pcnt AS (
  SELECT CAST(concat('0x', substr(md5(token), 1, 12)) AS BIGINT) % {_DSIR_BUCKETS} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cp
  FROM (SELECT unnest({_DUCK_TOKENS}) AS token FROM tgt) __tt
  GROUP BY bucket
),
qtot AS (SELECT CAST(SUM(cq) AS BIGINT) AS Tq FROM qcnt),
ptot AS (SELECT CAST(COALESCE(SUM(cp), 0) AS BIGINT) AS Tp FROM pcnt),
terms AS (
  SELECT doc_id, c,
         (length(bin((Tq + {_DSIR_BUCKETS}) // (cq + 1))) - 1)
           - (length(bin((Tp + {_DSIR_BUCKETS}) // (COALESCE(cp, 0) + 1))) - 1) AS s
  FROM rfeat JOIN qcnt USING (bucket) LEFT JOIN pcnt USING (bucket)
  CROSS JOIN qtot CROSS JOIN ptot
),
wts AS (
  SELECT doc_id, CAST(SUM(c * s) AS BIGINT) AS wb, CAST(SUM(c) AS BIGINT) AS ng
  FROM terms GROUP BY doc_id
),
kk AS (SELECT CAST(ceil({_DSIR_FRAC} * COUNT(*)) AS BIGINT) AS k FROM raw),
ranked AS (
  SELECT doc_id, wb, ng,
         row_number() OVER (
           ORDER BY wb DESC,
                    substr(md5(concat('{_DSIR_SEED}:', CAST(doc_id AS VARCHAR))), 1, 6),
                    doc_id
         ) AS rnk
  FROM wts
)
SELECT CAST(doc_id AS VARCHAR) AS doc_id, wb, rnk * 1000000 + ng AS packed
FROM ranked CROSS JOIN kk WHERE rnk <= k
"""


# --- url_ops part: C4-style URL-level curation over synthetic URLs
# both engines derive identically from (source, doc_id): normalize →
# registrable-domain blocklist (src3/src7 dropped) → URL exact dedup
# (min doc_id per normalized URL). The Spark side runs the REAL
# regex-based operator chain (operators/urls.py) on messy URLs (www.,
# ?query, trailing slash); the oracle derives the expected survivors
# from first principles (domain = source.example.com, path key =
# doc_id % 50) — so it verifies that the regex chain achieves the
# semantic spec, not merely that two copies of the same regex agree.
# Hosts are TWO-label (srcN.example) so the last-two-labels
# registrable-domain rule yields one domain per source stratum.
# n = Σ kept doc_ids per domain (pins the exact winner set), n2 =
# kept count. ---
_URL_BLOCKED = ("src3", "src7")


def _spark_url_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.urls import blocklist_filter, registrable_domain, url_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    url = F.concat(
        F.lit("https://www."),
        F.col("source"),
        F.lit(".example/docs/"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("?utm=x"))
        .when(F.col("doc_id") % 3 == 1, F.lit("/"))
        .otherwise(F.lit("")),
    )
    with_url = docs.withColumn("url", url)
    blocked = spark.createDataFrame(
        [(f"{s}.example",) for s in _URL_BLOCKED], "domain STRING"
    )
    kept = url_dedup(blocklist_filter(with_url, "url", blocked), "url", "doc_id")
    return kept.groupBy(
        registrable_domain(F.col("url")).alias("k")
    ).agg(
        F.sum("doc_id").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n2"),
    )


_URL_OPS_ORACLE = f"""
WITH surv AS (
  SELECT source || '.example' AS dom, doc_id % 50 AS p, MIN(doc_id) AS keep
  FROM documents
  WHERE source NOT IN ({", ".join(f"'{s}'" for s in _URL_BLOCKED)})
  GROUP BY dom, p
)
SELECT dom AS k, CAST(SUM(keep) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n2
FROM surv GROUP BY dom
"""


# --- text_doc_features: language-ID + doc fingerprint + quality score
# + the training-assembly family (mixture sample / packing / shuffle) ---
def _spark_text_doc_features(
    spark: SparkSession, sf_dir: str, ordered: bool = True
) -> DataFrame:
    c = F.col
    packed = _spark_packed(spark, sf_dir)
    docs_only = load_table(spark, sf_dir, "documents").select("doc_id")
    parts = [
        ("lang_id", _spark_lang_id(spark, sf_dir), c("predicted_lang"), c("n"), None),
        ("fingerprint", _spark_fingerprint(spark, sf_dir),
         F.lit("corpus"), c("n_docs"), c("n_distinct_fingerprints")),
        ("quality", _spark_quality_scores(spark, sf_dir),
         c("lang"), c("n_docs"), c("quality_centisum")),
        ("strat_sample", _spark_strat_sample(spark, sf_dir), c("k"), c("n"), c("n2")),
        ("pack_docs", packed, c("doc_id"), c("token_offset"), c("chunk_last")),
        ("pack_chunks", pack_chunk_stats(packed, "doc_id", _PACK_LEN),
         c("chunk_id"), c("n_docs"), c("chunk_tokens")),
        ("shuffle_rank", global_shuffle_rank(docs_only, "doc_id", seed=_SHUFFLE_SEED),
         c("doc_id"), c("shuffle_rank"), None),
        ("pii_scrub", _spark_pii_scrub(spark, sf_dir), c("cls"), c("n_redacted"), c("n_pii")),
        ("rep_tokens", _spark_repetition(spark, sf_dir, 1),
         c("lang"), c("n_flagged"), c("centisum")),
        ("rep_bigrams", _spark_repetition(spark, sf_dir, 2),
         c("lang"), c("n_flagged"), c("centisum")),
        ("tfidf", _spark_tfidf(spark, sf_dir), c("k"), c("n"), c("n2")),
        ("doc_chunks", _spark_doc_chunks(spark, sf_dir), c("k"), c("n"), c("n2")),
        ("lm_ppl", _spark_lm_ppl(spark, sf_dir), c("k"), c("n"), c("n2")),
        ("dsir", _spark_dsir(spark, sf_dir), c("k"), c("n"), c("n2")),
        ("url_ops", _spark_url_ops(spark, sf_dir), c("k"), c("n"), c("n2")),
    ]
    out = reduce(
        DataFrame.unionByName,
        (_norm_part(df, tag, k, n, n2) for tag, df, k, n, n2 in parts),
    )
    return out.orderBy("part", "k") if ordered else out


def _text_doc_features_oracle() -> str:
    return "\nUNION ALL\n".join([
        _duck_norm("lang_id", _lang_id_oracle(), k="predicted_lang", n="n"),
        _duck_norm(
            "fingerprint", _FINGERPRINT_ORACLE,
            k="'corpus'", n="n_docs", n2="n_distinct_fingerprints",
        ),
        _duck_norm("quality", _quality_oracle(), k="lang", n="n_docs", n2="quality_centisum"),
        _duck_norm("strat_sample", _strat_sample_oracle(), k="k", n="n", n2="n2"),
        _duck_norm("pack_docs", _PACK_DOCS_ORACLE, k="k", n="n", n2="n2"),
        _duck_norm("pack_chunks", _PACK_CHUNKS_ORACLE, k="k", n="n_docs", n2="chunk_tokens"),
        _duck_norm("shuffle_rank", _SHUFFLE_RANK_ORACLE, k="k", n="n"),
        _duck_norm("pii_scrub", _pii_scrub_oracle(), k="cls", n="n_redacted", n2="n_pii"),
        _duck_norm("rep_tokens", _repetition_oracle(1), k="lang", n="n_flagged", n2="centisum"),
        _duck_norm("rep_bigrams", _repetition_oracle(2), k="lang", n="n_flagged", n2="centisum"),
        _duck_norm("tfidf", _tfidf_oracle(), k="k", n="n", n2="n2"),
        _duck_norm("doc_chunks", _doc_chunks_oracle(), k="k", n="n", n2="n2"),
        _duck_norm("lm_ppl", _LM_PPL_ORACLE, k="k", n="n", n2="n2"),
        _duck_norm("dsir", _DSIR_ORACLE, k="doc_id", n="wb", n2="packed"),
        _duck_norm("url_ops", _URL_OPS_ORACLE, k="k", n="n", n2="n2"),
    ]) + "\nORDER BY part, k"


# --- dedup_lsh_pairs: MinHash-LSH + SimHash near-dup candidates,
# verified DIFFERENTIALLY against the exact word-n-gram Jaccard truth
# set (which both engines can compute — same derivation that already
# hash-matches in dedup_ngram_jaccard). The seeded-xxhash64 sketches
# themselves are not DuckDB-expressible, but their CONTRACT is:
#   minhash_recall    — every truth pair (exact J >= 0.8) must be an
#                       LSH *candidate* — checked against the PRE-
#                       threshold banding candidate set (min_jaccard_
#                       est=0.0), not the est>=0.7-filtered output:
#                       for a truth pair at exactly J=0.8, P(est < 0.7
#                       over 64 hashes) is ~2-3% (z≈-2) — a spurious
#                       red on any fresh fixture with a borderline
#                       pair — while the banding miss itself is only
#                       ~2e-4 per pair (1-(1-0.8^4)^16). Seeded hashes
#                       make the candidate set deterministic; measured
#                       100% recall at sf0.001/0.01/0.1.
#   minhash_precision — zero candidates with exact J < 0.5 (est >= 0.7
#                       from 64 hashes is >5 sigma above a true 0.5).
#   simhash_recall    — >= 85% of truth pairs within Hamming<=8
#                       (measured 0.89-0.93 across SFs).
# A missed pair / false positive flips a boolean and the hash goes red. ---
_LSH_TRUTH_MIN_J = 0.8
_LSH_PRECISION_MIN_J = 0.5
_SIMHASH_RECALL_FLOOR = 0.85


def _recall_rows(truth: DataFrame, found: DataFrame, part: str, a: str, b: str) -> DataFrame:
    """One contract row per `truth` pair `(a, b)`: ok = `found` has it."""
    hit = found.select(a, b).withColumn("__hit", F.lit(True))
    return truth.join(hit, [a, b], "left").select(
        F.lit(part).alias("part"),
        F.col(a).cast("bigint").alias("id_a"),
        F.col(b).cast("bigint").alias("id_b"),
        F.round("jaccard", 6).alias("jaccard"),
        F.lit(None).cast("bigint").alias("n"),
        F.coalesce(F.col("__hit"), F.lit(False)).alias("ok"),
    )


def _count_row(df: DataFrame, part: str, ok: Column, *aggs: Column) -> DataFrame:
    """One contract row: n = the row count of `df` (as `__n`), ok = `ok`
    over `__n` and any extra aggregates `aggs`."""
    return df.agg(F.count("*").alias("__n"), *aggs).select(
        F.lit(part).alias("part"),
        *[F.lit(None).cast("bigint").alias(c) for c in ("id_a", "id_b")],
        F.lit(None).cast("double").alias("jaccard"),
        F.col("__n").cast("bigint").alias("n"),
        ok.alias("ok"),
    )


def _spark_dedup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    loose = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=_NGRAM_N, min_jaccard=_LSH_PRECISION_MIN_J
    )
    truth = loose.filter(F.col("jaccard") >= _LSH_TRUTH_MIN_J)
    # One signature/banding lineage: candidates (pre-threshold) feed the
    # recall check; the est>=0.7-filtered subset feeds precision.
    mh_all = minhash_near_dup_pairs(docs, "doc_id", "text", min_jaccard_est=0.0)
    cands = mh_all.select("id_a", "id_b")
    mh = mh_all.filter(F.col("jaccard_est") >= 0.7).select("id_a", "id_b")
    sh = simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=8).select("id_a", "id_b")

    recall = _recall_rows(truth, cands, "minhash_recall", "id_a", "id_b")
    precision = _count_row(
        mh.join(loose.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"),
        "minhash_precision", F.col("__n") == 0,
    )
    sh_recall = _count_row(
        truth.join(sh.withColumn("__sh", F.lit(True)), ["id_a", "id_b"], "left"),
        "simhash_recall", F.col("__f") >= F.lit(_SIMHASH_RECALL_FLOOR) * F.col("__n"),
        F.sum(F.when(F.col("__sh"), 1).otherwise(0)).alias("__f"),
    )
    return recall.unionByName(precision).unionByName(sh_recall).orderBy(
        "part", F.col("id_a").asc_nulls_first(), F.col("id_b").asc_nulls_first()
    )


# --- corpus_group_sample: deterministic per-stratum EXACT-k sampling
# (operators/training.py::group_sample_k), full value oracle — the
# md5(seed:id) ranking is engine-portable, so DuckDB re-derives the
# exact sampled id set. Two parts over the SAME operating point:
#   plain       — prefilter_over=None (single-pass window).
#   prefiltered — prefilter_over=60, which at the test SFs puts the
#                 large stratum (en) through the REAL fractional
#                 hash-threshold pre-pass and the small strata through
#                 the fraction>=1 disabled branch — both must produce
#                 EXACTLY the same rows as the plain form (the
#                 prefix-dominates-ranking invariant, and the round-5
#                 lpad-truncation regression, correctness-gated).
#   strict      — the round-7 verify-and-repair mode over the same
#                 prefiltered operating point: the shortfall probe
#                 must find nothing at the production oversample and
#                 return the identical rows (the repair branch itself
#                 is exercised by the forced-shortfall pytest —
#                 tests/test_training.py). ---
_GS_K = 5
_GS_SEED = "gs-oracle-v1"


def _spark_corpus_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.training import group_sample_k

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")

    def _part(label: str, prefilter_over: int | None, **kw) -> DataFrame:
        return group_sample_k(
            docs, "lang", "doc_id", k=_GS_K, seed=_GS_SEED,
            prefilter_over=prefilter_over, **kw,
        ).select(
            F.lit(label).alias("part"),
            "lang",
            F.col("doc_id").cast("bigint").alias("doc_id"),
        )

    return (
        _part("plain", None)
        .unionByName(_part("prefiltered", 60))
        .unionByName(_part("strict", 60, strict=True))
        .orderBy("part", "lang", "doc_id")
    )


_GROUP_SAMPLE_ORACLE = f"""
WITH ranked AS (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY substring(md5('{_GS_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 12),
                    doc_id
         ) AS rn
  FROM documents
)
SELECT 'plain' AS part, lang, CAST(doc_id AS BIGINT) AS doc_id
FROM ranked WHERE rn <= {_GS_K}
UNION ALL
SELECT 'prefiltered' AS part, lang, CAST(doc_id AS BIGINT) AS doc_id
FROM ranked WHERE rn <= {_GS_K}
UNION ALL
SELECT 'strict' AS part, lang, CAST(doc_id AS BIGINT) AS doc_id
FROM ranked WHERE rn <= {_GS_K}
ORDER BY part, lang, doc_id
"""


# --- dedup_incremental: batch-vs-stored-index near-dup curation
# (operators/dedup.py::minhash_index plus dedup.minhash_lookup — the
# persisted-LSH-index ingest path), verified by the same
# differential-contract style as dedup_lsh_pairs, over a corpus/batch
# split (doc_id % 5). Parts:
#   inc_recall    — every CROSS truth pair (batch doc × corpus doc at
#                   exact word-5gram J >= 0.8) must appear among the
#                   incremental path's PRE-threshold banding candidates.
#   inc_precision — zero est>=0.7 incremental flags whose exact J < 0.5.
#   inc_equiv     — the incremental flag set (est>=0.5) must EQUAL the
#                   cross-pair restriction of the full-corpus rescan
#                   (minhash_near_dup_pairs over corpus ∪ batch): one
#                   boolean row, symmetric difference == 0. This is the
#                   claim that makes the stored index safe to rely on —
#                   an increment sees exactly what a rescan would see. ---


def _spark_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_index, minhash_lookup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    cand = minhash_lookup(
        minhash_index(batch, "doc_id", "text", _NGRAM_N),
        minhash_index(corpus, "doc_id", "text", _NGRAM_N),
        "doc_id", "doc_id", 0.0,
    ).toDF("new_id", "corpus_id", "jaccard_est")

    # exact-Jaccard truth over cross pairs, reoriented (batch, corpus)
    loose = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=_NGRAM_N, min_jaccard=_LSH_PRECISION_MIN_J
    )
    b_first = F.col("id_a") % 5 == 0
    cross = loose.filter((F.col("id_a") % 5 == 0) != (F.col("id_b") % 5 == 0)).select(
        F.when(b_first, F.col("id_a")).otherwise(F.col("id_b")).alias("new_id"),
        F.when(b_first, F.col("id_b")).otherwise(F.col("id_a")).alias("corpus_id"),
        "jaccard",
    )
    truth = cross.filter(F.col("jaccard") >= _LSH_TRUTH_MIN_J)

    recall = _recall_rows(truth, cand, "inc_recall", "new_id", "corpus_id")
    precision = _count_row(
        cand.filter(F.col("jaccard_est") >= 0.7)
        .join(cross.select("new_id", "corpus_id"), ["new_id", "corpus_id"], "left_anti"),
        "inc_precision", F.col("__n") == 0,
    )
    inc05 = cand.filter(F.col("jaccard_est") >= 0.5).select("new_id", "corpus_id")
    full = minhash_near_dup_pairs(
        docs, "doc_id", "text", shingle_size=_NGRAM_N, min_jaccard_est=0.5
    )
    full_cross = full.filter(
        (F.col("id_a") % 5 == 0) != (F.col("id_b") % 5 == 0)
    ).select(
        F.when(b_first, F.col("id_a")).otherwise(F.col("id_b")).alias("new_id"),
        F.when(b_first, F.col("id_b")).otherwise(F.col("id_a")).alias("corpus_id"),
    )
    sym_diff = inc05.join(full_cross, ["new_id", "corpus_id"], "left_anti").unionByName(
        full_cross.join(inc05, ["new_id", "corpus_id"], "left_anti")
    )
    equiv = _count_row(sym_diff, "inc_equiv", F.col("__n") == 0)
    return recall.unionByName(precision).unionByName(equiv).orderBy(
        "part", F.col("id_a").asc_nulls_first(), F.col("id_b").asc_nulls_first()
    )


_INCREMENTAL_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents
),
grams AS ({_duck_word_grams("toks")}),
{_duck_jaccard("grams", "a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0", _LSH_TRUTH_MIN_J)}
SELECT 'inc_recall' AS part, CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       round(j, 6) AS jaccard, CAST(NULL AS BIGINT) AS n, TRUE AS ok
FROM truth
UNION ALL
SELECT 'inc_equiv', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS DOUBLE), 0, TRUE
UNION ALL
SELECT 'inc_precision', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS DOUBLE), 0, TRUE
ORDER BY part, id_a NULLS FIRST, id_b NULLS FIRST
"""


_LSH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents
),
grams AS ({_duck_word_grams("toks")}),
{_duck_jaccard("grams", "a.doc_id < b.doc_id", _LSH_TRUTH_MIN_J)}
SELECT 'minhash_recall' AS part, CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       round(j, 6) AS jaccard, CAST(NULL AS BIGINT) AS n, TRUE AS ok
FROM truth
UNION ALL
SELECT 'minhash_precision', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS DOUBLE), 0, TRUE
UNION ALL
SELECT 'simhash_recall', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS DOUBLE), (SELECT COUNT(*) FROM truth), TRUE
ORDER BY part, id_a NULLS FIRST, id_b NULLS FIRST
"""


# --- sim_ann_topk: SRP-LSH bucketed top-k + SRP near-dup, verified
# DIFFERENTIALLY against the exact cosine baseline (same derivation
# that already hash-matches in sim_cosine_topk / sim_near_dup_exact):
#   srp_topk     — per probe query: the exact top-5 size and min-cosine
#                  (both engines compute) plus a boolean that the
#                  deterministic SRP buckets recovered at least
#                  _ANN_MIN_HITS of the exact top-5. The check runs the
#                  8-band (2-bit) operating point: the probe side is 5
#                  rows, so the wider net costs ~nothing, per-neighbor
#                  bucket recall is ~0.99 even at cosine 0.45, and the
#                  floor can sit at 3/5 with ~1e-5 fixture-drift flake
#                  risk (the old 4-band/floor-1 form measured hits of
#                  1-4 — one fixture regen from a spurious red).
#                  A bucketing regression (narrowed/broken candidate
#                  generation) still collapses hits -> FALSE.
#   srp_near_dup — over the AUGMENTED corpus (planted near-dup pairs,
#                  see _spark_aug_embeddings — the raw fixture's truth
#                  set is empty): n is the exact all-pairs truth count
#                  at cosine>=0.8, which both engines compute
#                  bit-identically; ok asserts the banded SRP pair set
#                  has zero false positives (guaranteed — candidates
#                  are re-scored with the true cosine, and the SRP
#                  filter on the unrounded value implies the truth
#                  filter on the rounded one) AND recall >= 0.7 of the
#                  truth set. 4×4-bit banding puts per-pair recall at
#                  ~0.94-0.999 over the planted cosine range (expected
#                  misses < 1 of ~20 pairs); a regression to the old
#                  single-band join (recall ~0.06-0.52 per pair over
#                  the same range) lands far below the floor. ---
_ANN_MIN_HITS = 3
_ANN_CHECK_BANDS = 8  # 2-bit bands: wide-recall operating point for the check
_SRP_ND_RECALL_FLOOR_PCT = 70  # integer percent: floor = n * 70 / 100
_SEMDEDUP_MIN_COS = 0.9  # semantic-dedup within-cell pair threshold


def _spark_sim_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import embedding_near_dup_pairs, semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    exact = cosine_self_topk(emb, "vec_id", "embedding", k=5, probe_ids=[0, 1, 2, 3, 4])
    ann = lsh_bucket_topk(
        emb, "vec_id", "embedding", k=5, bands=_ANN_CHECK_BANDS, probe_ids=[0, 1, 2, 3, 4]
    )
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(ann.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("__h"))
    )
    topk = (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("__n"), F.round(F.min("cosine"), 6).alias("__min_cos"))
        .join(hits, "query_id", "left")
        .select(
            F.lit("srp_topk").alias("part"),
            F.col("query_id").cast("bigint").alias("query_id"),
            F.col("__n").cast("bigint").alias("n"),
            F.col("__min_cos").cast("double").alias("exact_min_cos"),
            (F.coalesce(F.col("__h"), F.lit(0)) >= _ANN_MIN_HITS).alias("ok"),
        )
    )
    aug = _spark_aug_embeddings(spark, sf_dir)
    truth = _exact_near_dup_pairs(aug).select("id_a", "id_b")
    srp = embedding_near_dup_pairs(aug, "vec_id", "embedding", min_cosine=0.8).select(
        "id_a", "id_b"
    )
    found = truth.join(srp.withColumn("__hit", F.lit(True)), ["id_a", "id_b"], "left").agg(
        F.count("*").alias("__n"),
        F.sum(F.when(F.col("__hit"), 1).otherwise(0)).alias("__f"),
    )
    false_pos = srp.join(truth, ["id_a", "id_b"], "left_anti").agg(
        F.count("*").alias("__fp")
    )
    nd_row = found.crossJoin(false_pos).select(
        F.lit("srp_near_dup").alias("part"),
        F.lit(None).cast("bigint").alias("query_id"),
        F.col("__n").cast("bigint").alias("n"),
        F.lit(None).cast("double").alias("exact_min_cos"),
        (
            (F.col("__n") > 0)
            & (F.col("__f") * 100 >= F.col("__n") * _SRP_ND_RECALL_FLOOR_PCT)
            & (F.col("__fp") == 0)
        ).alias("ok"),
    )
    # SemDeDup over the augmented corpus: deterministic cells → exact
    # per-cluster membership sizes + survivor count, both fully value-
    # oracled (DuckDB re-derives cells + recursive-CTE components).
    cl = semantic_dedup(
        aug, "vec_id", "embedding", min_cosine=_SEMDEDUP_MIN_COS, n_clusters=16
    )
    sd_clusters = (
        cl.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("__sz"))
        .filter(F.col("__sz") > 1)
        .select(
            F.lit("semdedup_cluster").alias("part"),
            F.col("cluster_id").cast("bigint").alias("query_id"),
            F.col("__sz").cast("bigint").alias("n"),
            F.lit(None).cast("double").alias("exact_min_cos"),
            F.lit(True).alias("ok"),
        )
    )
    sd_total = cl.agg(F.countDistinct("cluster_id").alias("__s")).select(
        F.lit("semdedup_total").alias("part"),
        F.lit(None).cast("bigint").alias("query_id"),
        F.col("__s").cast("bigint").alias("n"),
        F.lit(None).cast("double").alias("exact_min_cos"),
        F.lit(True).alias("ok"),
    )
    # PQ-ADC top-5 (brute ADC over the code table, no coarse stage):
    # FULL value rows — neighbor identity and the ADC score itself per
    # (query, rank); the oracle re-derives codebooks/codes/LUT from the
    # same deterministic sample. The codebooks train on a frame with
    # PLANTED corrupt rows at ids BELOW every real id (VERDICT r11
    # task 1): an unscreened smallest-id sample would adopt them as
    # codebook entries and shift every ADC score, so the oracle (which
    # derives from the clean corpus) hash-pins the corrupt-embedding
    # screen (finite_vectors + zero-norm + majority-dim) in the driver
    # gate, not just in pytest. The four rows cover the screen's four
    # cases: NULL vector, NaN component, all-zero (NULL after
    # normalization), and ragged (dim 63 against the majority 64).
    from ..operators.pq import pq_adc_topk, pq_codebooks

    emb_iv = emb.select("vec_id", "embedding")
    corrupt = spark.createDataFrame(
        [
            (-4, None),
            (-3, [float("nan")] * 64),
            (-2, [0.0] * 64),
            (-1, [0.5] * 63),
        ],
        emb_iv.schema,
    )
    cbs = pq_codebooks(
        emb_iv.unionByName(corrupt), "vec_id", "embedding", m=4, ksub=16
    )
    pq = pq_adc_topk(
        emb, "vec_id", "embedding", cbs, k=5, probe_ids=[0, 1, 2, 3, 4]
    ).select(
        F.lit("pq_adc").alias("part"),
        (F.col("query_id") * 100 + F.col("rank")).cast("bigint").alias("query_id"),
        F.col("neighbor_id").cast("bigint").alias("n"),
        F.round(F.col("adc"), 6).cast("double").alias("exact_min_cos"),
        F.lit(True).alias("ok"),
    )
    return (
        topk.unionByName(nd_row)
        .unionByName(sd_clusters)
        .unionByName(sd_total)
        .unionByName(pq)
        .orderBy("part", F.col("query_id").asc_nulls_first())
    )


_ANN_ORACLE = f"""
WITH RECURSIVE v AS (SELECT vec_id, embedding FROM embeddings),
pq_nrm AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) /
    nullif(sqrt(list_sum(list_transform(embedding,
      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 0.0)) AS nv
  FROM v
),
pq_cb AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, nv
  FROM (SELECT vec_id, nv FROM pq_nrm ORDER BY vec_id LIMIT 16) __s
),
pq_js AS (SELECT unnest(generate_series(0, 3)) AS j),
pq_codes AS (
  SELECT vec_id, j, code FROM (
    SELECT n.vec_id, js.j, b.c AS code,
           row_number() OVER (PARTITION BY n.vec_id, js.j ORDER BY
             list_sum(list_transform(generate_series(1, 16), d ->
               (n.nv[js.j * 16 + d] - b.nv[js.j * 16 + d])
               * (n.nv[js.j * 16 + d] - b.nv[js.j * 16 + d]))) ASC,
             b.c ASC) AS rn
    FROM pq_nrm n CROSS JOIN pq_cb b CROSS JOIN pq_js js
  ) __a WHERE rn = 1
),
pq_lut AS (
  SELECT q.vec_id AS query_id, js.j, b.c,
         list_sum(list_transform(generate_series(1, 16), d ->
           q.nv[js.j * 16 + d] * b.nv[js.j * 16 + d])) AS part_dot
  FROM pq_nrm q CROSS JOIN pq_cb b CROSS JOIN pq_js js
  WHERE q.vec_id IN (0, 1, 2, 3, 4)
),
pq_score AS (
  SELECT l.query_id, cd.vec_id AS neighbor_id,
         list_sum(list(l.part_dot ORDER BY l.j)) AS adc
  FROM pq_codes cd JOIN pq_lut l ON l.j = cd.j AND l.c = cd.code
  WHERE cd.vec_id <> l.query_id
  GROUP BY l.query_id, cd.vec_id
),
pq_top AS (
  SELECT query_id, neighbor_id, adc,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc DESC, neighbor_id ASC) AS rank
  FROM pq_score
),
top5 AS ({_duck_cos_top5("v")}),
aug AS ({_AUG_EMB_SQL}),
exact_nd AS (
  SELECT COUNT(*) AS n FROM aug a JOIN aug b ON a.vec_id < b.vec_id
  WHERE round({_duck_cos("a.embedding", "b.embedding")}, 6) >= 0.8
),
{_duck_assign_centroids("aug", "sd_")},
sd_edges AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sd_assigned a JOIN sd_assigned b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE round({_duck_cos("a.embedding", "b.embedding")}, 6) >= {_SEMDEDUP_MIN_COS}
),
{_duck_components("aug", "vec_id", "sd_edges", "sd_")}
SELECT 'srp_topk' AS part, CAST(query_id AS BIGINT) AS query_id,
       CAST(COUNT(*) AS BIGINT) AS n, round(min(c), 6) AS exact_min_cos, TRUE AS ok
FROM top5 GROUP BY query_id
UNION ALL
SELECT 'srp_near_dup', CAST(NULL AS BIGINT), (SELECT n FROM exact_nd),
       CAST(NULL AS DOUBLE), TRUE
UNION ALL
SELECT 'semdedup_cluster', CAST(cluster_id AS BIGINT), CAST(COUNT(*) AS BIGINT),
       CAST(NULL AS DOUBLE), TRUE
FROM sd_comp GROUP BY cluster_id HAVING COUNT(*) > 1
UNION ALL
SELECT 'semdedup_total', CAST(NULL AS BIGINT),
       (SELECT COUNT(DISTINCT cluster_id) FROM sd_comp), CAST(NULL AS DOUBLE), TRUE
UNION ALL
SELECT 'pq_adc', CAST(query_id * 100 + rank AS BIGINT), CAST(neighbor_id AS BIGINT),
       round(adc, 6), TRUE
FROM pq_top WHERE rank <= 5
ORDER BY part, query_id NULLS FIRST
"""


# --- multimodal_suite: image decode + resize + audio decode over the
# binary payload column (stub codecs; real Arrow/mapInPandas contract) ---
def _spark_multimodal_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    def _norm(df: DataFrame, part: str, n1: str, n2: str, n3: str | None,
              n4: str | None, v: Column, v2: Column) -> DataFrame:
        return df.select(
            F.lit(part).alias("part"), F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col(n1).cast("bigint").alias("n1"), F.col(n2).cast("bigint").alias("n2"),
            (F.col(n3) if n3 else F.lit(None)).cast("bigint").alias("n3"),
            (F.col(n4) if n4 else F.lit(None)).cast("bigint").alias("n4"),
            v.cast("double").alias("v"), v2.cast("double").alias("v2"),
        )

    dec = _norm(
        _spark_multimodal(spark, sf_dir), "image_decode",
        "n_bytes", "width", "height", "channels", F.col("mean_luma"), F.lit(None),
    )
    rez = _norm(
        _spark_multimodal_resize(spark, sf_dir), "image_resize",
        "width", "height", "new_width", "new_height", F.col("scale"), F.lit(None),
    )
    aud = _norm(
        _spark_multimodal_audio(spark, sf_dir), "audio_decode",
        "sample_rate", "n_samples", None, None, F.col("rms"), F.col("duration_s"),
    )
    return dec.unionByName(rez).unionByName(aud).orderBy("part", "doc_id")


def _multimodal_suite_oracle() -> str:
    def _n(part: str, body: str, n1: str, n2: str, n3: str, n4: str,
           v: str, v2: str) -> str:
        return (
            f"SELECT '{part}' AS part, CAST(doc_id AS BIGINT) AS doc_id,"
            f" CAST({n1} AS BIGINT) AS n1, CAST({n2} AS BIGINT) AS n2,"
            f" CAST({n3} AS BIGINT) AS n3, CAST({n4} AS BIGINT) AS n4,"
            f" CAST({v} AS DOUBLE) AS v, CAST({v2} AS DOUBLE) AS v2 FROM ({body}) __sub"
        )

    return "\nUNION ALL\n".join([
        _n("image_decode", _MULTIMODAL_ORACLE,
           "n_bytes", "width", "height", "channels", "mean_luma", "NULL"),
        _n("image_resize", _MULTIMODAL_RESIZE_ORACLE,
           "width", "height", "new_width", "new_height", "scale", "NULL"),
        _n("audio_decode", _MULTIMODAL_AUDIO_ORACLE,
           "sample_rate", "n_samples", "NULL", "NULL", "rms", "duration_s"),
    ]) + "\nORDER BY part, doc_id"


# --- op_gapfill_interpolate: dense hourly spine + LOCF + linear
# interpolation over the event stream, grouped into 16 rollup series.
# The oracle re-derives the whole fill with the same portable
# "observation group" window algebra (COUNT-over-ORDER then MIN/MAX
# over the group) — no IGNORE NULLS anywhere, exact micro-unit
# arithmetic end to end (operators/gapfill.py design notes). ---
_GAPFILL_SERIES_MOD = 16


def _spark_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    obs = hourly_observations(ev, F.col("user_id") % _GAPFILL_SERIES_MOD)
    return gap_fill_interpolate(obs).orderBy("series_id", "bucket_hour")


_GAPFILL_ORACLE = f"""
WITH obs AS (
  SELECT user_id % {_GAPFILL_SERIES_MOD} AS series_id,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket_hour,
         CAST(sum(CAST(round(value * 1000000, 0) AS BIGINT)) AS BIGINT) AS v_units,
         count(value) AS n_obs
  FROM events GROUP BY 1, 2
),
span AS (SELECT series_id, min(bucket_hour) AS h0, max(bucket_hour) AS h1 FROM obs GROUP BY 1),
spine AS (SELECT series_id, unnest(generate_series(h0, h1)) AS bucket_hour FROM span),
j AS (
  SELECT sp.series_id, sp.bucket_hour, o.v_units, o.n_obs
  FROM spine sp LEFT JOIN obs o USING (series_id, bucket_hour)
),
g AS (
  SELECT *,
    COUNT(v_units) OVER (PARTITION BY series_id ORDER BY bucket_hour ASC) AS grp,
    COUNT(v_units) OVER (PARTITION BY series_id ORDER BY bucket_hour DESC) AS grp2
  FROM j
),
f AS (
  SELECT *,
    MAX(v_units) OVER (PARTITION BY series_id, grp) AS pu,
    MAX(CASE WHEN v_units IS NOT NULL THEN n_obs END) OVER (PARTITION BY series_id, grp) AS pn,
    MIN(CASE WHEN v_units IS NOT NULL THEN bucket_hour END) OVER (PARTITION BY series_id, grp) AS ph,
    MAX(v_units) OVER (PARTITION BY series_id, grp2) AS nu,
    MAX(CASE WHEN v_units IS NOT NULL THEN n_obs END) OVER (PARTITION BY series_id, grp2) AS nn,
    MAX(CASE WHEN v_units IS NOT NULL THEN bucket_hour END) OVER (PARTITION BY series_id, grp2) AS nh
  FROM g
)
SELECT series_id, bucket_hour,
  CAST(coalesce(n_obs, 0) AS BIGINT) AS n_obs,
  floor((CAST(v_units AS DOUBLE) / n_obs / 1000000) * 1000000 + 0.5) / 1000000 AS v,
  floor((CAST(pu AS DOUBLE) / pn / 1000000) * 1000000 + 0.5) / 1000000 AS locf_v,
  floor(((CASE WHEN v_units IS NOT NULL THEN CAST(v_units AS DOUBLE) / n_obs
        ELSE CAST(pu AS DOUBLE) / pn
             + (CAST(nu AS DOUBLE) / nn - CAST(pu AS DOUBLE) / pn)
               * (CAST(bucket_hour - ph AS DOUBLE) / CAST(nh - ph AS DOUBLE))
        END) / 1000000) * 1000000 + 0.5) / 1000000 AS interp_v
FROM f ORDER BY series_id, bucket_hour
"""


# --- text_quality_classifier: fastText-style hashed linear quality
# model scored as broadcast-join + combinable aggregate; the oracle
# regenerates the deterministic model from range(n) and recomputes
# every score from the literal token strings (operators/quality_model).
_QC_BIAS_MILLI = -25


def _spark_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    weights = make_hashed_weights(spark)
    return hashed_linear_score(docs, weights, bias_milli=_QC_BIAS_MILLI).orderBy("doc_id")


_QUALITY_CLASSIFIER_ORACLE = f"""
WITH wt AS (
  SELECT CAST(range AS INT) AS bucket,
         CAST(CAST(concat('0x', substr(md5(concat('qw-v1-', CAST(range AS VARCHAR))), 1, 8))
              AS BIGINT) % 2001 - 1000 AS BIGINT) AS w_milli
  FROM range(256)
),
toks AS (
  SELECT doc_id,
         CAST(CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % 256 AS INT) AS bucket
  FROM (SELECT doc_id, unnest({_DUCK_TOKENS}) AS t FROM documents) __t
),
per_doc AS (
  SELECT doc_id, sum(coalesce(w_milli, 0)) AS sum_w_milli, count(*) AS n_tokens
  FROM toks LEFT JOIN wt USING (bucket) GROUP BY doc_id
)
SELECT d.doc_id, CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
  CAST(p.sum_w_milli AS BIGINT) AS sum_w_milli,
  floor((CAST(p.sum_w_milli AS DOUBLE) / p.n_tokens / 1000.0 + ({_QC_BIAS_MILLI} / 1000.0)) * 1000000 + 0.5) / 1000000 AS score,
  coalesce(floor((CAST(p.sum_w_milli AS DOUBLE) / p.n_tokens / 1000.0 + ({_QC_BIAS_MILLI} / 1000.0)) * 1000000 + 0.5) / 1000000 > 0.0, FALSE) AS keep
FROM documents d LEFT JOIN per_doc p USING (doc_id)
ORDER BY d.doc_id
"""


# --- op_graph_pagerank: integer-deterministic PageRank over the
# customer↔supplier transaction graph (distinct order lineage pairs,
# symmetrized so no mass leaks). Ranks are exact BIGINT scale-units —
# see operators/graph.py for the recurrence contract — and the oracle
# replays all 8 iterations as unrolled CTEs in exact integer
# arithmetic, so every rank unit must match bit-for-bit. ---
_PR_ITERS = 8
_PR_SCALE = 10**12
_PR_DAMP = 85


def _spark_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    edges = cs.unionByName(
        cs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    out = pagerank(
        edges, iterations=_PR_ITERS, damping_pct=_PR_DAMP, scale=_PR_SCALE
    )
    return out.select(
        "node",
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        "out_deg",
        "rank_units",
        "rank",
    ).orderBy("node")


def _graph_pagerank_oracle() -> str:
    # Every r{i} is referenced TWICE by r{i+1} (rank carry + contribution
    # scan). Without AS MATERIALIZED DuckDB inlines the chain and the
    # unrolled recurrence evaluates r0 2^iters times — measured as a
    # disk-spill blowup at sf0.1. Materializing each step makes the
    # oracle linear in iterations, mirroring the Spark side's pins.
    scale, damp, tele_pct = _PR_SCALE, _PR_DAMP, 100 - _PR_DAMP
    iters = [
        f"""r0 AS MATERIALIZED (
  SELECT d.node, d.out_deg,
         CAST({scale} // p.n AS BIGINT) AS ru,
         CAST({tele_pct} * ({scale} // p.n) // 100 AS BIGINT) AS tele
  FROM deg d CROSS JOIN params p
)"""
    ]
    for i in range(1, _PR_ITERS + 1):
        prev = f"r{i - 1}"
        iters.append(
            f"""r{i} AS MATERIALIZED (
  SELECT r.node, r.out_deg,
         CAST(r.tele + {damp} * coalesce(s.s, 0) // 100 AS BIGINT) AS ru,
         r.tele
  FROM {prev} r LEFT JOIN (
    SELECT e.dst AS node, CAST(sum(r.ru // r.out_deg) AS BIGINT) AS s
    FROM {prev} r JOIN edges e ON r.node = e.src
    WHERE r.out_deg > 0 GROUP BY 1
  ) s USING (node)
)"""
        )
    chain = ",\n".join(iters)
    return f"""
WITH cs AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS MATERIALIZED (SELECT src, dst FROM cs UNION ALL SELECT dst AS src, src AS dst FROM cs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS out_deg FROM edges GROUP BY 1),
params AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
{chain}
SELECT node,
       CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       out_deg, ru AS rank_units,
       CAST(ru AS DOUBLE) / {scale} AS rank
FROM r{_PR_ITERS} ORDER BY node
"""


# --- op_copurchase_pairs: market-basket affinity (frequent part pairs
# + lift) over order baskets. Support >= 2 keeps the output non-empty
# and ~3.5k rows at every sf (pair repeats shrink as the part space
# grows — measured 2324/3445/3573 rows at sf0.001/0.01/0.1). ---
_MB_MIN_PAIRS = 2


def _spark_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.market_basket import copurchase_pairs

    li = load_table(spark, sf_dir, "lineitem")
    out = copurchase_pairs(
        li, "l_orderkey", "l_partkey", min_pair_count=_MB_MIN_PAIRS
    )
    return out.orderBy(
        F.col("pair_count").desc(), "item_a", "item_b"
    )


_COPURCHASE_ORACLE = f"""
WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
sized AS (
  SELECT b.basket, b.item
  FROM b JOIN (
    SELECT basket FROM b GROUP BY basket HAVING count(*) <= 1000
  ) ok USING (basket)
),
ic AS (SELECT item, CAST(count(*) AS BIGINT) AS cnt FROM sized GROUP BY item),
tot AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n_baskets FROM sized),
p AS (
  SELECT a.item AS item_a, c.item AS item_b, CAST(count(*) AS BIGINT) AS pair_count
  FROM sized a JOIN sized c ON a.basket = c.basket AND a.item < c.item
  GROUP BY 1, 2 HAVING count(*) >= {_MB_MIN_PAIRS}
)
SELECT p.item_a, p.item_b, p.pair_count,
       ca.cnt AS count_a, cb.cnt AS count_b, tot.n_baskets,
       floor((CAST(p.pair_count * tot.n_baskets AS DOUBLE)
              / CAST(ca.cnt * cb.cnt AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS lift
FROM p
JOIN ic ca ON ca.item = p.item_a
JOIN ic cb ON cb.item = p.item_b
CROSS JOIN tot
ORDER BY p.pair_count DESC, p.item_a, p.item_b
"""


# --- op_event_funnel: ordered conversion funnel view→click→purchase
# within 72h of the first view, per user. All time comparisons in
# integer microseconds (operators/funnel.py); the oracle replays the
# same step chain as CTEs. signup→error appended as a second funnel
# part so the union exercises independent step chains. ---
_FUNNEL_WINDOW_S = 72 * 3600


def _spark_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import conversion_funnel

    ev = load_table(spark, sf_dir, "events")
    main = conversion_funnel(
        ev, ["view", "click", "purchase"], max_window_seconds=_FUNNEL_WINDOW_S
    ).select(F.lit("shop").alias("funnel"), "*")
    ops = conversion_funnel(ev, ["signup", "error"]).select(
        F.lit("ops").alias("funnel"), "*"
    )
    return main.unionByName(ops).orderBy("funnel", "step")


def _event_funnel_oracle() -> str:
    def chain(name: str, steps: list[str], window_s: int | None) -> str:
        ctes = [
            f"""s1 AS (
  SELECT user_id AS u, min(epoch_us(ts)) AS reach
  FROM events WHERE event_type = '{steps[0]}' GROUP BY 1
)"""
        ]
        for i in range(2, len(steps) + 1):
            # the 72h window anchors at the STEP-1 reach time, carried
            # through the chain as reach0 (p.reach IS it when p = s1)
            base = "p.reach" if i == 2 else "p.reach0"
            win = (
                f" AND epoch_us(e.ts) <= {base} + {window_s * 1000000}"
                if window_s is not None
                else ""
            )
            ctes.append(
                f"""s{i} AS (
  SELECT e.user_id AS u, min(epoch_us(e.ts)) AS reach, min({base}) AS reach0
  FROM events e JOIN s{i - 1} p ON e.user_id = p.u
    AND epoch_us(e.ts) >= p.reach{win}
  WHERE e.event_type = '{steps[i - 1]}' GROUP BY 1
)"""
            )
        counts = "\nUNION ALL\n".join(
            f"SELECT {i + 1} AS step, '{s}' AS step_name,"
            f" CAST((SELECT count(*) FROM s{i + 1}) AS BIGINT) AS n_users"
            for i, s in enumerate(steps)
        )
        return f"""
SELECT '{name}' AS funnel, step, step_name, n_users,
  CASE WHEN step = 1 THEN 1.0
       WHEN lag(n_users) OVER (ORDER BY step) > 0
       THEN floor((CAST(n_users AS DOUBLE)
                   / CAST(lag(n_users) OVER (ORDER BY step) AS DOUBLE))
                  * 1000000 + 0.5) / 1000000
  END AS conv_from_prev,
  CASE WHEN step = 1 THEN 1.0
       WHEN first_value(n_users) OVER (ORDER BY step) > 0
       THEN floor((CAST(n_users AS DOUBLE)
                   / CAST(first_value(n_users) OVER (ORDER BY step) AS DOUBLE))
                  * 1000000 + 0.5) / 1000000
  END AS conv_from_first
FROM (WITH {", ".join(ctes)} {counts}) __c
"""

    shop = chain("shop", ["view", "click", "purchase"], _FUNNEL_WINDOW_S)
    ops = chain("ops", ["signup", "error"], None)
    return (
        f"SELECT * FROM ({shop}) __a UNION ALL SELECT * FROM ({ops}) __b"
        " ORDER BY funnel, step"
    )


# =====================================================================
# Registry
# =====================================================================


def operator_queries() -> dict[str, OpQuery]:
    """The 40 operator queries (+10 goldens = the driver's 50-query
    CORRECTNESS budget, exactly). Ordered by verification value: the
    LLM-pipeline family first (newest components), then the star-
    cleaning / io / streaming groups, then the relational core."""
    return {
        # --- LLM-pipeline family (dedup / similarity / text / multimodal) ---
        "dedup_exact_text": OpQuery(_spark_dedup_exact_text, _DEDUP_EXACT_ORACLE),
        # The Spark side runs the PPJoin prefix-filtered mode (round 7);
        # the DuckDB oracle derives the same pairs from the naive
        # first-principles self-join, so the per-round hash compare IS
        # the proof that prefix filtering is exact on the live fixtures.
        # bench keeps timing the naive plan under this name (series
        # continuity); tests/test_dedup.py pins naive==prefix directly.
        "dedup_ngram_jaccard": OpQuery(_bench_ngram(prefix_filter=True), _NGRAM_JACCARD_ORACLE),
        "dedup_lsh_pairs": OpQuery(_spark_dedup_lsh_pairs, _LSH_ORACLE),
        "dedup_incremental": OpQuery(_spark_dedup_incremental, _INCREMENTAL_ORACLE),
        "sim_cosine_topk": OpQuery(_spark_cosine_topk, _COSINE_TOPK_ORACLE),
        "sim_near_dup_exact": OpQuery(_spark_near_dup_exact, _NEAR_DUP_EXACT_ORACLE),
        "sim_ann_topk": OpQuery(_spark_sim_ann_topk, _ANN_ORACLE),
        "sim_ivf_topk": OpQuery(_spark_ivf_topk, _IVF_TOPK_ORACLE),
        "text_features_suite": OpQuery(_spark_text_features_suite, _text_features_suite_oracle()),
        "corpus_group_sample": OpQuery(_spark_corpus_group_sample, _GROUP_SAMPLE_ORACLE),
        "text_quality_classifier": OpQuery(
            _spark_quality_classifier, _QUALITY_CLASSIFIER_ORACLE
        ),
        "op_gapfill_interpolate": OpQuery(_spark_gapfill, _GAPFILL_ORACLE),
        "op_graph_pagerank": OpQuery(_spark_graph_pagerank, _graph_pagerank_oracle()),
        "op_copurchase_pairs": OpQuery(_spark_copurchase, _COPURCHASE_ORACLE),
        "op_event_funnel": OpQuery(_spark_event_funnel, _event_funnel_oracle()),
        "pipeline_curation_funnel": OpQuery(_spark_curation_funnel, _funnel_oracle()),
        "multimodal_suite": OpQuery(_spark_multimodal_suite, _multimodal_suite_oracle()),
        # --- star-schema cleaning / warehouse operators ---
        "op_cleaning_suite": OpQuery(
            _sql(_cleaning_suite_sql(D.SPARK), star=True),
            oracle_with_chain(_cleaning_suite_sql(D.DUCKDB)),
        ),
        "op_geohash_merge_rollup": OpQuery(
            _sql(_GEOHASH_MERGE, star=True), oracle_with_chain(_GEOHASH_MERGE)
        ),
        "op_upsert_idempotent": OpQuery(_spark_upsert_idempotent, _UPSERT_ORACLE),
        "op_io_roundtrip_suite": OpQuery(_spark_io_suite, _IO_SUITE_ORACLE),
        "op_extract_functions": OpQuery(
            _sql(_extract_functions_sql(D.SPARK)), _extract_functions_sql(D.DUCKDB)
        ),
        "op_approx_vs_exact": OpQuery(
            _sql(_approx_vs_exact_sql(D.SPARK)), _approx_vs_exact_sql(D.DUCKDB)
        ),
        "op_agg_expressions": OpQuery(
            _sql(_agg_expressions_sql(D.SPARK)), _agg_expressions_sql(D.DUCKDB)
        ),
        # --- structured streaming ---
        "stream_windowed_counts": OpQuery(
            _spark_stream_windowed, _stream_windowed_oracle(D.DUCKDB)
        ),
        "stream_stateful_sessionize": OpQuery(
            _spark_stateful_sessionize, _stateful_sessionize_oracle(D.DUCKDB)
        ),
        "stream_session_window": OpQuery(
            _spark_session_window_stream, _SESSION_WINDOW_STREAM_ORACLE
        ),
        "stream_upsert_ingest": OpQuery(_spark_stream_upsert, _STREAM_UPSERT_ORACLE),
        "stream_stream_join": OpQuery(_spark_stream_stream_join, _STREAM_STREAM_JOIN_ORACLE),
        # --- relational core ---
        "op_q1_pricing_summary": OpQuery(_sql(_Q1), _Q1),
        "op_multijoin_revenue": OpQuery(_sql(_MULTIJOIN_REVENUE_SQL), _MULTIJOIN_REVENUE_SQL),
        "op_dim_rollups": OpQuery(_sql(_DIM_ROLLUPS_SQL), _DIM_ROLLUPS_SQL),
        "op_topk_orders_per_customer": OpQuery(_sql(_TOPK_ORDERS), _TOPK_ORDERS),
        "op_window_functions": OpQuery(
            _sql(_window_functions_sql(D.SPARK)), _window_functions_sql(D.DUCKDB)
        ),
        "op_set_operators": OpQuery(_spark_set_operators, _SET_OPERATORS_SQL),
        "op_join_filters": OpQuery(_sql(_JOIN_FILTERS_SQL), _JOIN_FILTERS_SQL),
        "op_groupby_shapes_suite": OpQuery(_spark_groupby_shapes, _GROUPBY_SHAPES_ORACLE),
        "op_events_time_suite": OpQuery(
            _sql(_events_time_suite_sql(D.SPARK)), _events_time_suite_sql(D.DUCKDB)
        ),
        "op_asof_range_join_suite": OpQuery(_spark_asof_range_suite, _ASOF_RANGE_ORACLE),
        "op_scd2_dimension_apply": OpQuery(_spark_merge_suite, _MERGE_SUITE_ORACLE),
    }


def _bench_ngram(prefix_filter: bool):
    """Bench form of the n-gram Jaccard family at the registry's
    operating point (n, min_jaccard), in either join strategy."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        pairs = ngram_jaccard_pairs(
            docs, "doc_id", "text", n=_NGRAM_N, min_jaccard=_NGRAM_MIN_J,
            prefix_filter=prefix_filter,
        )
        return pairs.select(
            "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
        ).orderBy(F.desc("jaccard"), "id_a", "id_b").limit(50)

    return run


def bench_retained_queries() -> dict[str, "OpQuery | object"]:
    """PUBLIC export of the finer-grained plans ``bench.py`` keeps
    timing after their registry entries were folded into tag-union
    suites (the driver's 50-query CORRECTNESS cap): sessionization,
    the events tumbling window, the token-feature scan, and the two
    n-gram Jaccard join strategies (``dedup_ngram_jaccard`` = the
    naive inverted-index plan the bench series has always measured;
    ``dedup_ngram_prefix`` = the PPJoin prefix-filtered plan that is
    the production default on stopword-hot corpora). bench.py imports
    ONLY this function; scripts/smoke.py builds bench's full query
    dict through it pre-commit, so a registry refactor that renames
    the underlying privates fails the smoke gate instead of bench at
    runtime."""
    return {
        "op_sessionize_events": _sql(_sessionize_sql(D.SPARK)),
        "op_events_tumbling_window": _sql(_events_window_sql(D.SPARK)),
        "text_token_features": _spark_text_token_features,
        "dedup_ngram_jaccard": _bench_ngram(prefix_filter=False),
        "dedup_ngram_prefix": _bench_ngram(prefix_filter=True),
    }
