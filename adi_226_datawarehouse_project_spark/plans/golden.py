"""The golden analytical query suite — the reference's ten notebook
queries (`src/Analysis/*.ipynb`) re-targeted at the synthetic star
schema. Each query is dialect-shared SQL (identical text runs on Spark
and DuckDB unless noted) so correctness is verified by exact
hash-match against the DuckDB oracle.

Deterministic deviations from the reference SQL (each deliberate,
value-preserving in spirit):
- ORDER BY gains natural-key tiebreakers wherever a LIMIT follows —
  reference top-k is nondeterministic under ties.
- DECIMAL casts → DOUBLE (`TRY_CAST(price AS DECIMAL(18,2))` →
  try_cast DOUBLE): the engine keeps typed doubles end-to-end.
- Money aggregates (`avg`/`sum` over price/revenue) run through an
  exact integer-cents path (`_cents`): summing doubles is
  order-dependent at the ulp level and Spark/DuckDB would disagree in
  the last bits; summing BIGINT cents is exact in both engines, so the
  final divide produces bit-identical doubles.
- `WHERE d.year >= 2023` (q9) → `>= 1998`: the synthetic shipdates
  span 1995-2001.
- HAVING thresholds are kept (fixture density was designed so they
  select non-trivially — see model/fixtures.py spatial layout).

Scale notes: q1-q3/q9-q10 are star joins of a big fact against tiny
dims — Catalyst broadcasts every dim (verified in tests); the window
in q1/q9 runs over the *aggregated* frame (5-3000 rows), never the
fact. q4-q8 join on geohash — at 100 TB that is the one shuffle-heavy
join family; the fixture's folded grid creates realistic skew that AQE
skew-join handles (skew split verified at bench SF).
"""

from __future__ import annotations

# Exact-integer cents of a dirty price string/double expression: the
# double is within 1e-10 of true cents, so round-then-cast recovers the
# exact integer identically in both engines.
def _cents(expr: str) -> str:
    return f"CAST(round(({expr}) * 100, 0) AS BIGINT)"


_PRICE = "try_cast(f.price AS DOUBLE)"
_PRICE_OK = (
    "f.price NOT IN ('NaN', 'nan', '', 'INF', '-INF')"
    " AND try_cast(f.price AS DOUBLE) IS NOT NULL"
)

GOLDEN_QUERIES: dict[str, str] = {
    # ---- 311 Complaints Analysis (1).ipynb ----
    # cell 0: % of total by borough (W1 window-over-aggregate + J5).
    "g01_complaints_by_borough_pct": """
SELECT b.borough_name AS borough,
       COUNT(*) AS total_complaints,
       round(CAST(COUNT(*) AS DOUBLE) * 100.0
             / CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 2) AS percentage
FROM fact_311_complaint f
JOIN dim_311_location l ON f.location_key = l.location_key
JOIN dim_311_borough b ON l.borough = b.borough_name
GROUP BY b.borough_name
ORDER BY total_complaints DESC, borough
""",
    # cell 1: top complaint types per borough (J6 + top-k).
    "g02_top_complaint_types": """
SELECT c.complaint_type_name AS complaint_type,
       b.borough_name AS borough,
       COUNT(*) AS complaint_count
FROM fact_311_complaint f
JOIN dim_311_complaint c ON f.complaint_type_key = c.complaint_type_key
JOIN dim_311_location l ON f.location_key = l.location_key
JOIN dim_311_borough b ON l.borough = b.borough_name
WHERE c.complaint_type_name IS NOT NULL
GROUP BY c.complaint_type_name, b.borough_name
ORDER BY complaint_count DESC, complaint_type, borough
LIMIT 20
""",
    # cell 2: agency resolution times (A3).
    "g03_agency_resolution": """
SELECT a.agency_name,
       COUNT(*) AS total_complaints,
       round(avg(f.duration_hours), 2) AS avg_resolution_hours,
       round(avg(f.duration_hours) / 24, 1) AS avg_resolution_days
FROM fact_311_complaint f
JOIN dim_311_agency a ON f.agency_key = a.agency_key
WHERE f.duration_hours IS NOT NULL
GROUP BY a.agency_name
ORDER BY total_complaints DESC, agency_name
""",
    # ---- Airbnb Listings Analysis.ipynb ----
    # cell 0: price stats by borough (A4 multi-agg + J7 geohash join).
    # g04-g06 use the same aggregate-below-join rewrite as g07/g08:
    # the raw fact⋈dim_location geohash join is m:n over a ~221-value
    # key (the fixture's folded spatial grid), which at a 64×-
    # replicated corpus produced 3.9 BILLION join pairs (measured —
    # 60s for what is a 5-row answer). Both sides aggregate to geohash
    # grain FIRST; pair counts/sums are recovered exactly as weighted
    # products of the per-cell partials (integer-cents math, so the
    # values stay bit-identical to the raw-join form — the pre-rewrite
    # text is pinned equivalent in tests/test_golden_rewrites.py).
    "g04_price_stats_by_borough": f"""
SELECT da.borough,
       CAST(sum(fa.cnt * da.cnt) AS BIGINT) AS total_listings,
       round(CAST(CAST(sum(fa.cents * da.cnt) AS BIGINT) AS DOUBLE)
             / CAST(sum(fa.cnt * da.cnt) AS BIGINT) / 100.0, 2) AS avg_price,
       min(fa.min_price) AS min_price,
       max(fa.max_price) AS max_price
FROM (SELECT f.geohash, COUNT(*) AS cnt, sum({_cents(_PRICE)}) AS cents,
             min({_PRICE}) AS min_price, max({_PRICE}) AS max_price
      FROM fact_airbnb_listings f
      WHERE {_PRICE_OK}
      GROUP BY f.geohash) fa
JOIN (SELECT geohash, borough, COUNT(*) AS cnt
      FROM dim_airbnb_location
      WHERE borough IS NOT NULL
      GROUP BY geohash, borough) da ON fa.geohash = da.geohash
GROUP BY da.borough
ORDER BY total_listings DESC, borough
""",
    # cell 1: room type × borough with COALESCE fallback (P14 + J8).
    # Same rewrite; the property LEFT JOIN is 1:1 on listing_id so it
    # stays below the fact-side aggregation.
    "g05_room_type_price": f"""
SELECT fa.room_type,
       da.borough,
       CAST(sum(fa.cnt * da.cnt) AS BIGINT) AS listing_count,
       round(CAST(CAST(sum(fa.cents * da.cnt) AS BIGINT) AS DOUBLE)
             / CAST(sum(fa.cnt * da.cnt) AS BIGINT) / 100.0, 2) AS avg_price
FROM (SELECT f.geohash, coalesce(f.room_type, dp.room_type) AS room_type,
             COUNT(*) AS cnt, sum({_cents(_PRICE)}) AS cents
      FROM fact_airbnb_listings f
      LEFT JOIN dim_airbnb_property dp ON f.listing_id = dp.listing_id
      WHERE {_PRICE_OK}
      GROUP BY f.geohash, coalesce(f.room_type, dp.room_type)) fa
JOIN (SELECT geohash, borough, COUNT(*) AS cnt
      FROM dim_airbnb_location
      WHERE borough IS NOT NULL
      GROUP BY geohash, borough) da ON fa.geohash = da.geohash
GROUP BY fa.room_type, da.borough
ORDER BY listing_count DESC, room_type, borough
""",
    # cell 2: neighbourhood revenue (A5 SUM+COALESCE; round 2 not 0 —
    # see module docstring). Same rewrite; avg divides by the PAIR
    # count of non-null prices (pcnt·dcnt), matching count(price) over
    # the raw join exactly.
    "g06_neighbourhood_revenue": f"""
SELECT da.neighbourhood_name AS neighbourhood,
       da.borough,
       CAST(sum(fa.cnt * da.cnt) AS BIGINT) AS listings,
       round(CAST(CAST(sum(fa.cents * da.cnt) AS BIGINT) AS DOUBLE)
             / CAST(sum(fa.pcnt * da.cnt) AS BIGINT) / 100.0, 2) AS avg_price,
       round(CAST(CAST(sum(fa.rev_cents * da.cnt) AS BIGINT) AS DOUBLE) / 100.0, 2)
         AS est_total_revenue_l365d
FROM (SELECT f.geohash, COUNT(*) AS cnt, count({_PRICE}) AS pcnt,
             sum({_cents(_PRICE)}) AS cents,
             sum({_cents("coalesce(f.estimated_revenue_l365d, 0)")}) AS rev_cents
      FROM fact_airbnb_listings f
      WHERE f.price NOT IN ('NaN', 'nan', '', 'INF', '-INF')
      GROUP BY f.geohash) fa
JOIN (SELECT geohash, neighbourhood_name, borough, COUNT(*) AS cnt
      FROM dim_airbnb_location
      GROUP BY geohash, neighbourhood_name, borough) da ON fa.geohash = da.geohash
GROUP BY da.neighbourhood_name, da.borough
ORDER BY listings DESC, neighbourhood, borough
LIMIT 20
""",
    # ---- Comined analysis.ipynb ----
    # cell 0: drill-across airbnb-per-complaint (J9 + A6/A7).
    #
    # AGGREGATE-BELOW-JOIN REWRITE (semantics-preserving): the
    # reference's literal 4-way LEFT JOIN fans out to
    # |listings/cell| × |locations/cell| × |complaints/cell| rows per
    # geohash cell before COUNT(DISTINCT) collapses them — 843M rows at
    # sf0.1, unbounded at 100 TB. Because a complaint has exactly one
    # location geohash and a listing exactly one geohash, the distinct
    # sets are DISJOINT across cells, so per-(b,n) distinct counts are
    # exactly the sum of per-geohash distinct counts: aggregate each
    # fact to geohash grain FIRST, then join the tiny per-cell rollups.
    # Output is row-identical to the naive form (oracle runs this same
    # text; equivalence to the naive form is pinned by a pytest).
    #
    # LOCATION-JOIN ELISION (r14, guide §2.4 "remove shuffles
    # outright"): the complaint rollup used to go through
    # dim_311_location (JOIN ... ON c.location_key = l311.location_key
    # ... GROUP BY l311.geohash). That join is 1:1 and
    # geohash-preserving BY CONSTRUCTION of the fact: every fact row
    # passed `s.geohash IS NOT NULL AND s.latitude/longitude IS NOT
    # NULL`, dim_311_location is the DISTINCT of exactly those staging
    # tuples, and the fact's location LEFT JOIN matches on the full
    # tuple with l.geohash = s.geohash — so location_key is never NULL,
    # matches exactly one dim row, and that row's geohash equals the
    # fact's own geohash column. Grouping the fact by its own geohash is
    # therefore row-identical and drops a fact×(fact-sized-dim) shuffle
    # join per query. Pinned by test_golden_rewrites (join form ==
    # elided form) and by the DuckDB oracle (same text, both engines).
    "g07_airbnb_complaint_ratio": """
SELECT g.borough,
       g.neighbourhood_name AS neighbourhood,
       CAST(sum(coalesce(cg.cnt, 0)) AS BIGINT) AS complaint_count,
       CAST(sum(coalesce(ag.cnt, 0)) AS BIGINT) AS airbnb_count,
       round(CAST(sum(coalesce(ag.cnt, 0)) AS DOUBLE)
             / nullif(CAST(sum(coalesce(cg.cnt, 0)) AS DOUBLE), 0.0), 4)
         AS airbnb_per_complaint
FROM (SELECT DISTINCT geohash, borough, neighbourhood_name
      FROM dim_airbnb_location WHERE borough IS NOT NULL) g
LEFT JOIN (SELECT c.geohash, COUNT(DISTINCT c.complaint_id) AS cnt
           FROM fact_311_complaint c
           GROUP BY c.geohash) cg ON cg.geohash = g.geohash
LEFT JOIN (SELECT geohash, COUNT(DISTINCT listing_id) AS cnt
           FROM fact_airbnb_listings GROUP BY geohash) ag ON ag.geohash = g.geohash
GROUP BY g.borough, g.neighbourhood_name
HAVING CAST(sum(coalesce(cg.cnt, 0)) AS BIGINT) > 10
ORDER BY airbnb_count DESC, g.borough, g.neighbourhood_name
LIMIT 50
""",
    # cell 1: complaints-per-listing by geohash cell (same
    # aggregate-below-join rewrite as g07; grain is already geohash so
    # the per-cell rollups join 1:1 — no re-aggregation needed; same
    # location-join elision as g07).
    "g08_geohash_density": """
SELECT g.geohash,
       g.borough,
       coalesce(cg.cnt, 0) AS complaints,
       coalesce(ag.cnt, 0) AS airbnb_listings,
       round(CAST(coalesce(cg.cnt, 0) AS DOUBLE)
             / nullif(CAST(coalesce(ag.cnt, 0) AS DOUBLE), 0.0), 2)
         AS complaints_per_listing
FROM (SELECT DISTINCT geohash, borough FROM dim_airbnb_location) g
LEFT JOIN (SELECT c.geohash, COUNT(DISTINCT c.complaint_id) AS cnt
           FROM fact_311_complaint c
           GROUP BY c.geohash) cg ON cg.geohash = g.geohash
LEFT JOIN (SELECT geohash, COUNT(DISTINCT listing_id) AS cnt
           FROM fact_airbnb_listings GROUP BY geohash) ag ON ag.geohash = g.geohash
WHERE coalesce(ag.cnt, 0) > 5
ORDER BY complaints_per_listing DESC, g.geohash
LIMIT 30
""",
    # cell 2: quarterly trend with window-over-aggregate (W2 + J10).
    "g09_quarterly_trend": """
SELECT d.quarter,
       d.month_name,
       l311.borough,
       COUNT(*) AS complaints,
       avg(COUNT(*)) OVER (PARTITION BY d.quarter) AS avg_quarterly_complaints
FROM fact_311_complaint f
JOIN dim_date d ON f.created_date_key = d.date_id
JOIN dim_311_location l311 ON f.location_key = l311.location_key
WHERE d.year >= 1998
GROUP BY d.quarter, d.month_name, l311.borough
ORDER BY d.quarter, l311.borough NULLS FIRST, d.month_name
""",
    # cell 3: weekend/weekday split (P12 CASE + F10 + J10).
    "g10_weekend_weekday": """
SELECT CASE WHEN d.is_weekend THEN 'Weekend' ELSE 'Weekday' END AS day_type,
       l311.borough,
       COUNT(*) AS complaint_count,
       round(avg(f.duration_hours), 2) AS avg_resolution_hours
FROM fact_311_complaint f
JOIN dim_date d ON f.created_date_key = d.date_id
JOIN dim_311_location l311 ON f.location_key = l311.location_key
GROUP BY CASE WHEN d.is_weekend THEN 'Weekend' ELSE 'Weekday' END, l311.borough
ORDER BY l311.borough NULLS FIRST, day_type
""",
}
