"""Benchmark harness: runs the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": ...,
     "protocol": "median-of-3", "trials": {...},
     "codegen": {"q1": compiles, ...}, "loadavg": {...}}

Protocol (round 8, replacing min-of-2): every query runs THREE trials
after a session warm-up; the recorded figure is the MEDIAN, and the
raw per-trial times plus ``os.getloadavg()`` at start/end are embedded
in the JSON. Two rounds running, per-query deltas were litigated as
"probably co-tenant noise" (±20–30% swings on identical code); the
median defends against one contended trial in either direction, and
the recorded spread makes a future delta decidable — a change is real
only if it lands outside the prior round's trial envelope. ``codegen``
is each entry's change in the driver's codegen compile count over its
trials: a query whose repeats keep compiling is thrashing the
generated-class cache, which shows here without a re-run. Timing is
end-to-end (plan + execute + consume) per trial, which is what a user
of the engine experiences.

Selection covers every operator family: star-schema analytics
(g01/g02/g07/g09), relational core (TPC-H-ish q1, top-k window,
sessionize), the geohash merge rollup (the reference's signature op),
and the LLM-pipeline family (minhash LSH, n-gram jaccard in BOTH join
strategies, cosine top-k, token stats).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from adi_226_datawarehouse_project_spark.measure import (  # noqa: E402
    codegen_compiles,
    hash_consume,
)
from adi_226_datawarehouse_project_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

TRIALS = 3

BENCH_QUERIES = [
    "g01_complaints_by_borough_pct",
    "g02_top_complaint_types",
    "g04_price_stats_by_borough",
    "g07_airbnb_complaint_ratio",
    "g09_quarterly_trend",
    "op_q1_pricing_summary",
    "op_topk_orders_per_customer",
    "op_sessionize_events",
    "op_geohash_merge_rollup",
    "op_events_tumbling_window",
    "dedup_lsh_pairs",
    "dedup_ngram_jaccard",
    "dedup_ngram_prefix",
    "sim_cosine_topk",
    "text_token_features",
]


def _bench_lsh_pairs(spark, sf_dir):
    """Bench form of the LSH dedup family: the minhash-LSH + simhash
    candidate operators themselves (signatures → banded buckets →
    scored pairs). The queries() entry of the same name wraps these in
    a differential verification harness (exact-Jaccard truth joins) —
    correct for the oracle gate, but benching it would time the test
    fixture instead of the operator."""
    from pyspark.sql import functions as F

    from adi_226_datawarehouse_project_spark.operators.dedup import (
        minhash_near_dup_pairs,
        simhash_near_dup_pairs,
    )
    from adi_226_datawarehouse_project_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    mh = minhash_near_dup_pairs(docs, "doc_id", "text", min_jaccard_est=0.7).select(
        F.lit("minhash").alias("part"), "id_a", "id_b",
        F.round("jaccard_est", 6).cast("double").alias("score"),
    )
    sh = simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=8).select(
        F.lit("simhash").alias("part"), "id_a", "id_b",
        F.col("hamming").cast("double").alias("score"),
    )
    return mh.unionByName(sh)


def build_queries() -> dict:
    """The full name → callable dict bench times: the entry registry,
    overlaid with the bench-retained finer-grained plans exported
    through the PUBLIC ``plans.operators_suite.bench_retained_queries``
    shim (folded registry entries + both n-gram join strategies), plus
    the local LSH form above. scripts/smoke.py calls this pre-commit
    and asserts every BENCH_QUERIES name resolves to a callable, so a
    registry refactor breaks the smoke gate, not a bench run."""
    from adi_226_datawarehouse_project_spark.plans.operators_suite import (
        bench_retained_queries,
    )

    qs = dict(entrymod.queries())
    qs.update(bench_retained_queries())
    qs["dedup_lsh_pairs"] = _bench_lsh_pairs
    return qs


# Results with one row per entity are consumed via a hash-reduce
# (methodology documented at adi_226_datawarehouse_project_spark/
# measure.py — the single shared implementation): full evaluation
# executor-side, one row across py4j. Everything else is collected.
# The same set as perfbench/workloads.py's, so both harnesses time the
# same work under one op name.
_HASH_CONSUME = {"op_topk_orders_per_customer", "text_token_features", "dedup_lsh_pairs"}


def consume(name: str, df) -> int:
    """Run bench query ``name``'s result ``df`` to completion the way
    bench times it; returns its row count (or the hash-reduce's)."""
    if name in _HASH_CONSUME:
        return hash_consume(df)
    return len(df.collect())


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    except ValueError:
        sf = -1.0  # non-sfN dir (e.g. a replicated scale corpus)
    load_start = os.getloadavg()
    spark = get_spark("bench")
    qs = build_queries()

    # Warm up the JVM so per-query times measure the plan, not session
    # startup: run the actual pipeline once at the tiny sf0.001 so
    # classloading/JIT of the parse/geohash/window/join code paths is
    # paid here. register_star_views invalidates its cache when the
    # measured sf_dir is registered below, so no sf0.001 results leak
    # into the timed run.
    from adi_226_datawarehouse_project_spark.model.star import materialize_warehouse

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and os.path.realpath(warm_dir) != os.path.realpath(sf_dir):
        materialize_warehouse(spark, warm_dir)

    times: dict[str, float] = {}
    trials: dict[str, list[float]] = {}
    compiles: dict[str, int] = {}

    # Materialize the derived warehouse (the ETL "load" phase —
    # cleaning, dedup, dims, facts, caching), timed with the SAME
    # median-of-3 methodology as the queries: the memo and cache are
    # fully torn down between attempts so each trial is a complete
    # view-registration + cache-fill, and the last attempt leaves the
    # warehouse cached for the query phase.
    from adi_226_datawarehouse_project_spark.model import star as _star

    ts: list[float] = []
    c0 = codegen_compiles(spark)
    for attempt in range(TRIALS):
        if attempt:
            _star._REGISTERED.pop(id(spark), None)
            spark.catalog.clearCache()
        t0 = time.perf_counter()
        materialize_warehouse(spark, sf_dir)
        ts.append(round(time.perf_counter() - t0, 3))
    trials["warehouse_build"] = ts
    compiles["warehouse_build"] = codegen_compiles(spark) - c0
    times["warehouse_build"] = round(statistics.median(ts), 3)
    print(
        f"# warehouse_build: {times['warehouse_build']:.3f}s trials={ts}",
        file=sys.stderr,
    )

    for name in BENCH_QUERIES:
        ts, n = [], 0
        c0 = codegen_compiles(spark)
        for _ in range(TRIALS):
            t0 = time.perf_counter()
            n = consume(name, qs[name](spark, sf_dir))
            ts.append(round(time.perf_counter() - t0, 3))
        trials[name] = ts
        compiles[name] = codegen_compiles(spark) - c0
        times[name] = round(statistics.median(ts), 3)
        print(f"# {name}: {times[name]:.3f}s rows={n} trials={ts}", file=sys.stderr)

    total = round(sum(times.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_suite_total_wall",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": sf,
                "protocol": f"median-of-{TRIALS}",
                "trials": trials,
                "codegen": compiles,
                "loadavg": {
                    "start": [round(x, 2) for x in load_start],
                    "end": [round(x, 2) for x in os.getloadavg()],
                },
            }
        )
    )


if __name__ == "__main__":
    main()
