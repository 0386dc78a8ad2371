"""Measured cache-policy experiment for the warehouse_build scale wall
(VERDICT r8 #1): warehouse_build is the repo's only super-linear number
(α≈1.36 across 64×→256×; named cause: the 3× in-memory cache-fill of
the string-heavy staging chain saturating single-JVM memory bandwidth).

Three configs, each in a FRESH subprocess (its own JVM, so no cache or
heap state leaks between configs):

- cache   : in-memory columnar cache of the whole chain (uncompressed)
- parquet : write-through medallion zone, no resident JVM cache
- auto    : whichever layout the size probe picks

The package has no layout option: the child forces ``cache`` or
``parquet`` by replacing ``star.resolve_warehouse_policy`` in its own
process. Runs of the retired ``base``/``nocomp``/``hybrid`` configs
(cache compression, parquet staging + cached gold) stay recorded in
``measurements/wh_policy_x*.jsonl``.

Per config: N build trials with FULL teardown (registration memo
popped, cache cleared, zone dir removed — every trial pays the whole
load), then N trials each of g01/g07/g09 against the final build
(query-side impact of the policy — a build win that makes every query
slower is not a win). One JSON line per config on stdout.

Usage:
  python scripts/warehouse_policy_scale.py <sf_dir> [configs...]
  SPARK_GRAFT_DRIVER_MEM=48g python scripts/warehouse_policy_scale.py \
      /tmp/spark_graft_sf_x128 cache parquet
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

# Config → forced layout; None keeps the probe's choice (the child
# records which layout it actually resolved).
CONFIGS = {"cache": "cache", "parquet": "parquet", "auto": None}
QUERIES = ("g01_complaints_by_borough_pct", "g07_airbnb_complaint_ratio",
           "g09_quarterly_trend", "op_topk_orders_per_customer")
TRIALS = 3


def run_config(sf_dir: str, name: str) -> None:
    """Child-process body: time builds + queries, print one JSON line."""
    sys.path.insert(0, str(REPO))
    from adi_226_datawarehouse_project_spark.model import star
    from adi_226_datawarehouse_project_spark.session import get_spark

    import __spark_entry__ as entry

    if CONFIGS[name] is not None:
        star.resolve_warehouse_policy = lambda _spark, _sf, p=CONFIGS[name]: p
    zone = f"/tmp/spark_graft_warehouse/{os.path.basename(os.path.normpath(sf_dir))}"
    # Pin the zone explicitly: the round-10 default is (path-hash, pid)
    # suffixed, so the teardown rmtree below would otherwise miss it.
    os.environ["SPARK_GRAFT_WAREHOUSE_DIR"] = zone
    spark = get_spark(f"wh-policy-{name}")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up

    builds = []
    for attempt in range(TRIALS):
        if attempt:
            star._REGISTERED.pop(id(spark), None)
            spark.catalog.clearCache()
        shutil.rmtree(zone, ignore_errors=True)
        t0 = time.perf_counter()
        star.materialize_warehouse(spark, sf_dir)
        builds.append(round(time.perf_counter() - t0, 2))
        print(f"# {name} build trial {attempt}: {builds[-1]}s", file=sys.stderr)

    # Hash-reduce consumption (shared implementation with bench.py:
    # measure.hash_consume): every column of every row is evaluated
    # executor-side, but only one row crosses py4j — full collect()
    # measured the driver transfer tax, not the policy's query-side
    # impact (topk returns millions of rows at 128×+).
    from adi_226_datawarehouse_project_spark.measure import hash_consume as _consume

    qtimes = {}
    qs = entry.queries()
    for q in QUERIES:
        ts = []
        for _ in range(TRIALS):
            t0 = time.perf_counter()
            _consume(qs[q](spark, sf_dir))
            ts.append(round(time.perf_counter() - t0, 3))
        qtimes[q] = ts
    print(json.dumps({
        "config": name,
        "sf_dir": sf_dir,
        "resolved_policy": star.resolve_warehouse_policy(spark, sf_dir),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        "build_trials": builds,
        "build_median": round(statistics.median(builds), 2),
        "query_trials": qtimes,
        "query_medians": {q: round(statistics.median(t), 3) for q, t in qtimes.items()},
        "loadavg": os.getloadavg(),
    }))


def main() -> int:
    sf_dir = sys.argv[1]
    names = sys.argv[2:] or list(CONFIGS)
    for name in names:
        r = subprocess.run(
            [sys.executable, __file__, "--child", sf_dir, name],
            cwd=REPO, text=True, capture_output=True,
        )
        for ln in r.stdout.splitlines():
            if ln.startswith("{"):
                print(ln, flush=True)
        if r.returncode != 0:
            print(f"# config {name} FAILED rc={r.returncode}", file=sys.stderr)
            print(r.stderr[-2000:], file=sys.stderr)
    return 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--child"]:
        run_config(sys.argv[2], sys.argv[3])
    else:
        sys.exit(main())
