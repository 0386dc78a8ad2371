"""Measure the POLICY-AWARE QUERY PATH at scale (round-10 follow-up to
VERDICT r9 #2): the driver's registry queries never call
materialize_warehouse — they reach the warehouse through
register_star_views, which resolves the layout on the first
registration and routes parquet corpora to the zone build. This script
validates that path at the scale where it matters: a fresh JVM runs
golden queries DIRECTLY (exactly what the driver does), so the first
query pays the policy-resolved build and the rest hit the materialized
layout.

Reports, as one JSON line:
- resolved_policy (the probe's decision — parquet expected at 256×/64g)
- first_query wall (zone/cache build + the query itself)
- steady-state medians for each golden afterwards (hash-reduce
  consumption, bench.py methodology)

Usage:
  SPARK_GRAFT_DRIVER_MEM=64g python scripts/querypath_scale.py \
      /tmp/spark_graft_sf_x256
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

QUERIES = (
    "g01_complaints_by_borough_pct",
    "g07_airbnb_complaint_ratio",
    "g09_quarterly_trend",
)
TRIALS = 3


def child(sf_dir: str) -> None:
    sys.path.insert(0, str(REPO))
    from adi_226_datawarehouse_project_spark.model import star
    from adi_226_datawarehouse_project_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark("querypath-scale")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up

    from adi_226_datawarehouse_project_spark.measure import hash_consume as consume

    qs = entry.queries()
    resolved = star.resolve_warehouse_policy(spark, sf_dir)

    # The driver path: first golden pays the policy-resolved build.
    t0 = time.perf_counter()
    consume(qs[QUERIES[0]](spark, sf_dir))
    first = round(time.perf_counter() - t0, 2)
    memo = star._REGISTERED.get(id(spark))

    steady: dict[str, list[float]] = {}
    for q in QUERIES:
        ts = []
        for _ in range(TRIALS):
            t0 = time.perf_counter()
            consume(qs[q](spark, sf_dir))
            ts.append(round(time.perf_counter() - t0, 3))
        steady[q] = ts
    print(json.dumps({
        "sf_dir": sf_dir,
        "resolved_policy": resolved,
        "memo_layout": memo and [memo[0], memo[1], bool(memo[2])],
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        "first_query_incl_build_s": first,
        "steady_trials": steady,
        "steady_medians": {q: round(statistics.median(t), 3) for q, t in steady.items()},
        "loadavg": os.getloadavg(),
    }))


def main() -> int:
    sf_dir = sys.argv[1]
    r = subprocess.run(
        [sys.executable, __file__, "--child", sf_dir],
        env=dict(os.environ), cwd=REPO, text=True, capture_output=True,
    )
    for ln in r.stdout.splitlines():
        if ln.startswith("{"):
            print(ln, flush=True)
    if r.returncode != 0:
        print(r.stderr[-3000:], file=sys.stderr)
    return r.returncode


if __name__ == "__main__":
    if sys.argv[1:2] == ["--child"]:
        child(sys.argv[2])
    else:
        sys.exit(main())
