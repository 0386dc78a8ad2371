"""Per-phase breakdown of warehouse_build (VERDICT r11 task 3).

Mimics bench.py's protocol (same session factory, same warm-up, same
teardown between trials) but times each phase separately:

  policy    — resolve_warehouse_policy (the size probe)
  register  — view CREATEs (wave-parallel plan analysis)
  <table>   — first .count() per chain table, in dependency order,
              so each figure is that table's own cache-fill cost
  terminals — the residual concurrent terminal counts (should be ~0
              when the per-table pass already filled everything)

Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python scripts/profile_warehouse.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from adi_226_datawarehouse_project_spark.model import star
from adi_226_datawarehouse_project_spark.model.star import (
    materialize_warehouse,
    register_star_views,
    resolve_warehouse_policy,
)
from adi_226_datawarehouse_project_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    mode = os.environ.get("PROFILE_MODE", "tables")
    spark = get_spark("profile-warehouse")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    materialize_warehouse(spark, "/root/testdata/sf0.001")  # JIT warm

    chain = (
        "complaints_raw",
        "listings_raw",
        "staging_311",
        "staging_airbnb",
        "dim_date",
        "fact_311_complaint",
        "fact_airbnb_listings",
    )
    out: dict[str, list[float]] = {}
    for attempt in range(3):
        star._REGISTERED.pop(id(spark), None)
        spark.catalog.clearCache()
        phases: dict[str, float] = {}
        t0 = time.perf_counter()
        resolve_warehouse_policy(spark, sf_dir)
        phases["policy"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        register_star_views(spark, sf_dir)
        phases["register"] = time.perf_counter() - t0
        if mode == "tables":
            for t in chain:
                t0 = time.perf_counter()
                spark.table(t).count()
                phases[t] = time.perf_counter() - t0
        t0 = time.perf_counter()
        materialize_warehouse(spark, sf_dir)
        phases["terminals"] = time.perf_counter() - t0
        phases["total"] = sum(phases.values())
        for k, v in phases.items():
            out.setdefault(k, []).append(round(v, 3))
        print(f"# attempt {attempt}: " + json.dumps({k: round(v, 3) for k, v in phases.items()}), file=sys.stderr)
    print(json.dumps({"sf_dir": sf_dir, "mode": mode, "phases": out,
                      "loadavg": os.getloadavg()}))


if __name__ == "__main__":
    main()
