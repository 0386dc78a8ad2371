"""Stage-level attribution for one bench query: run it once (after a
JIT warm-up run), then dump every stage of the timed run from the UI
REST API — task count, executorRunTime, executorCpuTime, shuffle
read/write bytes, input bytes, and the stage's name line (which AQE
stage / operator it materializes). Purely diagnostic tooling for the
optimization rounds (guide §7.1): answers "where does the wall go —
executor compute, shuffle, or driver/AQE gaps" per query.

Usage:
    SPARK_GRAFT_SF_DIR=... python scripts/stage_attr.py <bench_query> [trials]

Prints one JSON line: {query, wall_s (per trial), stages: [...]} for
the LAST trial's job window; human-readable lines go to stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402
from adi_226_datawarehouse_project_spark.model.star import (  # noqa: E402
    materialize_warehouse,
)
from adi_226_datawarehouse_project_spark.session import get_spark  # noqa: E402


def main() -> None:
    name = sys.argv[1]
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("stage-attr", extra_conf={"spark.ui.enabled": "true"})
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    qs = bench.build_queries()
    if name == "warehouse_build":
        from adi_226_datawarehouse_project_spark.model import star as _star

        walls = []
        for i in range(trials):
            if i:
                _star._REGISTERED.pop(id(spark), None)
                spark.catalog.clearCache()
            t0 = time.perf_counter()
            materialize_warehouse(spark, sf_dir)
            walls.append(round(time.perf_counter() - t0, 3))
            first_stage_after = _n_stages(ui, app_id)
    else:
        materialize_warehouse(spark, sf_dir)
        walls = []
        for _ in range(trials):
            first_stage_after = _n_stages(ui, app_id)
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            bench.consume(name, df)
            walls.append(round(time.perf_counter() - t0, 3))
    stages = _stages(ui, app_id)
    # keep only the last trial's stages (submitted after the marker)
    last = [s for s in stages if s["stageId"] >= first_stage_after]
    out = []
    for s in sorted(last, key=lambda s: -s.get("executorRunTime", 0)):
        out.append(
            {
                "stageId": s["stageId"],
                "tasks": s.get("numCompleteTasks"),
                "runTime_ms": s.get("executorRunTime"),
                "cpuTime_ms": int(s.get("executorCpuTime", 0) / 1e6),
                "input_mb": round(s.get("inputBytes", 0) / 1e6, 1),
                "sh_read_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 1),
                "sh_write_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
                "submitted": s.get("submissionTime"),
                "duration_ms": _dur(s),
                "name": (s.get("name") or "")[:110],
            }
        )
        print(
            f"# stage {s['stageId']:>4} tasks={s.get('numCompleteTasks'):>4} "
            f"run={s.get('executorRunTime'):>7}ms cpu={int(s.get('executorCpuTime', 0)/1e6):>7}ms "
            f"shR={round(s.get('shuffleReadBytes',0)/1e6,1):>8}MB "
            f"shW={round(s.get('shuffleWriteBytes',0)/1e6,1):>8}MB  {(s.get('name') or '')[:80]}",
            file=sys.stderr,
        )
    total_run = sum(s.get("executorRunTime", 0) for s in last)
    print(
        f"# {name}: walls={walls} stages={len(last)} "
        f"sum_executorRunTime={total_run}ms",
        file=sys.stderr,
    )
    print(json.dumps({"query": name, "sf_dir": sf_dir, "walls": walls,
                      "n_stages_last_trial": len(last),
                      "sum_executor_run_ms": total_run, "stages": out}))


def _dur(s) -> int | None:
    try:
        from datetime import datetime

        fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
        a = datetime.strptime(s["firstTaskLaunchedTime"], fmt)
        b = datetime.strptime(s["completionTime"], fmt)
        return int((b - a).total_seconds() * 1000)
    except Exception:
        return None


def _stages(ui: str, app_id: str) -> list[dict]:
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages?status=complete") as r:
        return json.load(r)


def _n_stages(ui: str, app_id: str) -> int:
    ss = _stages(ui, app_id)
    return (max(s["stageId"] for s in ss) + 1) if ss else 0


if __name__ == "__main__":
    main()
