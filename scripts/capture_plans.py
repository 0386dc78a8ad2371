"""Capture .explain('formatted') for every bench query → plans/<dir>
(default r15; override with SPARK_GRAFT_PLANS_SUBDIR).

Usage: python scripts/capture_plans.py <suffix> [query ...]
Writes plans/<dir>/<query>_<suffix>.txt for each bench query (default:
all of bench.BENCH_QUERIES + warehouse terminals). Runs the same
build_queries() registry the bench times, over the same materialized
warehouse, so the captured plan is the plan the bench executes.

Plans are written masked (see `mask_plan`): the ids Spark numbers per
session or per execution are replaced by placeholders, so two captures
of one tree diff byte for byte and a diff between two trees shows only
plan changes.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402
from adi_226_datawarehouse_project_spark.model.star import (  # noqa: E402
    materialize_warehouse,
)
from adi_226_datawarehouse_project_spark.session import get_spark  # noqa: E402


_QUERY_STAGE = re.compile(r"^\(\d+\) \w+QueryStage$")
_IDS = [
    (re.compile(r"#\d+"), "#N"),  # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id=N"),  # exchange ids
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),  # RDD ids of pinned scans
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),  # codegen stages
    (re.compile(r"\*\(\d+\)"), "*(N)"),  # codegen stages, tree form
]


def mask_plan(text: str) -> str:
    """Replace the ids Spark numbers per session or per execution with
    placeholders: expression, exchange, RDD and whole-stage codegen ids,
    and the AQE query-stage id (the `Arguments: N` line of a
    `...QueryStage` node). Operator ids `(12)` are kept: the formatted
    plan numbers them by tree position."""
    out = []
    in_stage = False
    for line in text.splitlines(keepends=True):
        if line.startswith("("):
            in_stage = bool(_QUERY_STAGE.match(line))
        if in_stage and re.fullmatch(r"Arguments: \d+\n?", line):
            line = "Arguments: N\n"
        for pat, repl in _IDS:
            line = pat.sub(repl, line)
        out.append(line)
    return "".join(out)


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    wanted = sys.argv[2:] or list(bench.BENCH_QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sub = os.environ.get("SPARK_GRAFT_PLANS_SUBDIR", "r15")
    out_dir = Path(__file__).resolve().parent.parent / "plans" / sub
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark("capture_plans")
    materialize_warehouse(spark, sf_dir)
    qs = bench.build_queries()
    for name in wanted:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        (out_dir / f"{name}_{suffix}.txt").write_text(mask_plan(buf.getvalue()))
        print(f"wrote {name}_{suffix}.txt ({len(buf.getvalue())} chars)")


if __name__ == "__main__":
    main()
