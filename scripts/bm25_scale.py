"""BM25 lane at 64×.

Runs `bm25_topk` over a 64×-replicated documents corpus and verifies
two things:

1. PLAN: the global top-k is a `TakeOrderedAndProject` (per-partition
   heaps) — no full `Sort` of the scored corpus anywhere in the
   physical plan.
2. WALL: one timed end-to-end run (top-50 over a fixed 3-term query),
   recorded alongside the other 64× measurement rows.

The integer scorer's overflow guard raises at
tf > (1<<63)/(63·(k1+1000)·1e6) ≈ 6.6e7 — per-DOC term frequency,
which replication never grows (copies salt their tokens), so the run
also confirms the guard stays silent at this scale.

Run: python scripts/bm25_scale.py [corpus_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from adi_226_datawarehouse_project_spark.operators.tfidf import bm25_topk
from adi_226_datawarehouse_project_spark.session import get_spark
from adi_226_datawarehouse_project_spark.sources.catalog import load_table

TERMS = ["dup", "vector", "spark"]


def main() -> None:
    corpus = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_x64"
    spark = get_spark("bm25-scale")
    docs = load_table(spark, corpus, "documents")
    n_docs = docs.count()

    top = bm25_topk(docs, "doc_id", "text", TERMS, k=50)
    plan = top._jdf.queryExecution().executedPlan().toString()
    has_tops = "TakeOrderedAndProject" in plan
    # a bare "Sort " node that is NOT inside the TakeOrdered operator
    # would mean a full range-partition sort of the scored corpus
    full_sort = any(
        line.strip().startswith(("Sort ", "+- Sort ", ":- Sort "))
        for line in plan.splitlines()
    )

    t0 = time.perf_counter()
    rows = top.collect()
    wall = time.perf_counter() - t0

    print(json.dumps({
        "corpus": corpus,
        "n_docs": n_docs,
        "plan_take_ordered": has_tops,
        "plan_full_sort": full_sort,
        "wall_int_s": round(wall, 2),
        "topk_rows": len(rows),
        "loadavg": os.getloadavg(),
    }))
    assert has_tops and not full_sort, "top-k plan regressed to a full sort"


if __name__ == "__main__":
    main()
