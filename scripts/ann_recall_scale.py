"""Quantified ANN recall at scale — upgrades the tally's boundary note
for the approximate-top-k suites from "the truth oracle is all-pairs by
design" to a measured number: the all-pairs derivation is only
intractable for ALL queries at once; for a deterministic SAMPLE of
queries the exact top-k is one broadcast scan (Q × n cosines), so
recall@k of the shipped SRP-LSH and IVF configurations is measurable
at any corpus size.

Protocol: Q evenly-spaced query ids (deterministic — id ≡ 0 mod
⌊n/Q⌋), exact truth via cosine_self_topk (broadcast probes, corpus
streams once), ANN via lsh_bucket_topk / ivf_topk with probe_ids at
four static operating points: 16 planes / 4 and 8 bands, 16 cells / 4
and 8 probes (8 bands and 8 probes are the defaults). recall@k =
mean over queries of |ANN ∩ exact| / k, ties broken identically on
both sides (cosine desc, id asc). Each leg also counts its candidate
pairs for the probe set (`probe_candidates`).

Usage: PYSPARK_SUBMIT_OPTS/ARGS for heap, then
    python scripts/ann_recall_scale.py [/tmp/spark_graft_x64] [Q=100]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

_repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _repo)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from adi_226_datawarehouse_project_spark.operators.similarity import (  # noqa: E402
    cosine_self_topk,
    finite_vectors,
    ivf_candidates,
    ivf_topk,
    lsh_bucket_topk,
    srp_candidates,
)
from adi_226_datawarehouse_project_spark.sources.catalog import load_table  # noqa: E402

K = 5


def _topk_sets(df) -> dict[int, frozenset[int]]:
    rows = df.collect()
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return {q: frozenset(s) for q, s in out.items()}


def _recall(truth: dict, approx: dict) -> float:
    per_q = [
        len(truth[q] & approx.get(q, frozenset())) / len(truth[q])
        for q in truth
        if truth[q]
    ]
    return round(sum(per_q) / len(per_q), 4)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_x64"
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()

    emb = finite_vectors(load_table(spark, sf_dir, "embeddings"), "embedding")
    n = emb.count()
    step = max(1, n // n_queries)
    probe_ids = [
        r["vec_id"]
        for r in emb.filter(F.col("vec_id") % step == 0)
        .select("vec_id")
        .orderBy("vec_id")
        .limit(n_queries)
        .collect()
    ]

    t = time.time()
    truth = _topk_sets(
        cosine_self_topk(emb, "vec_id", "embedding", k=K, probe_ids=probe_ids)
    )
    exact_wall = round(time.time() - t, 1)

    # r14: defaults moved to 8 bands / 8 probes (r13 verdict task #1);
    # the 4-band/4-probe rungs stay in the sweep as the cost curve's
    # cheap end.
    legs = {
        "srp_16p_4b": (
            lambda: lsh_bucket_topk(
                emb, "vec_id", "embedding", k=K, num_planes=16, bands=4,
                probe_ids=probe_ids,
            ),
            lambda: srp_candidates(
                emb, "vec_id", "embedding", 16, 4, probe_ids
            ),
        ),
        "srp_16p_8b_DEFAULT": (
            lambda: lsh_bucket_topk(
                emb, "vec_id", "embedding", k=K, probe_ids=probe_ids
            ),
            lambda: srp_candidates(
                emb, "vec_id", "embedding", 16, 8, probe_ids
            ),
        ),
        "ivf_16c_4p": (
            lambda: ivf_topk(
                emb, "vec_id", "embedding", k=K, n_clusters=16, n_probe=4,
                probe_ids=probe_ids,
            ),
            lambda: ivf_candidates(
                emb, "vec_id", "embedding", 16, 4, probe_ids
            ),
        ),
        "ivf_16c_8p_DEFAULT": (
            lambda: ivf_topk(
                emb, "vec_id", "embedding", k=K, probe_ids=probe_ids
            ),
            lambda: ivf_candidates(
                emb, "vec_id", "embedding", 16, 8, probe_ids
            ),
        ),
    }
    out = {
        "sf_dir": sf_dir,
        "n_vectors": n,
        "n_queries": len(probe_ids),
        "k": K,
        "exact_truth_wall_s": exact_wall,
    }
    for name, (fn, cand_fn) in legs.items():
        t = time.time()
        approx = _topk_sets(fn())
        wall = round(time.time() - t, 1)
        out[name] = {
            "recall_at_k": _recall(truth, approx),
            "wall_s": wall,
            "probe_candidates": cand_fn().count(),
        }

    out["total_wall_s"] = round(time.time() - t0, 1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
