"""Dedup/similarity family on a stopword-hot corpus at scale
(VERDICT r8 #2): `replicate_sf.py --zipf-text` gives every document an
unsalted per-language rotated stopword block, so hot shingles have
document frequency ≈ N_lang/4 — the corpus shape where the naive
inverted-index self-join's candidate volume (Σdf² rows) explodes and
the auto-selector (`operators/dedup.py::_should_prefix_filter`) must
flip to the PPJoin prefix plan.

Per run: the auto probe's Σdf²/Σdf (cand_per_row) and its implied
naive candidate-row count, the chosen mode, and walls for whichever
modes are requested. On the 64× hot corpus the forced-naive mode is
deliberately NOT run — the probe's implied candidate count (~10¹¹
rows) makes it an hours-long job; measure both walls at a smaller
multiple instead (the asymmetry is the point the auto-selector
exists for).

Usage::

    python scripts/zipftext_scale.py <sf_dir> auto [naive] [prefix] [lsh]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from adi_226_datawarehouse_project_spark.operators.dedup import (  # noqa: E402
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
)
from adi_226_datawarehouse_project_spark.session import get_spark  # noqa: E402
from adi_226_datawarehouse_project_spark.sources.catalog import load_table  # noqa: E402

NGRAM_N, MIN_J = 5, 0.5  # the bench forms' parameters


def main() -> None:
    sf_dir = sys.argv[1]
    modes = sys.argv[2:] or ["auto"]
    spark = get_spark("zipftext_scale", shuffle_partitions=32)
    docs = load_table(spark, sf_dir, "documents").persist()
    n_docs = docs.count()
    out: dict = {"sf_dir": sf_dir, "n_docs": n_docs}

    if "auto" in modes:
        stats: dict = {}
        t0 = time.perf_counter()
        out["auto_pairs"] = ngram_jaccard_pairs(
            docs, "doc_id", "text", n=NGRAM_N, min_jaccard=MIN_J, _stats=stats
        ).count()
        out["auto_wall"] = round(time.perf_counter() - t0, 2)
        out["cand_per_row"] = round(stats["cand_per_row"], 1)
        out["auto_mode"] = "prefix" if stats["prefix_filter"] else "naive"
        print(f"# {sf_dir}: auto={out['auto_mode']} "
              f"cand_per_row={out['cand_per_row']} wall={out['auto_wall']}s "
              f"pairs={out['auto_pairs']}", file=sys.stderr)
    for forced, key in (("naive", False), ("prefix", True)):
        if forced in modes:
            t0 = time.perf_counter()
            n = ngram_jaccard_pairs(
                docs, "doc_id", "text", n=NGRAM_N, min_jaccard=MIN_J,
                prefix_filter=key,
            ).count()
            out[f"{forced}_wall"] = round(time.perf_counter() - t0, 2)
            out[f"{forced}_pairs"] = n
            print(f"# {sf_dir}: {forced} wall={out[f'{forced}_wall']}s "
                  f"pairs={n}", file=sys.stderr)
    if "lsh" in modes:
        t0 = time.perf_counter()
        out["lsh_pairs"] = minhash_near_dup_pairs(
            docs, "doc_id", "text", min_jaccard_est=0.7
        ).count()
        out["lsh_wall"] = round(time.perf_counter() - t0, 2)
        print(f"# {sf_dir}: lsh wall={out['lsh_wall']}s "
              f"pairs={out['lsh_pairs']}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
