"""Stage-level funnel for the LSH dedup family (minhash + simhash) at
a given sf dir: how many raw bucket-join candidate rows each candidate
generator emits, how many distinct pairs survive dedup, and how many
survive the final score filter. The candidates/survivors ratio is the
scale health metric — a hot bucket (band collision, dense 16-bit
simhash block) shows up here long before it shows up as a straggler
task at 100 TB.

Usage: python scripts/lsh_breakdown.py [/root/testdata/sf0.1]
Prints one JSON line; human-readable stage lines go to stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time

_repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _repo)

from pyspark.sql import functions as F  # noqa: E402

from adi_226_datawarehouse_project_spark.operators.dedup import (  # noqa: E402
    _band_rows,
    minhash_near_dup_pairs,
    minhash_signatures,
    simhash,
)
from adi_226_datawarehouse_project_spark.session import get_spark  # noqa: E402
from adi_226_datawarehouse_project_spark.sources.catalog import load_table  # noqa: E402


def minhash_funnel(docs, bands=16, shingle_size=3) -> dict[str, int]:
    sig = minhash_signatures(docs, "doc_id", "text", shingle_size)
    banded = _band_rows(sig, "doc_id", bands)
    left = banded.select(F.col("doc_id").alias("id_a"), "band", "band_hash")
    right = banded.select(F.col("doc_id").alias("id_b"), "band", "band_hash")
    raw = (
        left.join(right, ["band", "band_hash"]).filter(F.col("id_a") < F.col("id_b")).count()
    )
    deduped = (
        left.join(right, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
        .count()
    )
    survivors = minhash_near_dup_pairs(docs, "doc_id", "text", min_jaccard_est=0.7).count()
    return {"raw_candidates": raw, "deduped_pairs": deduped, "survivors": survivors}


def simhash_funnel(docs, max_hamming=8) -> dict[str, int]:
    fps = simhash(docs, "doc_id", "text")
    blocked = fps.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), b * 16).bitwiseAND(F.lit(0xFFFF))
                    for b in range(4)
                ]
            )
        ).alias("block", "block_val"),
    )
    left = blocked.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("fp_a"), "block", "block_val"
    )
    right = blocked.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("fp_b"), "block", "block_val"
    )
    joined = left.join(right, ["block", "block_val"]).filter(F.col("id_a") < F.col("id_b"))
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    raw = joined.count()
    within = joined.filter(ham <= max_hamming).count()
    survivors = (
        joined.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .count()
    )
    return {"raw_candidates": raw, "within_hamming": within, "survivors": survivors}


def srp_funnel(emb, min_cosine=0.8, num_planes=16, bands=4) -> dict[str, int]:
    """Banded SRP embedding near-dup funnel: per-band bucket-join
    candidate rows → deduped id pairs → exact-cosine survivors. Run at
    both the oracle operating point (16/4) and a corpus-scale one
    (64/8) to see the candidate-density rule in action."""
    from adi_226_datawarehouse_project_spark.operators.similarity import (
        embedding_near_dup_pairs,
        srp_band_buckets,
    )

    banded = emb.select(
        "vec_id",
        F.posexplode(srp_band_buckets("embedding", num_planes, bands)).alias(
            "band", "bucket"
        ),
    )
    left = banded.select(F.col("vec_id").alias("id_a"), "band", "bucket")
    right = banded.select(F.col("vec_id").alias("id_b"), "band", "bucket")
    joined = left.join(right, ["band", "bucket"]).filter(F.col("id_a") < F.col("id_b"))
    raw = joined.count()
    deduped = joined.select("id_a", "id_b").dropDuplicates(["id_a", "id_b"]).count()
    survivors = embedding_near_dup_pairs(
        emb, "vec_id", "embedding", min_cosine=min_cosine,
        num_planes=num_planes, bands=bands,
    ).count()
    return {"raw_candidates": raw, "deduped_pairs": deduped, "survivors": survivors}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("lsh_breakdown")
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()

    t0 = time.perf_counter()
    mh = minhash_funnel(docs)
    mh_t = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    sh = simhash_funnel(docs)
    sh_t = round(time.perf_counter() - t0, 2)
    emb = load_table(spark, sf_dir, "embeddings")
    t0 = time.perf_counter()
    srp = srp_funnel(emb)
    srp_t = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    srp_wide = srp_funnel(emb, num_planes=64, bands=8)
    srp_wide_t = round(time.perf_counter() - t0, 2)

    def _ratio(d):
        return round(d["raw_candidates"] / max(d["survivors"], 1), 1)

    print(
        f"# docs={n_docs}\n"
        f"# minhash: raw={mh['raw_candidates']} deduped={mh['deduped_pairs']} "
        f"survivors={mh['survivors']} ratio={_ratio(mh)} ({mh_t}s)\n"
        f"# simhash: raw={sh['raw_candidates']} within_h8={sh['within_hamming']} "
        f"survivors={sh['survivors']} ratio={_ratio(sh)} ({sh_t}s)\n"
        f"# srp 16/4: raw={srp['raw_candidates']} deduped={srp['deduped_pairs']} "
        f"survivors={srp['survivors']} ({srp_t}s)\n"
        f"# srp 64/8: raw={srp_wide['raw_candidates']} deduped={srp_wide['deduped_pairs']} "
        f"survivors={srp_wide['survivors']} ({srp_wide_t}s)",
        file=sys.stderr,
    )
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "n_docs": n_docs,
                "minhash": {**mh, "candidates_per_survivor": _ratio(mh)},
                "simhash": {**sh, "candidates_per_survivor": _ratio(sh)},
                "srp_embedding_16_4": srp,
                "srp_embedding_64_8": srp_wide,
            }
        )
    )


if __name__ == "__main__":
    main()
