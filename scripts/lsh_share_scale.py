"""A/B the minhash/simhash signature-sharing variants of the LSH
dedup bench query at a given corpus (VERDICT r14 task #2): the
signature aggregation subtree is referenced 4x (band join left/right +
both score re-attaches) in the minhash plan and 2x in the simhash
plan; AQE's stage reuse dedupes the map side (one canonical shuffle),
but the post-shuffle final aggregation recomputes per reference. At
local[32]/sf0.1 the scheduler hides the recompute on idle cores
(persist measured SLOWER in r14); this protocol re-measures on a
corpus big enough to keep the cores busy.

Variants:
  baseline — operators as shipped (recompute, stage-reuse only)
  persist  — signature frames persisted (MEMORY_AND_DISK), unpersisted
             after the action
  ckpt     — signature frames localCheckpoint(eager=False)

Interleaved A/B/A/B..., N rounds each, same session; values asserted
identical across variants (count + hash) every round.

Usage: python scripts/lsh_share_scale.py [sf_dir] [rounds]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from adi_226_datawarehouse_project_spark.operators.dedup import (  # noqa: E402
    _band_rows,
    _scored,
    minhash_signatures,
    simhash,
)
from adi_226_datawarehouse_project_spark.session import get_spark  # noqa: E402
from adi_226_datawarehouse_project_spark.sources.catalog import load_table  # noqa: E402

BANDS, SHINGLE_SIZE, MIN_J, MAX_HAM = 16, 3, 0.7, 8


def _minhash_pairs_from_sig(sig, id_col):
    banded = _band_rows(sig, id_col, BANDS)
    left = banded.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    right = banded.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    pair_ids = (
        left.join(right, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return _scored(pair_ids, sig, id_col, sig, id_col, MIN_J).select(
        "id_a", "id_b", F.round("jaccard_est", 6).cast("double").alias("score")
    )


def _simhash_pairs_from_fps(fps, id_col):
    blocked = fps.select(
        id_col,
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
        F.col(id_col).alias("id_a"), F.col("simhash").alias("fp_a"), "block", "block_val"
    )
    right = blocked.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("fp_b"), "block", "block_val"
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        left.join(right, ["block", "block_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= MAX_HAM)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", F.col("hamming").cast("double").alias("score"))
    )


def _run(docs, variant: str) -> tuple[float, int, int]:
    sig = minhash_signatures(docs, "doc_id", "text", SHINGLE_SIZE)
    fps = simhash(docs, "doc_id", "text")
    handles = []
    if variant == "persist":
        sig, fps = sig.persist(), fps.persist()
        handles = [sig, fps]
    elif variant == "ckpt":
        sig = sig.localCheckpoint(eager=False)
        fps = fps.localCheckpoint(eager=False)
    mh = _minhash_pairs_from_sig(sig, "doc_id").select(
        F.lit("minhash").alias("part"), "id_a", "id_b", "score"
    )
    sh = _simhash_pairs_from_fps(fps, "doc_id")
    out = mh.unionByName(
        sh.select(F.lit("simhash").alias("part"), "id_a", "id_b", "score")
    )
    t0 = time.perf_counter()
    row = out.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("part", "id_a", "id_b", "score")).alias("h"),
    ).collect()[0]
    wall = time.perf_counter() - t0
    for h in handles:
        h.unpersist()
    return wall, int(row["n"]), int(row["h"])


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_sf_x64"
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    variants = ("baseline", "persist", "ckpt")
    spark = get_spark("lsh-share-scale")
    docs = load_table(spark, sf_dir, "documents")
    # JIT/scan warm-up on the tiny sf (same operators)
    warm = load_table(spark, "/root/testdata/sf0.001", "documents")
    for v in variants:
        _run(warm, v)
    walls: dict[str, list[float]] = {v: [] for v in variants}
    vals: set[tuple[int, int]] = set()
    for r in range(rounds):
        for v in variants:
            w, n, h = _run(docs, v)
            walls[v].append(round(w, 3))
            vals.add((n, h))
            print(f"# round {r} {v}: {w:.3f}s n={n}", file=sys.stderr)
    assert len(vals) == 1, f"variants disagree: {vals}"
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "rounds": rounds,
                "rows": vals.pop()[0],
                "walls": walls,
                "medians": {v: statistics.median(w) for v, w in walls.items()},
                "loadavg": [round(x, 2) for x in os.getloadavg()],
            }
        )
    )


if __name__ == "__main__":
    main()
