"""Invariant-based 64× verification of the curation funnel's cluster
stage (VERDICT r12 task 5). The stage chain is the corpus pipeline's
stage list (`pipelines.corpus_pipeline.fold_stages`), the same one the
pipeline runs and the registry's `pipeline_curation_funnel` folds.

The funnel's first-principles oracle — a DuckDB recursive-CTE
transitive closure over the pair graph — is a FIXTURE-SCALE tool by
construction: at 64× (320k docs) it spills ~70 GB of temp and dies,
while the Spark side completes. This script verifies the same
semantics at 64× WITHOUT materializing the closure, through invariants
that are each one bounded Spark aggregate over the operator's own
outputs (comp = near_dup_clusters over the exact-Jaccard edge set):

  I1  partition: comp has exactly one row per cluster-stage input doc
      (survivors ∪ dropped partition the corpus — filters on one
      column of one frame cannot overlap, so row-count equality is the
      whole check).
  I2  representative: every cluster_id equals the MIN doc_id of its
      cluster, and is itself a member — so "keep cluster_id == doc_id"
      keeps exactly one deterministic representative per cluster.
  I3  edge closure (completeness): NO edge crosses two clusters. Edges
      are the only thing that can merge docs, so zero crossing edges
      means no connected component spans clusters; soundness (every
      cluster is edge-connected) holds by construction — the
      contraction only ever unions along real edges (pytest pins the
      algorithm at fixture scale against the closure oracle).
  I4  survivor independence: no surviving pair shares an edge
      (implied by I2+I3, asserted directly because it is the property
      the downstream stages rely on).
  I5  downstream consistency: the funnel's cluster_dedup stage count
      equals the survivor count.

Usage: python scripts/funnel_invariants_scale.py [/tmp/spark_graft_x64]
Prints one JSON line; run with PYSPARK_SUBMIT_ARGS="--driver-memory 8g
pyspark-shell" for the 64× corpus.
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

# The stage chain is the corpus pipeline's own stage list — the one
# definition the pipeline runs and the registry's funnel query folds,
# so this verifier cannot drift from the pipeline it certifies.
from adi_226_datawarehouse_project_spark.pipelines.corpus_pipeline import (  # noqa: E402
    fold_stages,
)
from adi_226_datawarehouse_project_spark.sources.catalog import load_table  # noqa: E402


def compute_invariants(spark: SparkSession, sf_dir: str) -> dict:
    """All five invariants over the pipeline's own stage chain;
    importable so tests/test_funnel_invariants.py can run the same
    checks at fixture scale every round (rot-guard for this script)."""
    t0 = time.time()
    frames, run = fold_stages(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    comp = run.comp.cache()
    s3 = frames["dedup"].select("doc_id", "text").cache()
    edges = run.edges.cache()

    out: dict = {"sf_dir": sf_dir}
    n_s3 = s3.count()
    n_comp = comp.count()
    n_comp_docs = comp.select("doc_id").distinct().count()
    out["I1_partition"] = {
        "s3_docs": n_s3,
        "comp_rows": n_comp,
        "comp_distinct_docs": n_comp_docs,
        "ok": n_s3 == n_comp == n_comp_docs,
    }

    per_cluster = comp.groupBy("cluster_id").agg(
        F.min("doc_id").alias("min_id"),
        F.max(F.when(F.col("doc_id") == F.col("cluster_id"), 1).otherwise(0)).alias(
            "has_self"
        ),
    )
    bad_rep = per_cluster.filter(
        (F.col("min_id") != F.col("cluster_id")) | (F.col("has_self") == 0)
    ).count()
    n_clusters = per_cluster.count()
    out["I2_representative"] = {
        "clusters": n_clusters,
        "violations": bad_rep,
        "ok": bad_rep == 0,
    }

    ca = comp.select(
        F.col("doc_id").alias("id_a"), F.col("cluster_id").alias("ca")
    )
    cb = comp.select(
        F.col("doc_id").alias("id_b"), F.col("cluster_id").alias("cb")
    )
    e = edges.join(ca, "id_a", "left").join(cb, "id_b", "left")
    n_edges = edges.count()
    crossing = e.filter(
        F.col("ca").isNull() | F.col("cb").isNull() | (F.col("ca") != F.col("cb"))
    ).count()
    out["I3_edge_closure"] = {
        "edges": n_edges,
        "crossing_or_dangling": crossing,
        "ok": crossing == 0,
    }

    survivors = comp.filter(F.col("cluster_id") == F.col("doc_id")).select("doc_id")
    n_surv = survivors.count()
    surv_pair_edges = (
        edges.join(survivors.withColumnRenamed("doc_id", "id_a"), "id_a")
        .join(survivors.withColumnRenamed("doc_id", "id_b"), "id_b")
        .count()
    )
    out["I4_survivor_independence"] = {
        "survivors": n_surv,
        "survivor_pair_edges": surv_pair_edges,
        "ok": surv_pair_edges == 0 and n_surv == n_clusters,
    }

    n_s4 = frames["cluster_dedup"].count()
    out["I5_downstream"] = {
        "cluster_dedup_stage": n_s4,
        "ok": n_s4 == n_surv,
    }

    out["dropped"] = n_s3 - n_surv
    out["wall_sec"] = round(time.time() - t0, 1)
    out["all_ok"] = all(v["ok"] for k, v in out.items() if isinstance(v, dict))
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_x64"
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = compute_invariants(spark, sf_dir)
    print(json.dumps(out))
    sys.exit(0 if out["all_ok"] else 1)


if __name__ == "__main__":
    main()
