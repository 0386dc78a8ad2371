"""Streaming incremental-upsert sink: ``foreachBatch`` + left-anti
append — the streaming form of the reference's warehouse load pattern
(`nyc_hybrid_etl_pipeline.py:98-101,141-223`: INSERT … NOT EXISTS).

Each micro-batch is merged into a parquet target through
``operators.upsert``'s anti-join: only rows whose key is absent from
the target are appended. This makes ingestion **idempotent under
re-delivery** — replaying the whole source (fresh checkpoint, restarted
stream, at-least-once Kafka) adds zero duplicate rows, the same
guarantee the reference gets from its NOT EXISTS loads, enforced here
per micro-batch instead of per Airflow run.

Scale posture: the anti-join probes only the target's KEY column
(column-pruned parquet scan), not full rows; at 100 TB the target key
scan is replaced by a partition-pruned probe (target partitioned by
ingest date / key range) or a transactional MERGE on a table format
with file-skipping statistics. The foreachBatch body is plain batch
DataFrame code, so the production swap (parquet dir → Iceberg/Delta
MERGE) does not touch the streaming graph.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .events_stream import drain, read_events_stream


def upsert_batch(
    spark: SparkSession, batch_df: DataFrame, target_path: str, keys: list[str]
) -> None:
    """Merge one (micro-)batch into the parquet target: append only
    rows whose `keys` are not already present. Within-batch duplicate
    keys keep a deterministic representative (min by remaining
    columns' struct) so re-batched replays converge to the same rows."""
    non_keys = [c for c in batch_df.columns if c not in keys]
    batch = (
        batch_df.groupBy(*keys)
        .agg(F.min_by(F.struct(*non_keys), F.struct(*non_keys)).alias("__r"))
        .select(*keys, "__r.*")
    )
    if _target_exists(target_path):
        existing_keys = spark.read.parquet(target_path).select(*keys)
        batch = batch.join(existing_keys, on=keys, how="left_anti")
    batch.write.mode("append").parquet(target_path)


def _target_exists(path: str) -> bool:
    return os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    )


def stream_upsert_events(
    spark: SparkSession,
    sf_dir: str,
    target_path: str,
    checkpoint_path: str,
    keys: list[str] | None = None,
) -> None:
    """Drive one full pass of the events file stream into the upsert
    sink (blocks until the source is drained)."""
    keys = keys or ["event_id"]
    stream = read_events_stream(spark, sf_dir, maxFilesPerTrigger="1")
    drain(
        stream.writeStream.foreachBatch(
            lambda bdf, _epoch: upsert_batch(spark, bdf, target_path, keys)
        ).option("checkpointLocation", checkpoint_path)
    )
