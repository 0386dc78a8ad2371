"""Streaming deduplication over the events stream —
``dropDuplicatesWithinWatermark`` as an engine operator.

Pattern mirrors events_stream.py: the streaming driver
(``run_dedup_stream_once``) runs the key-dedup with watermark-bounded
state, and the declared query drains it, so the DuckDB oracle checks
the stream's survivors; stream/batch key-set equivalence against a
plain ``dropDuplicates`` is asserted in tests/test_stream_dedup.py,
including a multi-file replay where the duplicate arrives in a LATER
micro-batch (the case plain per-batch distinct gets wrong).

Scale: ``dropDuplicatesWithinWatermark`` keeps one state row per key
seen inside the watermark horizon and evicts beyond it — bounded state
for unbounded streams (exactly-once dedup of an at-least-once source,
e.g. Kafka producer retries). The session factory pins the RocksDB
state store, so key state spills to disk instead of executor heap.

Which full ROW survives per key is arrival-order-dependent in both
engines, so only the key SET is a differential contract — the declared
query (op_set_operators' ``stream_dedup_keys`` part) therefore
checks per-type distinct-key counts and key checksums, which are
identical whatever row wins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .events_stream import _with_event_time, drain, read_events_stream

DEDUP_KEYS = ["user_id", "event_type"]


def dedup_key_summary(df: DataFrame) -> DataFrame:
    """Deterministic projection of a deduped events frame: per
    event_type, the distinct-key count and the user_id checksum. Equal
    on any two frames with the same KEY set — the survivor-row
    ambiguity cancels out."""
    return (
        df.select(*DEDUP_KEYS)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("user_id").alias("uid_sum"),
        )
        .orderBy("event_type")
    )


def run_dedup_stream_once(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "1 day",
    **stream_options: str,
) -> DataFrame:
    """Drive the streaming dedup to completion over the parquet file
    source and return the materialized (append-mode) survivor rows.
    ``stream_options`` pass through to the reader (e.g.
    ``maxFilesPerTrigger='1'`` to force one micro-batch per file, which
    is what makes the cross-batch dedup case real)."""
    stream = read_events_stream(spark, sf_dir, **stream_options)
    deduped = (
        _with_event_time(stream)
        .withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(DEDUP_KEYS)
    )
    name = "events_dedup_out"
    drain(deduped.writeStream.outputMode("append").format("memory").queryName(name))
    return spark.sql(f"SELECT * FROM {name}")
