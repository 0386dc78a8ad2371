"""Structured Streaming over the events table — the engine's streaming
capability proof (the reference is batch-only, SURVEY §2.10; this is
the beyond-reference extension the north star asks for).

Pattern: file-source readStream → event-time watermark → tumbling
window aggregation → memory/foreachBatch sink. The declared query
``stream_windowed_counts`` drains the stream itself
(``run_windowed_counts_once``), so the DuckDB oracle checks what the
streaming query emits; tests/test_streaming.py also asserts
stream-batch equivalence against the same ``_windowed`` builder over a
static frame — Structured Streaming's core guarantee.

Every stream in the package runs through :func:`drain`: an
availableNow trigger (every file present at start, in
``maxFilesPerTrigger``-sized micro-batches) and a blocking wait.

Scale: watermark bounds state; tumbling (non-overlapping) windows keep
state one-row-per-(window,type); a production deployment swaps the
file source for Kafka and the memory sink for a transactional
foreachBatch writer without touching the transformation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter


def events_schema(sf_dir: str) -> T.StructType:
    """Explicit readStream schema matching the events file's physical
    ``ts`` layout (file streams require a user schema; see
    sources.catalog.events_ts_storage for the nanos-vs-timestamp
    adaptivity)."""
    from ..sources.catalog import events_ts_storage

    storage = events_ts_storage(os.path.join(sf_dir, "events.parquet"))
    # "ntz" files (naive micros) are read with a TIMESTAMP schema: the
    # parquet reader honors the requested type and interprets the naive
    # value in the session tz (pinned UTC) — never TIMESTAMP_NTZ, which
    # Spark rejects as an event-time/watermark column.
    ts_type: T.DataType = T.LongType() if storage == "nanos" else T.TimestampType()
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_events_stream(spark: SparkSession, sf_dir: str, **options: str) -> DataFrame:
    """File-source readStream over the events parquet with ``ts``
    normalized to a (naive) TIMESTAMP column, whatever the file's
    physical layout. Extra ``options`` pass through to the reader
    (e.g. maxFilesPerTrigger="1").

    nanos layout: spark.sql.legacy.parquet.nanosAsLong is set only
    around ``load()`` and restored immediately — the streaming source
    captures the conf when the relation is created (verified
    empirically: micro-batches triggered AFTER the restore still read
    the nanos file correctly), so the session conf never leaks and a
    genuine TIMESTAMP(NANOS) table read later in the session is
    unaffected (same scoping as sources.catalog.load_table)."""
    schema = events_schema(sf_dir)
    nanos = isinstance(schema["ts"].dataType, T.LongType)
    # events.parquet is a single FILE in the driver-generated testdata
    # but a DIRECTORY of part files when Spark wrote it (e.g. the
    # replicated scale corpora) — the glob form matches only the file
    # layout and would silently stream ZERO rows from a directory.
    events_path = os.path.join(sf_dir, "events.parquet")
    reader = spark.readStream.schema(schema).format("parquet")
    if os.path.isdir(events_path):
        reader = reader.option("path", events_path)
    else:
        reader = reader.option("path", sf_dir).option(
            "pathGlobFilter", "events.parquet"
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    if nanos:
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = reader.load()
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        df = reader.load()
    return df


def drain(writer: DataStreamWriter) -> None:
    """Run a stream to the end of its source: start ``writer`` with
    the availableNow trigger and block until the query stops. A failed
    micro-batch re-raises here."""
    writer.trigger(availableNow=True).start().awaitTermination()


def _with_event_time(df: DataFrame) -> DataFrame:
    """Derive a watermark-legal `event_time` via an explicit cast:
    both readers (load_table / read_events_stream) already normalize
    every physical ``ts`` layout to TIMESTAMP, and the cast keeps a
    future layout drift from re-breaking watermarking (TIMESTAMP_NTZ
    is rejected as event time)."""
    return df.withColumn("event_time", F.col("ts").cast("timestamp"))


def _windowed(df: DataFrame, window: str) -> DataFrame:
    return (
        df.groupBy(F.window("event_time", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_windowed_counts_once(
    spark: SparkSession, sf_dir: str, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Drive the streaming query to completion over the parquet file
    source and return the materialized result."""
    stream = read_events_stream(spark, sf_dir)
    agg = _windowed(_with_event_time(stream).withWatermark("event_time", watermark), window)
    name = "events_windowed_out"
    drain(agg.writeStream.outputMode("complete").format("memory").queryName(name))
    return spark.sql(f"SELECT * FROM {name}")


def session_window_counts(
    df: DataFrame, gap: str = "30 minutes"
) -> DataFrame:
    """Gap-based sessionization via the BUILT-IN ``session_window``
    aggregation — the JVM-native alternative to the
    ``applyInPandasWithState`` custom operator in ``sessionize.py``
    (use this one unless the per-session logic genuinely needs
    imperative Python). Works identically over a batch frame or a
    watermarked stream; returns one row per (user, session) with the
    merged window bounds and event count.

    Boundary semantics, pinned EMPIRICALLY (r13,
    tests/test_session_window_properties.py — the previous claim here
    was backwards): ``session_window`` merges an event into the
    session while ``diff <= gap`` — the exact-gap case MERGES (two
    events at 0s and 60s with a 60s gap form ONE session [0, 120)) —
    and splits only at ``diff > gap``. That is the SAME boundary as
    the SQL lag/cumsum form (`op_sessionize_events`, split at
    ``> gap``), so the two agree at EVERY layout, exact-gap ties
    included, not just on measure-zero-free data."""
    return df.groupBy(
        F.session_window(F.col("event_time"), gap).alias("session"),
        F.col("user_id"),
    ).agg(F.count(F.lit(1)).alias("n_events")).select(
        "user_id",
        F.col("session.start").alias("session_start"),
        F.col("session.end").alias("session_end"),
        "n_events",
    )
