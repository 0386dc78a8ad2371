"""Stream-stream inner join with event-time range condition: purchases
within 10 minutes after a click by the same user — the classic
conversion-attribution join, completing the streaming matrix (windowed
agg, stateful op, upsert sink, stream-stream join).

Both sides carry watermarks and the join carries a time-range
constraint, so Spark can bound the buffered state on each side
(clicks older than the watermark + range can never match and are
evicted) — the requirement for an unbounded 100 TB/day deployment.
Inner-join matches emit as soon as both rows arrive (append mode);
the watermark only governs state cleanup.

The declared query ``stream_stream_join`` drains the stream itself, so
the DuckDB oracle checks the streamed pairs; the pytest asserts the
streaming pass produces exactly the batch result of the same builder
(``_attribution_pairs``) over a static frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .events_stream import _with_event_time, drain, read_events_stream

RANGE_SECONDS = 600


def _summarize(pairs: DataFrame) -> DataFrame:
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(
            F.unix_micros("purchase_time") - F.unix_micros("click_time")
        ).cast("bigint").alias("total_delay_micros"),
    )


def _clicks(events: DataFrame) -> DataFrame:
    return events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_time").alias("click_time")
    )


def _purchases(events: DataFrame) -> DataFrame:
    return events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("user_id2"),
        F.col("event_time").alias("purchase_time"),
    )


def _attribution_pairs(events: DataFrame, how: str = "inner") -> DataFrame:
    """The click→purchase attribution join over a static ``events``
    frame (``user_id``, ``event_type`` and a TIMESTAMP ``event_time``)
    — the batch twin the stream is compared against. It runs the same
    side builders and the same :func:`_join_pairs` as the streaming
    driver, so the differential test pins the stream EXECUTION (state,
    watermark eviction): a condition edited on one side cannot leave
    the twin pinning stale semantics."""
    return _join_pairs(_clicks(events), _purchases(events), how=how)


def _join_pairs(
    clicks: DataFrame, purchases: DataFrame, how: str = "inner"
) -> DataFrame:
    """The attribution join, inner or leftOuter. LEFT OUTER is the
    stream-stream shape with watermark-gated null emission: an
    unmatched click's null-extended row can only be emitted once the
    watermark proves no purchase inside [click_time, click_time +
    range] can still arrive — until then it is withheld in state (the
    append-mode contract; pinned in tests/test_stream_join.py). On the
    batch twin the same builder is an ordinary left join."""
    return clicks.join(
        purchases,
        (clicks.user_id == F.col("user_id2"))
        & (F.col("purchase_time") >= F.col("click_time"))
        & (
            F.col("purchase_time")
            <= F.col("click_time") + F.expr(f"INTERVAL {RANGE_SECONDS} SECONDS")
        ),
        how,
    ).select("user_id", "click_time", "purchase_time")


def stream_join_pairs_once(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "30 minutes",
    how: str = "inner",
    query_name: str = "stream_join_pairs_out",
    **stream_options: str,
) -> DataFrame:
    """Drive the streaming attribution join (inner or leftOuter) to
    completion over the parquet file source and return the RAW pair
    rows (null purchase columns for unmatched clicks in leftOuter).
    ``stream_options`` pass through to the reader (e.g.
    maxFilesPerTrigger='1' for per-file micro-batches)."""

    def _stream() -> DataFrame:
        return _with_event_time(read_events_stream(spark, sf_dir, **stream_options))

    clicks = _clicks(_stream()).withWatermark("click_time", watermark)
    purchases = _purchases(_stream()).withWatermark("purchase_time", watermark)
    pairs = _join_pairs(clicks, purchases, how=how)
    # A stream-stream join keeps one state store per shuffle partition
    # on EACH side; the partition count is fixed at query start (it is
    # part of checkpointed state). Pin it to the executor-core count
    # for the run instead of inheriting an analytics-sized session
    # default (200 partitions → 400 tiny state stores → per-batch
    # overhead dominates; measured 49s → ~8s at sf0.01).
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        drain(pairs.writeStream.outputMode("append").format("memory").queryName(query_name))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return spark.sql(f"SELECT * FROM {query_name}")


def run_stream_stream_join_once(
    spark: SparkSession, sf_dir: str, watermark: str = "30 minutes"
) -> DataFrame:
    """Drive the streaming INNER join to completion over the parquet
    file source and return the summarized matches (thin wrapper over
    the shared raw-pairs driver — one definition of the side builders
    and the join, so the stream/batch twins cannot drift)."""
    return _summarize(
        stream_join_pairs_once(
            spark, sf_dir, watermark=watermark, query_name="stream_join_out"
        )
    )
