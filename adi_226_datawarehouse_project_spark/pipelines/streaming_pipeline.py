"""End-to-end EXACTLY-ONCE streaming pipeline: replayable source →
watermarked session windows → idempotent CDC snapshot sink.

Chains three individually-tested pieces (SURVEY §2.10) into the one
topology a production event pipeline runs, and makes the exactly-once
argument explicit. Exactly-once here is the standard Structured
Streaming decomposition — none of the pieces is novel, the CONTRACT is:

1. **Replayable source.** The parquet file source: files are
   immutable and the checkpoint pins the per-batch file list, so a
   restarted query re-reads EXACTLY the slice the failed epoch saw.
2. **Deterministic, checkpointed transformation.** The session-window
   aggregation's state store is versioned per epoch; a restart resumes
   from the last committed state, so the replayed epoch emits the same
   finalized sessions. Append mode + watermark means a session row is
   emitted exactly once, when the watermark passes its close.
3. **Idempotent sink.** ``apply_cdc_batch`` folds each batch into the
   snapshot via ``latest_changes`` keyed on (user_id, session_start)
   with seq = session close — re-folding the same rows is a no-op by
   VALUE (pinned in tests/test_cdc_stream.py), so the crash window
   between "sink published" and "checkpoint committed" (where Spark
   re-runs foreachBatch for the same epoch) cannot double-apply.

The kill-and-resume proof (tests/test_streaming_pipeline.py) injects a
crash exactly inside that window — AFTER the CDC publish, BEFORE the
epoch commits — restarts the query on the same checkpoint, and asserts
the final snapshot equals the batch-mode oracle row-for-row: no loss
(every finalized session present once) and no dup (the replayed epoch
folded to the same value).

Scale shape: the session aggregate shuffles once by user_id (skew =
one hot user's events in one state partition — bounded by that user's
traffic, the same bound any keyed-state system has); the CDC fold is
one window + one write of the snapshot per epoch, so snapshot size —
not stream length — bounds per-epoch sink cost; on a transactional
table format the fold becomes MERGE INTO and nothing upstream changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.cdc_sink import OP_COL, apply_cdc_batch, read_cdc_snapshot
from ..streaming.events_stream import drain, session_window_counts

SESSION_KEYS = ["user_id", "session_start"]
SEQ_COL = "seq"
GAP = "30 minutes"  # a gap longer than this starts a new session
WATERMARK = "10 minutes"  # event-time lateness the stream tolerates


def session_rows(events: DataFrame) -> DataFrame:
    """Finalized gap-based sessions: append-mode ``session_window``
    aggregate — one output row per closed session, emitted exactly once
    when the watermark passes its end. The aggregation itself is the
    shared ``session_window_counts`` builder — the batch oracle runs
    the SAME declared shape, so the differential test pins the stream
    EXECUTION (watermark, incremental folds, crash replay), and an
    edit to the aggregation can never diverge the two sides."""
    return session_window_counts(events.withWatermark("event_time", WATERMARK), GAP)


def batch_session_oracle(events: DataFrame) -> DataFrame:
    """The same sessionization in BATCH mode (``session_window`` works
    identically over a static frame) — the ground truth the streaming
    snapshot must equal."""
    return session_window_counts(events, GAP)


def _as_changes(sessions: DataFrame) -> DataFrame:
    # seq = session close (micros): a re-emitted identical row folds to
    # itself; a genuinely extended session (possible only if the
    # watermark were re-wound, which Spark never does) would win by seq
    return sessions.withColumn(OP_COL, F.lit("I")).withColumn(
        SEQ_COL, F.unix_micros(F.col("session_end"))
    )


def run_sessions_to_cdc(
    spark: SparkSession,
    events: DataFrame,
    target_path: str,
    checkpoint_path: str,
    fault_after_publish_epoch: int | None = None,
) -> None:
    """Drive the event stream through session windows into the CDC
    snapshot at ``target_path``; blocks until the source is drained.

    ``fault_after_publish_epoch`` is the kill-and-resume test hook: the
    N-th foreachBatch call raises AFTER the CDC publish but BEFORE the
    epoch commits — the exact window where exactly-once lives or dies.
    """
    calls = {"n": 0}

    def fold(bdf: DataFrame, _epoch: int) -> None:
        # Empty micro-batches are routine (append mode emits nothing
        # until the watermark closes a session; watermark-advance
        # batches carry no rows) — folding them would read + rewrite
        # the ENTIRE snapshot and flip a generation for zero changes,
        # burning the _KEEP_GENERATIONS reader-protection window. Skip
        # before the fault counter too, so the counter indexes actual
        # PUBLISHES (the crash hook's contract is publish-then-crash).
        if bdf.isEmpty():
            return
        apply_cdc_batch(
            spark, _as_changes(bdf), target_path, SESSION_KEYS, SEQ_COL
        )
        k = calls["n"]
        calls["n"] += 1
        if fault_after_publish_epoch is not None and k == fault_after_publish_epoch:
            raise RuntimeError(
                "injected crash: sink published, checkpoint NOT committed"
            )

    drain(
        session_rows(events)
        .writeStream.foreachBatch(fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_path)
    )


def read_sessions_snapshot(spark: SparkSession, target_path: str) -> DataFrame:
    """The live session table (tombstones hidden, CDC plumbing columns
    dropped)."""
    return read_cdc_snapshot(spark, target_path).drop(SEQ_COL)
