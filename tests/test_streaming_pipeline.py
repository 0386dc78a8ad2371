"""End-to-end exactly-once streaming pipeline (source → session
windows → CDC snapshot): kill-and-resume across the publish/commit
crash window and batch-oracle equality. See
pipelines/streaming_pipeline.py for the exactly-once argument."""

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from adi_226_datawarehouse_project_spark.pipelines.streaming_pipeline import (
    batch_session_oracle,
    read_sessions_snapshot,
    run_sessions_to_cdc,
)

BASE = "/tmp/spark_graft_io/test_streaming_pipeline"
SENTINEL_USER = 999_999


def _event_rows(n_users: int = 6, per_user: int = 30):
    """Deterministic multi-session event history: per user, bursts of
    5-minute-spaced events separated by >30min gaps every 10 events."""
    rows = []
    eid = 0
    for u in range(1, n_users + 1):
        t = 1_700_000_000 + u * 97  # distinct phase per user
        for i in range(per_user):
            t += 300 if i % 10 else 3600 + 300  # new session every 10
            rows.append((eid, u, t))
            eid += 1
    return rows


def _ts(epoch: int) -> str:
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(epoch))


def _write_event_files(spark, path: str, rows, n_files: int = 4):
    """Events as n_files parquet files + two trailing sentinel files
    (far-future single events) so the watermark finalizes every real
    session: sentinel 1 advances the watermark past all real events;
    sentinel 2 triggers the batch in which they emit. mtimes ascend so
    maxFilesPerTrigger=1 consumes them in order."""
    os.makedirs(path)
    # contiguous TIME slices, not round-robin: the stream must be
    # roughly time-ordered or the watermark (global max - delay) would
    # finalize sessions before their remaining events arrive
    ordered = sorted(rows, key=lambda r: r[2])
    k = (len(ordered) + n_files - 1) // n_files
    chunks = [ordered[i * k : (i + 1) * k] for i in range(n_files)]
    files = []
    for i, chunk in enumerate(chunks):
        df = spark.createDataFrame(
            [(e, _ts(t), u, "click", 1.0, "{}") for (e, u, t) in chunk],
            "event_id bigint, ts string, user_id bigint, event_type string, value double, props string",
        ).select(
            "event_id", F.to_timestamp("ts").alias("ts"), "user_id",
            "event_type", "value", "props",
        )
        f = os.path.join(path, f"part-{i:03d}.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(f + ".dir")
        part = [p for p in os.listdir(f + ".dir") if p.endswith(".parquet")][0]
        shutil.move(os.path.join(f + ".dir", part), f)
        shutil.rmtree(f + ".dir")
        files.append(f)
    far = max(t for (_, _, t) in rows)
    for j, bump in enumerate((30 * 86400, 31 * 86400)):
        df = spark.createDataFrame(
            [(10_000_000 + j, _ts(far + bump), SENTINEL_USER + j, "flush", 0.0, "{}")],
            "event_id bigint, ts string, user_id bigint, event_type string, value double, props string",
        ).select(
            "event_id", F.to_timestamp("ts").alias("ts"), "user_id",
            "event_type", "value", "props",
        )
        f = os.path.join(path, f"part-9{j}0-sentinel.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(f + ".dir")
        part = [p for p in os.listdir(f + ".dir") if p.endswith(".parquet")][0]
        shutil.move(os.path.join(f + ".dir", part), f)
        shutil.rmtree(f + ".dir")
        files.append(f)
    now = time.time() - len(files)
    for k, f in enumerate(files):
        os.utime(f, (now + k, now + k))
    return files


def _oracle(spark, rows):
    events = spark.createDataFrame(
        [(e, u, _ts(t)) for (e, u, t) in rows],
        "event_id bigint, user_id bigint, ts string",
    ).select("event_id", "user_id", F.to_timestamp("ts").alias("event_time"))
    return {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch_session_oracle(events).collect()
    }


def _snapshot_set(spark, target):
    return {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in read_sessions_snapshot(spark, target)
        .filter(F.col("user_id") < SENTINEL_USER)
        .collect()
    }


def test_kill_and_resume_exactly_once(spark):
    """Crash injected AFTER a CDC publish, BEFORE the epoch commits —
    the window where a non-idempotent sink double-applies. Restart on
    the same checkpoint must re-fold the replayed epoch to the same
    value and finish: final snapshot == batch oracle, row for row."""
    base = os.path.join(BASE, "kill_resume")
    shutil.rmtree(base, ignore_errors=True)
    events_path = os.path.join(base, "events")
    target = os.path.join(base, "sessions_cdc")
    ckpt = os.path.join(base, "ckpt")
    rows = _event_rows()
    _write_event_files(spark, events_path, rows)

    def stream():
        return (
            spark.readStream.schema(
                "event_id bigint, ts timestamp, user_id bigint, "
                "event_type string, value double, props string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(events_path)
            .select("event_id", "user_id", F.col("ts").alias("event_time"))
        )

    with pytest.raises(Exception, match="injected crash"):
        run_sessions_to_cdc(
            spark, stream(), target, ckpt,
            fault_after_publish_epoch=2,
        )
    # resume on the SAME checkpoint, no fault — drains to the end
    run_sessions_to_cdc(spark, stream(), target, ckpt)
    want = _oracle(spark, rows)
    assert _snapshot_set(spark, target) == want and len(want) >= 18

    # a third run with no new data must be a no-op (replay idempotence)
    run_sessions_to_cdc(spark, stream(), target, ckpt)
    assert _snapshot_set(spark, target) == want


def test_empty_batches_do_not_publish_generations(spark, tmp_path):
    """Append-mode session windows emit nothing until the watermark
    closes a session, so most early micro-batches are EMPTY — each one
    previously read + rewrote the whole snapshot and flipped a
    generation for zero changes (burning the reader-protection window
    and publishing an empty gen-000000 before any real data). The fold
    must skip them: a run whose batches finalize nothing publishes NO
    generations at all."""
    src = str(tmp_path / "src")
    # One tight burst, no sentinel: the watermark never passes the
    # session end, so every micro-batch output is empty.
    spark.createDataFrame(
        [(i, 1, _ts(1_700_000_000 + i * 60)) for i in range(10)],
        "event_id bigint, user_id bigint, ts string",
    ).select(
        "event_id", "user_id", F.to_timestamp("ts").alias("event_time")
    ).write.parquet(src)
    events = (
        spark.readStream.schema(
            "event_id bigint, user_id bigint, event_time timestamp"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    target = str(tmp_path / "t")
    run_sessions_to_cdc(spark, events, target, str(tmp_path / "c"))
    published = (
        [d for d in os.listdir(target) if d.startswith("gen-")]
        if os.path.isdir(target)
        else []
    )
    assert published == [], published
