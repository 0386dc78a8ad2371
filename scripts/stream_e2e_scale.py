"""Scale datapoint for the end-to-end exactly-once streaming pipeline
(pipelines/streaming_pipeline.py): replay the 64×-replicated events
table as a time-ordered stream (what a live feed looks like — append-
mode watermarking is only meaningful over a roughly ordered arrival),
through session windows into the CDC snapshot, WITH a kill-and-resume
mid-run, and verify the final snapshot equals the batch oracle by
count + full-row hash (no driver collect of a data-sized result).

Usage::

    python scripts/stream_e2e_scale.py [sf_dir] [n_files] [files_per_trigger]
    python scripts/stream_e2e_scale.py [...] --hot-user

``--hot-user`` (VERDICT r8 #3): remaps ~25% of all events onto ONE
user before building the replay log — a ~2000×-hot key at 64× —
to MEASURE the pipeline's documented skew bound ("one hot user's
events land in one state partition, bounded by that user's traffic").
A StreamingQueryListener records per-batch state rows, watermark and
input rows for both runs; the bound holds if the hot run's state-row
ceiling matches the uniform run's (the hot user's dense events MERGE
into few session-window state rows — state size tracks open sessions
per key, not events per key) and the watermark advances every batch.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from adi_226_datawarehouse_project_spark.pipelines.streaming_pipeline import (  # noqa: E402
    batch_session_oracle,
    read_sessions_snapshot,
    run_sessions_to_cdc,
)
from adi_226_datawarehouse_project_spark.session import get_spark  # noqa: E402
from adi_226_datawarehouse_project_spark.sources.catalog import load_table  # noqa: E402

_pos = [a for a in sys.argv[1:] if not a.startswith("--")]
HOT_USER = "--hot-user" in sys.argv
SF_DIR = _pos[0] if len(_pos) > 0 else "/tmp/spark_graft_sf_x64"
N_FILES = int(_pos[1]) if len(_pos) > 1 else 32
PER_TRIGGER = int(_pos[2]) if len(_pos) > 2 else 4
BASE = "/tmp/spark_graft_stream_e2e"
SENTINEL_USER = 10_000_000_000
HOT_USER_ID = 7


class _ProgressLog:
    """StreamingQueryListener capturing per-batch state size and
    watermark — the observability for the skew-bound claim."""

    def __init__(self) -> None:
        self.rows: list[dict] = []

    def attach(self, spark) -> None:
        import json as _json

        from pyspark.sql.streaming import StreamingQueryListener

        log = self.rows

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                p = _json.loads(event.progress.json)
                ops = p.get("stateOperators") or []
                log.append(
                    {
                        "batch": p.get("batchId"),
                        "input_rows": p.get("numInputRows"),
                        "state_rows": ops[0].get("numRowsTotal") if ops else None,
                        "watermark": (p.get("eventTime") or {}).get("watermark"),
                    }
                )

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self._listener = _L()
        spark.streams.addListener(self._listener)


def main() -> None:
    spark = get_spark("stream_e2e_scale", shuffle_partitions=32)
    shutil.rmtree(BASE, ignore_errors=True)
    log_dir, target, ckpt = (
        os.path.join(BASE, "log"),
        os.path.join(BASE, "cdc"),
        os.path.join(BASE, "ckpt"),
    )

    events = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", F.col("ts").alias("event_time")
    )
    if HOT_USER:
        events = events.withColumn(
            "user_id",
            F.when(F.col("user_id") % 4 == 0, F.lit(HOT_USER_ID)).otherwise(
                F.col("user_id")
            ),
        )
    n_events = events.count()
    prog = _ProgressLog()
    prog.attach(spark)

    # ---- replay log: time-ordered files + 2 sentinel flush files ----
    t0 = time.perf_counter()
    (
        events.repartitionByRange(N_FILES, "event_time")
        .sortWithinPartitions("event_time")
        .write.mode("overwrite")
        .parquet(log_dir)
    )
    parts = sorted(p for p in os.listdir(log_dir) if p.endswith(".parquet"))
    far = events.agg(F.max("event_time")).collect()[0][0]

    def _append_sentinel(j: int) -> None:
        spark.createDataFrame(
            [(SENTINEL_USER + j, SENTINEL_USER + j)],
            "event_id bigint, user_id bigint",
        ).select(
            "event_id",
            "user_id",
            (F.lit(far) + F.expr(f"INTERVAL {30 + j} DAYS")).alias("event_time"),
        ).coalesce(1).write.mode("append").parquet(log_dir)

    # Sentinel 1 rides with the main log: it advances the watermark
    # past every real session. Sentinel 2 is appended only AFTER the
    # main stream drains (below), so it is guaranteed its OWN
    # micro-batch — batched together with sentinel 1 the final
    # emission would silently depend on Spark's trailing no-data-batch
    # behavior instead of the documented flush design.
    _append_sentinel(0)
    # ascending mtimes so maxFilesPerTrigger consumes in time order
    # (range partitions are written part-00000..N in key order; the
    # sentinel file lands last)
    all_parts = [p for p in os.listdir(log_dir) if p.endswith(".parquet")]
    ordered = parts + sorted(p for p in all_parts if p not in parts)
    now = time.time() - len(ordered)
    for k, p in enumerate(ordered):
        os.utime(os.path.join(log_dir, p), (now + k, now + k))
    print(f"# replay log: {n_events} events, {len(ordered)} files "
          f"({time.perf_counter()-t0:.1f}s)", file=sys.stderr)

    def stream():
        return (
            spark.readStream.schema("event_id bigint, user_id bigint, event_time timestamp")
            .option("maxFilesPerTrigger", str(PER_TRIGGER))
            .parquet(log_dir)
        )

    # ---- run with an injected crash mid-run, then resume ----
    t0 = time.perf_counter()
    crashed = False
    try:
        run_sessions_to_cdc(
            spark, stream(), target, ckpt,
            fault_after_publish_epoch=3,
        )
    except Exception as e:  # noqa: BLE001
        crashed = "injected crash" in str(e)
    assert crashed, "fault injection did not fire"
    t_crash = time.perf_counter() - t0
    t0 = time.perf_counter()
    run_sessions_to_cdc(spark, stream(), target, ckpt)
    t_resume = time.perf_counter() - t0
    # flush: sentinel 2 arrives as new data = its own micro-batch, in
    # which every session the sentinel-1 watermark finalized emits
    _append_sentinel(1)
    t0 = time.perf_counter()
    run_sessions_to_cdc(spark, stream(), target, ckpt)
    t_resume += time.perf_counter() - t0

    # ---- verify: count + order-insensitive full-row hash ----
    def fingerprint(df):
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("user_id", "session_start", "session_end", "n_events")).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"] or 0)

    snap = read_sessions_snapshot(spark, target).filter(
        F.col("user_id") < SENTINEL_USER
    )
    t0 = time.perf_counter()
    oracle = batch_session_oracle(events)
    fp_snap, fp_oracle = fingerprint(snap), fingerprint(oracle)
    t_oracle = time.perf_counter() - t0
    ok = fp_snap == fp_oracle
    print(
        f"# events={n_events} sessions={fp_snap[0]} match={ok} "
        f"crash_leg={t_crash:.1f}s resume_leg={t_resume:.1f}s "
        f"stream_total={t_crash + t_resume:.1f}s batch_oracle={t_oracle:.1f}s",
        file=sys.stderr,
    )
    assert ok, f"snapshot {fp_snap} != oracle {fp_oracle}"
    time.sleep(1.0)  # listener thread drain
    batches = [r for r in prog.rows if r.get("state_rows") is not None]
    if batches:
        wms = [r["watermark"] for r in batches if r["watermark"]]
        hot_share = (
            events.filter(F.col("user_id") == HOT_USER_ID).count() / n_events
            if HOT_USER
            else 0.0
        )
        print(
            f"# mode={'hot-user' if HOT_USER else 'uniform'} "
            f"hot_share={hot_share:.2f} batches={len(batches)} "
            f"state_rows_max={max(r['state_rows'] for r in batches)} "
            f"state_rows_final={batches[-1]['state_rows']} "
            f"watermark_advances={len(set(wms))}/{len(wms)}",
            file=sys.stderr,
        )
    print("OK")


if __name__ == "__main__":
    main()
