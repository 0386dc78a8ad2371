"""Structured Streaming proof: the streaming query over the events
parquet source must produce exactly the batch result of the same
transformation (stream-batch equivalence, Structured Streaming's core
guarantee)."""

from conftest import SF_SMALL

from adi_226_datawarehouse_project_spark.sources.catalog import load_table
from adi_226_datawarehouse_project_spark.streaming.events_stream import (
    _windowed,
    _with_event_time,
    run_windowed_counts_once,
)


def _batch_windowed(spark, sf_dir):
    """The same aggregation over the static events frame."""
    return _windowed(_with_event_time(load_table(spark, sf_dir, "events")), "5 minutes")


def _normalize(df):
    return sorted(
        (r["window_start"], r["event_type"], r["n_events"]) for r in df.collect()
    )


def test_stream_matches_batch(spark):
    batch = _batch_windowed(spark, SF_SMALL)
    stream = run_windowed_counts_once(spark, SF_SMALL, "5 minutes")
    got_b = _normalize(batch)
    got_s = _normalize(stream)
    assert len(got_b) > 0
    assert got_s == got_b


def test_events_ts_layout_matrix(spark, tmp_path):
    """Drift-proofing for the driver's events generator: every physical
    ts layout seen across rounds (int64 nanos, TIMESTAMP_NTZ micros,
    tz-adjusted micros) must load as a session-tz TIMESTAMP with
    identical values, in BOTH the batch loader and the readStream
    schema derivation."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from adi_226_datawarehouse_project_spark.sources.catalog import (
        events_ts_storage,
        load_table,
    )
    from adi_226_datawarehouse_project_spark.streaming.events_stream import (
        events_schema,
    )

    from pyspark.sql import types as T

    micros = [1_700_000_000_000_000 + i * 60_000_000 for i in range(4)]
    base = {
        "event_id": pa.array(range(4), pa.int64()),
        "user_id": pa.array([1, 1, 2, 2], pa.int64()),
        "event_type": pa.array(["click"] * 4),
        "value": pa.array([1.0] * 4),
        "props": pa.array(["{}"] * 4),
    }
    layouts = {
        "nanos": pa.array([m * 1000 for m in micros], pa.int64()),
        "nanos_ts": pa.array([m * 1000 for m in micros], pa.timestamp("ns")),
        "ntz": pa.array(micros, pa.timestamp("us")),
        "timestamp": pa.array(micros, pa.timestamp("us", tz="UTC")),
        # legacy Spark/Hive INT96 — what Spark itself writes under the
        # default outputTimestampType. Arrow-level schema says
        # timestamp[ns], so only the parquet PHYSICAL type separates it
        # from nanos_ts; misclassifying it "nanos" fails the scan.
        "int96": pa.array(micros, pa.timestamp("us", tz="UTC")),
        # Spark-written DIRECTORY layout (part files under
        # events.parquet/) — the streaming source must read it too.
        "timestamp_dir": pa.array(micros, pa.timestamp("us", tz="UTC")),
    }
    # storage classification folds both physical nanos encodings
    # (raw int64 and parquet TIMESTAMP(NANOS)) into "nanos"
    expected_storage = {
        "nanos": "nanos", "nanos_ts": "nanos", "ntz": "ntz",
        "timestamp": "timestamp", "int96": "timestamp",
        "timestamp_dir": "timestamp",
    }
    got, got_stream = {}, {}
    for name, ts_arr in layouts.items():
        d = tmp_path / name
        d.mkdir()
        table = pa.table({"event_id": base["event_id"], "ts": ts_arr, **{
            k: v for k, v in base.items() if k != "event_id"}})
        if name == "timestamp_dir":
            (d / "events.parquet").mkdir()
            path = str(d / "events.parquet" / "part-00000.parquet")
        else:
            path = str(d / "events.parquet")
        pq.write_table(
            table, path, use_deprecated_int96_timestamps=(name == "int96")
        )
        if name == "timestamp_dir":
            path = str(d / "events.parquet")
        assert events_ts_storage(path) == expected_storage[name]
        df = load_table(spark, str(d), "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType), name
        # the nanosAsLong workaround must stay scoped to the read —
        # never leak into the session (a genuine TIMESTAMP(NANOS)
        # table read later would silently come back as longs)
        assert (
            spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true"
        ), f"{name}: nanosAsLong leaked into the session"
        got[name] = sorted(r["ts"] for r in df.select("ts").collect())
        stream_ts = events_schema(str(d))["ts"].dataType
        assert isinstance(stream_ts, (T.LongType, T.TimestampType)), name
        assert not isinstance(stream_ts, T.TimestampNTZType), name
        # drive ONE real micro-batch per layout (not just the schema):
        # the ntz layout in particular relies on the parquet reader
        # honoring an explicit TIMESTAMP schema over an NTZ-stored
        # file — version-sensitive, so execute it, don't assume it
        got_stream[name] = _stream_ts_values(spark, str(d), name)
    vals = list(got.values())
    assert all(v == vals[0] for v in vals), got
    for name in layouts:
        assert got_stream[name] == got[name], (
            f"{name}: streamed ts values diverge from the batch loader"
        )


def _stream_ts_values(spark, sf_dir, name):
    """Run the file-source stream over one layout dir to completion and
    return the sorted ts values it emitted."""
    from adi_226_datawarehouse_project_spark.streaming.events_stream import (
        read_events_stream,
    )

    out = f"layout_stream_{name}"
    q = (
        read_events_stream(spark, sf_dir)
        .select("event_id", "ts")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(out)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return sorted(r["ts"] for r in spark.sql(f"SELECT ts FROM {out}").collect())


def test_is_dir_probe_handles_uris_and_local_paths(spark, tmp_path):
    """read_events_stream takes a LOCAL sf_dir: events.parquet as a
    directory of part files streams the same rows as the single-file
    layout (the glob branch would stream zero rows from a directory),
    and a URI sf_dir is refused up front instead of failing on a
    misleading "No such file"."""
    import os
    import shutil

    import pytest

    from adi_226_datawarehouse_project_spark.streaming.events_stream import (
        read_events_stream,
    )

    d = tmp_path / "events.parquet"
    d.mkdir()
    shutil.copy(os.path.join(SF_SMALL, "events.parquet"), d / "part-0.parquet")
    got = _normalize(run_windowed_counts_once(spark, str(tmp_path), "5 minutes"))
    assert got and got == _normalize(_batch_windowed(spark, SF_SMALL))
    with pytest.raises(ValueError, match="local directory"):
        read_events_stream(spark, "file:" + SF_SMALL)

