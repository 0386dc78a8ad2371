"""Stream-stream join: the watermarked streaming click→purchase
attribution join must produce exactly the batch join's summary."""

from conftest import SF_SMALL

from adi_226_datawarehouse_project_spark.sources.catalog import load_table
from adi_226_datawarehouse_project_spark.streaming.events_stream import _with_event_time
from adi_226_datawarehouse_project_spark.streaming.stream_join import (
    _attribution_pairs,
    _summarize,
    run_stream_stream_join_once,
)


def _batch_pairs(spark, sf_dir, how="inner"):
    """The same attribution join over the static events frame."""
    return _attribution_pairs(
        _with_event_time(load_table(spark, sf_dir, "events")), how=how
    )


def test_stream_stream_join_matches_batch(spark):
    batch = _summarize(_batch_pairs(spark, SF_SMALL)).collect()[0]
    stream = run_stream_stream_join_once(spark, SF_SMALL).collect()[0]
    assert batch["n_pairs"] > 0
    assert tuple(stream) == tuple(batch)


from conftest import EVENTS_BASE_US, write_events_file

_write_events = write_events_file


def _left_rows(df):
    """Offsets extracted ENGINE-side (unix_seconds in the session's
    pinned-UTC tz): client-side datetime.timestamp() interprets the
    collected naive datetimes in the OS local zone, which would shift
    every expected offset on a non-UTC box."""
    base = EVENTS_BASE_US // 1_000_000
    rows = df.selectExpr(
        "user_id",
        "unix_seconds(click_time) AS c",
        "unix_seconds(purchase_time) AS p",
    ).collect()
    return sorted(
        (
            r["user_id"],
            int(r["c"]) - base,
            None if r["p"] is None else int(r["p"]) - base,
        )
        for r in rows
    )


def test_left_outer_stream_join_emits_null_after_horizon(spark, tmp_path):
    """LEFT OUTER stream-stream join (r13 capability): an unmatched
    click's null-extended row is emitted once the watermark proves no
    purchase inside [click, click+10min] can still arrive. Fixture:
    u1 click@0 matches purchase@300; u2 click@60 never matches; tail
    matched pairs at t=5000/5100 drive the watermark (1min delay) far
    past u2's 660s horizon. The final rows equal the batch left join's
    exactly — matched pairs emit on arrival, the null row emits late
    but emits."""
    from adi_226_datawarehouse_project_spark.streaming.stream_join import (
        stream_join_pairs_once,
    )

    ev_dir = tmp_path / "events.parquet"
    ev_dir.mkdir()
    _write_events(
        ev_dir,
        "a.parquet",
        [(0, 0, 1, "click"), (1, 60, 2, "click"), (2, 300, 1, "purchase")],
        1_000_000,
    )
    _write_events(
        ev_dir, "b.parquet", [(3, 5000, 99, "click"), (4, 5000, 99, "purchase")], 2_000_000
    )
    _write_events(
        ev_dir, "c.parquet", [(5, 5100, 98, "click"), (6, 5100, 98, "purchase")], 3_000_000
    )

    got = _left_rows(
        stream_join_pairs_once(
            spark,
            str(tmp_path),
            watermark="1 minute",
            how="leftOuter",
            query_name="left_join_out",
            maxFilesPerTrigger="1",
        )
    )
    want = _left_rows(_batch_pairs(spark, str(tmp_path), how="leftOuter"))
    assert (2, 60, None) in got  # the unmatched click DID emit
    assert got == want, (got, want)


def test_left_outer_null_rows_withheld_until_watermark(spark, tmp_path):
    """The timing half of the contract: WITHOUT the tail events the
    watermark never passes the unmatched click's horizon, so its
    null-extended row is withheld (still sitting in state when the
    finite source drains) — only the matched pair appears. This is the
    append-mode trade-off that makes the state bounded: emitting the
    null row early would be retractable, and stream-stream outer joins
    never retract."""
    from adi_226_datawarehouse_project_spark.streaming.stream_join import (
        stream_join_pairs_once,
    )

    ev_dir = tmp_path / "events.parquet"
    ev_dir.mkdir()
    _write_events(
        ev_dir,
        "a.parquet",
        [(0, 0, 1, "click"), (1, 60, 2, "click"), (2, 300, 1, "purchase")],
        1_000_000,
    )
    got = _left_rows(
        stream_join_pairs_once(
            spark,
            str(tmp_path),
            watermark="1 minute",
            how="leftOuter",
            query_name="left_join_nowm_out",
            maxFilesPerTrigger="1",
        )
    )
    assert got == [(1, 0, 300)], got
