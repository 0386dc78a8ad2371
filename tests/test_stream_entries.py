"""Every declared stream entry drains a real streaming query while its
frame is built: an entry that fell back to a batch twin would leave the
DuckDB oracle checking batch code under a stream's name."""

import pytest
from conftest import SF_SMALL
from pyspark.sql.streaming import StreamingQueryListener

from adi_226_datawarehouse_project_spark.plans.operators_suite import operator_queries

STREAM_ENTRIES = [
    "stream_windowed_counts",
    "stream_stateful_sessionize",
    "stream_session_window",
    "stream_upsert_ingest",
    "stream_stream_join",
    "op_set_operators",  # its stream_dedup_keys part
]


class _StartCounter(StreamingQueryListener):
    """Counts query starts; onQueryStarted runs before start() returns."""

    def __init__(self) -> None:
        self.started = 0

    def onQueryStarted(self, event) -> None:
        self.started += 1

    def onQueryProgress(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


@pytest.mark.parametrize("name", STREAM_ENTRIES)
def test_stream_entry_starts_a_streaming_query(spark, name):
    counter = _StartCounter()
    spark.streams.addListener(counter)
    try:
        operator_queries()[name].spark(spark, SF_SMALL)
    finally:
        spark.streams.removeListener(counter)
    assert counter.started >= 1, f"{name} built its frame without starting a stream"
