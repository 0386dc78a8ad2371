"""Custom stateful streaming operator: gap-based sessionization via
``applyInPandasWithState`` (the escape hatch for semantics Structured
Streaming's built-in windows can't express — SURVEY §2.10
beyond-reference extension).

Per user, events more than `gap_seconds` apart start a new session.
State per key is (last event epoch, running session count, disorder
count); each micro-batch folds its (sorted) events into the state and
emits the updated per-user totals. The identical fold runs in batch via the
lag-window SQL (`op_sessionize_events`), and the pytest asserts the
streaming totals equal the batch totals — the stateful analog of the
stream-batch equivalence check.

Scale: state is two scalars per user (bounded); a production deploy
adds a state TTL (GroupStateTimeout) to retire idle users, and the
file source becomes Kafka. Arrow moves each group's batch in one
block — per-group Python cost, never per-row.

ORDERING CONTRACT (r12 streaming review, ENFORCED since r13): the
fold sorts WITHIN each micro-batch but carries only scalars across
batches, so the MICRO-BATCH SEQUENCE must itself be per-key
time-ordered — true for a time-ordered log (the single-file fixture,
a per-key-ordered Kafka partition, CDC), NOT for an arbitrary
multi-file backfill (e.g. the replicated scale corpora, where every
part file spans the full time range: a later batch's earlier
timestamps would fold as non-positive gaps). The fold now CHECKS the
contract per key per batch (batch min ts vs the carried last_ts —
two scalars, zero extra shuffle) and by default RAISES on a
regression, failing the query loudly instead of silently
under-counting; ``allow_disorder=True`` keeps the old fold-anyway
behavior but counts violations into an ``n_disorder`` output column
so the caller can see exactly how many batches broke the contract.
For out-of-order sources use the built-in ``session_window``
aggregation (`events_stream.session_window_counts`) — its
state-store merge under a watermark is order-robust and is the
production path; this operator is the applyInPandasWithState ESCAPE
HATCH demo for imperative per-session logic.

CHECKPOINT COMPATIBILITY (ADVICE r13): ``STATE_SCHEMA`` widened in r13
from (last_ts, n_sessions) to include ``n_disorder``.
applyInPandasWithState state rows are NOT checkpoint-versioned — a
query resumed from a pre-r13 checkpoint fails decoding its state.
Resuming across this change requires a FRESH checkpoint directory
(and, for the file source, a replay of the input log).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .events_stream import _with_event_time, drain, read_events_stream

OUTPUT_SCHEMA = "user_id bigint, n_sessions bigint, n_disorder bigint"
STATE_SCHEMA = "last_ts double, n_sessions bigint, n_disorder bigint"


def _sessionize_fold(gap_seconds: float, allow_disorder: bool = False):
    def fold(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        last_ts, n_sessions, n_disorder = (
            state.get if state.exists else (None, 0, 0)
        )
        ts = pd.concat([pdf["event_time"] for pdf in pdfs]).sort_values()
        # normalize to ns first: Arrow hands micro-resolution batches
        # as datetime64[us] in pandas 2.x, ns-resolution as [ns]
        secs = ts.astype("datetime64[ns]").astype("int64") / 1e9
        # ORDERING CONTRACT check: this batch must not reach back
        # before the carried fold frontier. Two scalars per key.
        if last_ts is not None and len(secs) and float(secs.iloc[0]) < last_ts:
            if not allow_disorder:
                raise ValueError(
                    "sessionize ordering contract violated for key "
                    f"{key[0]!r}: batch min ts {float(secs.iloc[0])} "
                    f"precedes carried last_ts {last_ts}. The "
                    "applyInPandasWithState fold requires per-key "
                    "time-ordered micro-batches; for out-of-order "
                    "sources use session_window_counts (order-robust) "
                    "or pass allow_disorder=True to fold anyway and "
                    "count violations."
                )
            n_disorder += 1
        for t in secs:
            if last_ts is None or t - last_ts > gap_seconds:
                n_sessions += 1
            last_ts = t
        state.update((last_ts, n_sessions, n_disorder))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_sessions": [n_sessions],
                "n_disorder": [n_disorder],
            }
        )

    return fold


def streaming_sessionize(
    spark: SparkSession,
    sf_dir: str,
    gap_seconds: float = 1800.0,
    query_name: str = "sessionize_out",
    allow_disorder: bool = False,
) -> DataFrame:
    """Run the stateful sessionizer over the events parquet as a
    stream; returns the final per-user session counts (memory sink,
    update mode — last emitted row per user wins). Raises through the
    streaming query if a micro-batch violates the per-key ordering
    contract, unless ``allow_disorder`` (see module docstring)."""
    stream = _with_event_time(read_events_stream(spark, sf_dir, maxFilesPerTrigger="1"))
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        _sessionize_fold(gap_seconds, allow_disorder=allow_disorder),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drain(sessions.writeStream.outputMode("update").format("memory").queryName(query_name))
    # update-mode memory sink appends every emission; the fold's total
    # is monotone, so MAX per user is the final state.
    return spark.sql(
        f"SELECT user_id, CAST(max(n_sessions) AS BIGINT) AS n_sessions "
        f"FROM {query_name} GROUP BY user_id"
    )
