from .cdc_sink import apply_cdc_batch, read_cdc_snapshot
from .events_stream import run_windowed_counts_once, session_window_counts
from .observe_stream import collect_observed, observe_stream, progress_summary

__all__ = [
    "apply_cdc_batch",
    "collect_observed",
    "observe_stream",
    "progress_summary",
    "read_cdc_snapshot",
    "run_windowed_counts_once",
    "session_window_counts",
]
