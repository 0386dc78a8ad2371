from .catalog import TABLES, collect_stats, load_table, register_base_views
from .observe import funnel_counts, instrument_funnel, observed_write_parquet

__all__ = [
    "TABLES",
    "collect_stats",
    "funnel_counts",
    "instrument_funnel",
    "load_table",
    "observed_write_parquet",
    "register_base_views",
]
