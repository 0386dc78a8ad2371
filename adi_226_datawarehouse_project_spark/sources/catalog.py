"""Catalog: the driver's synthetic parquet tables as named views.

Mirrors the reference's S3-zone layout (raw/staging/gold parquet
prefixes read with ``spark.read.parquet``, e.g. `Glue job to merge 311
Airbnb.py:77-80`) as a single view registry. At 100 TB each of these is
a partitioned parquet (or Iceberg/Delta) table; the reader path is
identical — Catalyst handles partition pruning and predicate pushdown.

``sf_dir`` is a LOCAL directory: the loader stats files and opens
parquet footers with the driver's own file APIs (schema memo, events
``ts`` layout probe), so a URI (``file:``, ``hdfs:``, ``s3a:``) is
refused with a ``ValueError`` rather than read.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Footer-probe and schema memos are keyed on (size, mtime_ns) of the
# file so a fixture rewritten IN PLACE (regenerated at a larger scale,
# compacted, given a new column) is probed again instead of serving a
# stale answer — same contract as model/star.py's policy-probe
# fingerprint.
_ts_layout_memo: dict[str, tuple[tuple, str]] = {}

# Inferring a parquet schema runs a Spark job that reads the footer:
# `spark.read.parquet(documents)` took 0.29-0.54 s at sf0.1 on a 4-core
# box, 0.09-0.15 s with the schema given, and every text op loads its
# input afresh (about 0.5 s of a 10.2 s `text_dedup` round). The
# inferred schema is a function of the file and of these session confs,
# so both key the memo.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_schema_memo: dict[tuple, tuple[tuple, StructType]] = {}

# Serializes the nanosAsLong set/read/restore in load_table — see the
# comment there. A module-level lock (not per-session) is fine: the
# window is one driver-side schema resolution.
import threading as _threading

_NANOS_CONF_LOCK = _threading.Lock()


def _stat_key(path: str) -> tuple:
    st = os.stat(path)
    return (st.st_size, st.st_mtime_ns)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a single file's schema
    once per (size, mtime_ns). The file is still listed on every call.
    Directories are read as they are: their part files can change
    without the directory's own stat moving."""
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    key = (path, *(spark.conf.get(c) for c in _SCHEMA_CONFS))
    stat = _stat_key(path)
    hit = _schema_memo.get(key)
    if hit is not None and hit[0] == stat:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _schema_memo[key] = (stat, df.schema)
    return df


def events_ts_storage(path: str) -> str:
    """How the events file physically stores ``ts``: ``"nanos"`` when it
    is parquet TIMESTAMP(NANOS) or a raw int64 (Spark's vectorized
    reader rejects nanos, so it must be read as a long and truncated to
    micros — exactly what DuckDB's reader does), ``"ntz"`` when it is a
    micro/milli timestamp WITHOUT a timezone (Spark 4 infers
    TIMESTAMP_NTZ by default — illegal for watermarks/unix_micros, so
    the loader casts it to session-tz TIMESTAMP; the session tz is
    pinned UTC so values are unchanged), ``"timestamp"`` when it is a
    tz-adjusted micro/milli timestamp Spark reads natively. The
    driver's generator has produced all three layouts across rounds, so
    the loader adapts per file instead of assuming one. The probe is
    memoized per (resolved part, size, mtime) — load_table calls this
    on every events read, and the two pyarrow footer opens are blocking
    driver I/O on the hot query-entry path."""
    import glob
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq

    if re.match(r"[A-Za-z][A-Za-z0-9+.-]*:", path):
        raise ValueError(f"sf_dir must be a local directory, not a URI: {path}")
    if os.path.isdir(path):
        # Spark-written tables are directories of part files; every part
        # shares one schema, so probe the first (sorted for determinism).
        # Hive-partitioned layouts (writers.py's partition_by gold zone)
        # keep their parts under key=value subdirectories — recurse
        # before declaring the directory empty.
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            parts = sorted(
                glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
            )
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path}")
        path = parts[0]
    key = _stat_key(path)
    hit = _ts_layout_memo.get(path)
    if hit is not None and hit[0] == key:
        return hit[1]
    layout = _events_ts_storage_uncached(path, pa, pq)
    _ts_layout_memo[path] = (key, layout)
    return layout


def _events_ts_storage_uncached(path: str, pa, pq) -> str:
    # INT96 (legacy Spark/Hive timestamps — what Spark itself writes
    # under the default outputTimestampType) surfaces as timestamp[ns]
    # in the ARROW schema, indistinguishable from a real
    # TIMESTAMP(NANOS) column; only the parquet PHYSICAL type tells
    # them apart. Spark reads INT96 natively as a session-tz
    # timestamp, so it takes the plain "timestamp" path — classifying
    # it "nanos" would request bigint over INT96 pages and fail the
    # scan (observed on a Spark-written events table).
    pf = pq.ParquetFile(path)
    for i in range(len(pf.schema)):
        col = pf.schema.column(i)
        if col.name == "ts" and col.physical_type == "INT96":
            return "timestamp"
    t = pq.read_schema(path).field("ts").type
    if pa.types.is_integer(t) or (pa.types.is_timestamp(t) and t.unit == "ns"):
        return "nanos"
    if pa.types.is_timestamp(t) and t.tz is None:
        return "ntz"
    return "timestamp"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan of ``<sf_dir>/<name>.parquet``, where
    ``sf_dir`` is a local directory (see the module docstring);
    filters/projections placed on the result push down into the scan
    (verify via PushedFilters in .explain). A single-file table's
    schema is inferred once (see _read_parquet).

    ``events.ts`` always comes back as a (naive) TIMESTAMP column
    regardless of the file's physical layout (see events_ts_storage)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events" and events_ts_storage(path) == "nanos":
        # Scoped: nanosAsLong is captured into the relation when
        # spark.read resolves it (verified empirically — restoring the
        # conf immediately after .parquet() does not break deferred
        # execution), so the session conf can be restored right away
        # and a genuine TIMESTAMP(NANOS) table read later in the
        # session is unaffected. The streaming reader cannot scope it
        # this way (the conf must hold for the stream's lifetime) —
        # see streaming.events_stream.read_events_stream.
        #
        # The set/read/restore is serialized under a module lock: the
        # session conf is GLOBAL, and orchestration/dag.py runs tasks
        # concurrently on driver threads sharing one session — two
        # unsynchronized events loads could capture each other's "true"
        # as the saved previous value and leave the conf flipped for
        # the rest of the session (or unset it under the other's read).
        # Reads of OTHER tables during the held window are unaffected:
        # the conf only changes how int64-nanos columns resolve.
        with _NANOS_CONF_LOCK:
            prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            try:
                df = spark.read.parquet(path)
            finally:
                if prev is None:
                    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
                else:
                    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        # nanosAsLong only affects files WITHOUT an embedded Spark
        # schema (the driver generator's pyarrow layouts). A
        # Spark-WRITTEN nanos file carries its logical schema in the
        # footer and comes back as TIMESTAMP already — converting
        # unconditionally would div a timestamp.
        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        df = _read_parquet(spark, path)
    if name == "events":
        # Whatever layout the file had, ``ts`` leaves here as TIMESTAMP:
        # TIMESTAMP_NTZ (Spark 4's default inference for non-tz parquet)
        # rejects watermarks, unix_micros, and numeric casts, and the
        # session tz is pinned UTC so the cast is value-preserving.
        from pyspark.sql import types as T

        if isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


class SessionMemo(dict):
    """A dict keyed on ``id(spark)`` whose entries count only for the
    session that stored them.

    CPython reuses addresses, so a NEW session allocated where a
    garbage-collected one lived would otherwise inherit its entry, skip
    registration and fail every query with TABLE_OR_VIEW_NOT_FOUND.
    ``put`` records a weakref to the session (which also keeps the memo
    from pinning dead sessions alive); ``live`` drops an entry whose ref
    points elsewhere. An entry injected or popped through the plain
    dict interface has no ref and is trusted."""

    def __init__(self) -> None:
        super().__init__()
        self.refs: dict[int, weakref.ref] = {}

    def live(self, spark: SparkSession):
        key = id(spark)
        ref = self.refs.get(key)
        if ref is not None and ref() is not spark:
            self.pop(key, None)
            self.refs.pop(key, None)
            return None
        return self.get(key)

    def put(self, spark: SparkSession, value) -> None:
        self[id(spark)] = value
        try:
            self.refs[id(spark)] = weakref.ref(spark)
        except TypeError:  # pragma: no cover - session not weakref-able
            self.refs.pop(id(spark), None)


# One registration per (session, sf_dir): every query entry point calls
# this, and re-running 10 parquet schema reads per query is pure
# overhead. Registering a DIFFERENT sf_dir invalidates the memo (and
# star-view caching layers above handle their own invalidation).
_BASE_REGISTERED = SessionMemo()


def register_base_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every base table (``TABLES``) as a temp view so both
    the DataFrame and ``spark.sql`` surfaces see the same catalog."""
    if _BASE_REGISTERED.live(spark) == sf_dir:
        return
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    _BASE_REGISTERED.put(spark, sf_dir)


def table_exists(spark: SparkSession, name: str) -> bool:
    """Catalog existence probe (K8: the reference's s3.head_object
    idempotent-skip check, `nyc_ingestion_dag.py:25-30`)."""
    return spark.catalog.tableExists(name)


def ingest_if_absent(spark: SparkSession, name: str, build) -> bool:
    """Idempotent ingestion (K8): run `build()` and register its result
    only when `name` is not already in the catalog. Returns True when
    the ingest ran, False when it was skipped — mirroring the
    reference's skip-if-S3-key-exists task short-circuit."""
    if table_exists(spark, name):
        return False
    build().createOrReplaceTempView(name)
    return True


def collect_stats(
    spark: SparkSession, table: str, columns: list[str] | None = None
) -> dict:
    """Collect table (and optionally column) statistics for the CBO —
    the engine analog of Redshift's automatic table statistics that the
    reference's star-join planning leans on (`README.md:182`
    DISTKEY/SORTKEY + planner stats). With column stats on the join and
    filter keys, Catalyst's cost-based optimizer estimates post-filter
    cardinalities from NDV/min/max instead of falling back to file
    size — which is what lets a filtered-but-large-on-disk dimension
    qualify for a broadcast join (pinned in tests/test_cbo.py).

    Returns ``{"size_bytes": ..., "row_count": ...}`` from the catalog
    after the ANALYZE. Run it after large loads; at 100 TB the column
    scan is itself distributed and AQE-sized."""
    if columns:
        cols = ", ".join(columns)
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS {cols}")
    else:
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")
    (row,) = (
        spark.sql(f"DESCRIBE EXTENDED {table}")
        .filter("col_name = 'Statistics'")
        .collect()
    )
    parts = row["data_type"].split(",")
    out: dict = {}
    for p in parts:
        p = p.strip()
        if p.endswith("bytes"):
            out["size_bytes"] = int(p.split()[0])
        elif p.endswith("rows"):
            out["row_count"] = int(p.split()[0])
    return out
