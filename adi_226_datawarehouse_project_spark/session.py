"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` but every default here is chosen to
also hold on a multi-executor cluster: AQE on (runtime shuffle-partition
coalescing, skew-join splitting), shuffle partitions sized explicitly,
UTC session timezone (so results are reproducible and comparable to the
DuckDB oracle), and Arrow enabled for the pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

def _is_live(session: SparkSession | None) -> bool:
    """True when the session's SparkContext is still usable. Mirrors
    builder.getOrCreate's own reuse guard (it skips a session whose
    ``_sc._jsc`` is gone): a caller that stopped the context directly
    via ``sc.stop()`` leaves ``SparkSession._instantiatedSession`` set,
    and returning that corpse would fail on first use with a JVM-side
    'SparkContext was shut down' instead of a fresh session here."""
    if session is None:
        return False
    try:
        sc = session._sc
        return sc is not None and sc._jsc is not None and not sc._jsc.sc().isStopped()
    except Exception:
        return False


def get_spark(
    app_name: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Scale posture: on a real cluster only ``master`` and memory sizing
    change; the SQL configs below are scale-independent (AQE re-plans
    shuffle parallelism at runtime from actual map-output sizes).

    If a LIVE session already exists in this process it is returned
    UNCHANGED: builder.getOrCreate APPLIES every .config to the session
    it reuses, so a second get_spark() call would silently flip shuffle
    partitions / ANSI mode / cache compression mid-run on a shared
    session (e.g. the harness driver's ansi=true session) — the same
    conf-mutation bug class fixed twice elsewhere in this repo. The
    check covers both the thread-local active session and the
    process-wide default (getActiveSession() alone is None on worker
    threads, and this codebase runs tasks on a ThreadPool). A stopped
    session is NOT reused (see ``_is_live``). When the caller passed
    explicit settings that reuse must ignore, a warning says so
    instead of silently dropping them."""
    existing = SparkSession.getActiveSession()
    if not _is_live(existing):
        existing = getattr(SparkSession, "_instantiatedSession", None)
    if _is_live(existing):
        ignored = [
            name
            for name, val in (
                ("app_name", app_name),
                ("shuffle_partitions", shuffle_partitions),
                ("extra_conf", extra_conf),
            )
            if (val if name == "extra_conf" else val is not None)
        ]
        if ignored:
            import warnings

            warnings.warn(
                "get_spark: reusing the existing live SparkSession; "
                f"explicitly passed {', '.join(ignored)} NOT applied "
                "(reconfiguring a shared session mid-run is the bug "
                "this guard exists to prevent)",
                RuntimeWarning,
                stacklevel=2,
            )
        return existing
    app_name = app_name or "adi_226_datawarehouse_project_spark"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Cached-relation build cost is dominated by dictionary/RLE
        # encoding of high-cardinality string columns; with ample
        # executor memory the encode CPU outweighs the space saved
        # (measured: warehouse materialization 23s → 13s at sf0.1).
        # The warehouse size probe (model/star.resolve_warehouse_policy)
        # picks the cache layout only when the UNCOMPRESSED cache fits
        # the heap; larger corpora get the parquet zone instead.
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        # ANSI off: the engine's cleaning layer relies on null-on-error
        # cast semantics (reference TRY_CAST behavior); explicit
        # try_* functions are still used where intent matters.
        .config("spark.sql.ansi.enabled", "false")
        # RocksDB state store: the default HDFS-backed provider keeps
        # every stateful-streaming key (sessionization state, stream-
        # stream join buffers, dedup watermark state) in executor HEAP —
        # at 100× scale that's an OOM, not a slowdown. RocksDB spills
        # state to local disk with bounded memory and ships with Spark
        # (no extra dependency); changelog checkpointing keeps commit
        # cost proportional to the delta, not the store size.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        .config("spark.ui.enabled", "false")
        # Generated-class cache (a static conf). Spark's default of 100
        # classes is smaller than one `text_dedup` round, which compiles
        # about 190, so every round recompiled every class: about 2.0 s
        # of Janino time in a 12.6 s window, plus JIT warm-up of the
        # fresh classes. `star_queries` compiles 108 classes in its
        # build plus about 270 per round. An entry averages about 8.4 KB
        # of generated source plus 2.7 KB per class, so 1000 entries
        # hold both working sets in roughly 10-20 MB of driver heap.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
