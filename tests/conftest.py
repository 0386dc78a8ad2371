import sys
from contextlib import contextmanager
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from adi_226_datawarehouse_project_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def pinned(spark) -> tuple[set, set]:
    """(persistent RDD ids, CacheManager entry identities) of the
    session. Released pins leave a subset of an earlier snapshot (a
    subset, not equal: Spark's ContextCleaner may free older garbage
    pins in between)."""
    jvm = spark.sparkContext._jvm
    cached = spark._jsparkSession.sharedState().cacheManager().cachedData()
    entries = {jvm.System.identityHashCode(cached.apply(i)) for i in range(cached.length())}
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet()), entries


@contextmanager
def checkpoint_dir(spark, path):
    """Set a checkpoint dir for the block only, so lineage-cutting pins
    inside it are reliable checkpoints; later tests must keep the
    localCheckpoint default, so the dir is unset again on exit."""
    sc = spark.sparkContext
    sc.setCheckpointDir(str(path))
    try:
        yield
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))


# Shared base for synthetic events fixtures: divisible by 60s so
# F.window tumbling boundaries (which align to the 1970 epoch, not the
# data's min) land on round offsets.
EVENTS_BASE_US = 1_700_000_040_000_000


def write_events_file(dir_path, name, rows, mtime):
    """Write one parquet part in the events-table schema. ``rows`` are
    (event_id, offset_seconds, user_id, event_type); ``mtime`` orders
    the file for maxFilesPerTrigger replay. Shared by the streaming
    semantics pins (watermark late-drop, dedup eviction, outer join) so
    the six-column schema lives in ONE place."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [EVENTS_BASE_US + r[1] * 1_000_000 for r in rows],
                pa.timestamp("us", tz="UTC"),
            ),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array([None] * len(rows), pa.string()),
        }
    )
    p = os.path.join(str(dir_path), name)
    pq.write_table(tbl, p)
    os.utime(p, (mtime, mtime))
