"""Streaming CDC sink: change events fold micro-batch-wise into a
stored snapshot that remembers seqs and tombstones — so cross-batch
stale updates lose, deletes stay dead, and replaying every batch into
the already-folded target changes nothing."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from adi_226_datawarehouse_project_spark.streaming.cdc_sink import (
    _live_dir,
    apply_cdc_batch,
    read_cdc_snapshot,
)

BASE = "/tmp/spark_graft_io/test_cdc_stream"
SCHEMA = "id INT, name STRING, balance INT, seq INT, op STRING"


def _live(spark):
    return sorted(
        (r["id"], r["name"], r["balance"])
        for r in read_cdc_snapshot(spark, f"{BASE}/target").collect()
    )


@pytest.fixture()
def fresh():
    shutil.rmtree(BASE, ignore_errors=True)
    os.makedirs(BASE)
    yield


def test_stream_folds_and_replay_is_noop(spark, fresh):
    changes = [
        (1, "alice", 100, 1, "I"),
        (2, "bob", 200, 2, "I"),
        (2, "bob", 250, 3, "U"),
        (1, None, None, 4, "D"),
        (3, "carol", 300, 5, "I"),
    ]
    # three micro-batches; bob's insert and update land in different ones
    batches = [
        spark.createDataFrame(rows, SCHEMA)
        for rows in (changes[:2], changes[2:4], changes[4:])
    ]
    for b in batches:
        apply_cdc_batch(spark, b, f"{BASE}/target", ["id"], "seq")
    want = [(2, "bob", 250), (3, "carol", 300)]
    assert _live(spark) == want
    # replay EVERY batch, in reverse order (at-least-once re-delivery of
    # everything): the snapshot must not change
    for b in reversed(batches):
        apply_cdc_batch(spark, b, f"{BASE}/target", ["id"], "seq")
    assert _live(spark) == want


def test_cross_batch_stale_update_loses_and_delete_stays_dead(spark, fresh):
    b1 = spark.createDataFrame(
        [(1, "alice", 100, 10, "I"), (2, "bob", 200, 12, "U"), (3, None, None, 20, "D")],
        SCHEMA,
    )
    apply_cdc_batch(spark, b1, f"{BASE}/target", ["id"], "seq")
    # batch 2 arrives LATER but carries STALE (lower-seq) events
    b2 = spark.createDataFrame(
        [(2, "bob", 111, 11, "U"), (3, "carol", 999, 15, "U")], SCHEMA
    )
    apply_cdc_batch(spark, b2, f"{BASE}/target", ["id"], "seq")
    got = _live(spark)
    # bob keeps the seq-12 value; carol's seq-15 update cannot
    # resurrect the seq-20 tombstone
    assert got == [(1, "alice", 100), (2, "bob", 200)]
    # a genuinely newer update CAN re-create the key
    b3 = spark.createDataFrame([(3, "carol", 1, 25, "I")], SCHEMA)
    apply_cdc_batch(spark, b3, f"{BASE}/target", ["id"], "seq")
    assert _live(spark) == [(1, "alice", 100), (2, "bob", 200), (3, "carol", 1)]


def test_single_batch_idempotent(spark, fresh):
    b = spark.createDataFrame([(1, "a", 1, 1, "I"), (1, "a", 2, 2, "U")], SCHEMA)
    apply_cdc_batch(spark, b, f"{BASE}/target", ["id"], "seq")
    first = _live(spark)
    apply_cdc_batch(spark, b, f"{BASE}/target", ["id"], "seq")
    assert _live(spark) == first == [(1, "a", 2)]
    # the stored snapshot keeps exactly one row per key (no growth)
    stored = spark.read.parquet(_live_dir(f"{BASE}/target"))
    assert stored.count() == 1
    assert stored.groupBy("id").count().filter(F.col("count") > 1).count() == 0


def test_atomic_pointer_publish_crash_and_reader_retention(spark, fresh):
    """Atomic-pointer publication: a crash BEFORE the pointer flip
    leaves an orphan generation the retried batch overwrites; the flip
    itself is atomic; and the generation a reader resolved stays on
    disk across one further publish (retention), so in-flight scans
    never race the writer."""
    t = f"{BASE}/target"
    b1 = spark.createDataFrame(
        [(1, "a", 100, 1, "I"), (2, "b", 200, 1, "I")], schema=SCHEMA
    )
    apply_cdc_batch(spark, b1, t, ["id"], "seq")
    before = _live(spark)

    # simulate a crash after the generation write but BEFORE the flip:
    # an orphan next-generation directory with garbage content
    os.makedirs(f"{t}/gen-000001/junk")
    assert _live(spark) == before  # pointer still names gen-000000

    # the retried batch overwrites the orphan and flips atomically
    b2 = spark.createDataFrame([(2, "b", 250, 2, "U")], schema=SCHEMA)
    apply_cdc_batch(spark, b2, t, ["id"], "seq")
    assert _live(spark) == [(1, "a", 100), (2, "b", 250)]
    assert not os.path.exists(f"{t}/gen-000001/junk")

    # reader retention: resolve the CURRENT generation, publish once
    # more, and the resolved directory must still be fully readable
    held = _live_dir(t)
    b3 = spark.createDataFrame([(3, "c", 10, 1, "I")], schema=SCHEMA)
    apply_cdc_batch(spark, b3, t, ["id"], "seq")
    assert os.path.isdir(held)  # retained for the in-flight reader
    held_rows = sorted(
        (r["id"], r["name"]) for r in spark.read.parquet(held).collect()
    )
    assert held_rows == [(1, "a"), (2, "b")]
    assert _live(spark) == [(1, "a", 100), (2, "b", 250), (3, "c", 10)]

    # and generations beyond the retention window are pruned
    b4 = spark.createDataFrame([(4, "d", 1, 1, "I")], schema=SCHEMA)
    apply_cdc_batch(spark, b4, t, ["id"], "seq")
    gens = sorted(d for d in os.listdir(t) if d.startswith("gen-"))
    assert len(gens) <= 2 and gens[-1] == "gen-000003"


def test_writer_lock_serializes_concurrent_publishers(spark, tmp_path):
    """The single-writer assumption is now ENFORCED: while one writer
    holds the target's lock, a second writer's critical section cannot
    enter (flock blocks across file descriptors). Pins the guard the
    fold path relies on to never lose an update."""
    import fcntl
    import threading
    import time

    from adi_226_datawarehouse_project_spark.streaming.cdc_sink import (
        _writer_lock,
    )

    target = str(tmp_path / "locked_target")
    os.makedirs(target, exist_ok=True)
    entered = threading.Event()

    def second_writer():
        with _writer_lock(target):
            entered.set()

    # hold the lock as "writer one" through an independent descriptor
    with open(os.path.join(target, "_writer.lock"), "w") as fd:
        fcntl.flock(fd, fcntl.LOCK_EX)
        t = threading.Thread(target=second_writer, daemon=True)
        t.start()
        time.sleep(0.5)
        assert not entered.is_set()  # blocked while writer one holds it
        fcntl.flock(fd, fcntl.LOCK_UN)
        assert entered.wait(timeout=10)  # admitted immediately after
        t.join(timeout=10)


def test_fold_under_lock_still_correct_and_lock_released(spark, fresh):
    """apply_cdc_batch now resolves the base pointer INSIDE the writer
    lock; a normal sequential fold is unchanged, and the lock is free
    afterwards (a second immediate fold does not deadlock)."""
    import fcntl

    target = f"{BASE}/target"
    b1 = spark.createDataFrame([(1, "alice", 100, 1, "I"), (2, "bob", 200, 2, "I")], SCHEMA)
    apply_cdc_batch(spark, b1, target, keys=["id"], seq_col="seq")
    b2 = spark.createDataFrame([(1, "alice", 150, 3, "U")], SCHEMA)
    apply_cdc_batch(spark, b2, target, keys=["id"], seq_col="seq")
    assert _live(spark) == [(1, "alice", 150), (2, "bob", 200)]
    # the lock is not held between calls
    with open(os.path.join(target, "_writer.lock"), "w") as fd:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)  # must not raise
        fcntl.flock(fd, fcntl.LOCK_UN)
