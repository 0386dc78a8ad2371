"""SCD2 dimension apply: version semantics and idempotency."""

import datetime

from conftest import SF_SMALL
from pyspark.sql import functions as F

from adi_226_datawarehouse_project_spark.operators.scd import scd2_apply
from adi_226_datawarehouse_project_spark.sources.catalog import load_table

BATCH = datetime.date(2025, 6, 1)


def _fixture(spark):
    cust = load_table(spark, SF_SMALL, "customer")
    addr = F.concat(F.lit("addr-"), (F.col("c_custkey") % 97).cast("string"))
    new_addr = F.when(F.col("c_custkey") % 2 == 0, addr).otherwise(
        F.concat(F.lit("addr-new-"), (F.col("c_custkey") % 97).cast("string"))
    )
    dim = cust.filter(F.col("c_custkey") % 5 != 0).select(
        F.col("c_custkey").alias("custkey"),
        addr.alias("address"),
        F.lit(datetime.date(2020, 1, 1)).alias("effective_from"),
        F.lit(datetime.date(9999, 12, 31)).alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    updates = cust.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("custkey"), new_addr.alias("address")
    )
    return dim, updates


def test_scd2_version_semantics(spark):
    dim, updates = _fixture(spark)
    out = scd2_apply(dim, updates, "custkey", "address", BATCH)

    # changed keys (odd, %3=0, %5≠0) now carry exactly two versions:
    # a closed one and a current one whose validity windows chain.
    changed = out.filter(F.col("custkey") % 3 == 0).filter(
        (F.col("custkey") % 2 == 1) & (F.col("custkey") % 5 != 0)
    )
    per_key = changed.groupBy("custkey").agg(
        F.count("*").alias("n"),
        F.sum(F.col("is_current").cast("int")).alias("n_current"),
    )
    bad = per_key.filter((F.col("n") != 2) | (F.col("n_current") != 1)).count()
    assert bad == 0 and per_key.count() > 0

    # brand-new keys (%5=0 ∧ %3=0) exist exactly once, current.
    new_keys = out.filter((F.col("custkey") % 5 == 0) & (F.col("custkey") % 3 == 0))
    assert new_keys.filter(~F.col("is_current")).count() == 0
    assert new_keys.count() == new_keys.select("custkey").distinct().count()

    # every key has exactly one current row.
    dup_current = (
        out.filter("is_current").groupBy("custkey").count().filter("count > 1").count()
    )
    assert dup_current == 0


def test_scd2_reapply_is_noop(spark):
    dim, updates = _fixture(spark)
    once = scd2_apply(dim, updates, "custkey", "address", BATCH)
    twice = scd2_apply(once, updates, "custkey", "address", datetime.date(2025, 7, 1))
    assert sorted(map(tuple, twice.collect())) == sorted(map(tuple, once.collect()))


def test_scd2_null_transitions(spark):
    """NULL→value and value→NULL are real attribute changes: the old
    current row must close and a new version open (null-safe
    inequality; plain != silently drops these)."""
    rows = [
        (1, None),        # NULL -> 'a'   : change
        (2, "keep"),      # 'keep' -> NULL: change
        (3, "same"),      # no-op
    ]
    dim = spark.createDataFrame(rows, "custkey int, address string").select(
        "custkey", "address",
        F.lit(datetime.date(2020, 1, 1)).alias("effective_from"),
        F.lit(datetime.date(9999, 12, 31)).alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    updates = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "same")], "custkey int, address string"
    )
    out = scd2_apply(dim, updates, "custkey", "address", BATCH).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r.custkey, []).append(r)
    # keys 1 and 2 have two versions: a closed one and a new current one
    for key, new_attr in ((1, "a"), (2, None)):
        versions = sorted(by_key[key], key=lambda r: (r.effective_from, r.is_current))
        assert len(versions) == 2, f"key {key}: expected close+reopen, got {versions}"
        closed = [r for r in versions if not r.is_current]
        current = [r for r in versions if r.is_current]
        assert len(closed) == 1 and closed[0].effective_to == BATCH
        assert len(current) == 1 and current[0].address == new_attr
        assert current[0].effective_from == BATCH
    # key 3 untouched
    assert len(by_key[3]) == 1 and by_key[3][0].is_current


def test_same_day_triple_apply_keeps_audit_rows(spark):
    """Three same-day updates to one key: the zero-length closed
    versions created by earlier applies share effective_from with the
    current version, and the old (key, effective_from)-keyed untouched
    leg deleted them from the dimension on the third apply."""
    import datetime

    from adi_226_datawarehouse_project_spark.operators.scd import scd2_apply

    D = datetime.date(2025, 6, 1)
    dim = spark.createDataFrame(
        [(1, "A", datetime.date(2020, 1, 1), datetime.date(9999, 12, 31), True)],
        "k INT, attr STRING, effective_from DATE, effective_to DATE, is_current BOOLEAN",
    )
    for new in ("B", "C", "E"):
        upd = spark.createDataFrame([(1, new)], "k INT, attr STRING")
        dim = scd2_apply(dim, upd, "k", "attr", D)
    rows = sorted(
        (r["attr"], r["is_current"]) for r in dim.collect()
    )
    # v1(A,closed) + B,C closed same-day + E current: nothing lost
    assert rows == [("A", False), ("B", False), ("C", False), ("E", True)]
    assert sum(1 for _, cur in rows if cur) == 1


def test_duplicate_update_keys_raise(spark):
    """Two update rows for one key in a batch is ambiguous and used to
    leave TWO is_current versions; the in-plan guard refuses loudly."""
    import datetime

    import pytest

    from adi_226_datawarehouse_project_spark.operators.scd import scd2_apply

    dim = spark.createDataFrame(
        [(1, "A", datetime.date(2020, 1, 1), datetime.date(9999, 12, 31), True)],
        "k INT, attr STRING, effective_from DATE, effective_to DATE, is_current BOOLEAN",
    )
    upd = spark.createDataFrame([(1, "B"), (1, "C")], "k INT, attr STRING")
    with pytest.raises(Exception, match="duplicate update rows"):
        scd2_apply(dim, upd, "k", "attr", datetime.date(2025, 6, 1)).collect()


def test_update_reactivates_fully_closed_key(spark):
    """A key whose versions are ALL closed (external soft-delete) used
    to match neither leg — its update vanished silently. It must
    reactivate as a new current version from batch_date."""
    import datetime

    from adi_226_datawarehouse_project_spark.operators.scd import scd2_apply

    dim = spark.createDataFrame(
        [(1, "A", datetime.date(2020, 1, 1), datetime.date(2024, 1, 1), False)],
        "k INT, attr STRING, effective_from DATE, effective_to DATE, is_current BOOLEAN",
    )
    upd = spark.createDataFrame([(1, "B")], "k INT, attr STRING")
    out = scd2_apply(dim, upd, "k", "attr", datetime.date(2025, 6, 1))
    rows = {(r["attr"], r["is_current"]) for r in out.collect()}
    assert rows == {("A", False), ("B", True)}
