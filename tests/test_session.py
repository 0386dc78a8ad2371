"""Session-factory contracts: get_spark must never rewrite a live
session's runtime confs, and never hands back a stopped session."""

import pytest

from adi_226_datawarehouse_project_spark.session import get_spark


def test_get_spark_returns_existing_session_unchanged(spark):
    """builder.getOrCreate APPLIES every .config to a reused session —
    a second get_spark() call used to silently flip shuffle partitions
    / ANSI / cache compression mid-run on the shared session (the
    driver's verify session runs ansi=true, 200 shuffle partitions).
    With a session alive, get_spark must hand it back untouched."""
    key = "spark.sql.shuffle.partitions"
    ckey = "spark.sql.inMemoryColumnarStorage.compressed"
    prev, cprev = spark.conf.get(key), spark.conf.get(ckey)
    try:
        spark.conf.set(key, "7")
        # the opposite of the builder's constant "false", so a re-applied
        # builder conf would show
        spark.conf.set(ckey, "true")
        s2 = get_spark(shuffle_partitions=99)
        assert s2 is spark
        assert spark.conf.get(key) == "7"  # not 99, not re-defaulted
        assert spark.conf.get(ckey) == "true"
    finally:
        spark.conf.set(key, prev)
        spark.conf.set(ckey, cprev)


def test_get_spark_warns_when_explicit_args_ignored(spark):
    """Reuse must not be SILENT about dropping explicitly passed
    settings: the caller asked for a conf the live session won't get."""
    with pytest.warns(RuntimeWarning, match="shuffle_partitions"):
        assert get_spark(shuffle_partitions=99) is spark


def test_get_spark_no_warning_on_default_args(spark, recwarn):
    """A bare get_spark() reusing the live session is the intended
    fast path — no warning noise."""
    assert get_spark() is spark
    assert not [w for w in recwarn if issubclass(w.category, RuntimeWarning)]


def test_is_live_rejects_stopped_or_absent_contexts(spark):
    """getOrCreate checks context liveness before reusing; get_spark
    must too — sc.stop() leaves SparkSession._instantiatedSession set,
    and handing back that corpse fails on first use instead of
    building a fresh session."""
    from adi_226_datawarehouse_project_spark.session import _is_live

    class _DeadSC:
        _jsc = None

    class _DeadSession:
        _sc = _DeadSC()

    class _Exploding:
        @property
        def _sc(self):
            raise RuntimeError("gateway gone")

    assert _is_live(spark)
    assert not _is_live(None)
    assert not _is_live(_DeadSession())
    assert not _is_live(_Exploding())


def test_codegen_cache_holds_a_text_round(spark):
    """One text round compiles about 190 classes, above Spark's default
    100-entry generated-class cache. The session holds more: after 150
    distinct one-literal projections the first one is still cached, so
    re-running it compiles nothing."""
    from adi_226_datawarehouse_project_spark.measure import codegen_compiles

    def project(i):
        spark.range(4).selectExpr(f"id * {i + 100_003} AS v").collect()

    before = codegen_compiles(spark)
    for i in range(150):
        project(i)
    assert codegen_compiles(spark) - before >= 150  # each one compiled
    before = codegen_compiles(spark)
    project(0)
    assert codegen_compiles(spark) == before
