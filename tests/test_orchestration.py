"""DAG orchestration semantics (SURVEY §2.12): parallel fan-out with a
true concurrency proof, sync barriers, Airflow-style retries, skip-if,
failure propagation, and the sensor — all in virtual time."""

import threading

import pytest

from adi_226_datawarehouse_project_spark.orchestration import (
    DagTask,
    SensorTimeout,
    TaskResult,
    run_dag,
    wait_for,
)


def test_fanout_wave_runs_concurrently():
    """The reference's `start >> [trigger_airbnb, run_glue_311]`: both
    branches of a wave must be IN FLIGHT at once. Each branch blocks on
    a 2-party barrier — serial execution would deadlock (the barrier
    timeout turns that into a loud failure, not a hang)."""
    barrier = threading.Barrier(2, timeout=10)

    def branch(tag):
        def fn(upstream):
            barrier.wait()  # passes only if the sibling is also running
            return tag

        return fn

    res = run_dag(
        [
            DagTask("start", lambda u: "go"),
            DagTask("airbnb", branch("a"), upstream=["start"]),
            DagTask("complaints", branch("c"), upstream=["start"]),
            DagTask("merge", lambda u: sorted(u.values()), upstream=["airbnb", "complaints"]),
        ]
    )
    assert res["airbnb"].state == res["complaints"].state == "SUCCESS"
    assert res["airbnb"].wave == res["complaints"].wave == 1
    assert res["merge"].value == ["a", "c"]
    assert res["merge"].wave == 2


def test_barrier_orders_waves():
    order = []
    res = run_dag(
        [
            DagTask("a", lambda u: order.append("a")),
            DagTask("b", lambda u: order.append("b"), upstream=["a"]),
            DagTask("c", lambda u: order.append("c"), upstream=["b"]),
        ]
    )
    assert order == ["a", "b", "c"]
    assert [res[n].wave for n in "abc"] == [0, 1, 2]


def test_retries_then_success_with_backoff():
    """Airflow `retries=2, retry_delay=60s` semantics: re-attempts after
    the first try, fixed delay at backoff=1.0, recorded attempts."""
    calls = {"n": 0}
    delays = []

    def flaky(upstream):
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("boom")
        return "ok"

    res = run_dag(
        [DagTask("t", flaky, retries=2, retry_delay_s=60.0)], sleep=delays.append
    )
    assert res["t"].state == "SUCCESS"
    assert res["t"].attempts == 3
    assert delays == [60.0, 60.0]


def test_retries_exhausted_marks_failed_and_propagates():
    def dead(upstream):
        raise RuntimeError("always")

    res = run_dag(
        [
            DagTask("dead", dead, retries=1, retry_delay_s=0.0),
            DagTask("down", lambda u: "never", upstream=["dead"]),
            DagTask("further", lambda u: "never", upstream=["down"]),
            DagTask("independent", lambda u: "ran"),
        ]
    )
    assert res["dead"].state == "FAILED"
    assert res["dead"].attempts == 2
    assert isinstance(res["dead"].error, RuntimeError)
    assert res["down"].state == "UPSTREAM_FAILED"
    assert res["further"].state == "UPSTREAM_FAILED"
    assert res["independent"].state == "SUCCESS"  # other branch unharmed

    # exhaustion keeps the LAST attempt's error; delays grow by backoff
    calls, delays = [], []

    def distinct(upstream):
        calls.append(1)
        raise OSError(f"attempt {len(calls)}")

    res = run_dag(
        [DagTask("d", distinct, retries=2, retry_delay_s=1.0, backoff=2.0)],
        sleep=delays.append,
    )
    assert res["d"].state == "FAILED" and res["d"].attempts == 3
    assert str(res["d"].error) == "attempt 3"
    assert delays == [1.0, 2.0]


def test_skip_if_short_circuits_but_satisfies_downstream():
    """K8 idempotent skip: the skipped task never runs, downstream
    still does and sees None for it."""
    ran = []
    res = run_dag(
        [
            DagTask("ingest", lambda u: ran.append("x") or "new", skip_if=lambda: True),
            DagTask("load", lambda u: ("loaded", u["ingest"]), upstream=["ingest"]),
        ]
    )
    assert res["ingest"].state == "SKIPPED"
    assert ran == []
    assert res["load"].state == "SUCCESS"
    assert res["load"].value == ("loaded", None)


def test_cycle_and_unknown_upstream_raise():
    with pytest.raises(ValueError, match="cycle"):
        run_dag([DagTask("a", lambda u: 1, upstream=["b"]), DagTask("b", lambda u: 1, upstream=["a"])])
    with pytest.raises(ValueError, match="unknown"):
        run_dag([DagTask("a", lambda u: 1, upstream=["ghost"])])
    with pytest.raises(ValueError, match="duplicate"):
        run_dag([DagTask("a", lambda u: 1), DagTask("a", lambda u: 2)])


def test_sensor_pokes_until_true_in_virtual_time():
    """Step-Function status polling: succeed on the Nth poke, never
    touching the real clock."""
    now = {"t": 0.0}
    flips_at = 3

    def clock():
        return now["t"]

    def sleep(s):
        now["t"] += s

    state = {"pokes": 0}

    def probe():
        state["pokes"] += 1
        return state["pokes"] >= flips_at

    pokes = wait_for(probe, timeout_s=300.0, poke_interval_s=30.0, sleep=sleep, clock=clock)
    assert pokes == 3
    assert now["t"] == 60.0  # two sleeps before the success poke


def test_sensor_timeout_raises():
    now = {"t": 0.0}

    def clock():
        return now["t"]

    def sleep(s):
        now["t"] += s

    with pytest.raises(SensorTimeout, match="still false"):
        wait_for(lambda: False, timeout_s=90.0, poke_interval_s=30.0, sleep=sleep, clock=clock)


def test_spark_etl_dag_end_to_end(spark, sf_dir):
    """The reference pipeline shape on real Spark actions: two parallel
    loads (fan-out) → barrier → a join task consuming both results —
    returned DataFrames flow through the DAG result values."""
    from pyspark.sql import functions as F

    from adi_226_datawarehouse_project_spark.sources.catalog import load_table

    def load(table):
        def fn(upstream):
            return load_table(spark, sf_dir, table)

        return fn

    def merge(upstream):
        cust = upstream["load_customer"]
        nat = upstream["load_nation"]
        return (
            cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
            .groupBy("n_name")
            .count()
            .count()
        )

    res = run_dag(
        [
            DagTask("start", lambda u: None),
            DagTask("load_customer", load("customer"), upstream=["start"]),
            DagTask("load_nation", load("nation"), upstream=["start"]),
            DagTask("merge", merge, upstream=["load_customer", "load_nation"]),
        ]
    )
    assert res["merge"].state == "SUCCESS"
    assert res["merge"].value == 25  # TPC-H nation count
    assert isinstance(res["load_customer"], TaskResult)


def test_task_attempts_release_their_pins(spark):
    """Each task attempt owns what it pins: a task that pins and
    succeeds, and one whose first attempt pins and then raises before
    a successful retry, both leave the session's cache at its
    baseline. The two run in one wave, on separate threads."""
    from conftest import pinned

    from adi_226_datawarehouse_project_spark.pin import pin

    base_rdds, base_entries = pinned(spark)
    held = []

    def pins(n_rows, fail_first):
        attempts = []

        def fn(upstream):
            attempts.append(1)
            df = spark.range(n_rows)
            n = pin(df.selectExpr("id * 2 AS x"), truncate=False).count()
            n += pin(df, truncate=True, eager=True).count()
            held.append(pinned(spark))
            if fail_first and len(attempts) == 1:
                raise RuntimeError("transient")
            return n

        return fn

    res = run_dag(
        [
            DagTask("ok", pins(50, fail_first=False)),
            DagTask("flaky", pins(70, fail_first=True), retries=1),
        ]
    )
    assert (res["ok"].state, res["ok"].attempts, res["ok"].value) == ("SUCCESS", 1, 100)
    assert (res["flaky"].state, res["flaky"].attempts, res["flaky"].value) == ("SUCCESS", 2, 140)
    assert len(held) == 3
    assert all(rdds - base_rdds and entries - base_entries for rdds, entries in held)
    rdds, entries = pinned(spark)
    assert rdds <= base_rdds and entries <= base_entries
