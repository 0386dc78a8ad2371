"""Driver-contract smoke tests for __spark_entry__."""

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_SMALL = "/root/testdata/sf0.001"


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["borough", "total_complaints", "percentage"]


def test_every_query_has_oracle(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # the declared CORRECTNESS surface: 10 goldens + 40 operator
    # queries — the driver's 50-query CORRECTNESS budget is now FULL
    # (round 13 spent the banked slot on stream_session_window, the
    # order-robust sessionize gate per VERDICT r12 #1); any future
    # query lands as a suite part per COVERAGE.md's headroom policy
    # (the round-6/7 fold-ins merged the window family,
    # distinct/dedup, date functions, events sessionize/tumbling,
    # asof/range joins, and the two text-feature families into
    # tag-union suites; round 10 folded the pivot into
    # op_groupby_shapes_suite)
    assert len(qs) == 50
    assert set(oracles) == set(qs)


def test_all_query_plans_build_against_current_testdata(spark):
    """Pre-flight drift gate: every declared query must at least build a
    plan (full analysis incl. the events-ts layout adaptivity) against
    the CURRENT driver-generated fixtures, so a generator-side layout
    change fails here in pytest instead of in the driver's CORRECTNESS
    run. Streaming entries execute eagerly inside queries() — building
    the frame is the same exposure."""
    failures = []
    for name, fn in entrymod.queries().items():
        try:
            fn(spark, SF_SMALL).explain(extended=False)
        except Exception as e:  # noqa: BLE001 - collecting all failures
            failures.append(f"{name}: {type(e).__name__}: {e}")
    assert not failures, "\n".join(failures)


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql()))
def test_all_oracles_parse_in_duckdb(name):
    """Every oracle must at least PREPARE against the current parquet
    layout in DuckDB (catches dialect typos and fixture-schema drift
    without paying full execution here — the sf0.01 execution pass is
    the driver's job)."""
    con = duckdb.connect()
    for t in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet')"
        )
    con.execute(f"PREPARE __q AS {entrymod.oracle_sql()[name]}")


def test_pivot_part_handles_null_orderdate(spark, tmp_path):
    """Adversarial fixture: orders containing NULL o_orderdate. Spark's
    groupBy(year).pivot() emits a real NULL-year row, so the suite
    oracle's year-grid join must be null-safe (IS NOT DISTINCT FROM) —
    the round-10 review caught the equality join zeroing that row's
    counts (a false hash-mismatch waiting for the first NULL date)."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    from oracle_harness import compare_query

    sf = str(tmp_path / "sfnull")
    shutil.copytree(SF_SMALL, sf)
    orig = f"{sf}/orders.parquet"
    t = pq.read_table(orig)
    extra = t.slice(0, 3).to_pydict()
    extra["o_orderdate"] = [None, None, None]
    extra["o_orderstatus"] = ["F", "O", "P"]
    part_dir = f"{sf}/orders_dir.parquet"
    import os

    os.makedirs(part_dir)
    shutil.move(orig, f"{part_dir}/part-0.parquet")
    pq.write_table(
        pa.Table.from_pydict(extra, schema=t.schema), f"{part_dir}/part-1.parquet"
    )
    os.rename(part_dir, orig)

    name = "op_groupby_shapes_suite"
    res = compare_query(
        spark, entrymod.queries()[name], entrymod.oracle_sql()[name], sf, name
    )
    assert res["oracle"] == "match"
    # The scenario must actually be exercised: the pivot part reports
    # the NULL-year group with its true per-status counts.
    df = entrymod.queries()[name](spark, sf)
    null_year = df.filter(
        "part = 'pivot_status' AND region IS NULL AND n_customers = 1"
    )
    assert null_year.count() == 3
