"""Source readers / sink writers (SURVEY §2.1)."""

import os

from conftest import SF_SMALL

from pyspark.sql import functions as F

from adi_226_datawarehouse_project_spark.sources.catalog import load_table
from adi_226_datawarehouse_project_spark.sources.readers import (
    read_csv,
    read_json,
    read_json_with_csv_fallback,
    read_parquet,
)
from adi_226_datawarehouse_project_spark.sources.writers import (
    write_csv,
    write_json,
    write_parquet,
)

TMP = "/tmp/spark_graft_io_tests"


def test_csv_roundtrip_values(spark):
    nation = load_table(spark, SF_SMALL, "nation")
    path = f"{TMP}/nation_csv"
    write_csv(nation, path)
    back = read_csv(spark, path)
    orig = {(r["n_nationkey"], r["n_name"]) for r in nation.collect()}
    got = {(r["n_nationkey"], r["n_name"]) for r in back.collect()}
    assert got == orig


def test_multiline_json_array_file(spark, tmp_path):
    p = tmp_path / "arr.json"
    p.write_text('[{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]')
    df = read_json(spark, str(p), multiline=True)
    assert sorted((r["a"], r["b"]) for r in df.collect()) == [(1, "x"), (2, "y")]


def test_json_fallback_to_csv(spark, tmp_path):
    p = tmp_path / "actually.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    df = read_json_with_csv_fallback(spark, str(p), expected_cols=["a", "b", "pad_me"])
    rows = sorted((r["a"], r["b"], r["pad_me"]) for r in df.collect())
    assert rows == [(1, "x", None), (2, "y", None)]


def test_partitioned_write_layout_and_pruning(spark):
    li = load_table(spark, SF_SMALL, "lineitem").withColumn("ship_year", F.year("l_shipdate"))
    path = f"{TMP}/lineitem_by_year"
    write_parquet(li, path, partition_by=["ship_year"])
    # hive-style year directories on disk
    years = {d for d in os.listdir(path) if d.startswith("ship_year=")}
    assert len(years) >= 3
    back = read_parquet(spark, path).filter(F.col("ship_year") == 1996)
    want = li.filter(F.col("ship_year") == 1996).count()
    assert back.count() == want
    # partition pruning visible in the scan
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "ship_year" in plan.split("PartitionFilters")[1][:120]


def test_json_sink_roundtrip(spark):
    cust = load_table(spark, SF_SMALL, "customer").select("c_custkey", "c_mktsegment")
    path = f"{TMP}/cust_json"
    write_json(cust, path)
    back = read_json(spark, path, multiline=False)
    assert back.count() == cust.count()


def test_single_file_knob(spark):
    nation = load_table(spark, SF_SMALL, "nation")
    path = f"{TMP}/nation_single"
    write_parquet(nation, path, single_file=True)
    parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(parts) == 1


def test_ingest_if_absent_is_idempotent(spark):
    from adi_226_datawarehouse_project_spark.sources.catalog import (
        ingest_if_absent,
        table_exists,
    )

    calls = []

    def build():
        calls.append(1)
        return load_table(spark, SF_SMALL, "region")

    spark.catalog.dropTempView("k8_region") if table_exists(spark, "k8_region") else None
    assert ingest_if_absent(spark, "k8_region", build) is True
    assert ingest_if_absent(spark, "k8_region", build) is False
    assert len(calls) == 1  # second call skipped the build entirely
    assert spark.table("k8_region").count() == 5


def test_run_manifest_nested_struct_roundtrip(spark, tmp_path):
    """§1.2 nested struct row: the manifest's inputs/outputs/stats must
    come back as STRUCT columns with the written values intact."""
    from adi_226_datawarehouse_project_spark.sources.writers import (
        read_run_manifest,
        write_run_manifest,
    )

    from pyspark.sql import types as T

    path = str(tmp_path / "manifest")
    write_run_manifest(
        spark,
        path,
        job_name="job_x",
        run_utc="2026-02-03T04:05:06Z",
        inputs={"complaints": "s3://raw/311/", "airbnb": "s3://raw/airbnb/"},
        outputs={"joined": "s3://gold/joined/"},
        stats={"n_rows": 12345},
    )
    m = read_run_manifest(spark, path)
    assert isinstance(m.schema["inputs"].dataType, T.StructType)
    assert isinstance(m.schema["stats"].dataType, T.StructType)
    (r,) = m.collect()
    assert r["job_name"] == "job_x"
    assert r["inputs"]["airbnb"] == "s3://raw/airbnb/"
    assert r["inputs"]["complaints"] == "s3://raw/311/"
    assert r["outputs"]["joined"] == "s3://gold/joined/"
    assert r["stats"]["n_rows"] == 12345


def test_run_manifest_empty_stats_omits_field(spark, tmp_path):
    """An empty/omitted stats dict must omit the field entirely: an
    empty struct serializes as '"stats":{}' and JSON inference on
    read-back drops or mistypes it — absent is the well-defined shape."""
    from adi_226_datawarehouse_project_spark.sources.writers import (
        read_run_manifest,
        write_run_manifest,
    )

    path = str(tmp_path / "manifest_nostats")
    write_run_manifest(
        spark,
        path,
        job_name="job_y",
        run_utc="2026-02-03T04:05:06Z",
        inputs={"a": "s3://raw/a/"},
        outputs={"o": "s3://gold/o/"},
    )
    m = read_run_manifest(spark, path)
    assert "stats" not in m.columns
    (r,) = m.collect()
    assert r["job_name"] == "job_y"
    assert r["inputs"]["a"] == "s3://raw/a/"
    assert r["outputs"]["o"] == "s3://gold/o/"


def test_events_load_from_directory_table(spark, tmp_path):
    """Spark-WRITTEN events tables are directories of part files; the
    layout-adaptive loader must probe the ts schema through the
    directory (not just driver-generated single-file layouts)."""
    from pyspark.sql import types as T

    from adi_226_datawarehouse_project_spark.sources.catalog import (
        events_ts_storage,
        load_table,
    )
    from tests.conftest import SF_SMALL

    src = load_table(spark, SF_SMALL, "events")
    out = tmp_path / "rewritten"
    src.write.parquet(str(out / "events.parquet"))
    assert events_ts_storage(str(out / "events.parquet")) in (
        "nanos", "ntz", "timestamp",
    )
    df = load_table(spark, str(out), "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    assert df.count() == src.count()


def test_events_probe_handles_hive_partitioned_directory(spark, tmp_path):
    """A hive-partitioned events table (writers.py's partition_by gold
    layout) keeps its part files under key=value subdirectories — the
    ts-layout probe must recurse instead of raising FileNotFoundError
    on a directory Spark reads fine."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from adi_226_datawarehouse_project_spark.sources.catalog import (
        events_ts_storage,
        load_table,
    )
    from tests.conftest import SF_SMALL

    src = load_table(spark, SF_SMALL, "events").withColumn(
        "y", F.year("ts")
    )
    out = tmp_path / "events.parquet"
    src.write.partitionBy("y").parquet(str(out))
    assert events_ts_storage(str(out)) in ("nanos", "ntz", "timestamp")
    df = load_table(spark, str(tmp_path), "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    assert df.count() == src.count()


def test_base_view_memo_survives_session_id_reuse(spark):
    """_BASE_REGISTERED keys on id(spark); CPython reuses addresses, so
    a stale entry from a garbage-collected session must NOT satisfy a
    new session at the same address — the shared weakref identity check
    (SessionMemo.live) forces re-registration (a false hit fails every
    query with TABLE_OR_VIEW_NOT_FOUND)."""
    from adi_226_datawarehouse_project_spark.sources import catalog
    from tests.conftest import SF_SMALL

    key = id(spark)
    saved = (catalog._BASE_REGISTERED.get(key), catalog._BASE_REGISTERED.refs.get(key))
    try:
        spark.catalog.dropTempView("nation")
        # Simulate id reuse: memo matches, but the ref points elsewhere
        # (a dead session object would give ref() is None — same miss).
        catalog._BASE_REGISTERED[key] = SF_SMALL
        other = type("NotThisSession", (), {})()
        catalog._BASE_REGISTERED.refs[key] = __import__("weakref").ref(other)
        catalog.register_base_views(spark, SF_SMALL)
        assert spark.catalog.tableExists("nation")
        assert catalog._BASE_REGISTERED.refs[key]() is spark
    finally:
        if saved[0] is not None:
            catalog._BASE_REGISTERED[key] = saved[0]
        if saved[1] is not None:
            catalog._BASE_REGISTERED.refs[key] = saved[1]


def test_run_manifest_empty_inputs_omits_field(spark, tmp_path):
    """Empty inputs/outputs get the same absent-field semantics as
    stats: an empty struct serializes as {} and breaks JSON schema
    inference on read-back."""
    from adi_226_datawarehouse_project_spark.sources.writers import (
        read_run_manifest,
        write_run_manifest,
    )

    p = str(tmp_path / "manifest")
    write_run_manifest(
        spark, p, "job", "2026-01-01T00:00:00Z",
        inputs={}, outputs={"gold": "/g"},
    )
    back = read_run_manifest(spark, p)
    assert "inputs" not in back.schema.fieldNames()
    assert back.select("outputs.gold").collect()[0][0] == "/g"


def test_single_file_with_partition_by_raises(spark, tmp_path):
    """The combination is the worst of both knobs: one file per
    partition directory written through one task."""
    import pytest

    from adi_226_datawarehouse_project_spark.sources.catalog import load_table
    from adi_226_datawarehouse_project_spark.sources.writers import write_parquet
    from tests.conftest import SF_SMALL

    df = load_table(spark, SF_SMALL, "nation")
    with pytest.raises(ValueError, match="single_file"):
        write_parquet(
            df, str(tmp_path / "x"), partition_by=["n_regionkey"], single_file=True
        )


def test_compact_table_inplace_guard_resolves_paths(spark, tmp_path):
    """The in-place guard must compare REAL paths: '/z' vs '/z/../z'
    previously slipped past the literal compare and only failed later
    inside Spark, after the size-probe job ran."""
    import pytest

    from adi_226_datawarehouse_project_spark.sources.writers import compact_table

    zone = tmp_path / "zone"
    spark.range(10).write.parquet(str(zone))
    sneaky = str(tmp_path / "other" / ".." / "zone")
    with pytest.raises(ValueError, match="out_path must differ"):
        compact_table(spark, str(zone), sneaky)


def _write_pq(path, **cols):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), str(path))


def _load_jobs(spark, group, sf_dir, name):
    """(frame, jobs submitted) of one load_table call, jobs counted
    once the listener bus has caught up with them."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df = load_table(spark, sf_dir, name)
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_infers_file_schema_once(spark, tmp_path):
    """Schema inference is a Spark job; an unchanged file's second load
    reuses the first load's schema (StructField equality includes
    nullability) and submits no job at all."""
    _write_pq(tmp_path / "t.parquet", k=[1, 2, None], s=["a", None, "c"])
    first, jobs1 = _load_jobs(spark, "schema_memo_miss", str(tmp_path), "t")
    second, jobs2 = _load_jobs(spark, "schema_memo_hit", str(tmp_path), "t")
    assert jobs1 >= 1
    assert jobs2 == 0
    inferred = spark.read.parquet(str(tmp_path / "t.parquet")).schema
    assert second.schema == first.schema == inferred
    assert set(map(tuple, second.collect())) == {(1, "a"), (2, None), (None, "c")}


def test_load_table_sees_in_place_rewrite(spark, tmp_path):
    """A file rewritten in place with a new column is re-inferred on the
    next load, not read through the stale memo schema."""
    path = tmp_path / "t.parquet"
    _write_pq(path, k=[1, 2])
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]
    _write_pq(path, k=[1, 2], extra=["x", "y"])
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "extra"]
    assert sorted(r["extra"] for r in df.collect()) == ["x", "y"]


def test_load_table_schema_follows_inference_confs(spark, tmp_path):
    """The inferred type of an unannotated parquet BINARY column depends
    on spark.sql.parquet.binaryAsString, so flipping it re-infers."""
    from pyspark.sql import types as T

    _write_pq(tmp_path / "t.parquet", b=[b"ab", b"cd"])
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert isinstance(load_table(spark, str(tmp_path), "t").schema["b"].dataType, T.BinaryType)
        spark.conf.set(key, "true")
        df = load_table(spark, str(tmp_path), "t")
        assert isinstance(df.schema["b"].dataType, T.StringType)
        assert sorted(r["b"] for r in df.collect()) == ["ab", "cd"]
    finally:
        spark.conf.set(key, prev)
