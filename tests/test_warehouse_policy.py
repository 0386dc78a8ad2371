"""Warehouse layouts: the size probe (uncompressed input bytes ×
_CACHE_EXPANSION vs the heap) picks `cache` or `parquet`, and both
layouts must produce IDENTICAL golden-query results — the layout is
pure physical strategy (where the derived zones live), never
semantics. The memo is keyed by the FULL (sf_dir, policy, zone)
layout, so a mid-session layout change rebuilds through the PUBLIC
API (no private `_REGISTERED` pops); the parquet zone hive-partitions
the facts (daily date-key for fact_311 → DPP on the dim_date goldens;
scrape-year for fact_airbnb). Tests force a layout by stubbing the
probe (`_probe_input_bytes`) and the heap (`_heap_bytes`)."""

import glob

import pytest
from pyspark.sql import functions as F

from adi_226_datawarehouse_project_spark.model import star

SF = "/root/testdata/sf0.001"
GOLDENS = (
    "g01_complaints_by_borough_pct",
    "g07_airbnb_complaint_ratio",
    "g09_quarterly_trend",
)


def _force_layout(monkeypatch, layout):
    """Stub the probe so resolve_warehouse_policy returns `layout`."""
    n = 1 if layout == "cache" else 1 << 40
    monkeypatch.setattr(star, "_probe_input_bytes", lambda _sf, _spark=None: n)
    monkeypatch.setattr(star, "_heap_bytes", lambda _s: 1 << 30)


def _fingerprints(spark):
    import __spark_entry__ as entry

    out = {}
    for g in GOLDENS:
        df = entry.queries()[g](spark, SF)
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h"),
        ).collect()[0]
        out[g] = (int(row["n"]), int(row["h"] or 0))
    return out


def test_policy_flip_lifecycle(spark, monkeypatch, tmp_path):
    """cache → parquet → cache, flipped ONLY via the probe's answer +
    materialize_warehouse: every flip must rebuild (the old memo keyed
    by sf_dir alone made this a silent no-op) and serve identical
    goldens; the parquet zone must be fact-partitioned and DPP-active."""
    zone = str(tmp_path / "zone")
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", zone)
    _force_layout(monkeypatch, "cache")
    star.materialize_warehouse(spark, SF)
    assert star._REGISTERED[id(spark)] == (SF, "cache", None)
    # One inventory: the waves name every star table exactly once, and
    # the cache layout caches each of them.
    flat = [t for wave in star._REGISTER_WAVES for t in wave]
    assert sorted(flat) == sorted(star.STAR_TABLES)
    uncached = [t for t in star.STAR_TABLES if not spark.catalog.isCached(t)]
    assert not uncached, uncached
    want = _fingerprints(spark)

    _force_layout(monkeypatch, "parquet")
    threshold_key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    threshold_before = spark.conf.get(threshold_key)
    star.materialize_warehouse(spark, SF)
    # The build-time listing lift must be restored exactly once: the old
    # per-thread set/restore let one concurrent fact writer capture the
    # other's lifted value as "prev" and leave 100000 behind.
    assert spark.conf.get(threshold_key) == threshold_before
    assert star._REGISTERED[id(spark)] == (SF, "parquet", zone)
    # Facts are hive-partitioned: fact_311 by its DATE KEY (daily —
    # the join key of every dim_date golden, so DPP can prune), the
    # airbnb fact by derived scrape year (pipeline-aligned layout).
    assert glob.glob(f"{zone}/fact_311_complaint/created_date_key=*")
    assert glob.glob(f"{zone}/fact_airbnb_listings/scrape_year_part=*")
    assert _fingerprints(spark) == want
    # DPP evidence on a golden: g09's dim_date year filter must inject
    # a runtime pruning subquery into the fact scan.
    import __spark_entry__ as entry

    g09 = entry.queries()["g09_quarterly_trend"](spark, SF)
    plan = g09._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan

    # Flip back to cache: leaves no zone-backed views behind (the
    # tmp_path zone is deleted when this test ends).
    _force_layout(monkeypatch, "cache")
    star.materialize_warehouse(spark, SF)
    assert star._REGISTERED[id(spark)] == (SF, "cache", None)
    assert _fingerprints(spark) == want

    # The medallion pipeline's staging, dim and fact tasks are waves 2,
    # 3 and 4, in order (its DAG is built, not run).
    from adi_226_datawarehouse_project_spark.pipelines import warehouse_pipeline as wp

    monkeypatch.setattr(wp, "register_star_views", lambda *_: None)
    monkeypatch.setattr(wp, "run_dag", lambda tasks: {t.name: t for t in tasks})
    tasks = wp.run_warehouse_pipeline(spark, SF, str(tmp_path / "pipeline"))
    _, staging, dims, facts = star._REGISTER_WAVES

    def waiting_on(upstream):
        return tuple(n for n, t in tasks.items() if t.upstream == list(upstream))

    assert waiting_on(["start"]) == staging
    assert waiting_on(["validate_staging"]) == dims
    assert waiting_on(dims) == facts


def test_auto_policy_matches_measured_operating_points(spark, monkeypatch):
    """The probe rule must reproduce the round-9 measured table
    (measurements/wh_policy_x{128,256}.jsonl): cache at ≤128× with the
    prescribed heaps, parquet at 256×."""
    gb = 1 << 30
    # Probe values are UNCOMPRESSED input bytes (round-10: parquet
    # footers, ≈1.35× the disk bytes the round-9 matrix was keyed on).
    cases = [
        (int(0.015 * gb), 1 * gb, "cache"),  # sf0.1 inputs, default heap
        (int(1.9 * gb), 48 * gb, "cache"),  # 128× @ 48g: cache wins
        (int(3.8 * gb), 64 * gb, "parquet"),  # 256× @ 64g: zone wins
    ]
    for n, heap, expect in cases:
        monkeypatch.setattr(star, "_probe_input_bytes", lambda _sf, _spark=None, n=n: n)
        monkeypatch.setattr(star, "_heap_bytes", lambda _s, h=heap: h)
        assert star.resolve_warehouse_policy(spark, SF) == expect, (n, heap)
    # Unknown input size (the probe cannot see the corpus) → the
    # BOUNDED direction: caching 14 tables of an unsizable corpus is
    # the failure mode the feature exists to prevent (VERDICT r10 #2).
    monkeypatch.setattr(star, "_probe_input_bytes", lambda _sf, _spark=None: None)
    assert star.resolve_warehouse_policy(spark, SF) == "parquet"


def test_probe_reads_real_input_sizes(spark):
    n = star._probe_input_bytes(SF)
    assert n is not None and n > 0
    # The probe reads UNCOMPRESSED footer bytes, so it must exceed the
    # snappy on-disk size of the same inputs.
    import os

    disk = sum(
        os.path.getsize(os.path.join(SF, t)) for t in star._POLICY_PROBE_INPUTS
    )
    assert n > disk
    assert star._probe_input_bytes("/nonexistent/sf") is None
    assert star.resolve_warehouse_policy(spark, SF) in ("cache", "parquet")


def test_probe_is_compression_invariant(tmp_path):
    """The ADVICE-note scenario: a wide, highly-compressible string
    corpus. A file-size probe under-predicts the cache footprint by the
    compression ratio and flips to parquet too LATE (the unsafe,
    evict-under-pressure direction); the footer probe must report the
    uncompressed bytes regardless of how well the data compressed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # 2,000 rows × ~2 kB of UNIQUE low-entropy text (the realistic web
    # corpus shape): every value is distinct, so parquet's dictionary
    # encoding can't collapse it and the footer's total_byte_size stays
    # ≈ the logical size — while snappy compresses the pages ~50×,
    # which is exactly the gap a file-size probe gets wrong. (A fully
    # CONSTANT column would be dictionary-collapsed before the codec
    # runs and under-read by this probe too — but then the cache's own
    # dictionary encoding shrinks it identically, so the prediction
    # error cancels where it matters.)
    wide = pa.table(
        {"s": ["x" * 2000 + str(i) for i in range(2000)], "k": list(range(2000))}
    )
    for name in star._POLICY_PROBE_INPUTS:
        pq.write_table(wide, tmp_path / name, compression="snappy")
    import os

    disk = sum(
        os.path.getsize(tmp_path / name) for name in star._POLICY_PROBE_INPUTS
    )
    unc = star._probe_input_bytes(str(tmp_path))
    assert unc is not None and unc >= 5 * disk, (unc, disk)
    # Directory-table form: split the same data into parts; the sampled
    # footer estimate must land within 2× of the single-file figure.
    part_dir = tmp_path / "dir_case"
    for name in star._POLICY_PROBE_INPUTS:
        d = part_dir / name
        d.mkdir(parents=True)
        for i in range(4):
            pq.write_table(wide.slice(i * 500, 500), d / f"part-{i}.parquet")
    unc_dir = star._probe_input_bytes(str(part_dir))
    assert unc_dir is not None and unc / 2 <= unc_dir <= unc * 2, (unc, unc_dir)


def test_query_path_consults_policy(spark, monkeypatch, tmp_path):
    """The driver's registry queries never call materialize_warehouse —
    register_star_views itself must route a parquet-resolved corpus to
    the zone build instead of unconditionally cacheTable-ing a warehouse
    the heap can't hold (round-10 review finding)."""
    zone = str(tmp_path / "qzone")
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", zone)
    gb = 1 << 30
    monkeypatch.setattr(star, "_probe_input_bytes", lambda _sf, _spark=None: 4 * gb)
    monkeypatch.setattr(star, "_heap_bytes", lambda _s: 16 * gb)
    star._REGISTERED.pop(id(spark), None)
    spark.catalog.clearCache()
    try:
        star.register_star_views(spark, SF)  # the query path
        assert star._REGISTERED[id(spark)] == (SF, "parquet", zone)
        import glob as _glob

        assert _glob.glob(f"{zone}/fact_311_complaint/created_date_key=*")
    finally:
        spark.catalog.clearCache()
        star._REGISTERED.pop(id(spark), None)


def test_probe_refreshes_when_inputs_change(tmp_path):
    """A corpus rewritten IN PLACE (e.g. an in-progress replication at
    the same path) must be re-probed instead of serving a stale byte
    count into the policy decision (round-10 tail-review finding)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    small = pa.table({"s": ["a" * 100 + str(i) for i in range(50)]})
    big = pa.table({"s": ["b" * 4000 + str(i) for i in range(5000)]})
    for name in star._POLICY_PROBE_INPUTS:
        pq.write_table(small, tmp_path / name)
    n_small = star._probe_input_bytes(str(tmp_path))
    assert n_small is not None and n_small > 0
    # Same result on a repeat consult while the files are untouched.
    assert star._probe_input_bytes(str(tmp_path)) == n_small
    for name in star._POLICY_PROBE_INPUTS:
        pq.write_table(big, tmp_path / name)
    n_big = star._probe_input_bytes(str(tmp_path))
    assert n_big is not None and n_big > 10 * n_small, (n_small, n_big)


def test_query_path_probes_once(spark, monkeypatch):
    """The probe reads the footers on every consult, so consults must
    stay off the per-query path: a cold registration probes once, and
    golden queries served from the memo never probe again."""
    import __spark_entry__ as entry
    from adi_226_datawarehouse_project_spark.plans.golden import GOLDEN_QUERIES

    calls = []
    real = star._probe_input_bytes

    def counting(sf, spark_=None):
        calls.append(sf)
        return real(sf, spark_)

    monkeypatch.setattr(star, "_probe_input_bytes", counting)
    star._REGISTERED.pop(id(spark), None)
    spark.catalog.clearCache()
    star.register_star_views(spark, SF)
    qs = entry.queries()
    assert len(GOLDEN_QUERIES) == 10
    for g in GOLDEN_QUERIES:
        qs[g](spark, SF).collect()
    assert calls == [SF]


def test_star_memo_survives_session_id_reuse(spark):
    """_REGISTERED keys on id(spark); a stale entry left by a
    garbage-collected session at a reused address must NOT satisfy a
    new session (it would skip registration and fail every query) —
    the shared weakref identity check (catalog.SessionMemo.live)
    invalidates it."""
    import weakref

    key = id(spark)
    saved = (star._REGISTERED.get(key), star._REGISTERED.refs.get(key))
    try:
        star._REGISTERED[key] = (SF, "cache", None)
        other = type("NotThisSession", (), {})()
        star._REGISTERED.refs[key] = weakref.ref(other)
        assert star._REGISTERED.live(spark) is None  # stale entry invalidated
        assert key not in star._REGISTERED
        # A fresh registration records a ref to THIS session.
        star.register_star_views(spark, SF)
        assert star._REGISTERED.live(spark) == (SF, "cache", None)
        assert star._REGISTERED.refs[key]() is spark
    finally:
        star._REGISTERED.pop(key, None)
        star._REGISTERED.refs.pop(key, None)
        if saved[0] is not None:
            star._REGISTERED[key] = saved[0]
        if saved[1] is not None:
            star._REGISTERED.refs[key] = saved[1]
        spark.catalog.clearCache()


def test_non_statable_sf_dir_resolves_bounded(spark):
    """VERDICT r10 top-next: a corpus the local footer probe cannot see
    must resolve `parquet` (bounded memory), not `cache` — the
    unprobeable corpus is precisely the one that must never be
    speculatively cached whole. A `file:` URI is one such path, even
    over a corpus that exists."""
    for sf_dir in ("/nonexistent/sf_dir_r11", "file:" + SF):
        assert star.resolve_warehouse_policy(spark, sf_dir) == "parquet", sf_dir


def test_concurrent_first_use_registration_runs_once(spark, monkeypatch):
    """r13 audit pin: concurrent first-use callers of
    register_star_views serialize on the registration lock — exactly one
    thread takes the cold path (one register_base_views, one view-wave
    build), the rest hit the memo. Without the lock both threads build
    the waves and can clearCache mid-fill of the other."""
    from concurrent.futures import ThreadPoolExecutor

    import adi_226_datawarehouse_project_spark.model.star as star_mod

    saved = star_mod._REGISTERED.live(spark)
    star_mod._REGISTERED.pop(id(spark), None)
    spark.catalog.clearCache()

    calls = []
    real = star_mod.register_base_views

    def counting_register(s, sf, **kw):
        calls.append(sf)
        return real(s, sf, **kw)

    monkeypatch.setattr(star_mod, "register_base_views", counting_register)
    try:
        with ThreadPoolExecutor(8) as ex:
            list(
                ex.map(
                    lambda _: star_mod.register_star_views(spark, SF), range(8)
                )
            )
        assert calls == [SF], calls  # cold path ran exactly once
        # and the registration actually works
        assert spark.table("fact_311_complaint").count() >= 0
    finally:
        if saved is not None and saved[0] != SF:
            # restore the pre-test layout for subsequent tests
            star_mod._REGISTERED.pop(id(spark), None)
            spark.catalog.clearCache()


def test_two_sessions_register_concurrently(spark):
    """The registration lock is shared by every session: two sessions
    of one context registering at the same moment wait on each other,
    and both end with working star views that agree."""
    from concurrent.futures import ThreadPoolExecutor

    other = spark.newSession()
    star._REGISTERED.pop(id(spark), None)
    spark.catalog.clearCache()
    try:
        with ThreadPoolExecutor(2) as ex:
            list(ex.map(lambda s: star.register_star_views(s, SF), (spark, other)))
        for s in (spark, other):
            assert star._REGISTERED.live(s) == (SF, "cache", None)
        counts = [s.table("fact_311_complaint").count() for s in (spark, other)]
        assert counts[0] == counts[1] > 0, counts
    finally:
        star._REGISTERED.pop(id(other), None)


def test_dim_date_explode_matches_union_derivation(spark):
    """The Spark dim_date derives its date set with
    explode(array(...)) from ONE scan per staging table (r14
    optimization); the DuckDB oracle keeps the reference's 4-branch
    UNION. Equivalence previously rested on a one-off manual exceptAll
    described in a star.py comment plus indirect g09/g10 oracle
    coverage (ADVICE r14 low #1) — this pins it: the UNION form, run
    via spark.sql over the same staging views, must be row-identical
    to the live dim_date view in both directions. Any future edit to
    either branch that changes the derived date set fails here at
    sf0.001 instead of surfacing as a cross-dialect hash mismatch."""
    star.register_star_views(spark, SF)
    union_src = """
      SELECT CAST(created_ts AS DATE) AS dt FROM staging_311 WHERE created_ts IS NOT NULL
      UNION
      SELECT CAST(closed_ts AS DATE) AS dt FROM staging_311 WHERE closed_ts IS NOT NULL
      UNION
      SELECT last_scraped AS dt FROM staging_airbnb WHERE last_scraped IS NOT NULL
      UNION
      SELECT host_since AS dt FROM staging_airbnb WHERE host_since IS NOT NULL
    """
    union_dates = spark.sql(f"SELECT dt FROM ({union_src}) u WHERE dt IS NOT NULL")
    live_dates = spark.table("dim_date").select(F.col("date_value").alias("dt"))
    assert union_dates.exceptAll(live_dates).count() == 0
    assert live_dates.exceptAll(union_dates).count() == 0
    # dim_date rows are a deterministic projection of the date set, one
    # row per date — so set equality above pins full-row equality too
    assert live_dates.distinct().count() == live_dates.count()
