"""Sink writers (SURVEY §2.1 K1-K7) — the reference's S3-zone sinks
re-expressed Spark-first.

The reference coalesces every output to a single file for Redshift
COPY friendliness (`glue_job_clean_311.py:151-157` `.coalesce(1)`),
which serializes the whole write through one task — an anti-pattern at
scale. Here the default keeps the plan's parallelism; `single_file`
is an explicit opt-in knob, and the gold-zone writer partitions by a
column (e.g. created_year) so downstream reads get partition pruning
for free (`WHERE created_year = …` never touches other years' files).
Formats are the reference's parquet, CSV and JSON.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    single_file: bool = False,
    bloom_filter_cols: list[str] | None = None,
    bloom_ndv: int | None = None,
) -> None:
    """Parquet sink (K1/K2). `partition_by` lays out hive-style
    directories (partition pruning); `single_file` reproduces the
    reference's coalesce(1) for tools that need one object.

    ``bloom_filter_cols`` writes a parquet COLUMN BLOOM FILTER per
    listed column (`parquet.bloom.filter.enabled#col`) — the
    point-lookup complement of min/max row-group stats: high-
    cardinality id/key columns get row-group skipping for equality
    probes that min/max can't give (a 10⁹-distinct key column's
    min/max spans everything; its bloom filter still rejects absent
    keys per row group). Costs ~1.2 bytes/distinct value of file size
    (size-delta pinned in tests); size ``bloom_ndv`` to the expected
    per-row-group distinct count."""
    if single_file and partition_by:
        # The combination is the worst of both knobs: ONE file per
        # partition directory (not the single object the caller asked
        # for) written through a single task with zero parallelism.
        raise ValueError(
            "single_file=True cannot combine with partition_by: a "
            "partitioned layout is one file PER directory, and the "
            "coalesce(1) would serialize the whole write through one task"
        )
    out = df.coalesce(1) if single_file else df
    writer = out.write.mode(mode)
    for c in bloom_filter_cols or []:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        if bloom_ndv:
            writer = writer.option(
                f"parquet.bloom.filter.expected.ndv#{c}", str(bloom_ndv)
            )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table — the engine's answer to Redshift
    DISTKEY/SORTKEY (`README.md:182` in the reference): co-locate rows
    by join/agg key at WRITE time so every later equi-join or groupBy
    on `bucket_cols` between same-bucketed tables runs shuffle-free
    (SortMergeJoin with zero Exchange; asserted in
    tests/test_bucketing.py).

    Scale: at 100 TB, bucketing the fact tables on the conformance key
    (geohash) turns the nightly fact⋈fact drill-across from a full
    2-sided shuffle into a local per-bucket merge; num_buckets should
    be sized to ~executor-count × small-integer."""
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(name)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    """CSV sink (K4)."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-records sink (K3/K5)."""
    df.write.mode(mode).json(path)


def write_run_manifest(
    spark: SparkSession,
    path: str,
    job_name: str,
    run_utc: str,
    inputs: dict[str, str],
    outputs: dict[str, str],
    stats: dict[str, int] | None = None,
) -> None:
    """Nested-struct run manifest (K5 + SURVEY §1.2 nested struct row):
    the reference writes a one-row JSON manifest whose ``inputs`` /
    ``outputs`` are nested objects (`Glue job to merge 311
    Airbnb.py:154-162`). Typed as STRUCTs (not maps) with sorted field
    names so readers get named-field access and a deterministic
    schema; ``stats`` carries numeric run metrics (row counts etc.).
    An omitted/empty ``stats`` dict — and likewise an empty ``inputs``
    or ``outputs`` — omits the field ENTIRELY: an empty struct
    serializes as ``{}``, which JSON schema inference on read-back
    drops or mistypes, breaking consumers that probe ``field.*``;
    absent-field semantics are well-defined instead.
    One row → single_file semantics are inherent (coalesce(1))."""
    from pyspark.sql import types as T

    stats = stats or {}

    def _str_struct(d: dict[str, str]) -> T.StructType:
        return T.StructType([T.StructField(k, T.StringType()) for k in sorted(d)])

    fields = [
        T.StructField("job_name", T.StringType()),
        T.StructField("run_utc", T.StringType()),
    ]
    row: list = [job_name, run_utc]
    for fname, d in (("inputs", inputs), ("outputs", outputs)):
        if d:
            fields.append(T.StructField(fname, _str_struct(d)))
            row.append(tuple(d[k] for k in sorted(d)))
    if stats:
        fields.append(
            T.StructField(
                "stats",
                T.StructType([T.StructField(k, T.LongType()) for k in sorted(stats)]),
            )
        )
        row.append(tuple(int(stats[k]) for k in sorted(stats)))
    schema = T.StructType(fields)
    spark.createDataFrame([tuple(row)], schema).coalesce(1).write.mode("overwrite").json(path)


def read_run_manifest(spark: SparkSession, path: str) -> DataFrame:
    """Read a run manifest back; nested structs must survive the JSON
    roundtrip (schema inference rebuilds them as structs, which the
    io-suite oracle verifies value-by-value)."""
    return spark.read.json(path)


# ---- Z-order layout + compaction -----------------------------------


def zorder_key(
    qcols: "list",
    bits: int = 16,
) -> "Column":
    """Morton-interleave pre-quantized BIGINT columns (values in
    [0, 2^bits)) into one z-order key: bit ``b`` of column ``i`` lands
    at position ``b·n + i``, so a range predicate on ANY input column
    maps to contiguous-ish key ranges — the property that gives every
    dimension locality from ONE sort order (classic space-filling-curve
    clustering; the 2-D stride-2 special case is the geohash Morton
    spread in ``functions/geohash.py``).

    Pure bit arithmetic (shift/and/or) — codegen'd, no UDF. ``n·bits``
    must fit a signed 64-bit key."""
    from functools import reduce

    from pyspark.sql import functions as F

    n = len(qcols)
    if n == 0:
        raise ValueError("zorder_key needs at least one column")
    if n * bits > 63:
        raise ValueError(f"{n} cols × {bits} bits exceeds the 63-bit key")
    terms = [
        F.shiftleft(
            F.shiftright(q, b).bitwiseAND(F.lit(1)).cast("bigint"), b * n + i
        )
        for b in range(bits)
        for i, q in enumerate(qcols)
    ]
    return reduce(lambda a, c: a.bitwiseOR(c), terms)


def zorder_by(df: DataFrame, cols: "list[str]", bits: int = 16) -> DataFrame:
    """Cluster rows on the z-order key of ``cols`` (numeric/timestamp):
    each column is min-max quantized to ``bits`` bits, interleaved,
    then range-partitioned + sorted within partitions. Writing the
    result gives every output file/row-group tight min/max envelopes
    on ALL ``cols`` at once, so parquet stats-based row-group pruning
    works for predicates on any of them — unlike a plain sort, which
    buys locality on the leading column only.

    The 1-row min/max stats are COLLECTED (bounded driver state, same
    rule as IVF centroids / PQ codebooks) and inlined as literals: the
    earlier broadcast-crossJoin form re-ran the full-table aggregation
    on EVERY execution of the keyed plan, and write_zordered executes
    it twice (repartitionByRange's sampling pass + the write). Eager:
    calling this runs the stats job.

    Linear min-max quantization keeps the key engine-portable and
    stats-cheap; heavily skewed columns trade some balance for it (the
    classic remedy — rank-based quantiles — costs a global sort).
    NULLs (and all-null or constant columns) quantize to bucket 0."""
    from pyspark.sql import functions as F

    row = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__lo_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"__hi_{c}") for c in cols],
    ).collect()[0]
    top = (1 << bits) - 1
    qcols = []
    for c in cols:
        lo, hi = row[f"__lo_{c}"], row[f"__hi_{c}"]
        if lo is None or hi is None or hi == lo:
            qcols.append(F.lit(0).cast("bigint"))
            continue
        q = F.floor(
            (F.col(c).cast("double") - F.lit(float(lo)))
            / F.lit(float(hi - lo))
            * F.lit(float(1 << bits))
        )
        qcols.append(
            F.coalesce(F.least(F.greatest(q, F.lit(0)), F.lit(top)), F.lit(0)).cast(
                "bigint"
            )
        )
    return df.withColumn("__zkey", zorder_key(qcols, bits))


def write_zordered(
    df: DataFrame,
    path: str,
    cols: "list[str]",
    num_files: int,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet sink: ``repartitionByRange`` on the
    z-key (contiguous curve segments per file) + ``sortWithinPartitions``
    (tight row-group envelopes inside each file). The key column is
    dropped from the output — the LAYOUT is the artifact.

    At 100 TB this is the table-maintenance primitive: periodic
    compaction jobs rewrite cold partitions z-ordered on the dominant
    predicate columns, and every later scan with a pushed filter on
    any of them skips most row groups via parquet min/max stats
    (verified against footer statistics in tests/test_zorder.py)."""
    keyed = zorder_by(df, cols, bits)
    (
        keyed.repartitionByRange(num_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode(mode)
        .parquet(path)
    )


def compact_table(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_mb: int = 512,
    zorder_cols: "list[str] | None" = None,
) -> int:
    """Small-file compaction: rewrite a parquet zone into
    ``ceil(bytes/target)`` right-sized files, optionally z-ordered.
    Returns the file count written. Reads its size from the source
    footers (input_file_name-distinct byte sum via the FileSystem
    API falls over on object stores; the parquet scan's own statistics
    are authoritative and cluster-portable).

    ``out_path`` is required to be distinct — compaction is
    write-new-then-swap, never an in-place overwrite of a zone a
    concurrent reader may be scanning."""
    import math
    import os

    # realpath: a literal compare is bypassed by equivalent spellings
    # (relative vs absolute, '..' segments, symlinks) and the write
    # would only fail later, inside Spark, after the size probe ran.
    if os.path.realpath(in_path) == os.path.realpath(out_path):
        raise ValueError("compact_table writes a NEW zone: out_path must differ")
    df = spark.read.parquet(in_path)
    n_bytes = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    n_files = max(1, math.ceil(int(str(n_bytes)) / (target_file_mb * 1024 * 1024)))
    if zorder_cols:
        write_zordered(df, out_path, zorder_cols, num_files=n_files)
    else:
        df.repartition(n_files).write.mode("overwrite").parquet(out_path)
    return n_files
