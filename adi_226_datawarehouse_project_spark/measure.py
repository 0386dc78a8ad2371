"""Measurement helpers shared by bench.py and the scripts/*_scale.py
harnesses: the hash-reduce consume and the codegen compile counter.

Hash-reduce methodology (single source of truth; previously four
verbatim copies across bench.py / new_ops_scale.py /
warehouse_policy_scale.py / querypath_scale.py): every column of every
row is evaluated EXECUTOR-side — ``xxhash64(*cols)`` defeats the
count()-driven projection/join pruning Catalyst would otherwise apply
(a bare ``count()`` on a 1:1 left join measured only the probe side) —
but exactly ONE row crosses py4j. ``collect()``-ing a full result
measured the driver transfer tax, not the plan: 83s of a 1.28M-row
collect at a 128×-replicated corpus vs 10s for the actual query work.
Any change here (NULL handling, overflow, column ordering) shifts ALL
recorded measurements identically, keeping cross-script medians
comparable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hash_consume(df: DataFrame) -> int:
    """Force full evaluation of ``df`` executor-side; return its row
    count (the only value that crosses the py4j boundary, alongside the
    discarded column hash-sum that forces the projections)."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h"),
    ).collect()[0]
    return int(row["n"])


def codegen_compiles(spark) -> int:
    """How many classes the driver JVM's codegen has compiled so far
    (Spark's CodegenMetrics compilation-time histogram count). A delta
    over a run that stays near zero means the generated-class cache
    holds the run's working set; one that grows with every repeat
    means the cache thrashes and each repeat pays Janino again."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
