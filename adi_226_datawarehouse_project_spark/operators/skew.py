"""Skew-handling operators: salting for hot join/aggregation keys.

AQE's skew-join split (enabled in session.py) handles most skew at
runtime by splitting oversized shuffle partitions; these explicit
operators cover the cases AQE can't: a broadcast-ineligible small side
joined on a pathologically hot key, and single-hot-key aggregations
where one reducer would otherwise own the whole key.

Salting scheme (the classic one): the big side gets a per-row salt in
[0, buckets); the small side is replicated once per salt value; the
join key becomes (key, salt), spreading each hot key over `buckets`
reducers. Aggregations do the same two-phase: partial aggregate on
(key, salt), final aggregate on key — sum/count/min/max recombine
exactly.

Salt determinism — read this before using at cluster scale:

* ``salt_on=[cols]`` (PREFERRED on a real cluster) derives the salt as
  a pure content hash of the named columns. Any retry recomputes the
  identical salt, so the operators are exactly-once-correct under
  executor loss with zero caveats. Name a high-cardinality
  discriminator (event id, timestamp, line number); do NOT name the
  hot key itself — a constant-per-key salt spreads nothing.
* Default (no ``salt_on``) is a round-robin counter
  (``monotonically_increasing_id``), which spreads EVERY content
  distribution — including a hot key whose rows are byte-identical
  (repeated heartbeat rows), where any content hash collapses to one
  salt. The cost is that the counter depends on intra-partition row
  order, which Spark only guarantees for deterministic inputs: if the
  salted frame sits DOWNSTREAM OF A SHUFFLE and a map task is retried
  after some reducers already fetched its output, re-assigned salts
  can double-count or drop rows (the SPARK-23207 class — Spark
  auto-guards only its own round-robin repartition, not user
  expressions). Spark's scheduler mitigates by rolling back
  indeterminate stages when it can, and the final agg/join here
  recombines on the bare key so a CONSISTENT recompute folds
  identically — but "retry after partial fetch" is real on clusters.
  Rule: round-robin is safe when the salted input is scan-backed
  (files re-list deterministically) or in local mode; behind a
  shuffle at cluster scale, pass ``salt_on`` or pin the input first
  (``pin.pin(df, truncate=True, eager=True)``).

The salt column never leaves these operators: both drop it before
returning and raise if the input already carries a column of the same
name, so the (documented) retry nondeterminism of the round-robin
default can never become persisted data drift (tested).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SALT = "__salt"


def _row_salt(
    df: DataFrame, buckets: int, salt_on: list[str] | None = None
) -> Column:
    """Per-row salt in [0, buckets): a deterministic content hash of
    ``salt_on`` when given, else round-robin over a per-partition
    counter. Trade-offs in the module docstring."""
    if salt_on:
        return F.pmod(F.xxhash64(*[F.col(c) for c in salt_on]), F.lit(buckets))
    return F.pmod(F.monotonically_increasing_id(), F.lit(buckets))


def _check_no_salt_column(df: DataFrame, who: str) -> None:
    """The salt is internal: an input already carrying ``__salt``
    would be silently overwritten on the way in and dropped on the way
    out — refuse instead."""
    if _SALT in df.columns:
        raise ValueError(
            f"{who}: input already has a {_SALT!r} column; the salt name is "
            "reserved by the skew operators (rename the input column)"
        )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    how: str = "inner",
    buckets: int = 16,
    salt_on: list[str] | None = None,
) -> DataFrame:
    """Equi-join where `big`'s join keys are skewed and `small` cannot
    broadcast: salt the big side, replicate the small side ×buckets,
    join on keys+salt. For inner/left-family joins the result is
    row-identical to big.join(small, on, how) — verified by test —
    with each hot key spread over `buckets` shuffle partitions.

    ``salt_on`` selects the deterministic content-hash salt (pass big-
    side discriminator columns; see module docstring for when this is
    required at cluster scale).

    right/full outer are rejected: unmatched small-side rows exist
    once per salt replica, so those joins would emit `buckets`
    duplicates per unmatched row.

    Cost model: small side shuffles ×buckets (choose buckets ≈ the
    hot-key imbalance factor, not more). The salt column is dropped
    before returning — it never appears in the output schema."""
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti", "semi", "anti"):
        raise ValueError(
            f"salted_join supports inner/left-family joins only, got how={how!r}: "
            "the small side is replicated per salt, so right/full outer would "
            "duplicate unmatched small-side rows"
        )
    _check_no_salt_column(big, "salted_join(big)")
    _check_no_salt_column(small, "salted_join(small)")
    big_s = big.withColumn(_SALT, _row_salt(big, buckets, salt_on))
    small_s = small.withColumn(
        _SALT, F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    )
    out = big_s.join(small_s, [*on, _SALT], how)
    return out.drop(_SALT)


def salted_agg(
    df: DataFrame,
    keys: list[str],
    sums: list[str] | None = None,
    counts: bool = True,
    buckets: int = 16,
    salt_on: list[str] | None = None,
) -> DataFrame:
    """Two-phase skew-safe aggregation: partial SUM/COUNT on
    (keys, salt), final recombine on keys. Exact for decomposable
    aggregates (sum/count; min/max trivially addable).

    ``salt_on`` selects the deterministic content-hash salt (see
    module docstring). The salt column exists only between the two
    aggregation phases — the output schema is exactly
    (keys, sum_*…, n_rows)."""
    sums = sums or []
    if not sums and not counts:
        raise ValueError(
            "salted_agg needs at least one aggregate: pass sums=[...] "
            "or counts=True"
        )
    _check_no_salt_column(df, "salted_agg")
    salted = df.withColumn(_SALT, _row_salt(df, buckets, salt_on))
    partial_aggs = [F.sum(c).alias(f"__s_{c}") for c in sums]
    if counts:
        partial_aggs.append(F.count("*").alias("__n"))
    partial = salted.groupBy(*keys, _SALT).agg(*partial_aggs)
    final_aggs = [F.sum(f"__s_{c}").alias(f"sum_{c}") for c in sums]
    if counts:
        final_aggs.append(F.sum("__n").cast("bigint").alias("n_rows"))
    return partial.groupBy(*keys).agg(*final_aggs)
