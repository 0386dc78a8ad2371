"""SCD Type-2 dimension apply — the versioned-dimension merge every
warehouse needs and the reference's dims silently lack (its upserts,
`nyc_hybrid_etl_pipeline.py:141-180`, are insert-only: attribute
changes never create versions).

Set-based formulation (no row-at-a-time logic, the reference's own
"set-based SQL" principle `README.md:181`):

  changed    = current rows whose incoming attr differs
  closed     = changed rows with effective_to := batch_date, current=F
  reopened   = one new current version per changed key
  brand_new  = incoming keys absent from the dimension
  untouched  = everything else, carried as-is

All four legs are joins/anti-joins on the business key — shuffle-
partitioned on one key, broadcastable when the update batch is small
(the common nightly case); applying the same batch twice is a no-op
(idempotent, tested), because the second pass sees attr equality.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FAR_FUTURE = _dt.date(9999, 12, 31)


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    attr: str,
    batch_date: _dt.date,
) -> DataFrame:
    """Apply one update batch to an SCD2 dimension.

    `dim` columns: key, attr, effective_from, effective_to, is_current.
    `updates` columns: key, attr. Returns the new full dimension.
    """
    from pyspark.sql import Window

    upd = updates.select(F.col(key), F.col(attr).alias("__new_attr"))
    # In-plan guard: duplicate keys in one batch are ambiguous (which
    # attr wins?) and would silently leave TWO is_current versions of
    # the key — refuse loudly instead. Load-bearing predicate, so
    # Catalyst cannot prune it; costs one small shuffle of the batch.
    n_per_key = F.count(F.lit(1)).over(Window.partitionBy(key))
    upd = (
        upd.withColumn("__k_n", n_per_key)
        .filter(
            F.when(F.col("__k_n") == 1, F.lit(True)).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("scd2_apply: duplicate update rows for key "),
                        F.col(key).cast("string"),
                    )
                ).cast("boolean")
            )
        )
        .drop("__k_n")
    )
    current = dim.filter(F.col("is_current"))

    # Null-safe inequality: transitions to/from NULL are real attribute
    # changes and must close/open versions (plain != would drop them).
    changed_keys = (
        current.join(upd, key)
        .filter(~F.col(attr).eqNullSafe(F.col("__new_attr")))
        .select(key, "__new_attr")
    )
    closed = (
        current.join(changed_keys.select(key), key, "semi")
        .withColumn("effective_to", F.lit(batch_date))
        .withColumn("is_current", F.lit(False))
    )
    reopened = changed_keys.select(
        F.col(key),
        F.col("__new_attr").alias(attr),
        F.lit(batch_date).alias("effective_from"),
        F.lit(FAR_FUTURE).alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    # Anti-join against CURRENT keys, not all dim keys: a key whose
    # versions are ALL closed (externally soft-deleted) would otherwise
    # match neither leg — not here (it exists in dim) and not in
    # changed_keys (no current row) — and its update would vanish
    # silently. Against current keys it lands here and REACTIVATES as
    # a new version from batch_date.
    brand_new = (
        upd.join(current.select(key).distinct(), key, "left_anti")
        .select(
            F.col(key),
            F.col("__new_attr").alias(attr),
            F.lit(batch_date).alias("effective_from"),
            F.lit(FAR_FUTURE).alias("effective_to"),
            F.lit(True).alias("is_current"),
        )
    )
    # Remove exactly the rows the closed leg replaces: the CURRENT row
    # of each changed key. Keying the exclusion by (key, effective_from)
    # was lossy — same-day re-updates create a closed zero-length
    # version sharing effective_from with the current one, and the
    # third same-day apply deleted that audit row from the dimension.
    changed_only = changed_keys.select(key).withColumn("__chg", F.lit(True))
    untouched = (
        dim.join(changed_only, key, "left")
        .filter(~(F.col("is_current") & F.coalesce(F.col("__chg"), F.lit(False))))
        .drop("__chg")
    )
    cols = [key, attr, "effective_from", "effective_to", "is_current"]
    return (
        untouched.select(*cols)
        .unionByName(closed.select(*cols))
        .unionByName(reopened)
        .unionByName(brand_new)
    )
