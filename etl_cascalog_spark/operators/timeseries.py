"""Time-series resampling: per-key calendar spine + linear interpolation.

Beyond-reference surface. The reference's period logic (prev-month /
last-December comparisons, ``operators/periods.py``) reads *existing*
period rows; a feature/training pipeline additionally needs to DENSIFY a
sparse series — gap-fill a daily spine and interpolate between known
points (the classic "resample + interpolate" of any feature-store ETL).

Determinism: interpolation is exact integer arithmetic on cents —
``prev + (next-prev)·offset div gap`` — so partition order cannot perturb
the result and the DuckDB oracle matches bit-for-bit (both engines
truncate integer division toward zero).

100 TB shape: the spine explode is map-side (sequence() per key, no
shuffle); the two IGNORE NULLS windows run in ONE sort per key partition
(same window frame family); keys partition the work, so skew follows the
key histogram — for nation-level series that's 25 partitions, for
user-level series it's uniform. No joins after the spine union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def resample_interpolate_daily(
    known: DataFrame,
    key_col: str,
    date_col: str,
    value_col: str,
) -> DataFrame:
    """Densify (key, date, value) to EVERY day between each key's first and
    last observation, linearly interpolating the gaps.

    ``value`` must be integral (cents); output column ``src`` marks
    ``actual`` vs ``interp`` rows. Exact on actual days by construction.
    """
    # materialized: this frame feeds BOTH the per-key min/max spine agg
    # and the densify join — uncached, the caller's (often aggregated)
    # upstream lineage executes once per branch (the same double-execution
    # the packing prefix fix removed). Released by the callers'
    # scoped_storage epilogue. ≤ |keys × observed days| rows.
    k = known.select(
        F.col(key_col).alias("key"),
        F.col(date_col).cast("date").alias("day"),
        F.col(value_col).cast("long").alias("v"),
    )
    k = k.cache()
    # per-key daily spine: one row per key → sequence() explode, map-side
    # after the (tiny) min/max agg
    spine = (
        k.groupBy("key")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "key",
            F.explode(F.sequence("d0", "d1")).alias("day"),
        )
    )
    # REPARTITION_BY_NUM (explicit count) — AQE's partition coalescing is
    # byte-based and folds the small-bytes-but-CPU-heavy window shuffle
    # into ONE task (flagged by tools/parallelism_lint.py: a 6 s
    # single-task final stage at sf0.1)
    sc = known.sparkSession.sparkContext
    dense = spine.join(k, ["key", "day"], "left").repartition(
        sc.defaultParallelism, F.col("key")
    )

    w_back = (
        Window.partitionBy("key")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # The forward lookups are REVERSE-ordered GROWING frames, not
    # current→UNBOUNDED FOLLOWING ones: Spark's UnboundedFollowing frame
    # re-scans from each row to the partition end — O(n²) per key-partition
    # (the other half of the flagged 6 s stage) — while the growing frame
    # is incremental, O(n) after the sort. `last non-null over days ≥ d in
    # descending order` IS `first non-null at-or-after d`.
    w_fwd = (
        Window.partitionBy("key")
        .orderBy(F.col("day").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_day = F.last(F.when(F.col("v").isNotNull(), F.col("day")), True).over(w_back)
    next_day = F.last(F.when(F.col("v").isNotNull(), F.col("day")), True).over(w_fwd)
    prev_v = F.last("v", True).over(w_back)
    next_v = F.last("v", True).over(w_fwd)

    gap = F.datediff(next_day, prev_day)
    off = F.datediff(F.col("day"), prev_day)
    return (
        dense.withColumn("__pv", prev_v)
        .withColumn("__nv", next_v)
        .withColumn("__gap", gap)
        .withColumn("__off", off)
        .select(
            "key",
            "day",
            F.when(F.col("v").isNotNull(), F.col("v"))
            .otherwise(F.col("__pv") + F.expr("(__nv - __pv) * __off div __gap"))
            .cast("long")
            .alias("value"),
            F.when(F.col("v").isNotNull(), F.lit("actual"))
            .otherwise(F.lit("interp"))
            .alias("src"),
        )
    )
