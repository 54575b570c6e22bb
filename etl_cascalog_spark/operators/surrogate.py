"""Surrogate-key assignment (A8 / E2).

Reference: the ``row-num`` aggregator (trgx.clj:172-186) continues ids from
the current max (``load-max-dw-id`` trgx.clj:166-170) but forces a **single
global group** — ``(identity 0 :> ?prt-no)`` at ods/d_bolome_show.clj:51 — a
serialized reduce through one reducer. At 100 TB that is the whole job.

Spark-first replacement, two tiers:

- :func:`assign_dense_ids_scaled` — the 100 TB shape: range-repartition on
  the sort keys (parallel sort, equal keys co-located), per-partition
  ``row_number``, then rebase each partition by the broadcast running sum
  of earlier partitions' counts. Two parallel shuffles, zero single-reducer
  stages; bit-identical to a no-partition window ``row_number`` (which
  moves every row to ONE reducer) whenever ``order_by`` is a total order.
- :func:`assign_sparse_ids` — gap-tolerant ``monotonically_increasing_id``
  rebase, zero shuffle, when density doesn't matter.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def assign_dense_ids_scaled(
    df: DataFrame,
    order_by: Sequence[str],
    id_col: str = "dw_id",
    start_at: int = 1,
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense gap-free global ids without a single-reducer sort.

    Shape: ``repartitionByRange(order_by)`` gives ordered, disjoint key
    ranges (equal keys land together, so ties never straddle a boundary);
    ``row_number`` per partition ranks locally in parallel; per-partition
    counts (a #partitions-row aggregate) turn into running offsets with a
    tiny window; a broadcast join rebases local ranks to global ones.
    Global id = partition offset + local rank — identical to
    ``row_number() OVER (ORDER BY order_by)`` for any total ordering,
    regardless of where the sampled range boundaries fall.
    """
    cols = [F.col(c) for c in order_by]
    parts = (
        df.repartitionByRange(num_partitions, *cols)
        if num_partitions
        else df.repartitionByRange(*cols)
    )
    local = parts.withColumn("__pid", F.spark_partition_id()).withColumn(
        "__rn", F.row_number().over(Window.partitionBy("__pid").orderBy(*cols))
    )
    counts = local.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0))
    ).select("__pid", "__off")
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(
            id_col, (F.col("__off") + F.col("__rn") + F.lit(start_at - 1)).cast("long")
        )
        .drop("__pid", "__rn", "__off")
    )


def assign_sparse_ids(df: DataFrame, id_col: str = "dw_id", start_at: int = 1) -> DataFrame:
    """Gap-tolerant unique ids with **zero shuffle**: partition-local
    monotonic ids rebased onto a global offset. The scale path when density
    is not required — each task numbers its own rows."""
    return df.withColumn(
        id_col, F.monotonically_increasing_id() + F.lit(start_at)
    )


def current_max_id(df: DataFrame, id_col: str = "dw_id") -> int:
    """I3 ``load-max-dw-id`` (trgx.clj:166-170): the continuation offset."""
    row = df.agg(F.max(F.col(id_col)).alias("m")).collect()[0]
    return int(row["m"]) if row["m"] is not None else 0
